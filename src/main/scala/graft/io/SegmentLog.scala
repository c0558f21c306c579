package graft.io

import java.nio.file.{Files, Paths}

/** Crash-safe commit protocol for the INDEX artifacts — AnnIndex,
  * ClusterIndex, DedupIndex, SearchIndex, RollupIndex and LmModel — the
  * [[JsonTableIO]] manifest-pointer discipline generalized to a segment
  * log:
  *
  *  - the index root holds immutable SEGMENT dirs (`seg-<n>`, one per
  *    build/append batch), optional versioned EXTRA artifacts
  *    (`<name>-g<n>`: a rewritten clusters table, a Bloom sketch file),
  *    and ONE `manifest.json` naming exactly which of them are live;
  *  - every index write is one [[update]] transaction: it reads the
  *    committed state, claims the next generation, runs the caller's
  *    staging function (which writes only under that generation's fresh
  *    names and folds the previous state into the next one), COMMITS by
  *    atomically replacing the manifest — one rename locally, one small
  *    PUT on an object store — and then sweeps every unreferenced name.
  *    A staging function that throws leaves readers on the previous
  *    state and its staged names deleted; a crash after the commit
  *    leaves orphans that the next update sweeps (only UNREFERENCED
  *    names are ever cleaned, so cleanup cannot race readers);
  *  - a multi-part update (ClusterIndex.append rewrites the assignments
  *    AND adds a band segment) is ONE commit: readers never observe the
  *    halves separately.
  *
  * Read resolution validates every name against a closed shape
  * (`seg-<n>` / `<word>-g<n>`) so a tampered or hand-edited pointer
  * fails loudly instead of resolving an arbitrary path — the same
  * posture as JsonTableIO's `DataDirName` guard.
  *
  * SINGLE-WRITER CONTRACT, CHECKED: readers are always safe
  * concurrently with one writer, and a second writer fails loudly
  * instead of clobbering the first. [[update]] claims its generation
  * before staging anything, by creating the per-generation manifest
  * temp file `.manifest-g<n>.json.tmp` with CREATE_NEW, and re-reads
  * the manifest right after the claim and again just before the
  * rename, requiring the committed generation to still be the base it
  * read. A second writer from the same base therefore fails on the
  * claim (or, if the first already committed, on the re-read) before
  * it writes under any name the first writer staged or committed. A
  * writer killed between claim and commit leaves its claim file
  * behind; the next update names it, and deleting it once no writer is
  * running recovers the root. The streaming ingest pipelines never
  * trip the check: Structured Streaming runs foreachBatch serially.
  */
object SegmentLog {

  final case class State(gen: Long, segments: Seq[String],
      extras: Map[String, String]) {
    def segmentPaths(dir: String): Seq[String] = segments.map(s => s"$dir/$s")
    def extraPath(dir: String, name: String): String = s"$dir/${extras(name)}"
    def lastSegmentPath(dir: String): String = s"$dir/${segments.last}"
  }

  private val SegName = raw"seg-\d+".r
  private val ExtraVal = raw"[A-Za-z0-9_.]+-g\d+".r
  private val ExtraKey = raw"[A-Za-z0-9_.]+".r
  private val Crc = raw"\.(.+)\.crc".r

  private def manifestPath(dir: String) = Paths.get(s"$dir/manifest.json")

  /** The committed state, or None for a never-committed root. */
  def read(dir: String): Option[State] = {
    val mp = manifestPath(dir)
    if (!Files.isRegularFile(mp)) None
    else {
      val txt = Files.readString(mp)
      val gen = raw""""gen"\s*:\s*(\d+)""".r.findFirstMatchIn(txt)
        .map(_.group(1).toLong)
        .getOrElse(sys.error(s"segment-log manifest $mp has no gen"))
      val segs = raw""""segments"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(txt)
        .map(_.group(1)).getOrElse("")
      val segments = raw""""([^"]*)"""".r.findAllMatchIn(segs)
        .map(_.group(1)).toSeq
      val extrasBody = raw""""extras"\s*:\s*\{([^}]*)\}""".r
        .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
      val extras = raw""""([^"]*)"\s*:\s*"([^"]*)"""".r
        .findAllMatchIn(extrasBody).map(m => m.group(1) -> m.group(2)).toMap
      // closed-shape validation: a pointer is a NAME inside the root,
      // never a path
      segments.foreach(s => require(SegName.matches(s),
        s"segment-log manifest $mp has invalid segment pointer '$s'"))
      extras.foreach { case (k, v) =>
        require(ExtraKey.matches(k) && ExtraVal.matches(v),
          s"segment-log manifest $mp has invalid extra pointer '$k' -> '$v'")
      }
      Some(State(gen, segments, extras))
    }
  }

  /** The committed state of `dir`, failing loudly (naming `what` and
    * the root) when nothing was ever committed there.
    */
  def committed(dir: String, what: String): State =
    read(dir).getOrElse(sys.error(s"no $what committed at $dir"))

  /** Stage-name helpers: fresh names derived from the NEXT generation,
    * guaranteed unreferenced by the current manifest.
    */
  def nextGen(st: Option[State]): Long = st.map(_.gen + 1).getOrElse(1L)
  def segName(gen: Long): String = s"seg-$gen"
  def extraName(base: String, gen: Long): String = s"$base-g$gen"

  /** THE index write: one checked transaction around `stage`.
    *
    * `stage(prev, gen)` writes the new generation's segment/extras under
    * [[segName]]`(gen)` / [[extraName]]`(_, gen)` and returns the state
    * to commit (its `gen` must be `gen`); `prev` is the committed state
    * it folds from, None on a never-committed root. The generation is
    * claimed before `stage` runs and the manifest is re-read before the
    * commit (see the object doc's single-writer contract). If `stage`
    * throws, every name it staged is deleted and the manifest is
    * untouched; after the commit every unreferenced name is swept.
    * Returns the committed state.
    */
  def update(dir: String)(stage: (Option[State], Long) => State): State = {
    val base = read(dir)
    val gen = nextGen(base)
    Files.createDirectories(Paths.get(dir))
    val claim = Paths.get(dir).resolve(s".manifest-g$gen.json.tmp")
    def concurrent(what: String) = sys.error(s"concurrent writer on segment " +
      s"log $dir: $what — maintenance of one index root must be serialized")
    def requireBase(): Unit = {
      val onDisk = read(dir).map(_.gen)
      if (onDisk != base.map(_.gen))
        concurrent(s"generation ${onDisk.getOrElse(0L)} was committed after " +
          s"this writer read generation ${gen - 1} and claimed $claim")
    }
    try Files.createFile(claim)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        concurrent(s"generation $gen is already claimed by $claim (if no " +
          "writer is running, a killed one left it: delete it and retry)")
    }
    var done = false
    try {
      requireBase()
      val next = stage(base, gen)
      require(next.gen == gen, s"segment-log update of $dir staged " +
        s"generation $gen but returned a state for ${next.gen}")
      val json = render(next)
      requireBase()
      LocalFs.replace(claim, manifestPath(dir), json)
      done = true
      cleanup(dir)
      next
    } finally if (!done) {
      // this generation's names only, and never one the manifest on
      // disk references
      val live = read(dir).toSeq.flatMap(st => st.segments ++ st.extras.values)
      sweep(dir, n => live.contains(n) ||
        (n != segName(gen) && !n.endsWith(s"-g$gen")))
      Files.deleteIfExists(claim)
    }
  }

  /** The manifest JSON of `state`, refusing out-of-shape names. */
  private def render(state: State): String = {
    state.segments.foreach(s => require(SegName.matches(s),
      s"refusing to commit invalid segment name '$s'"))
    state.extras.foreach { case (k, v) =>
      require(ExtraKey.matches(k) && ExtraVal.matches(v),
        s"refusing to commit invalid extra '$k' -> '$v'")
    }
    val segsJson = state.segments.map(s => s""""$s"""").mkString("[", ", ", "]")
    val extrasJson = state.extras.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}")
    s"""{"gen": ${state.gen}, "segments": $segsJson, "extras": $extrasJson}"""
  }

  /** The raw commit: write-to-temp + single atomic rename of the
    * manifest, with no generation check. Everything staged before this
    * call becomes visible together; nothing does on a crash before it.
    * Index writes go through [[update]].
    */
  def commit(dir: String, state: State): Unit = {
    val json = render(state)
    Files.createDirectories(Paths.get(dir))
    LocalFs.replace(Paths.get(dir).resolve(".manifest.json.tmp"),
      manifestPath(dir), json)
  }

  /** Delete every staged-looking dir/file the manifest does NOT
    * reference — crash leftovers and superseded generations. Safe to run
    * any time: referenced names are never touched, so a concurrent
    * reader resolved through the manifest cannot lose its data.
    */
  def cleanup(dir: String): Unit = read(dir).foreach { st =>
    val live: Set[String] = st.segments.toSet ++ st.extras.values
    sweep(dir, live.contains)
  }

  /** Delete every `seg-<n>` / `<word>-g<n>` name in `dir` not kept. */
  private def sweep(dir: String, keep: String => Boolean): Unit = {
    val d = Paths.get(dir)
    if (Files.isDirectory(d)) {
      val s = Files.list(d)
      val stale =
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.toList.filter { p =>
            // a Hadoop `.<name>.crc` sidecar goes with the name it guards
            val n = p.getFileName.toString match {
              case Crc(owner) => owner
              case n => n
            }
            (SegName.matches(n) || ExtraVal.matches(n)) && !keep(n)
          }
        } finally s.close()
      stale.foreach(LocalFs.deleteRecursively)
    }
  }

  /** Recursive delete of a THROWAWAY tree (temp index dirs the replay
    * queries build and discard) — not part of the commit protocol;
    * committed roots are maintained through [[cleanup]] only.
    */
  def deleteRecursively(path: String): Unit =
    LocalFs.deleteRecursively(Paths.get(path))

  /** Recursive file-copy of an artifact tree. Segment-log pointers are
    * root-relative, so a copied tree is a valid index — this is how a
    * per-run mutation (append/ingest) works on a private copy of a
    * staged pristine index. Safe onto an existing (empty) dst root.
    */
  def copyRecursively(src: String, dst: String): Unit = {
    val s = Paths.get(src)
    val d = Paths.get(dst)
    val w = Files.walk(s)
    try w.forEach { p =>
      val t = d.resolve(s.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    } finally w.close()
  }
}
