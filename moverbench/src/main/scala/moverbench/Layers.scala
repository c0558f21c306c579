package moverbench

/** Per-layer figures of the traced iterations, each the median over those
  * iterations. A metric a workload does not exercise reads 0.
  *
  * Inside `Engine.extractTo` / `extractDeltaTo` the benchmark cannot put a
  * span between the closure and the JSON sink (one call does both), so
  * there the jobs of file-writing SQL executions belong to `io.json` and
  * all other jobs to `closure`; the closure's wall time is the call's
  * wall time minus the time covered by the write jobs.
  */
object Layers {
  private val tables: Seq[String] = Seq("customer", "events", "lineitem", "nation",
    "orders", "part", "region", "supplier")
  private val Mb = 1048576.0
  private val FastPath = "graft-closure-fastpath-"

  /** Medians over the traced iterations, matched to their spans in order. */
  def metrics(tracer: Tracer, traced: Seq[(Iter, Double)]): Seq[(String, Double)] = {
    tracer.drain()
    val jobs = tracer.attributedJobs
    val spans = tracer.allSpans
    val iterIds = spans.filter(_.name == "iteration").map(_.iter).sorted
    val byIter = iterIds.zip(traced).map { case (n, (it, gc)) =>
      one(it, gc, spans.filter(_.iter == n), jobs.filter(_.span.exists(_.iter == n)), tracer)
    }
    template.map(k => k -> BenchMain.median(byIter.map(_.getOrElse(k, 0.0))))
  }

  private val template: Seq[String] =
    Seq("closure.wall_s", "closure.parallelism", "closure.shuffle_mb",
      "closure.jobs", "closure.fastpath_jobs", "closure.fastpath_wasted_frac",
      "closure.records_read_per_row",
      "io.json.write_s", "io.json.write_jobs", "io.json.files", "io.json.bytes_per_row",
      "io.json.merge_s", "io.json.compact_s", "io.json.write_amplification",
      "io.json.read_records_per_row", "io.json.self_s",
      "io.jdbc.wall_s", "io.jdbc.parallelism", "io.jdbc.shuffle_mb") ++
      tables.map(t => s"io.jdbc.$t.wall_s") ++
      Seq("io.jdbc.row_yield", "io.jdbc.failed_tables") ++
      Workload.mix.flatMap(q => Seq(s"queries.$q.wall_s", s"queries.$q.jobs",
        s"queries.$q.parallelism", s"queries.$q.shuffle_mb")) ++
      Seq("queries.self_s", "bench.self_s",
        "verb.extract_s", "verb.load_s", "verb.load_rows_per_s", "verb.delta_s",
        "verb.merge_s",
        "spark.jobs_per_iter", "spark.tasks_per_iter", "jvm.gc_s")

  /** Length of the union of the jobs' [start, end] windows, in seconds. */
  private def covered(js: Seq[JobRec]): Double = {
    var total = 0L; var end = Long.MinValue
    js.sortBy(_.startMs).foreach { j =>
      val s = math.max(j.startMs, end)
      if (j.endMs > s) { total += j.endMs - s; end = j.endMs }
    }
    total / 1e3
  }

  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  private def one(it: Iter, gc: Double, spans: Seq[Span], jobs: Seq[JobRec],
      tracer: Tracer): Map[String, Double] = {
    def in(pred: Span => Boolean): Seq[JobRec] = jobs.filter { j =>
      // a job counts for a span when the span or one of its ancestors matches
      var s = j.span
      var hit = false
      while (s.isDefined && !hit) {
        hit = pred(s.get)
        s = spans.find(_.id == s.get.parent)
      }
      hit
    }
    def wall(pred: Span => Boolean): Double = spans.filter(pred).map(_.seconds).sum
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val fact = it.facts.withDefaultValue(0.0)

    // closure and io.json inside the extract call
    val isExtract = (s: Span) => s.name.startsWith("Engine.extract")
    val extractJobs = in(isExtract)
    val (writes, closure) = extractJobs.partition(tracer.isFileWrite)
    val writeS = covered(writes)
    val closureS = math.max(0.0, wall(isExtract) - writeS)
    val closureTask = closure.map(_.taskMs).sum / 1e3
    val fast = closure.filter(_.group.startsWith(FastPath))
    val lastFast = if (fast.isEmpty) Long.MaxValue else fast.map(_.startMs).max
    val fellBack = closure.exists(j => !j.group.startsWith(FastPath) && j.startMs > lastFast)
    m ++= Seq(
      "closure.wall_s" -> closureS,
      "closure.parallelism" -> ratio(closureTask, closureS),
      "closure.shuffle_mb" -> closure.map(_.shuffleWriteBytes).sum / Mb,
      "closure.jobs" -> closure.size.toDouble,
      "closure.fastpath_jobs" -> fast.size.toDouble,
      "closure.fastpath_wasted_frac" ->
        (if (fellBack) ratio(fast.map(_.taskMs).sum / 1e3, closureTask) else 0.0),
      "closure.records_read_per_row" ->
        ratio(closure.map(_.inputRecords).sum.toDouble, fact("closure_rows")))

    // io.json: the sink inside extract, the artifact read, merge and compact
    val isMerge = (s: Span) => s.name == "JsonTableIO.mergeArtifacts"
    val isCompact = (s: Span) => s.name == "JsonTableIO.compactAuto"
    val loadVerb = (s: Span) => s.name == "load"
    val jsonRead = wall(_.name == "Engine.load")
    m ++= Seq(
      "io.json.write_s" -> writeS,
      "io.json.write_jobs" -> writes.size.toDouble,
      "io.json.files" -> fact("artifact_files"),
      "io.json.bytes_per_row" -> ratio(fact("artifact_bytes"), fact("artifact_rows")),
      "io.json.merge_s" -> wall(isMerge),
      "io.json.compact_s" -> wall(isCompact),
      "io.json.write_amplification" -> ratio(
        in(s => isMerge(s) || isCompact(s)).map(_.outputBytes).sum.toDouble,
        fact("delta_bytes")),
      "io.json.read_records_per_row" ->
        ratio(in(loadVerb).map(_.inputRecords).sum.toDouble, fact("artifact_rows")),
      "io.json.self_s" -> (writeS + jsonRead + wall(isMerge) + wall(isCompact)))

    // io.jdbc: one writeStaged per table
    val isJdbc = (s: Span) => s.layer == "io.jdbc"
    val jdbcS = wall(isJdbc)
    val jdbcJobs = in(isJdbc)
    m ++= Seq(
      "io.jdbc.wall_s" -> jdbcS,
      "io.jdbc.parallelism" -> ratio(jdbcJobs.map(_.taskMs).sum / 1e3, jdbcS),
      "io.jdbc.shuffle_mb" -> jdbcJobs.map(_.shuffleWriteBytes).sum / Mb)
    tables.foreach(t => m += s"io.jdbc.$t.wall_s" -> wall(_.name == s"io.jdbc.$t"))
    m ++= Seq(
      "io.jdbc.row_yield" -> ratio(fact("derby_rows"),
        if (it.verbs.exists(_._1 == "load")) fact("artifact_rows") else 0.0),
      "io.jdbc.failed_tables" -> fact("failed_tables"))

    // queries: one span per operator
    Workload.mix.foreach { q =>
      val isQ = (s: Span) => s.name == s"queries.$q"
      val js = in(isQ); val w = wall(isQ)
      m ++= Seq(s"queries.$q.wall_s" -> w, s"queries.$q.jobs" -> js.size.toDouble,
        s"queries.$q.parallelism" -> ratio(js.map(_.taskMs).sum / 1e3, w),
        s"queries.$q.shuffle_mb" -> js.map(_.shuffleWriteBytes).sum / Mb)
    }
    m += "queries.self_s" -> wall(_.layer == "queries")
    // the benchmark's own untimed work: checks, copies, DDL
    m += "bench.self_s" -> math.max(0.0, wall(_.name == "iteration") - it.seconds)

    val verb = it.verbs.toMap.withDefaultValue(0.0)
    m ++= Seq(
      "verb.extract_s" -> verb("extract"),
      "verb.load_s" -> verb("load"),
      "verb.load_rows_per_s" -> ratio(fact("loaded_rows"), verb("load")),
      "verb.delta_s" -> verb("delta"),
      "verb.merge_s" -> verb("merge"))

    val timedJobs = jobs.filter(_.span.exists(_.name != "iteration"))
    m ++= Seq(
      "spark.jobs_per_iter" -> timedJobs.size.toDouble,
      "spark.tasks_per_iter" -> timedJobs.map(_.tasks).sum.toDouble,
      "jvm.gc_s" -> gc)
    m.toMap
  }
}
