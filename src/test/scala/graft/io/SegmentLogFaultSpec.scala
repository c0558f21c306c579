package graft.io

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.SparkSpec
import SegmentLog.{extraName, segName, State}

/** Fault injection against [[SegmentLog.update]], the one transaction
  * behind every index write: a staging function that throws leaves
  * readers on the old state with its staged names gone; orphans of a
  * commit whose cleanup never ran are swept by the next update; and a
  * second writer from the same base fails loudly before it writes
  * under any name the first writer staged or committed.
  */
class SegmentLogFaultSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private val roots = scala.collection.mutable.Buffer.empty[String]
  private def tmp() = {
    val d = Files.createTempDirectory("seglog-fault-").toString
    roots += d
    d
  }
  override def afterAll(): Unit =
    try roots.foreach(SegmentLog.deleteRecursively) finally super.afterAll()
  private def exists(d: String, name: String) = Files.exists(Paths.get(s"$d/$name"))
  private def claim(d: String, gen: Long) = s"$d/.manifest-g$gen.json.tmp"

  /** Stage generation `gen`'s segment as one file holding `body`. */
  private def stageSeg(d: String, gen: Long, body: String): String = {
    Files.createDirectories(Paths.get(s"$d/${segName(gen)}"))
    Files.writeString(Paths.get(s"$d/${segName(gen)}/part-0"), body)
    segName(gen)
  }

  private def appendSeg(d: String, body: String): State =
    SegmentLog.update(d) { (prev, gen) =>
      State(gen, prev.fold(Seq.empty[String])(_.segments) :+ stageSeg(d, gen, body),
        prev.fold(Map.empty[String, String])(_.extras))
    }

  private def readSeg(d: String, seg: String) =
    Files.readString(Paths.get(s"$d/$seg/part-0"))

  test("update commits, bumps the generation and leaves no claim file") {
    val d = tmp()
    val s1 = appendSeg(d, "one")
    val s2 = appendSeg(d, "two")
    assert(s1 == State(1L, Seq("seg-1"), Map.empty))
    assert(SegmentLog.read(d).contains(s2))
    assert(s2.segments == Seq("seg-1", "seg-2"))
    assert(!exists(d, ".manifest-g1.json.tmp") && !exists(d, ".manifest-g2.json.tmp"))
  }

  test("a staging function that throws leaves readers on the old state, its staged names gone") {
    val d = tmp()
    val before = SegmentLog.update(d) { (_, gen) =>
      Files.writeString(Paths.get(s"$d/${extraName("bloom", gen)}"), "sketch-1")
      State(gen, Seq(stageSeg(d, gen, "one")), Map("bloom" -> extraName("bloom", gen)))
    }
    val manifest = Files.readString(Paths.get(s"$d/manifest.json"))
    val err = intercept[RuntimeException](SegmentLog.update(d) { (_, gen) =>
      stageSeg(d, gen, "half-written")
      Files.createDirectories(Paths.get(s"$d/${extraName("clusters", gen)}"))
      Files.writeString(Paths.get(s"$d/${extraName("bloom", gen)}"), "sketch-2")
      throw new RuntimeException("writer died mid-stage")
    })
    assert(err.getMessage == "writer died mid-stage")
    assert(SegmentLog.read(d).contains(before))
    assert(Files.readString(Paths.get(s"$d/manifest.json")) == manifest)
    assert(readSeg(d, "seg-1") == "one" && exists(d, "bloom-g1"))
    Seq("seg-2", "clusters-g2", "bloom-g2", ".manifest-g2.json.tmp")
      .foreach(n => assert(!exists(d, n), n))
    // the root is not wedged: the retry claims the same generation
    assert(appendSeg(d, "two").segments == Seq("seg-1", "seg-2"))
  }

  test("a throwing first build leaves a never-committed root with nothing staged") {
    val d = tmp()
    intercept[IllegalStateException](SegmentLog.update(d) { (_, gen) =>
      stageSeg(d, gen, "half-written")
      throw new IllegalStateException("boom")
    })
    assert(SegmentLog.read(d).isEmpty)
    assert(!exists(d, "seg-1") && !exists(d, ".manifest-g1.json.tmp"))
  }

  test("orphans of a commit whose cleanup never ran are swept by the next update") {
    val d = tmp()
    appendSeg(d, "one")
    // a compaction that committed gen 2 and was killed before its
    // cleanup: seg-1 and bloom-g1 are superseded but still on disk
    // (the sketch files carry the `.<name>.crc` sidecars the Hadoop
    // local filesystem writes next to them)
    Seq("bloom-g1", ".bloom-g1.crc").foreach(n =>
      Files.writeString(Paths.get(s"$d/$n"), "stale sketch"))
    stageSeg(d, 2L, "compacted")
    Seq("bloom-g2", ".bloom-g2.crc").foreach(n =>
      Files.writeString(Paths.get(s"$d/$n"), "live sketch"))
    SegmentLog.commit(d, State(2L, Seq("seg-2"), Map("bloom" -> "bloom-g2")))
    assert(exists(d, "seg-1") && exists(d, "bloom-g1"))
    val st = appendSeg(d, "three")
    assert(st == State(3L, Seq("seg-2", "seg-3"), Map("bloom" -> "bloom-g2")))
    Seq("seg-1", "bloom-g1", ".bloom-g1.crc").foreach(n => assert(!exists(d, n), n))
    assert(readSeg(d, "seg-2") == "compacted" && readSeg(d, "seg-3") == "three")
    Seq("bloom-g2", ".bloom-g2.crc").foreach(n =>
      assert(Files.readString(Paths.get(s"$d/$n")) == "live sketch", n))
  }

  test("a second writer from the same base fails on the claim before writing anything") {
    val d = tmp()
    appendSeg(d, "one")
    val st = SegmentLog.update(d) { (prev, gen) =>
      val seg = stageSeg(d, gen, "first writer")
      val err = intercept[RuntimeException](SegmentLog.update(d) { (_, gen2) =>
        stageSeg(d, gen2, "second writer")
        fail("the second writer must not reach its staging function")
      })
      assert(err.getMessage.contains(d) && err.getMessage.contains(claim(d, gen)),
        err.getMessage)
      assert(readSeg(d, seg) == "first writer")
      State(gen, prev.get.segments :+ seg, prev.get.extras)
    }
    assert(SegmentLog.read(d).contains(st))
    assert(st.segments == Seq("seg-1", "seg-2"))
    assert(readSeg(d, "seg-1") == "one" && readSeg(d, "seg-2") == "first writer")
  }

  test("a commit that lands while a writer stages fails that writer at the rename") {
    val d = tmp()
    appendSeg(d, "one")
    // a writer outside the protocol commits gen 2 mid-stage
    val err = intercept[RuntimeException](SegmentLog.update(d) { (prev, gen) =>
      val seg = stageSeg(d, gen, "late writer")
      SegmentLog.commit(d, State(gen, Seq("seg-1", "seg-2"), Map.empty))
      State(gen, prev.get.segments :+ seg, prev.get.extras)
    })
    assert(err.getMessage.contains(d) && err.getMessage.contains(claim(d, 2L)),
      err.getMessage)
    // the other writer's committed state stays intact and readable
    assert(SegmentLog.read(d).contains(State(2L, Seq("seg-1", "seg-2"), Map.empty)))
    assert(exists(d, "seg-2") && !exists(d, ".manifest-g2.json.tmp"))
  }

  test("a claim left by a killed writer is named, and removing it recovers the root") {
    val d = tmp()
    appendSeg(d, "one")
    Files.createFile(Paths.get(claim(d, 2L)))
    val err = intercept[RuntimeException](appendSeg(d, "two"))
    assert(err.getMessage.contains(claim(d, 2L)), err.getMessage)
    assert(!exists(d, "seg-2") && SegmentLog.read(d).get.gen == 1L)
    Files.delete(Paths.get(claim(d, 2L)))
    assert(appendSeg(d, "two").gen == 2L)
  }

  test("the indexes write through the checked transaction") {
    val d = tmp()
    val events = spark.range(0, 40).select(col("id").as("event_id"),
      expr("timestamp_seconds(1700000000 + id * 3600)").as("ts"),
      (col("id") % 7).as("user_id"),
      when(col("id") % 2 === 0, "view").otherwise("click").as("event_type"),
      (col("id") * 1.5).as("value"))
    graft.ext.RollupIndex.build(events.filter(col("event_id") < 20), d)
    val root = graft.ext.RollupIndex.root(d)
    val before = graft.ext.RollupIndex.read(spark, d).orderBy("event_type", "day")
      .select("event_type", "day", "n").collect().toSeq
    Files.createFile(Paths.get(claim(root, 2L)))
    val err = intercept[RuntimeException](
      graft.ext.RollupIndex.append(events.filter(col("event_id") >= 20), d))
    assert(err.getMessage.contains(claim(root, 2L)), err.getMessage)
    assert(!exists(root, "seg-2"))
    assert(graft.ext.RollupIndex.read(spark, d).orderBy("event_type", "day")
      .select("event_type", "day", "n").collect().toSeq == before)
  }
}
