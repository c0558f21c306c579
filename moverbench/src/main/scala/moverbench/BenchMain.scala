package moverbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set-up and a warm-up iteration, then
  * closed-loop iterations (one caller, each call waits for the previous)
  * until `--seconds` have passed. Writes its figures as JSON to `--out`;
  * `run.py` adds the oracle checks that need DuckDB and prints the
  * result line.
  *
  * {{{
  * moverbench.BenchMain --workload <name> --data <parquet dir> --work <dir>
  *   --spec <spec.json> --seconds <n> --trace 0|1 --out <result.json>
  * }}}
  */
object BenchMain {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    val spark = session(work)
    try {
      val spec = new ObjectMapper().readTree(work.resolve(a("spec")).toFile)
      val result = run(spark, a("workload"), a("data"), work, spec,
        a("seconds").toDouble, a("trace") == "1")
      Files.writeString(Paths.get(a("out")), result)
    } finally spark.stop()
  }

  def session(work: Path): SparkSession = {
    System.setProperty("derby.system.home", work.toString)
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Runs the workload and renders the run's figures as JSON. */
  def run(spark: SparkSession, name: String, data: String, work: Path,
      spec: com.fasterxml.jackson.databind.JsonNode, seconds: Double,
      trace: Boolean): String = {
    val wl = Workload(name, spark, data, work, spec)
    wl.setup()
    // two untimed iterations: the JIT keeps speeding an iteration up over
    // the first few
    val warm = Seq(wl.iterate(-1, NoRec), wl.iterate(0, NoRec))
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val tracer = new Tracer(spark.sparkContext)
    val iters = scala.collection.mutable.ArrayBuffer.empty[(Iter, Boolean, Double)]
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 1
    // an iteration starts only if it should end within the window, checks
    // included; the traced run alternates traced and untraced iterations,
    // at least one of each, and the difference of their medians is the
    // tracing overhead
    while (iters.size < (if (trace) 2 else 1) || elapsed + median(walls.toSeq) <= seconds) {
      val traced = trace && i % 2 == 1
      val gc0 = gcMillis
      val w0 = elapsed
      val it =
        if (!traced) wl.iterate(i, NoRec)
        else {
          tracer.iter = i
          spark.sparkContext.addSparkListener(tracer)
          try tracer.span("iteration", "bench")(wl.iterate(i, tracer))
          finally { tracer.drain(); spark.sparkContext.removeSparkListener(tracer) }
        }
      iters += ((it, traced, (gcMillis - gc0) / 1e3))
      walls += elapsed - w0
      i += 1
    }
    val timed = iters.map(_._1).toSeq
    val attempted = timed.map(_.attempted).sum
    val failed = timed.map(_.failed).sum
    val metrics: Seq[(String, Double)] =
      if (!trace) Seq(
        "setup_s" -> setupS,
        "iter_s" -> median(timed.map(_.seconds)),
        "ok_frac" -> (attempted - failed).toDouble / attempted)
      else {
        val plain = iters.filter(!_._2).map(_._1.seconds).toSeq
        val traced = iters.filter(_._2).toSeq
        val overhead = if (plain.isEmpty || traced.isEmpty) 0.0
          else median(traced.map(_._1.seconds)) - median(plain)
        Layers.metrics(tracer, traced.map { case (it, _, gc) => (it, gc) }) ++ Seq(
          "jvm.heap_retained_mb" -> heapRetainedMb,
          "failed_frac" -> failed.toDouble / attempted,
          "trace.overhead_s" -> overhead,
          "trace.overhead_frac" -> (if (plain.isEmpty) 0.0 else overhead / median(plain)))
      }
    if (trace) tracer.writeSpans(work.resolve("spans.jsonl"))

    val om = new ObjectMapper()
    val root = om.createObjectNode()
    root.put("attempted", attempted)
    root.put("failed", failed)
    root.put("wrong", timed.map(_.wrong).sum)
    val errs = root.putArray("errors")
    (warm.flatMap(_.errors) ++ timed.flatMap(_.errors)).distinct.take(20).foreach(errs.add)
    // each timed call's seconds per iteration, for reading a run by eye
    val v = root.putObject("verbs")
    timed.flatMap(_.verbs).groupBy(_._1).foreach { case (k, xs) =>
      val arr = v.putArray(k); xs.foreach(x => arr.add(x._2)) }
    val m = root.putObject("metrics")
    metrics.foreach { case (k, v) => m.put(k, v) }
    wl match {
      case mix: OperatorMix =>
        val c = root.putObject("row_counts")
        mix.counts.foreach { case (q, ns) =>
          val arr = c.putArray(q); ns.reverse.foreach(n => arr.add(n)) }
      case _ => ()
    }
    om.writeValueAsString(root)
  }

  /** Heap still in use after full collections. */
  private def heapRetainedMb: Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
