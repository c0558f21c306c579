package moverbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.conf.ExtractConfig
import graft.engine.Engine
import graft.io.{DerbyUpsert, JsonTableIO, UpsertJdbcSink}
import graft.meta.Catalog

/** Records spans around layer calls; the untraced run passes them through. */
trait Rec { def span[T](name: String, layer: String)(f: => T): T }
object NoRec extends Rec { def span[T](name: String, layer: String)(f: => T): T = f }

/** What one iteration did. `verbs` holds the wall time of each timed call
  * (their sum is the iteration's time). An operation is one table's
  * export, load, delta export, merge or compact, or one query; `wrong` counts the
  * operations that completed without error but whose output failed its
  * check (each is also in `failed`).
  */
final case class Iter(verbs: Seq[(String, Double)],
    attempted: Int, failed: Int, wrong: Int, errors: Seq[String],
    facts: Map[String, Double] = Map.empty) {
  def seconds: Double = verbs.map(_._2).sum
}

/** Tallies operations and their failures within one iteration. */
final class Ops {
  var attempted = 0; var failed = 0; var wrong = 0
  val errors = scala.collection.mutable.ArrayBuffer.empty[String]
  /** One operation: `error` is its exception, `mismatch` a failed check. */
  def op(what: String, error: Option[Throwable], mismatch: Option[String]): Boolean = {
    attempted += 1
    error.map(e => s"$what: ${e.getClass.getSimpleName}: ${firstLine(e)}")
      .orElse(mismatch.map(m => s"$what: wrong output: $m")) match {
      case None => true
      case Some(msg) =>
        failed += 1
        if (error.isEmpty) wrong += 1
        if (errors.size < 20) errors += msg
        false
    }
  }
  private def firstLine(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    String.valueOf(root.getMessage).linesIterator.take(1).mkString.take(240)
  }
}

abstract class Workload(val spark: SparkSession, val data: String,
    val work: Path, val spec: JsonNode) {
  /** Fixtures built before the warm-up. */
  def setup(): Unit = ()
  /** Iteration `i`; warm-up iterations have `i <= 0`. */
  def iterate(i: Int, rec: Rec): Iter

  protected def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

}

object Workload {
  /** EngineQueries' extract config: the lineitem reverse key is allowlisted,
    * `c_name` is replaced and `c_acctbal` nulled.
    */
  val config: ExtractConfig = ExtractConfig.fromJson(
    """{
      |  "locale": "fr",
      |  "schema": [{
      |    "table_name": "customer",
      |    "reference_keys": ["lineitem_orderkey_fkey"],
      |    "columns": [
      |      {"name": "c_name", "replace": "Customer#{c_custkey}"},
      |      {"name": "c_acctbal", "sanitize": true}
      |    ]
      |  }]
      |}""".stripMargin)

  /** The operators of `operator_mix`: two one-pass rows (scan/aggregate,
    * window), an iterative graph row that a shared fixpoint driver would
    * rewrite, and two index rows (incremental dedup index, ANN probe).
    * Five, not more, so that set-up (a cold pass and two warm ones) and
    * two timed passes fit in one run.
    */
  val mix: Seq[String] = Seq("q1_agg", "window_running", "pagerank_supply",
    "dedup_clusters_incremental", "ann_ivf_pq")

  def apply(name: String, spark: SparkSession, data: String, work: Path,
      spec: JsonNode): Workload = name match {
    case "lifecycle_point" => new Lifecycle(spark, data, work, spec)
    case "operator_mix" => new OperatorMix(spark, data, work, spec)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** `lifecycle_point`: the mover verbs on one small seed, as the CLI runs
  * them: `extract`; `load -staged` into a fresh embedded Derby database;
  * `extract -delta` for the seed plus a few new customers against the
  * artifact just written; `merge` of that delta into it; `compact` of every
  * table.
  */
final class Lifecycle(spark: SparkSession, data: String, work: Path,
    spec: JsonNode) extends Workload(spark, data, work, spec) {
  private val seedSql = spec.get("seed_sql").asText
  private val newSql = spec.get("new_sql").asText
  private val expBase = expectations(spec.get("expect"))
  private val expNew = expectations(spec.get("expect_new"))
  private val engine = new Engine(spark, Catalog.tpch, t => Tables(spark, data, t),
    Workload.config)
  private lazy val schemas: Map[String, StructType] = Catalog.tpch.tables.keys
    .map(t => t -> Tables(spark, data, t).schema).toMap

  override def setup(): Unit = schemas

  def iterate(i: Int, rec: Rec): Iter = {
    val ops = new Ops
    val dir = work.resolve(s"iteration-$i")
    val art = dir.resolve("artifact").toString
    val delta = dir.resolve("delta").toString

    val (extracted, extractS) = timed(scala.util.Try(
      rec.span("Engine.extractTo", "closure")(engine.extractTo(seedSql, art))))
    checkArtifact(ops, "export", art, extracted.getOrElse(Map.empty),
      expBase.map { case (t, e) => t -> e.rows }, extracted.failed.toOption)
    val (bytes, files) = if (extracted.isSuccess) Checks.artifactFiles(art) else (0L, 0)

    // a fresh database per iteration, its DDL untimed
    val url = s"jdbc:derby:memory:moverbench$i"
    Checks.withConn(s"$url;create=true") { c =>
      expBase.keys.toSeq.sorted.foreach(t =>
        c.createStatement().execute(Checks.ddl(t, schemas(t))))
    }
    // the load verb of Main.run with -staged: the same arguments per table
    val (loadErrors, loadS) = timed(rec.span("load", "verb") {
      scala.util.Try(rec.span("Engine.load", "io.json")(engine.load(art)))
        .fold(e => expBase.keys.map(_ -> e).toMap, tables =>
          tables.toSeq.sortBy(_._1).flatMap { case (t, df) =>
            val pk = Catalog.tpch.tables.get(t).flatMap(_.primaryKey.headOption)
              .getOrElse(df.columns.head)
            try {
              rec.span(s"io.jdbc.$t", "io.jdbc")(UpsertJdbcSink.writeStaged(df, url,
                new java.util.Properties, t, pk, dialect = DerbyUpsert))
              None
            } catch { case NonFatal(e) => Some(t -> e) }
          }.toMap)
    })
    var found = 0L
    val loaded = expBase.toSeq.sortBy(_._1).map { case (t, exp) =>
      val got = Checks.derbyFp(url, t)
      found += got.n
      val mismatch =
        if (got != exp.keys) Some(s"$t in Derby $got != ${exp.keys}")
        else if (t == "customer" && Checks.derbyUnsanitized(url) > 0)
          Some("unsanitized customer rows in Derby")
        else None
      if (ops.op(s"load $t", loadErrors.get(t), mismatch)) exp.keys.n else 0L
    }.sum
    try java.sql.DriverManager.getConnection(s"$url;drop=true")
    catch { case _: java.sql.SQLException => () } // Derby signals a drop by throwing

    val (deltaCounts, deltaS) = timed(scala.util.Try(rec.span("Engine.extractDeltaTo",
      "closure")(engine.extractDeltaTo(newSql, delta, art))))
    checkArtifact(ops, "delta", delta, deltaCounts.getOrElse(Map.empty),
      expNew.map { case (t, e) => t -> (e.rows - expBase(t).rows) },
      deltaCounts.failed.toOption)
    val (deltaBytes, _) = if (deltaCounts.isSuccess) Checks.artifactFiles(delta) else (0L, 0)

    val ((merged, compacted), mergeS) = timed(rec.span("merge+compact", "verb") {
      val merged = scala.util.Try(rec.span("JsonTableIO.mergeArtifacts", "io.json")(
        JsonTableIO.mergeArtifacts(spark, art, delta)))
      val compacted = JsonTableIO.listTables(art)
        .filter(t => JsonTableIO.hasPartitionedData(art, t))
        .map(t => t -> scala.util.Try(rec.span("JsonTableIO.compactAuto", "io.json")(
          JsonTableIO.compactAuto(spark, art, t))))
      (merged, compacted)
    })
    // the merged artifact must equal a full extract of the grown seed
    merged.failed.foreach(e => ops.op("merge", Some(e), None))
    if (merged.isSuccess)
      checkArtifact(ops, "merge", art, manifestCounts(art),
        expNew.map { case (t, e) => t -> e.rows })
    compacted.foreach { case (t, r) =>
      ops.op(s"compact $t", r.failed.toOption,
        r.toOption.filter(n => !expNew.get(t).map(_.rows.n).contains(n))
          .map(n => s"compacted $n rows"))
    }
    deleteTree(dir)

    val baseRows = expBase.values.map(_.rows.n).sum
    val deltaRows = expNew.values.map(_.rows.n).sum - baseRows
    Iter(Seq("extract" -> extractS, "load" -> loadS, "delta" -> deltaS, "merge" -> mergeS),
      ops.attempted, ops.failed, ops.wrong, ops.errors.toSeq,
      Map("artifact_rows" -> baseRows.toDouble, "artifact_bytes" -> bytes.toDouble,
        "artifact_files" -> files.toDouble, "derby_rows" -> found.toDouble,
        "loaded_rows" -> loaded.toDouble, "failed_tables" -> loadErrors.size.toDouble,
        "delta_bytes" -> deltaBytes.toDouble,
        "closure_rows" -> (baseRows + deltaRows).toDouble))
  }

  /** One check per expected table: committed count and key fingerprint
    * equal the oracle's, and customer rows are sanitized.
    */
  private def checkArtifact(ops: Ops, what: String, dir: String,
      counts: Map[String, Long], expect: Map[String, Fp],
      error: Option[Throwable] = None): Unit = {
    val (fps, unsanitized) =
      if (error.isDefined) (Map.empty[String, Fp], 0L)
      else Checks.artifactFps(spark, dir, expect.keys.toSeq.sorted, schemas)
    expect.toSeq.sortBy(_._1).foreach { case (t, exp) =>
      // an absent table is an empty one
      val got = fps.getOrElse(t, Fp(0, 0, 0))
      val n = counts.getOrElse(t, 0L)
      val mismatch =
        if (n != exp.n) Some(s"$t count $n != ${exp.n}")
        else if (got != exp) Some(s"$t keys $got != $exp")
        else if (t == "customer" && unsanitized > 0) Some(s"$unsanitized unsanitized customer rows")
        else None
      ops.op(s"$what $t", error, mismatch)
    }
  }

  private def manifestCounts(dir: String): Map[String, Long] =
    JsonTableIO.listTables(dir).map(t => t -> JsonTableIO.readManifest(dir, t).count).toMap

  private def expectations(node: JsonNode): Map[String, Expect] = {
    def fp(n: JsonNode) = Fp(n.get(0).asLong, BigInt(n.get(1).asText), BigInt(n.get(2).asText))
    node.properties().asScala.map { e =>
      e.getKey -> Expect(fp(e.getValue.get("rows")), fp(e.getValue.get("keys")))
    }.toMap
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally w.close()
    }
}

/** `operator_mix`: one pass over the pinned operators with a noop sink,
  * the convention of `graft.Bench`, in a seed-chosen order. Row counts
  * ride on the pass as an observation; the full results are written once,
  * in set-up, for the DuckDB oracle check in `run.py`.
  */
final class OperatorMix(spark: SparkSession, data: String, work: Path,
    spec: JsonNode) extends Workload(spark, data, work, spec) {
  private val order: Seq[String] =
    new scala.util.Random(spec.get("order_seed").asLong).shuffle(Workload.mix)
  /** Row counts of the timed passes, per operator. */
  val counts = scala.collection.mutable.LinkedHashMap(order.map(_ -> List.empty[Long]): _*)

  /** Writes each result for the oracle check; an operator that fails here
    * leaves no result, which `run.py` counts against all its passes.
    */
  override def setup(): Unit = order.foreach { q =>
    Files.createDirectories(work.resolve("results"))
    Files.writeString(work.resolve("results").resolve(s"$q.sql"),
      graft.SparkEntry.oracleSql.getOrElse(q, ""))
    scala.util.Try(graft.SparkEntry.queries(q)(spark, data).write.mode("overwrite")
      .parquet(work.resolve("results").resolve(q).toString))
  }

  def iterate(i: Int, rec: Rec): Iter = {
    val ops = new Ops
    val verbs = order.map { q =>
      val obs = org.apache.spark.sql.Observation(s"mix_${q}_$i")
      val (res, s) = timed(scala.util.Try(rec.span(s"queries.$q", "queries") {
        graft.SparkEntry.queries(q)(spark, data)
          .observe(obs, org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
        obs.get("n").asInstanceOf[Long]
      }))
      // row counts are checked against the oracle after the run, in run.py
      if (i > 0) res.foreach(n => counts(q) = n :: counts(q))
      ops.op(q, res.failed.toOption, None)
      q -> s
    }
    Iter(verbs, ops.attempted, ops.failed, ops.wrong, ops.errors.toSeq)
  }
}
