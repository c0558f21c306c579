package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Persisted INVERTED INDEX — the lexical-retrieval analogue of
  * [[AnnIndex]]: the `bm25_search` postings pipeline (tokenize → per-doc
  * term frequencies + doc length) computed ONCE and written as a
  * parquet artifact partitioned by a HASH BUCKET of the term, so a
  * query reads only its terms' buckets instead of re-tokenizing the
  * corpus per search.
  *
  * {{{
  * SearchIndex.build(docs, dir)                  // once per corpus
  * SearchIndex.search(spark, dir, terms, k = 20) // per query, pruned
  * }}}
  *
  * Layout decisions, 100 TB posture:
  *  - postings are `(word, doc_id, tf, dl)` partitioned by
  *    `bucket = xxhash64(word) mod NB` — NOT by word: a real vocabulary
  *    is 10⁵–10⁷ terms and one directory per term would melt any file
  *    listing, while NB hash buckets (16 at test scale, thousands in
  *    production) give bounded file groups AND planning-time partition
  *    pruning: a query's terms map to ≤|terms| buckets, so the scan
  *    touches ≤|terms|/NB of the bytes (SearchIndexSpec pins the pruned
  *    file count);
  *  - BM25's corpus scalars (N, Σdl) ride a versioned `stats` parquet
  *    (one row per live segment) — the [[ClusterIndex]] extra-artifact
  *    pattern — so scoring never scans the postings to recover corpus
  *    statistics;
  *  - NEW documents fold in as fresh segments through
  *    [[graft.io.SegmentLog]] (one atomic manifest flip covers the
  *    postings segment AND the stats rewrite). Postings of disjoint doc
  *    batches are disjoint rows, so append == rebuild EXACTLY — document
  *    frequency is a count over the unioned postings — and compaction is
  *    a pure segment merge. All three are spec-pinned.
  *
  * Scoring reuses the `bm25_search` expression tree verbatim (same
  * constants k1=1.2, b=0.75, same literal association, same round-6
  * before the top-k sort), so the registered `bm25_index_search` query
  * hash-matches the SAME DuckDB oracle as the from-scratch form.
  */
object SearchIndex {

  import graft.io.SegmentLog
  import graft.io.SegmentLog.{extraName, segName, State}

  /** Vocabulary hash buckets per segment. Test-scale 16; production
    * scales with vocabulary so each bucket is a few files of a few GB.
    */
  val NumBuckets = 16

  private def root(dir: String) = s"$dir/search_index"

  private def state(dir: String) = SegmentLog.committed(root(dir), "search index")

  private def bucketOf(word: Column): Column =
    pmod(xxhash64(word), lit(NumBuckets.toLong))

  /** The postings of one document batch: `(bucket, word, doc_id, tf,
    * dl)`. ONE corpus pass: split once, dl from the same array, tf via
    * a map-side-combined groupBy. Empty tokens are dropped from the
    * postings but still count toward `dl` (the `bm25_search` length
    * convention).
    */
  private def postings(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), size(col("words")).as("dl"),
        explode(col("words")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "dl", "word").agg(count(lit(1)).as("tf"))
      .withColumn("bucket", bucketOf(col("word")))

  /** Stage `postings` as generation `gen`'s bucket-partitioned segment. */
  private def writeSegment(postings: DataFrame, dir: String, gen: Long): Unit =
    postings.write.partitionBy("bucket")
      .mode("overwrite").parquet(s"${root(dir)}/${segName(gen)}")

  /** One (seg, n_docs, sum_dl) stats row for a batch — the corpus
    * scalars BM25 needs, captured at index time.
    */
  private def statsRow(docs: DataFrame, seg: String): DataFrame =
    docs.agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("sum_dl"))
      .select(lit(seg).as("seg"), col("n_docs"), col("sum_dl"))

  private def writeStats(rows: DataFrame, dir: String, gen: Long): String = {
    val name = extraName("stats", gen)
    rows.coalesce(1).write.mode("overwrite").parquet(s"${root(dir)}/$name")
    name
  }

  /** Row count of a just-committed state's newest segment. */
  private def newestRows(spark: SparkSession, dir: String, st: State): Long =
    spark.read.parquet(st.lastSegmentPath(root(dir))).count()

  /** One-shot build over (doc_id, text) documents. Returns the posting
    * row count.
    */
  def build(docs: DataFrame, dir: String): Long =
    newestRows(docs.sparkSession, dir, SegmentLog.update(root(dir)) { (_, gen) =>
      writeSegment(postings(docs), dir, gen)
      State(gen, Seq(segName(gen)),
        Map("stats" -> writeStats(statsRow(docs, segName(gen)), dir, gen)))
    })

  /** Fold a batch of NEW documents in (doc_ids must be new — updating a
    * document is a delete + re-add, like every append-only index here).
    * Cost is proportional to the batch: one batch tokenize-and-write
    * plus a rewrite of the tiny stats table; the corpus postings are
    * never read.
    */
  def append(docs: DataFrame, dir: String): Long = {
    val spark = docs.sparkSession
    newestRows(spark, dir, SegmentLog.update(root(dir)) { (prev, gen) =>
      val st = prev.getOrElse(state(dir)) // none committed: fails loudly
      writeSegment(postings(docs), dir, gen)
      val stats = writeStats(spark.read.parquet(st.extraPath(root(dir), "stats"))
        .unionByName(statsRow(docs, segName(gen))), dir, gen)
      State(gen, st.segments :+ segName(gen), st.extras + ("stats" -> stats))
    })
  }

  /** Merge all live segments into one (after many appends each bucket's
    * postings are scattered across every segment); the stats rows
    * collapse to one. Atomic swap, orphans swept post-commit.
    */
  def compact(spark: SparkSession, dir: String): Long =
    newestRows(spark, dir, SegmentLog.update(root(dir)) { (prev, gen) =>
      val st = prev.getOrElse(state(dir))
      writeSegment(readIndex(spark, dir), dir, gen)
      val stats = writeStats(
        spark.read.parquet(st.extraPath(root(dir), "stats"))
          .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
          .select(lit(segName(gen)).as("seg"), col("n_docs"), col("sum_dl")),
        dir, gen)
      State(gen, Seq(segName(gen)), st.extras + ("stats" -> stats))
    })

  private def readIndex(spark: SparkSession, dir: String): DataFrame =
    state(dir).segmentPaths(root(dir))
      .map(p => spark.read.parquet(p))
      .reduce(_.unionByName(_))

  /** BM25 top-k over the index, reading ONLY the query terms' buckets.
    * Same output contract as `bm25_search`: (rank, doc_id, n_terms,
    * score), score rounded to 6 before the TakeOrdered top-k.
    */
  def search(spark: SparkSession, dir: String, terms: Seq[String],
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    require(terms.nonEmpty, "bm25 search needs at least one term")
    // bounded driver-side collect: |terms| bucket ids — the partition
    // filter must be a LITERAL for planning-time pruning
    val buckets = terms.toDF("word").select(bucketOf(col("word")))
      .distinct().collect().map(_.getLong(0)).toSeq
    val st = state(dir)
    val scalars = spark.read.parquet(st.extraPath(root(dir), "stats"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
    val tf = readIndex(spark, dir)
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("word").isin(terms: _*))
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy("word")))
      .crossJoin(broadcast(scalars))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("idf", log(
        (col("n_docs").cast("double") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("contrib",
        col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum(col("contrib")), 6).as("score"),
        count(lit(1)).as("n_terms"))
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    scored.orderBy(col("score").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select("rank", "doc_id", "n_terms", "score")
      .orderBy("rank")
  }
}
