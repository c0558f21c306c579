package graft.ext

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTED form of [[TextQueries.lmPerplexity]]'s language model —
  * what a CCNet-style production pipeline actually runs: the LM is
  * trained ONCE on the in-domain reference corpus, shipped as a bounded
  * artifact, and every scoring pass reads the artifact instead of
  * re-counting the training slice (KenLM's binary model file, re-expressed
  * as two parquet count tables). The scoring dataflow is byte-identical
  * to the oracle-gated inline query — both call [[TextQueries.lmScore]],
  * so the persisted path can never drift from the gated one (the
  * [[TextQueries.qualityScore]] sharing contract; LmModelSpec pins exact
  * row equality, and the registered `lm_perplexity_persisted` query
  * proves train→commit→load == the from-scratch DuckDB oracle).
  *
  * Retrain is an ATOMIC REBUILD SWAP via [[graft.io.SegmentLog]] (the
  * AnnIndex centroid-retrain convention): a new generation's uni/bi
  * tables and meta file are staged under fresh names, one manifest
  * rename flips visibility, and post-commit cleanup sweeps the old
  * generation — a reader never sees a half-written model or mixed
  * generations of the two tables.
  *
  * 100 TB posture: training cost is one reference-slice scan + two
  * grouped counts (the reference corpus is orders of magnitude smaller
  * than the scored corpus — CCNet's is one language's Wikipedia);
  * the artifact is |V| + |bigram| rows of (word(s), count) — bounded by
  * the TRAINING corpus, independent of what it scores. Scoring reads it
  * through column-pruned scans: the unigram side broadcasts, the bigram
  * side joins on (w1, w2) — or broadcasts too once the production vocab
  * cap bounds it (the [[TextQueries.qualityClassifierWeighted]] weight-
  * table pattern).
  */
object LmModel {

  import graft.io.SegmentLog
  import graft.io.SegmentLog.extraName

  private def root(dir: String) = s"$dir/lm_model"

  private def state(dir: String) = SegmentLog.committed(root(dir), "LM model")

  /** Train on `docs`' `trainLang` slice and commit atomically.
    * Returns the vocabulary size.
    */
  def train(docs: DataFrame, trainLang: String, dir: String): Long = {
    val r = root(dir)
    val train = TextQueries.lmTokens(docs).filter(col("lang") === trainLang)
    val uni = train.select(explode(col("words")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val bi = TextQueries.lmBigramPairs(train, Seq.empty)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    SegmentLog.update(r) { (_, gen) =>
      val names = Seq("uni", "bi", "meta").map(k => k -> extraName(k, gen)).toMap
      uni.write.parquet(s"$r/${names("uni")}")
      bi.write.parquet(s"$r/${names("bi")}")
      val v = uni.sparkSession.read.parquet(s"$r/${names("uni")}").count()
      Files.writeString(Paths.get(s"$r/${names("meta")}"),
        s"""{"train_lang": "$trainLang", "vocab": $v}""")
      SegmentLog.State(gen, Nil, names)
    }
    meta(docs.sparkSession, dir)._2
  }

  /** Score `docs` against the committed model — the same dataflow as the
    * oracle-gated inline query.
    */
  def score(docs: DataFrame, dir: String, keepCutoff: Double): DataFrame = {
    val spark = docs.sparkSession
    val st = state(dir)
    val uni = spark.read.parquet(st.extraPath(root(dir), "uni"))
    val bi = spark.read.parquet(st.extraPath(root(dir), "bi"))
    TextQueries.lmScore(TextQueries.lmTokens(docs), uni, bi, keepCutoff)
  }

  /** The committed model's metadata (train language, vocabulary size). */
  def meta(spark: SparkSession, dir: String): (String, Long) = {
    val txt = Files.readString(Paths.get(state(dir).extraPath(root(dir), "meta")))
    val lang = raw""""train_lang"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse(sys.error("LM meta has no train_lang"))
    val v = raw""""vocab"\s*:\s*(\d+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toLong).getOrElse(sys.error("LM meta has no vocab"))
    (lang, v)
  }
}
