package graft

import org.apache.spark.sql.DataFrame

/** Block-storage helpers for iterative (fixpoint) operators. */
object SparkUtil {

  /** Key/label sets at or below this EXACT row count get an explicit
    * `broadcast()` hint in fixpoint joins (closure BFS, CC label rounds):
    * the driver already counts them per iteration, so hinted joins plan
    * straight to broadcast-hash with no shuffle-and-measure step, while
    * bigger sets still shuffle. ONE shared knob: a driver-memory retune
    * must not have to chase per-operator copies.
    *
    * NARROW-KEY ASSUMPTION (load-bearing): the limit is a ROW count and
    * the hint bypasses `autoBroadcastJoinThreshold`'s byte check, so it
    * is calibrated for the key sets these fixpoint joins actually carry —
    * single numeric pks / (id, label) longs, ~16–24 bytes a row, ≈
    * tens of MB at the limit. Feeding this knob wide keys (multi-column
    * or string pks, hundreds of bytes a row) would build broadcast
    * relations of hundreds of MB; if such a catalog appears, scale the
    * effective limit by estimated key width (rows × avg pk bytes ≤ the
    * same ~100 MB budget) instead of raising this constant.
    */
  val BroadcastRowLimit = 4000000L

  /** Stable hash key for a corpus directory (canonical path, md5 hex) —
    * shared by every derived-artifact namer so two spellings of one dir
    * can never produce two artifacts.
    */
  def dirKey(dir: String): String = {
    val canonical = new java.io.File(dir).getCanonicalPath
    java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Compute-once-per-JVM derived artifact: the first caller for a
    * (kind, corpus dir) pair builds into a pid-namespaced tmp location
    * (a previous process's artifacts — possibly built by different
    * code — are never read); every later caller gets the memoized
    * path. `computeIfAbsent` serializes concurrent first-builds. ONE
    * implementation for ClusterIndex.forCorpus, the ANN index query,
    * and whatever persisted artifact comes next — a lifecycle fix here
    * (cleanup hooks, failed-build invalidation) must not need chasing
    * per-operator copies.
    */
  def oncePerJvm(kind: String, dir: String)(build: String => Unit): String =
    onceMemo.computeIfAbsent(s"$kind:${dirKey(dir)}", { _ =>
      val d = s"${sys.props("java.io.tmpdir")}/graft-$kind-$jvmTag/${dirKey(dir)}"
      build(d)
      d
    })

  private val jvmTag =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getPid
  private val onceMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Release a DataFrame's storage, including locally-checkpointed
    * blocks: `Dataset.unpersist` only clears CacheManager entries, while a
    * `localCheckpoint` stores its blocks on the UNDERLYING RDD (reachable
    * through the `LogicalRDD` leaf), which would otherwise linger until
    * ContextCleaner GC.
    */
  def release(df: DataFrame): Unit = {
    df.unpersist(false)
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
  }
}
