package graft.closure

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.meta.{Catalog, FkEdge}

/** Policy knobs for reference-key (reverse-edge) expansion, mirroring the
  * reference's traversal gating (`/root/reference/etl/extractor.go:40-50`):
  * ALL reverse edges are followed from depth-0 (seed) rows unless
  * `omitReferenceKeys`; from deeper rows only edges whose constraint name is
  * in `referenceKeyAllowlist` (≙ `config.Schema.ReferenceKeys`,
  * `/root/reference/config/config.go:41-42`).
  */
final case class TraversalPolicy(
    omitReferenceKeys: Boolean = false,
    referenceKeyAllowlist: Set[String] = Set.empty,
    omitReferenceKeysFor: Set[String] = Set.empty) {
  /** Is depth-0 full reverse expansion suppressed for `table`? The
    * reference gates per the ROW's table, not the seed
    * (`etl/extractor.go:40-42`: `schema = e.schema[table.Name]`).
    */
  def omitsFor(table: String): Boolean =
    omitReferenceKeys || omitReferenceKeysFor.contains(table)
}

/** A config-driven templated query (ref J3: `config.Query`,
  * `/root/reference/config/config.go:11-15`, executed per row with
  * `{attr}` substitution at `etl/extractor.go:70-79`): when a row of
  * `sourceTable` enters the closure, run `template` (attrs filled from
  * that row) and fold the results into `targetTable`'s frontier.
  */
final case class ConfigQuery(sourceTable: String, targetTable: String, template: String)

/** Referentially-consistent subgraph extraction — the reference's flagship
  * operator (`extract`, `/root/reference/etl/extractor.go:142-174`),
  * re-expressed as a Spark-first driver-side BFS fixpoint.
  *
  * The reference walks the FK graph row-at-a-time with per-row point
  * lookups (`etl/extractor.go:120-123`) and a visited-set of
  * `"pk = value"` strings (`etl/extractor.go:96-103`). That N+1 pattern
  * would never scale; here each (edge, iteration) becomes ONE batched
  * semi-join of the target table against the frontier's distinct key set,
  * and the visited-set becomes an anti-join against accumulated seen-key
  * DataFrames. Equivalent to SQL `WITH RECURSIVE` (which Spark lacks) —
  * same shape as a Pregel/GraphX iteration.
  *
  * Scale design (100 TB): frontier/seen sets hold ONLY key columns (never
  * full rows), and every iteration's frontier becomes a lazy local
  * checkpoint — a leaf plan, so neither lineage nor Catalyst analysis
  * cost grows with depth. Frontier sizes are EXACTLY known (the
  * emptiness test is a counting job), so small frontiers get explicit
  * broadcast hints — the join plans straight to broadcast-hash with no
  * shuffle-and-measure step — while a genuinely huge key set still
  * shuffles, and AQE stays on for its post-shuffle coalescing. Full rows
  * are materialized exactly once per table at the end, one semi-join each.
  */
class ClosureExtractor(
    catalog: Catalog,
    loadTable: String => DataFrame,
    policy: TraversalPolicy = TraversalPolicy(),
    configQueries: Seq[ConfigQuery] = Nil,
    runQuery: String => DataFrame = null,
    fastPathBudget: Long = ClosureExtractor.FastPathBudget) {

  /** Runs the closure from a seed DataFrame (rows of `seedTable`).
    * Returns table name → DataFrame of all rows in the closed subgraph.
    */
  def extract(seedTable: String, seed: DataFrame): Map[String, DataFrame] =
    extractAll(Seq(seedTable -> seed))

  /** Multi-seed closure: every seed starts at depth 0 and shares one
    * seen-set/BFS, so overlapping closures do no duplicate work and each
    * table's rows materialize exactly once. This is how config `extra`
    * tables join the traversal (the reference runs one `extractor.Handle`
    * per extra against the same cache, `/root/reference/etl/engine.go:117-125`;
    * a joint frontier is the order-independent batch equivalent).
    *
    * DOCUMENTED DEVIATION: every seed row gets depth-0 reverse expansion
    * here, while the reference skips extra rows its main traversal already
    * visited at depth>0 (`processedRelations`, `etl/extractor.go:96-103`).
    * When closures overlap, this output is therefore an order-INDEPENDENT
    * superset of the reference's order-DEPENDENT export — a byte-for-byte
    * comparison against the reference on overlapping extras is not
    * expected to match (ClosureSpec pins the policy). PropertySpec proves
    * the exact relationship on random graphs: the reference's sequential
    * gated output is always ⊆ ours, and ours equals the reference model
    * with only the seed-row gating removed — so the delta is precisely
    * what the skipped depth-0 reverse expansions would have reached.
    */
  def extractAll(seeds: Seq[(String, DataFrame)],
      preSeen: Map[String, DataFrame] = Map.empty): Map[String, DataFrame] = {
    val (tables, sizes) = runAllWithSizes(seeds, preSeen)
    tables.map { case (table, keys) =>
      // key sets are materialized and exactly counted by the fixpoint's
      // final job, so small ones broadcast into the row-materializing
      // semi-join with no exchange (huge closures still shuffle)
      val keysH =
        if (sizes.get(table).exists(_ <= BroadcastKeyLimit)) broadcast(keys) else keys
      table -> loadTable(table).join(keysH, keys.columns.toSeq, "left_semi")
    }
  }

  /** Returns table name → DataFrame of the table's PK columns (the key set
    * of the closure). Exposed for counting without row materialization.
    * A table entered only as an FK target is keyed by the referenced
    * column, which must be its PK (the reference assumes FK→PK too).
    */
  def run(seedTable: String, seed: DataFrame): Map[String, DataFrame] =
    runAll(Seq(seedTable -> seed))

  /** See [[graft.SparkUtil.BroadcastRowLimit]]: the driver knows each
    * frontier's exact size from the union-of-counts job it already runs
    * per iteration, so small-frontier semi/anti joins hint broadcast and
    * skip AQE's shuffle-and-measure step; huge frontiers still shuffle.
    */
  private val BroadcastKeyLimit = graft.SparkUtil.BroadcastRowLimit

  /** Forward-FK chaining order: Kahn's algorithm over the child→parent FK
    * digraph. Tables that topo-sort cleanly (`chainable`) have their
    * forward FKs walked to fixpoint WITHIN one BFS iteration, child
    * before parent — the chained semi-joins are lazy plan composition
    * that Catalyst fuses into the iteration's single counting job, so a
    * pure FK chain of depth d costs ONE scheduling barrier instead of d.
    * Kahn's leftovers — FK cycles (e.g. user↔project) and anything
    * downstream of one — are conservatively non-chainable and keep the
    * anti-join-per-iteration path, which is what guarantees cycle
    * termination.
    */
  private lazy val (chainOrder: Seq[String], chainable: Set[String]) = {
    val inDeg = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    catalog.tables.keys.foreach(t => inDeg(t) = 0)
    catalog.edges.foreach(e => inDeg(e.parentTable) += 1)
    val order = scala.collection.mutable.ListBuffer.empty[String]
    val queue = scala.collection.mutable.Queue(
      catalog.tables.keys.filter(inDeg(_) == 0).toSeq.sorted: _*)
    while (queue.nonEmpty) {
      val t = queue.dequeue()
      order += t
      catalog.foreignKeysOf(t).foreach { e =>
        inDeg(e.parentTable) -= 1
        if (inDeg(e.parentTable) == 0) queue.enqueue(e.parentTable)
      }
    }
    (order.toList, order.toSet)
  }

  /** Must `table` re-enter the BFS frontier once its rows are at depth
    * ≥ 1? Only reverse-allowlist edges, config queries, and the cycle
    * fallback need another iteration — chained forward FKs are already
    * walked the moment the keys are produced.
    */
  private def needsIteration(table: String): Boolean =
    (!chainable(table) && catalog.foreignKeysOf(table).nonEmpty) ||
      catalog.referenceKeysOf(table)
        .exists(rk => policy.referenceKeyAllowlist.contains(rk.name)) ||
      configQueries.exists(_.sourceTable == table)

  def runAll(seeds: Seq[(String, DataFrame)],
      preSeen: Map[String, DataFrame] = Map.empty): Map[String, DataFrame] =
    runAllWithSizes(seeds, preSeen)._1

  /** Driver-local BFS fast path for SMALL closures — the dominant
    * production shape at 100 TB: a point extract (one customer's cone,
    * one order's lineage) touches a few thousand keys of a petabyte
    * corpus, and the right plan probes each table once per (edge,
    * iteration) with the key set pushed into the scan as an In filter
    * (parquet row-group/dictionary pruning applies), not a broadcast-
    * join fixpoint whose per-iteration scheduling barriers dwarf the
    * data. Returns None — leaving the distributed BFS to run, untouched
    * — the moment ANY collect would exceed `fastPathBudget` rows or a
    * shape needs a composite-pk re-probe; large closures therefore
    * always get the shuffling plan. Semantics are EXACTLY
    * [[runAllWithSizes]]'s (FastPathParitySpec pins local ==
    * distributed across random graphs, policies, preSeen, and config
    * queries):
    *
    *  - frontier KEYS drive reverse-key expansion — a phantom key (an
    *    FK value with no parent row) still probes its children, as the
    *    distributed key-set join does; frontier ROWS (the table's
    *    actual rows for those keys, duplicate-pk rows included) drive
    *    forward-FK and config-attr expansion, matching the semi-join's
    *    row multiset;
    *  - a probe filtered on a pk COLUMN already returns the complete
    *    row set for every key it discovers (duplicate-pk siblings
    *    share the filter value); any other filter column re-probes the
    *    fresh keys by pk so a duplicate-pk sibling the filter missed
    *    still expands — a composite-pk table needing such a re-probe
    *    aborts to the distributed path;
    *  - REFIRE: preSeen keys (minus current seeds) fire allowlisted
    *    reverse keys and config queries once at depth 0, exactly like
    *    the distributed incremental step.
    */
  private def tryRunAllLocal(seeds: Seq[(String, DataFrame)],
      preSeen: Map[String, DataFrame]):
      Option[(Map[String, DataFrame], Map[String, Long])] = {
    import scala.collection.mutable
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    val spark = seeds.headOption.map(_._2.sparkSession).getOrElse(return None)
    // thread-safe remaining budget: probes within an iteration run
    // CONCURRENTLY (independent scans of different tables — against a
    // 100 TB lake each probe is a real-latency scan, and an iteration's
    // wall should be its slowest probe, not their sum). The sum
    // accounting stays exact under races: addAndGet going negative
    // aborts, so the budget can never be silently exceeded.
    val budget = new java.util.concurrent.atomic.AtomicLong(fastPathBudget)
    def abort(why: String): Nothing =
      throw new ClosureExtractor.FastPathAbort(why)
    // the ONE driver materialization of this path: limit-guarded — the
    // plan ships at most remaining+1 rows, and one row past the
    // remaining budget aborts to the distributed BFS (StaticAuditSpec
    // pin)
    def take(df: DataFrame): Array[Row] = {
      val rows = df.limit(
        math.min(budget.get() + 1, Int.MaxValue.toLong).toInt max 1).collect()
      if (budget.addAndGet(-rows.length) < 0) abort("row budget")
      rows
    }
    // expansion columns per table: pk + forward-FK child cols + config attrs
    val neededMemo = mutable.Map.empty[String, Seq[String]]
    def needed(t: String): Seq[String] = neededMemo.getOrElseUpdate(t,
      (catalog.pkOf(t) ++ catalog.foreignKeysOf(t).map(_.childCol) ++
        configQueries.filter(_.sourceTable == t)
          .flatMap(cq => ClosureExtractor.attrsOf(cq.template))).distinct)
    val idxMemo = mutable.Map.empty[String, Map[String, Int]]
    def idxOf(t: String): Map[String, Int] =
      idxMemo.getOrElseUpdate(t, needed(t).zipWithIndex.toMap)
    val pkIdxMemo = mutable.Map.empty[String, Array[Int]]
    def keyOf(t: String, row: Row): Seq[Any] = {
      val idx = pkIdxMemo.getOrElseUpdate(t, catalog.pkOf(t).map(idxOf(t)).toArray)
      idx.toIndexedSeq.map(row.get)
    }
    val pkSchema = mutable.Map.empty[String, StructType]
    def recordSchema(t: String, df: DataFrame): Unit =
      if (!pkSchema.contains(t))
        pkSchema(t) = StructType(catalog.pkOf(t).map(c => df.schema(c)))
    // probe t's expansion columns with the filter pushed into the scan;
    // the DataFrame is BUILT here (driver-thread Catalyst work, schema
    // recording) — only the collect runs on the probe pool
    def probeDf(t: String, filterCol: String, values: Seq[Any]): DataFrame = {
      val df = loadTable(t).select(needed(t).map(col): _*)
        .where(col(filterCol).isin(values: _*))
      recordSchema(t, df)
      df
    }
    def probe(t: String, filterCol: String, values: Seq[Any]): Array[Row] =
      if (values.isEmpty) Array.empty else take(probeDf(t, filterCol, values))
    // small pool for concurrent probe collects (the Engine.writeAll
    // precedent: Spark's scheduler is thread-safe for concurrent job
    // submission); torn down with the run. Every probe job runs under a
    // run-unique job group with interruptOnCancel so an abort can KILL
    // in-flight probes — a plain shutdown() would let them run to
    // completion and compete for cores with the distributed fallback
    // BFS that starts immediately after the abort.
    val probePool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val probeEc =
      scala.concurrent.ExecutionContext.fromExecutorService(probePool)
    val probeGroup = s"graft-closure-fastpath-${java.util.UUID.randomUUID()}"
    val seen = mutable.Map.empty[String, mutable.HashSet[Seq[Any]]]
    val acc = mutable.Map.empty[String, mutable.ArrayBuffer[Seq[Any]]]
    try {
      // seed key sets, deduped driver-side (== the distributed
      // union().distinct())
      val seedKeys: Map[String, IndexedSeq[Seq[Any]]] =
        seeds.groupBy(_._1).map { case (t, ss) =>
          val pkCols = catalog.pkOf(t).map(col)
          val ks = mutable.LinkedHashSet.empty[Seq[Any]]
          ss.foreach { case (_, df) =>
            val sel = df.select(pkCols: _*)
            recordSchema(t, sel)
            take(sel).foreach(r => ks += r.toSeq)
          }
          t -> ks.toIndexedSeq
        }
      val pre: Map[String, Set[Seq[Any]]] = preSeen.map { case (t, df) =>
        val sel = df.select(catalog.pkOf(t).map(col): _*)
        recordSchema(t, sel)
        t -> take(sel).iterator.map(_.toSeq).toSet
      }
      // seen = seeds ∪ preSeen; acc starts from the delta seeds (every
      // seed table appears in the result, possibly with zero fresh keys)
      (seedKeys.keySet ++ pre.keySet).foreach { t =>
        val s = mutable.HashSet.empty[Seq[Any]]
        pre.get(t).foreach(s ++= _)
        seedKeys.get(t).foreach { ks =>
          acc(t) = mutable.ArrayBuffer(ks.filterNot(s.contains): _*)
          s ++= ks
        }
        seen(t) = s
      }
      // complete row set for a key set: trivial when the expansion needs
      // nothing beyond the pk; else one by-pk probe (single-col pk only)
      def rowsFor(t: String, keys: Seq[Seq[Any]]): Array[Row] = {
        val pk = catalog.pkOf(t)
        if (needed(t) == pk) keys.iterator.map(Row.fromSeq).toArray
        else if (pk.size == 1) probe(t, pk.head, keys.map(_.head).distinct)
        else abort(s"composite-pk re-probe: $t")
      }
      var frontier: Map[String, (Seq[Seq[Any]], Array[Row])] =
        seedKeys.collect { case (t, ks) if ks.nonEmpty =>
          t -> ((ks: Seq[Seq[Any]], rowsFor(t, ks)))
        }
      var depth = 0
      while (frontier.nonEmpty) {
        val candKeys = mutable.Map.empty[String, mutable.LinkedHashSet[Seq[Any]]]
        val candRows = mutable.Map.empty[String, mutable.ArrayBuffer[Row]]
        val rowsComplete = mutable.Map.empty[String, Boolean]
        // an iteration's probes are independent scans — scheduled here,
        // collected on the pool, and FOLDED in scheduling order below,
        // so candidate order (and everything downstream) is
        // deterministic regardless of completion interleaving
        val pending = mutable.ArrayBuffer.empty[
          (scala.concurrent.Future[Array[Row]], Array[Row] => Unit)]
        def schedule(df: DataFrame)(fold: Array[Row] => Unit): Unit =
          pending += ((scala.concurrent.Future {
            // job group is thread-local: (re)set it on the pool thread
            // per task so cancelJobGroup(probeGroup) reaches every
            // probe's Spark job, and interrupts its collect thread
            spark.sparkContext.setJobGroup(probeGroup,
              "closure fast-path probe", interruptOnCancel = true)
            take(df)
          }(probeEc), fold))
        def addCand(t: String, keys: IterableOnce[Seq[Any]], rows: Array[Row],
            complete: Boolean): Unit = {
          val ks = candKeys.getOrElseUpdate(t, mutable.LinkedHashSet.empty)
          var any = false
          keys.iterator.foreach { k => ks += k; any = true }
          if (any || rows.nonEmpty) {
            candRows.getOrElseUpdate(t, mutable.ArrayBuffer.empty) ++= rows
            rowsComplete(t) = rowsComplete.getOrElse(t, true) && complete
          }
        }
        def expandFksLocal(t: String, rows: Array[Row]): Unit = {
          val idx = idxOf(t)
          catalog.foreignKeysOf(t).foreach { fk =>
            require(catalog.pkOf(fk.parentTable) == Seq(fk.parentCol),
              s"FK ${fk.name} must reference the parent PK")
            val i = idx(fk.childCol)
            // pre-filter seen parents driver-side: an already-seen key
            // neither re-probes nor re-enters (the distributed anti-join)
            val vals = rows.iterator.map(_.get(i)).filter(_ != null)
              .filterNot(v => seen.get(fk.parentTable).exists(_.contains(Seq(v))))
              .toSeq.distinct
            if (vals.nonEmpty)
              // candidate keys are the FK VALUES (a dangling FK is still
              // a closure key, as in the distributed addKeys); rows are
              // whatever the parent table actually holds for them — a
              // by-pk probe, so the row set per key is complete
              schedule(probeDf(fk.parentTable, fk.parentCol, vals)) { rs =>
                addCand(fk.parentTable, vals.map(Seq(_)), rs, complete = true)
              }
          }
        }
        def expandRksLocal(t: String, keys: Seq[Seq[Any]], depth0: Boolean): Unit = {
          val pkPos = catalog.pkOf(t).zipWithIndex.toMap
          catalog.referenceKeysOf(t).filter(rk =>
            (depth0 && !policy.omitsFor(t)) ||
              policy.referenceKeyAllowlist.contains(rk.name))
          .foreach { rk =>
            val i = pkPos.getOrElse(rk.parentCol,
              abort(s"rk parent col outside pk: ${rk.name}"))
            val vals = keys.map(_(i)).distinct
            if (vals.nonEmpty)
              schedule(probeDf(rk.childTable, rk.childCol, vals)) { rs =>
                addCand(rk.childTable, rs.iterator.map(keyOf(rk.childTable, _)), rs,
                  complete = catalog.pkOf(rk.childTable).contains(rk.childCol))
              }
          }
        }
        def runConfigsLocal(t: String, attrRows: Array[Row]): Unit = {
          val idx = idxOf(t)
          configQueries.filter(_.sourceTable == t).foreach { cq =>
            require(runQuery != null, "configQueries need a runQuery function")
            val attrs = ClosureExtractor.attrsOf(cq.template)
            val targetPk = catalog.pkOf(cq.targetTable)
            val params: Array[Map[String, Any]] =
              if (attrs.isEmpty) Array(Map.empty[String, Any])
              else attrRows.iterator
                .map(r => attrs.map(a => a -> r.get(idx(a))).toMap)
                .toArray.distinct
            ClosureExtractor.configSqls(cq, attrs, params).foreach { sql =>
              val out = runQuery(sql).select(targetPk.map(col): _*)
              recordSchema(cq.targetTable, out)
              // keys come from the QUERY result (like the distributed
              // addKeys — a key the table lacks still enters the
              // closure); rows re-probe at frontier build
              schedule(out) { rs =>
                addCand(cq.targetTable, rs.iterator.map(_.toSeq),
                  Array.empty, complete = false)
              }
            }
          }
        }
        frontier.foreach { case (t, (keys, rows)) =>
          expandFksLocal(t, rows)
          expandRksLocal(t, keys, depth0 = depth == 0)
          runConfigsLocal(t, rows)
        }
        // REFIRE (incremental runs): previously-exported keys re-probe
        // ONLY the edges that stay active at depth>0 — where appended
        // rows can attach to old keys — once, in the first iteration;
        // keys that are also current seeds were fired by the frontier
        // pass above
        if (depth == 0) pre.foreach { case (t, preKs) =>
          val probeKeys =
            preKs.diff(seedKeys.getOrElse(t, IndexedSeq.empty).toSet).toSeq
          expandRksLocal(t, probeKeys, depth0 = false)
          if (configQueries.exists(_.sourceTable == t)) {
            val needAttrs = configQueries.filter(_.sourceTable == t)
              .exists(cq => ClosureExtractor.attrsOf(cq.template).nonEmpty)
            val rs = if (needAttrs) rowsFor(t, probeKeys) else Array.empty[Row]
            runConfigsLocal(t, rs)
          }
        }
        // await all probes in scheduling order and fold sequentially.
        // BOUNDED await: a probe hung inside Spark (straggling scan,
        // wedged source) must not block the driver forever — past the
        // bound we abort, and the abort path cancels the job group so
        // the hung job dies instead of riding on. The bound is far
        // above any sane probe at fast-path scale (≤200k rows total).
        pending.foreach { case (fut, fold) =>
          fold(try scala.concurrent.Await.result(fut,
              ClosureExtractor.ProbeAwaitMax)
            catch { case _: java.util.concurrent.TimeoutException =>
              abort("probe await timeout") })
        }
        // fresh keys → seen/acc/next frontier; frontier rows are the
        // collected probe rows when complete for every fresh key, else
        // one by-pk re-probe
        val nextFrontier = mutable.Map.empty[String, (Seq[Seq[Any]], Array[Row])]
        candKeys.foreach { case (t, ks) =>
          val s = seen.getOrElseUpdate(t, mutable.HashSet.empty)
          val fresh = ks.iterator.filterNot(s.contains).toVector
          if (fresh.nonEmpty) {
            s ++= fresh
            acc.getOrElseUpdate(t, mutable.ArrayBuffer.empty) ++= fresh
            val freshSet = fresh.toSet
            val rows =
              if (rowsComplete.getOrElse(t, true))
                candRows.getOrElse(t, mutable.ArrayBuffer.empty)
                  .filter(r => freshSet.contains(keyOf(t, r))).toArray
              else rowsFor(t, fresh)
            nextFrontier(t) = (fresh, rows)
          }
        }
        frontier = nextFrontier.toMap
        depth += 1
      }
      val result: Map[String, DataFrame] = acc.iterator.map { case (t, ks) =>
        val schema = pkSchema.getOrElse(t, abort(s"no schema for $t"))
        val rows = new java.util.ArrayList[Row](ks.size)
        ks.foreach(k => rows.add(Row.fromSeq(k)))
        t -> spark.createDataFrame(rows, schema)
      }.toMap
      val sizes = acc.iterator.map { case (t, ks) => t -> ks.size.toLong }.toMap
      Some((result, sizes))
    } catch {
      case a: ClosureExtractor.FastPathAbort =>
        // the one record of WHY the driver-local walk gave up: a
        // fallback to the distributed BFS is never silent
        System.err.println(s"[closure] fast path fell back to the distributed BFS: ${a.why}")
        None
    } finally {
      // kill, don't drain: on an abort the in-flight probes' Spark jobs
      // would otherwise run to completion and compete for cores with
      // the distributed fallback BFS. Order matters: shutdownNow FIRST
      // stops queued pool tasks from starting (a task dequeued after a
      // cancel would submit a fresh, uncancelled job into the group),
      // THEN cancelJobGroup kills the jobs already submitted
      // (interruptOnCancel above interrupts their collect threads). On
      // a normal exit every probe was already awaited, so both are
      // no-ops.
      probePool.shutdownNow()
      spark.sparkContext.cancelJobGroup(probeGroup)
    }
  }

  /** [[runAll]] plus each table's exact key count — free, because the
    * fixpoint's final checkpoint-forcing job is already a count.
    *
    * `preSeen` turns the run INCREMENTAL: table → pk key sets of a
    * PREVIOUS closure (e.g. a prior export) that pre-populate the BFS
    * seen-set, so the traversal prunes at every already-exported key and
    * the returned key sets / counts cover ONLY what is new. Recurring
    * cost = the seed depth-0 expansion + one allowlisted-RK/config probe
    * per preSeen table that has such edges (appends CAN attach there, so
    * those probes are the irreducible correctness cost) + traversal
    * proportional to the DELTA from depth 1 on — vs. the alternative
    * (re-traversing the whole closure, then anti-joining per table),
    * which pays every FK level and every depth-0 expansion of the full
    * closure even when nothing changed.
    *
    * Exactness contract (ClosureSpec + PropertySpec pin it on random
    * graphs, including randomly GROWN ones): the result equals
    * closure(seeds) MINUS preSeen keys, PROVIDED preSeen is the key
    * closure of a prior run under the SAME catalog, policy, and config
    * queries, and EITHER
    *
    *  (a) the data is unchanged since that run (any prior seed set), OR
    *  (b) the data has only GROWN (append-only: new rows may reference
    *      old keys, but already-exported rows are immutable) and every
    *      preSeen key is still inside the current full closure — the
    *      recurring same-seed-query pipeline guarantees this, since old
    *      seed rows still match the seed query.
    *
    * Why: seeds are NOT pruned — every seed still gets its depth-0
    * expansion — while a preSeen key skips its forward FKs (immutable
    * row ⇒ parents already in preSeen) and is re-probed ONLY along the
    * edges that stay active at depth>0 (allowlisted reverse keys and
    * config queries; see the REFIRE step), which is exactly where
    * appended rows can attach to old keys. Under in-place mutation
    * (edges of exported rows changed), pruning is unsound — use the
    * non-incremental form + per-table anti-join instead
    * ([[graft.engine.Engine.extractDelta]] with `incremental = false`;
    * CLI `extract -delta ... -delta-full`).
    */
  def runAllWithSizes(seeds: Seq[(String, DataFrame)],
      preSeen: Map[String, DataFrame] = Map.empty): (Map[String, DataFrame], Map[String, Long]) = {
    // SMALL-CLOSURE FAST PATH: when the whole traversal fits the local
    // row budget, run it driver-side (tryRunAllLocal) — one pushed-down
    // In-filter scan per (edge, iteration) instead of per-edge
    // broadcast/checkpoint jobs with their AQE stage barriers. Falls
    // back here untouched the moment any probe overflows the budget.
    if (fastPathBudget > 0)
      tryRunAllLocal(seeds, preSeen).foreach(r => return r)
    // Measured A/B at sf0.1: keeping AQE ON for the fixpoint wins — its
    // post-shuffle coalescing collapses the 32-partition iteration
    // shuffles to single tasks, which outweighs the extra stage-job
    // barriers. The exact-size broadcast hints below compose with it:
    // hinted joins skip the shuffle-and-measure step entirely.
    var seen = Map.empty[String, DataFrame] // table -> distinct pk tuples
    var seenSizes = Map.empty[String, Long]
    // Every intermediate persist is tracked and released after the final
    // key sets are eagerly checkpointed — a long-lived session must not
    // accumulate BFS state in the block manager across extract calls.
    val retained = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def track(df: DataFrame): DataFrame = { retained += df; df }
    // ONE union-of-counts job for a table->df map (vs a driver-serial
    // count per table); also what forces the lazy checkpoints.
    def countAll(dfs: Map[String, DataFrame]): Map[String, Long] =
      if (dfs.isEmpty) Map.empty
      else dfs.map { case (t, df) =>
          df.groupBy().count().select(lit(t).as("t"), col("count"))
        }.reduce(_.union(_))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def hinted(df: DataFrame, size: Option[Long]): DataFrame =
      if (size.exists(_ <= BroadcastKeyLimit)) broadcast(df) else df
    // incremental mode: each preSeen key set becomes its own checkpoint
    // leaf (an artifact read would otherwise re-plan and re-scan per
    // anti-join use, once per iteration) — a NEW checkpoint over a pk
    // projection, so releasing it after the fixpoint never touches
    // blocks the caller may still hold
    val pre: Map[String, DataFrame] = preSeen.map { case (t, df) =>
      t -> track(df.select(catalog.pkOf(t).map(col): _*).localCheckpoint(false))
    }
    var frontier: Map[String, DataFrame] = seeds.groupBy(_._1).map {
      case (t, ss) =>
        val pk = catalog.pkOf(t).map(col)
        // lazy leaf like every later frontier; forced by the seed-count
        // job just below
        t -> track(ss.map(_._2.select(pk: _*)).reduce(_.union(_)).distinct()
          .localCheckpoint(false))
    }
    // the one extra job this costs is repaid by every later join planning
    // broadcast-side-known from depth 0; ONE job forces + counts the seed
    // frontiers AND the preSeen leaves (the "f "/"p " prefixes are
    // disjoint, so the label sets cannot collide)
    val counted = countAll(
      frontier.map { case (t, d) => ("f " + t, d) } ++
        pre.map { case (t, d) => ("p " + t, d) })
    var frontierSizes: Map[String, Long] =
      counted.collect { case (k, n) if k.startsWith("f ") => k.drop(2) -> n }
    val preSizes: Map[String, Long] =
      counted.collect { case (k, n) if k.startsWith("p ") => k.drop(2) -> n }
    // seen = seeds ∪ preSeen: the traversal prunes at both. Seeds are NOT
    // pruned out of the frontier — every seed keeps its depth-0 expansion
    // (see the exactness contract above); from depth 1 on, candidates
    // anti-join the merged seen-set, so frontiers are delta-sized.
    seen = (frontier.keySet ++ pre.keySet).map { t =>
      t -> ((frontier.get(t), pre.get(t)) match {
        case (Some(f), Some(p)) => f.union(p)
        case (f, p) => f.orElse(p).get
      })
    }.toMap
    // sizes are for broadcast hints only, so double-counting a key that
    // is both a seed and preSeen merely makes the hint conservative
    seenSizes = seen.keySet.map(t =>
      t -> (frontierSizes.getOrElse(t, 0L) + preSizes.getOrElse(t, 0L))).toMap
    // `acc` is the RESULT accumulator: only keys this run discovers
    // beyond preSeen. Seed tables start from the delta seeds (a lazy
    // anti-join over two checkpoint leaves, forced by the result job).
    var acc: Map[String, DataFrame] = frontier.map { case (t, keys) =>
      t -> pre.get(t).fold(keys)(p =>
        keys.join(hinted(p, preSizes.get(t)), catalog.pkOf(t), "left_anti"))
    }
    var depth = 0

    // Run-scoped cache of each table's key projection (pk + edge
    // columns): the BFS touches the same projections every iteration, and
    // re-planning + re-scanning parquet per (edge, iteration) dominates
    // cold-run cost (~9s → ~1s at sf0.1). Released after the fixpoint —
    // by then every frontier is materialized.
    val projCache = scala.collection.mutable.Map.empty[(String, Seq[String]), DataFrame]
    def keyProjection(table: String, cols0: Seq[String]): DataFrame =
      projCache.getOrElseUpdate((table, cols0),
        loadTable(table).select(cols0.map(col): _*)
          .persist(StorageLevel.MEMORY_AND_DISK))

    while (frontier.nonEmpty) {
      val next = scala.collection.mutable.Map.empty[String, DataFrame]
      // chain inputs: every key set PRODUCED this iteration for a
      // chainable table (frontier tables at depth ≥ 1 were chained the
      // iteration their keys appeared, so they never re-enter)
      val chainAcc = scala.collection.mutable.Map.empty[String, DataFrame]
      def addKeys(table: String, keys0: DataFrame): Unit = {
        // LAZY checkpoint per contribution: a produced key set feeds the
        // candidate anti-join AND up to fks.size chain joins — as plain
        // subtrees those copies re-plan and re-execute per use, and the
        // duplication compounds multiplicatively down a chain (measured
        // slower than the un-chained BFS). As a checkpointed RDD the set
        // computes once inside this iteration's counting job and every
        // use reads the persisted blocks. Tracked for release.
        val keys = track(keys0.localCheckpoint(false))
        next.update(table, next.get(table).map(_.union(keys)).getOrElse(keys))
        if (chainable(table))
          chainAcc.update(table,
            chainAcc.get(table).map(_.union(keys)).getOrElse(keys))
      }
      // seeds are raw at depth 0: their forward FKs chain now
      if (depth == 0) frontier.foreach { case (t, keys) =>
        if (chainable(t)) chainAcc.update(t, keys)
      }

      // J2 reverse lookup, batched: child rows whose FK is in `keys`.
      // Distinct deferred to the candidate stage (see J1). `depth0` rows
      // follow ALL reverse edges unless omitted for this row's table;
      // allowlisted edges are followed at every depth even under omit
      // (the reference appends `schema.ReferenceKeys` unconditionally,
      // `etl/extractor.go:44-50`).
      def expandRks(table: String, keys: DataFrame, size: Option[Long],
          depth0: Boolean): Unit =
        catalog.referenceKeysOf(table).filter(rk =>
          (depth0 && !policy.omitsFor(table)) ||
            policy.referenceKeyAllowlist.contains(rk.name))
        .foreach { rk =>
          val childPk = catalog.pkOf(rk.childTable)
          addKeys(rk.childTable,
            keyProjection(rk.childTable, (childPk :+ rk.childCol).distinct)
              .join(hinted(keys.withColumnRenamed(rk.parentCol, rk.childCol),
                size), Seq(rk.childCol), "left_semi")
              .select(childPk.map(col): _*))
        }

      // J3 templated config queries: collect the key set's DISTINCT
      // parameter tuples to the driver (bounded: human-written config
      // predicates, SURVEY.md §7.4), substitute, run, fold the target
      // table's pk values back into the BFS. The common template shape
      // `... WHERE col = {attr}` batches to ONE IN-list query per
      // iteration — the reference runs it once per row
      // (etl/extractor.go:70-79), the surviving N+1 we refuse to copy;
      // any other shape falls back to per-tuple execution.
      def runConfigs(table: String, keysH: DataFrame): Unit = {
        val pk = catalog.pkOf(table)
        configQueries.filter(_.sourceTable == table).foreach { cq =>
          require(runQuery != null, "configQueries need a runQuery function")
          val attrs = ClosureExtractor.attrsOf(cq.template)
          val targetPk = catalog.pkOf(cq.targetTable)
          val params: Array[Map[String, Any]] =
            if (attrs.isEmpty) Array(Map.empty[String, Any])
            else loadTable(table)
              .select((pk ++ attrs).distinct.map(col): _*)
              .join(keysH, pk, "left_semi")
              .select(attrs.map(col): _*).distinct()
              .collect()
              .map(r => attrs.map(a => a -> r.getAs[Any](a)).toMap)
          ClosureExtractor.configSqls(cq, attrs, params).foreach { sql =>
            addKeys(cq.targetTable, runQuery(sql).select(targetPk.map(col): _*))
          }
        }
      }

      frontier.foreach { case (table, keys) =>
        val pk = catalog.pkOf(table)
        val fks = catalog.foreignKeysOf(table)
        val keysH = hinted(keys, frontierSizes.get(table))
        if (fks.nonEmpty && !chainable(table)) {
          // cycle fallback: one scan of the table, semi-joined down to
          // frontier rows (chainable tables expand their FKs in the chain
          // phase below instead — exactly once, when the keys appear)
          val rows = keyProjection(table, (pk ++ fks.map(_.childCol)).distinct)
            .join(keysH, pk, "left_semi")
          fks.foreach { fk =>
            // J1 forward lookup, batched: null FKs skipped as in the
            // reference (etl/extractor.go:107-109). No per-edge distinct:
            // the candidate stage below distincts the per-table union once
            // — a distinct here would add one shuffle per edge per depth
            // for rows the union dedups anyway.
            require(catalog.pkOf(fk.parentTable) == Seq(fk.parentCol),
              s"FK ${fk.name} must reference the parent PK")
            addKeys(fk.parentTable,
              rows.select(col(fk.childCol).as(fk.parentCol))
                .where(col(fk.parentCol).isNotNull))
          }
        }
        expandRks(table, keys, frontierSizes.get(table), depth0 = depth == 0)
        runConfigs(table, keysH)
      }

      // REFIRE for incremental runs: a previously-exported key skips its
      // forward FKs (its row cannot have changed under the append-only
      // contract, so its parents are already in preSeen) and its depth-0
      // expansion (covered by the prior run, or by this run's unpruned
      // seeds if it seeds again) — but edges that stay ACTIVE at depth>0
      // probe CURRENT data: an allowlisted reverse key or config query
      // from an old key can match rows appended since the previous
      // export (new lineitems on an old order). Fire exactly those, once,
      // in the first iteration; the candidate anti-join against
      // seen ⊇ preSeen keeps only the genuinely-new children, which then
      // traverse normally. On unchanged data this finds nothing, so the
      // arbitrary-preSeen static-data exactness is unaffected.
      //
      // Keys that are ALSO current seeds are excluded from the probe:
      // the frontier pass above already fired their allowlisted RKs
      // (depth-0 expansion ⊇ the allowlist under every policy) and their
      // config queries, so probing them again would double-scan each
      // child table and double-run each config over the old-seed overlap
      // every recurring run.
      //
      // Scale note: config re-probes are the one cost that scales with
      // the EXPORT, not the delta — the template must be re-evaluated
      // for every exported source row's params, since any of them may
      // match appended target rows. The `= {attr}` shape stays one
      // IN-list query; avoid recurring configs whose template shape
      // falls back to per-tuple execution.
      if (depth == 0) pre.foreach { case (table, keys) =>
        val probe = frontier.get(table) match {
          case Some(f) => keys.join(
            hinted(f, frontierSizes.get(table)), catalog.pkOf(table), "left_anti")
          case None => keys
        }
        expandRks(table, probe, preSizes.get(table), depth0 = false)
        runConfigs(table, hinted(probe, preSizes.get(table)))
      }

      // CHAIN phase: walk the acyclic forward-FK closure of everything
      // produced this iteration, child before parent — all lazy, fused
      // into the counting job below. Contributions to a parent are
      // complete before the parent's turn (topo order; cyclic producers
      // contributed during the frontier pass above, before this loop).
      //
      // Each chain input is anti-joined against `seen` FIRST (lazily, in
      // the same job): a produced key that is already seen had its whole
      // forward chain walked the iteration it first appeared, so
      // expanding it again only re-runs every downstream semi-join on
      // stale keys — multi-level waste the candidate stage would cut one
      // level too late. Seeds at depth 0 are fresh by definition — but
      // they sit inside `seen`, so a seed table's depth-0 chain input
      // must not anti-join the full seen-set (it would erase the seeds
      // themselves); it anti-joins preSeen alone instead, which both
      // keeps the seeds and stops refire-produced OLD children from
      // re-walking a full forward-FK level over the previous export
      // (an old row's parents are already exported by the contract).
      chainOrder.foreach { t =>
        chainAcc.get(t).foreach { keysT0 =>
          val pk = catalog.pkOf(t)
          val fks = catalog.foreignKeysOf(t)
          if (fks.nonEmpty) {
            val keysT = seen.get(t) match {
              case Some(s) if !(depth == 0 && frontier.contains(t)) =>
                keysT0.distinct().join(hinted(s, seenSizes.get(t)), pk, "left_anti")
              case _ => pre.get(t) match {
                case Some(p) => keysT0.distinct()
                  .join(hinted(p, preSizes.get(t)), pk, "left_anti")
                case None => keysT0
              }
            }
            val rows = keyProjection(t, (pk ++ fks.map(_.childCol)).distinct)
              .join(keysT, pk, "left_semi")
            fks.foreach { fk =>
              require(catalog.pkOf(fk.parentTable) == Seq(fk.parentCol),
                s"FK ${fk.name} must reference the parent PK")
              addKeys(fk.parentTable,
                rows.select(col(fk.childCol).as(fk.parentCol))
                  .where(col(fk.parentCol).isNotNull))
            }
          }
        }
      }
      // anti-join out already-seen keys, then drop empty frontiers.
      // Emptiness is decided with ONE union-of-counts job for all tables
      // instead of a driver-serial isEmpty() per table.
      //
      // EVERY frontier becomes a LAZY localCheckpoint (a LogicalRDD leaf,
      // forced by that same union-of-counts job — no extra job per
      // table): a persisted-but-not-checkpointed frontier keeps its full
      // logical plan, and since `seen` unions every prior frontier while
      // each frontier anti-joins `seen`, analysis cost then compounds
      // per depth — Catalyst re-walks the whole accumulated tree even
      // when the cache serves the data (measured ~25% of closure wall
      // time at sf0.1, and unbounded growth with depth). Leaf plans make
      // iteration cost pure job cost. Tracked for release after the
      // fixpoint; only the RESULT checkpoints (below) may outlive it.
      val candidates = next.toMap.map { case (t, keys) =>
        val pk = catalog.pkOf(t)
        val fresh0 = seen.get(t) match {
          // seen is the build side of the anti-join; its exact size is a
          // running sum of frontier counts, so small seen sets broadcast
          case Some(s) => keys.distinct().join(hinted(s, seenSizes.get(t)), pk, "left_anti")
          case None    => keys.distinct()
        }
        t -> track(fresh0.localCheckpoint(false))
      }
      val sizes: Map[String, Long] = countAll(candidates)
      // EVERY nonempty candidate set joins `seen` (it is part of the
      // closure and the final materialization), but only tables with
      // edges still to fire — allowlisted reverse keys, config queries,
      // or the cycle fallback — re-enter the frontier: chained forward
      // FKs were walked above, so a table reached purely through them is
      // finished the moment its keys exist.
      candidates.foreach { case (t, df) =>
        if (sizes.getOrElse(t, 0L) > 0L) {
          seen = seen.updated(t, seen.get(t).map(_.union(df)).getOrElse(df))
          seenSizes = seenSizes.updated(t, seenSizes.getOrElse(t, 0L) + sizes(t))
          // candidates are already anti-joined against seen ⊇ preSeen,
          // so every fresh key belongs to the returned delta
          acc = acc.updated(t, acc.get(t).map(_.union(df)).getOrElse(df))
        }
      }
      frontier = candidates.flatMap { case (t, df) =>
        if (sizes.getOrElse(t, 0L) > 0L && needsIteration(t)) Some(t -> df)
        else { if (sizes.getOrElse(t, 0L) == 0L) df.unpersist(); None }
      }
      frontierSizes = sizes
      depth += 1
    }
    // Materialize the final per-table key sets (small: key columns only),
    // cutting lineage to the persisted intermediates, THEN release every
    // intermediate persist. Without this, frontier/seen persists survive
    // the fixpoint and bloat the block manager for the session's lifetime.
    // No distinct: each iteration's fresh keys are distinct and anti-joined
    // against all prior ones, so the per-table union is distinct by
    // construction — a final dedup would be one wasted shuffle per table.
    // Checkpoints are LAZY and forced by a single union-of-counts job
    // (one job materializes all tables, vs. one eager-checkpoint job each).
    // `acc`, not `seen`: without preSeen they are identical; with it, the
    // result is exactly the keys NEW to this run (possibly zero-count for
    // a seed table whose seeds were all previously exported).
    val result = acc.map { case (t, k) => t -> k.localCheckpoint(false) }
    val resultSizes = countAll(result)
    // release every intermediate, including locally-checkpointed ones
    // (RDD-level blocks, see SparkUtil.release) — only the returned result
    // checkpoints may outlive the fixpoint
    retained.foreach(graft.SparkUtil.release)
    projCache.values.foreach(_.unpersist(false))
    (result, resultSizes)
  }
}

object ClosureExtractor {
  /** Convenience: closure over the parquet testdata tables in `sfDir`. */
  def forDir(spark: SparkSession, sfDir: String, catalog: Catalog = Catalog.tpch,
      policy: TraversalPolicy = TraversalPolicy()): ClosureExtractor =
    new ClosureExtractor(catalog, t => graft.Tables(spark, sfDir, t), policy)

  /** Row budget for the driver-local BFS fast path (see
    * [[ClosureExtractor.runAllWithSizes]]): the local traversal may
    * collect at most this many key/edge tuples TOTAL across the whole
    * run; one row more and it aborts to the distributed BFS, untouched.
    * Calibrated well under [[graft.SparkUtil.BroadcastRowLimit]]: a key
    * set this size is trivially broadcastable, so the local path never
    * handles anything the distributed path wouldn't have broadcast
    * anyway. 0 disables the fast path (specs use this to pin
    * local == distributed).
    */
  val FastPathBudget: Long =
    sys.env.get("GRAFT_CLOSURE_FAST_BUDGET").map { s =>
      // a bare .toLong here would surface a typo'd env value as an
      // ExceptionInInitializerError far from the setting; fail with the
      // variable named instead
      try s.trim.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"GRAFT_CLOSURE_FAST_BUDGET must be an integer row budget, got '$s'")
      }
    }.getOrElse(200000L)

  /** Upper bound on any single fast-path probe await — see the bounded
    * await in [[tryRunAllLocal]]. Generous by construction: the whole
    * fast path is capped at [[FastPathBudget]] rows.
    */
  val ProbeAwaitMax: scala.concurrent.duration.FiniteDuration =
    scala.concurrent.duration.Duration(15, java.util.concurrent.TimeUnit.MINUTES)

  /** `{attr}` placeholder names of a config-query template, in first-use
    * order (J3, `/root/reference/etl/extractor.go:70-79`). */
  def attrsOf(template: String): Seq[String] =
    raw"\{(\w+)\}".r.findAllMatchIn(template).map(_.group(1)).toSeq.distinct

  /** The SQL statements a config query expands to for a set of DISTINCT
    * parameter tuples — shared by the distributed BFS and the local fast
    * path so the two can never diverge on template semantics. The common
    * `... WHERE col = {attr}` tail shape batches to ONE IN-list query
    * (the reference runs it once per row, etl/extractor.go:70-79 — the
    * surviving N+1 we refuse to copy); any other shape substitutes
    * per tuple.
    */
  def configSqls(cq: ConfigQuery, attrs: Seq[String],
      params: Array[Map[String, Any]]): Seq[String] = {
    val eqTail = raw"(?is)^(.*\bWHERE\s+)(\w+)\s*=\s*\{(\w+)\}\s*$$".r
    cq.template match {
      case eqTail(prefix, colName, attr)
          if attrs == Seq(attr) &&
            params.forall(_.get(attr).exists(v =>
              v.isInstanceOf[Number] || v.isInstanceOf[String])) =>
        if (params.isEmpty) Nil
        else {
          // numbers render bare; strings single-quote with ''-escape AND
          // backslash-escape: Spark SQL's default parser (what runQuery
          // wires to) treats \ as an escape inside string literals, so a
          // raw backslash would corrupt or unbalance the literal —
          // either way ONE query per iteration, never one per row
          val inList = params.map(_(attr)).distinct.map {
            case n: Number => n.toString
            case s: String =>
              "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"
          }.mkString(", ")
          Seq(s"$prefix$colName IN ($inList)")
        }
      case _ =>
        params.toSeq.map(row => graft.sqlparse.SeedQuery.substitute(cq.template, row))
    }
  }

  /** Control-flow signal: the local fast path hit its row budget or an
    * unsupported shape — fall back to the distributed BFS. Stackless:
    * thrown on expected paths, never diagnostic.
    */
  private[closure] final class FastPathAbort(val why: String)
    extends RuntimeException(why, null, false, false)
}
