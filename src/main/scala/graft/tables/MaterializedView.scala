package graft.tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.core.Conform

/** Incrementally-maintained materialized aggregate over a [[GraftTable]].
  *
  * The MV is itself a graft_table holding `keys ++ aggs` — one row per
  * group — refreshed from the base table's change feed instead of a full
  * rescan. The contract the maintenance leans on:
  *
  *  - DECOMPOSABLE aggregates only (count / sum / min / max): each has a
  *    merge function (count→sum, sum→sum, min→min, max→max), so
  *    `agg(old ∪ Δ) = merge(agg(old), agg(Δ))` and a refresh touches
  *    O(|MV| + |Δ|) rows — at a 100 TB base with a bounded group space,
  *    that is the entire point. avg ships as sum+count (finalize at read
  *    time); holistic aggregates (median, distinct) need the base scan.
  *  - APPEND-ONLY feed: min/max (and the algebra above) are only sound
  *    when no base row is retracted. `GraftTable.appendOnlySince` checks
  *    the consumed version range; rewrites degrade down a LADDER, never
  *    straight to a full rescan: (a) count/sum views with full pre/post
  *    images consume the signed change delta — O(changes + touched
  *    groups); (b) min/max (and sketch) views with images re-derive ONLY
  *    the touched groups from the base and MERGE — O(changes +
  *    touched groups' base rows), an overwrite only when the feed cannot
  *    even name the touched groups (changeDataFeed off, overwrite/
  *    restore/drop_partition in the range).
  *  - EXACTLY-ONCE cursor: the consumed base version rides the MV's own
  *    commit as a txn action `(appId = "mv:" + base, batchId = version)`
  *    — data advance and cursor advance are ONE atomic commit, so a
  *    crash between refresh and any external bookkeeping cannot double-
  *    apply a delta (the rerun sees `lastTxn ≥ baseVersion` and no-ops).
  *
  * Refresh plan shape: the delta aggregates FIRST (map-side partial
  * combine shrinks it to ≤1 row per touched group before the shuffle),
  * then merges into the MV via the keyed lakehouse MERGE — only MV files
  * containing touched groups are rewritten.
  */
object MaterializedView {

  /** One maintained aggregate: `fn` over SQL expression `expr` AS `out`.
    * `approx_distinct` stores a mergeable HLL SKETCH (binary) — read it
    * through [[estimated]] or `hll_sketch_estimate` — the only way a
    * distinct count can be maintained incrementally at all (the exact
    * version is not decomposable; this is the 100 TB trade every
    * warehouse MV makes). */
  final case class AggSpec(fn: String, expr: String, out: String) {
    require(Set("count", "sum", "min", "max", "approx_distinct")(fn),
      s"materialized view: aggregate '$fn' is not decomposable — " +
        "supported: count | sum | min | max | approx_distinct (HLL " +
        "sketch; avg = sum + count)")
  }

  private def mvAppId(base: String): String =
    "mv:" + java.nio.file.Paths.get(base).toAbsolutePath.normalize.toString

  private def aggCols(aggs: Seq[AggSpec]): Seq[Column] = aggs.map {
    // SQL COUNT semantics, both forms: COUNT(*) for an empty/"*"/"1"
    // expr, COUNT(expr) — nulls excluded — otherwise. Both are
    // decomposable (merge = sum), so the distinction costs nothing.
    case AggSpec("count", e, out)
      if e == null || e.trim.isEmpty || e.trim == "*" || e.trim == "1" =>
      count(lit(1)).as(out)
    case AggSpec("count", e, out) => count(expr(e)).as(out)
    case AggSpec("approx_distinct", e, out) =>
      expr(s"hll_sketch_agg($e)").as(out)
    case AggSpec(fn, e, out) => expr(s"$fn($e)").as(out)
  }

  /** Merge functions over the MV's own columns (count becomes sum,
    * sketches union). */
  private def mergeCols(aggs: Seq[AggSpec]): Seq[Column] = aggs.map {
    case AggSpec("count", _, out) => sum(col(out)).as(out)
    case AggSpec("approx_distinct", _, out) =>
      expr(s"hll_union_agg(`$out`)").as(out)
    case AggSpec(fn, _, out) => expr(s"$fn(`$out`)").as(out)
  }

  private def isStar(e: String): Boolean =
    e == null || e.trim.isEmpty || e.trim == "*" || e.trim == "1"

  /** Can this agg set be maintained through RETRACTIONS (pre/post-imaged
    * deletes and updates)? Requires: only count/sum (min/max cannot
    * un-see a retracted extreme; sketches cannot subtract), a count(*)
    * row count (group liveness — a group whose count reaches 0 must be
    * deleted, and without the row count that moment is unobservable),
    * and for every sum(e) a count with the SAME expr (SQL SUM over zero
    * non-null rows is NULL, not 0 — the companion count is the only way
    * to restore that exactly after retraction). */
  private[tables] def retractionCapable(aggs: Seq[AggSpec]): Boolean =
    aggs.forall(a => Set("count", "sum")(a.fn)) &&
      aggs.exists(a => a.fn == "count" && isStar(a.expr)) &&
      aggs.filter(_.fn == "sum").forall(s =>
        aggs.exists(c => c.fn == "count" && c.expr.trim == s.expr.trim))

  /** sum-out → its same-expr count-out (defined when retractionCapable). */
  private def sumCompanions(aggs: Seq[AggSpec]): Map[String, String] =
    aggs.filter(_.fn == "sum").map(s => s.out ->
      aggs.find(c => c.fn == "count" && c.expr.trim == s.expr.trim).get.out)
      .toMap

  /** Signed delta aggregates over change rows carrying `__w` (±1). */
  private def retractionAggCols(aggs: Seq[AggSpec]): Seq[Column] = aggs.map {
    case AggSpec("count", e, out) if isStar(e) => sum(col("__w")).as(out)
    case AggSpec("count", e, out) =>
      sum(when(expr(e).isNotNull, col("__w")).otherwise(lit(0L))).as(out)
    case AggSpec("sum", e, out) => sum(expr(s"($e)") * col("__w")).as(out)
    case AggSpec(fn, _, _) => throw new IllegalStateException(
      s"unreachable: retractionCapable admits no '$fn'")
  }

  /** Read helper: replace each approx_distinct SKETCH column with its
    * estimate (bigint), leaving everything else as stored. */
  def estimated(mv: DataFrame, aggs: Seq[AggSpec]): DataFrame =
    aggs.filter(_.fn == "approx_distinct").foldLeft(mv)((df, a) =>
      df.withColumn(a.out, expr(s"hll_sketch_estimate(`${a.out}`)")))

  /** The signed contribution of one classified change row: +1 for
    * insert/update_postimage, -1 for delete/update_preimage. */
  private def signOf: Column =
    when(col("_change_type").isin("insert", "update_postimage"),
      lit(1L)).otherwise(lit(-1L))

  /** Merge a SIGNED change delta (rows carrying `__w` = ±1) into the
    * existing MV as ONE atomic commit: count := Σw, count(e) := Σw over
    * non-null e, sum(e) := Σ(e·w), merged into only the touched groups;
    * groups whose row count reaches 0 are deleted in the same commit
    * (merge's deleteKeys) and a sum whose companion count hits 0 reverts
    * to NULL (SQL SUM over no non-null rows). Shared by the batch
    * retraction refresh and the streaming CDF consumer — the arithmetic
    * is identical, only the delta's source differs. */
  private def mergeSignedDelta(mv: String,
      keys: Seq[String], aggs: Seq[AggSpec], delta: DataFrame,
      txn: (String, Long)): Long = {
    val rowCountOut = aggs.find(a => a.fn == "count" && isStar(a.expr)).get.out
    val deltaAgg = delta.groupBy(keys.map(col): _*).agg(
      retractionAggCols(aggs).head, retractionAggCols(aggs).tail: _*)
    val pinned = pinnedTo(mv)
    val s = delta.sparkSession
    val oldTouched = GraftTable.read(s, mv)
      .join(deltaAgg.select(keys.map(col): _*), keys, "left_semi")
    val merged = oldTouched.unionByName(pinned(deltaAgg))
      .groupBy(keys.map(col): _*)
      .agg(mergeCols(aggs).head, mergeCols(aggs).tail: _*)
    val companions = sumCompanions(aggs)
    val nullFixed = aggs.filter(_.fn == "sum").foldLeft(merged)((df, a) =>
      df.withColumn(a.out,
        when(col(companions(a.out)) === 0, lit(null)).otherwise(col(a.out))))
    val combined = pinned(nullFixed).cache()
    try {
      // dead-group deletes and the cursor-bearing upsert land as ONE
      // merge commit (merge's deleteKeys) — a concurrent MV reader or a
      // crash can never observe dead groups gone while touched groups
      // still hold stale aggregates, and no interim version pollutes
      // the MV's history/time travel
      val dead = combined.where(col(rowCountOut) === 0)
        .select(keys.map(col): _*)
      GraftTable.merge(s, mv, combined.where(col(rowCountOut) > 0), keys,
        txn = Some(txn), deleteKeys = Some(dead))
    } finally combined.unpersist()
  }

  /** Apply ONE micro-batch of the streaming change feed (`withImages`
    * rows: data columns + `_change_type` + `_commit_version`) to the MV
    * — the direct-consumption alternative to per-version refresh calls:
    * one stream, one signed merge per batch, cost O(|batch| + touched
    * groups). Exactly-once rides the MV's own txn cursor (appId from the
    * base path, batchId = the batch's high version): a replayed batch —
    * same checkpoint or a fresh one — finds `lastTxn ≥ hi` and no-ops,
    * and a batch straddling the cursor (fresh checkpoint mid-history)
    * applies only its rows PAST the cursor. Requires retraction-capable
    * aggs (count/sum with a count(*) and a same-expr count per sum) —
    * min/max cannot un-see a retracted extreme. */
  def applyChangeBatch(batch: DataFrame, base: String, mv: String,
      keys: Seq[String], aggs: Seq[AggSpec]): Option[Long] = {
    require(retractionCapable(aggs),
      "streaming CDF materialized view: aggregates must be retraction-" +
        "capable — count/sum only, with a count(*) row count and a " +
        "same-expr count beside every sum (min/max/approx_distinct " +
        "cannot un-see a retracted value; use per-version refresh)")
    val s = batch.sparkSession
    val hiRow = batch.agg(max(col("_commit_version"))).head()
    if (hiRow.isNullAt(0)) return None // empty batch advances nothing
    val hi = hiRow.getLong(0)
    val appId = mvAppId(base)
    val last = GraftTable.lastTxn(mv, appId)
    if (last.exists(_ >= hi)) return None // replay (same or fresh checkpoint)
    val fresh = last.fold(batch)(l =>
      batch.where(col("_commit_version") > l))
    val delta = fresh.withColumn("__w", signOf)
    if (GraftTable.latestVersion(mv).isEmpty) {
      // first materialization straight from the stream: the signed
      // arithmetic over a from-zero batch IS the full aggregate (inserts
      // all +1; cross-version retractions net out), dead groups dropped
      val rowCountOut =
        aggs.find(a => a.fn == "count" && isStar(a.expr)).get.out
      val agg0 = delta.groupBy(keys.map(col): _*).agg(
        retractionAggCols(aggs).head, retractionAggCols(aggs).tail: _*)
      val companions = sumCompanions(aggs)
      val nullFixed = aggs.filter(_.fn == "sum").foldLeft(agg0)((df, a) =>
        df.withColumn(a.out,
          when(col(companions(a.out)) === 0, lit(null)).otherwise(col(a.out))))
      Some(GraftTable.write(s, nullFixed.where(col(rowCountOut) > 0),
        mv, "overwrite", txn = Some(appId -> hi)))
    } else Some(mergeSignedDelta(mv, keys, aggs, delta, appId -> hi))
  }

  /** Aggregate-output TYPES drift across refreshes (a re-merged DECIMAL
    * sum widens its precision): a refresh projects onto the MV's logged
    * schema, and [[Conform]] narrows such a sum only with an overflow
    * check that fails loud. */
  private def pinnedTo(mv: String): DataFrame => DataFrame = {
    val logged = StructType.fromDDL(GraftTable.snapshot(mv).schemaDdl)
    Conform(_, logged).project(s"materialized view $mv")
  }

  /** Bring `mv` up to date with `base`'s latest version — or, when
    * `toVersion` is given, exactly that version (the streaming-MV driver
    * advances one micro-batch's version range at a time, so the refresh
    * target is the batch's high watermark, not whatever the base has
    * reached since). Returns the new MV version, or None when already
    * current (incl. crash-replay: a replayed batch's toVersion is ≤ the
    * cursor, so the rerun no-ops). */
  def refresh(spark: SparkSession, base: String, mv: String,
      keys: Seq[String], aggs: Seq[AggSpec],
      toVersion: Option[Long] = None): Option[Long] = {
    require(keys.nonEmpty, "materialized view needs group keys")
    require(aggs.nonEmpty, "materialized view needs at least one aggregate")
    val dupOut = (keys ++ aggs.map(_.out)).groupBy(identity)
      .collect { case (n, g) if g.size > 1 => n }
    require(dupOut.isEmpty,
      s"materialized view: duplicate output column(s) [${dupOut.mkString(", ")}]")
    val latest = GraftTable.latestVersion(base).getOrElse(
      throw new IllegalArgumentException(s"not a graft_table: $base"))
    val baseV = toVersion.getOrElse(latest)
    require(baseV >= 1 && baseV <= latest,
      s"materialized view: refresh target version $baseV outside the " +
        s"base's [1, $latest]")
    val appId = mvAppId(base)
    val last = GraftTable.lastTxn(mv, appId)
    if (last.exists(_ >= baseV)) return None // current (or a crash replay)

    val from = last.getOrElse(0L)
    // both image rungs ask it; read the range for it at most once
    lazy val covered = GraftTable.cdcCoveredSince(base, from, baseV)
    if (last.isDefined && GraftTable.appendOnlySince(base, from, baseV)) {
      // INCREMENTAL: aggregate only the delta, merge into the MV
      val delta = GraftTable.changes(spark, base, from, Some(baseV))
        .drop("_commit_version")
      val deltaAgg = delta.groupBy(keys.map(col): _*).agg(
        aggCols(aggs).head, aggCols(aggs).tail: _*)
      val pinned = pinnedTo(mv)
      // only groups the delta touched need re-merging; the semi-joined
      // old rows are ≤1 per touched group
      val oldTouched = GraftTable.read(spark, mv)
        .join(deltaAgg.select(keys.map(col): _*), keys, "left_semi")
      // cache: merge executes its source several times (key census, data
      // stage, CDC stage) — without it each action re-runs the delta scan
      // + aggregation + semi-join (mergeSignedDelta already does this)
      val combined = pinned(oldTouched.unionByName(pinned(deltaAgg))
        .groupBy(keys.map(col): _*)
        .agg(mergeCols(aggs).head, mergeCols(aggs).tail: _*)).cache()
      try Some(GraftTable.merge(spark, mv, combined, keys,
        txn = Some(appId -> baseV)))
      finally combined.unpersist()
    } else if (last.isDefined && retractionCapable(aggs) && covered) {
      // RETRACTION-INCREMENTAL: the base rewrote rows, but the change
      // feed carries full pre/post images AND every aggregate is
      // retraction-capable (sum/count with a count(*) row count and a
      // same-expr count beside every sum — see retractionCapable). Each
      // change row contributes with a SIGN: +1 for insert/update_post,
      // -1 for delete/update_pre, so count := Σw, count(e) := Σw over
      // non-null e, sum(e) := Σ(e·w) — merged into the MV exactly like
      // the append path. Groups whose row count reaches 0 are DELETED
      // from the MV (SQL GROUP BY emits no empty groups), and a sum
      // whose companion count(e) reaches 0 reverts to NULL (SQL SUM over
      // no non-null rows). Cost: O(|changes| + touched groups) — never
      // the base. min/max stay full-recompute: a retraction can expose a
      // second-place value no merge function can recover.
      val delta = GraftTable.changesWithImages(spark, base, from, Some(baseV))
        .withColumn("__w", signOf)
      Some(mergeSignedDelta(mv, keys, aggs, delta, appId -> baseV))
    } else if (last.isDefined && covered) {
      // TOUCHED-GROUP RECOMPUTE (min/max & sketches under retraction):
      // the algebra cannot un-see a retracted extreme, but the change
      // feed names every group the range touched (pre AND post images),
      // and only THOSE groups can have changed — re-derive them from the
      // base filtered to the touched keys and MERGE, instead of
      // overwriting the whole view. A delete touching one group of a
      // min view now costs O(changes + touched groups' base rows) in
      // shuffle/compute (the base scan itself streams past the semi-join
      // filter), not O(|MV|) rewrite + O(base) aggregation. Groups whose
      // last base row vanished are deleted in the SAME merge commit.
      val touched = GraftTable
        .changesWithImages(spark, base, from, Some(baseV))
        .select(keys.map(col): _*).distinct()
      val freshAgg = GraftTable.read(spark, base, asOf = Some(baseV))
        .join(touched, keys, "left_semi")
        .groupBy(keys.map(col): _*).agg(
          aggCols(aggs).head, aggCols(aggs).tail: _*)
      val up = pinnedTo(mv)(freshAgg).cache()
      try {
        val dead = touched.join(up.select(keys.map(col): _*), keys, "left_anti")
        Some(GraftTable.merge(spark, mv, up, keys,
          txn = Some(appId -> baseV), deleteKeys = Some(dead)))
      } finally up.unpersist()
    } else {
      // FULL: first materialization, or the base rewrote rows with no
      // change images to even NAME the touched groups (changeDataFeed
      // off, overwrite/restore/drop_partition) — recompute from the
      // snapshot the cursor names
      val full = GraftTable.read(spark, base, asOf = Some(baseV))
        .groupBy(keys.map(col): _*).agg(
          aggCols(aggs).head, aggCols(aggs).tail: _*)
      Some(GraftTable.write(spark, full, mv, "overwrite",
        txn = Some(appId -> baseV)))
    }
  }
}
