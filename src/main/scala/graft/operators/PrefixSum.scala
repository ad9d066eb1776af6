package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one distributed prefix-sum implementation behind both
  * [[Compactor.withBundleId]] (bundle assignment: global exclusive
  * running byte total in mtime order) and [[Curation.packByBudget]]
  * (token budgets: per-stratum inclusive running token total in
  * quality-desc order).
  *
  * == Scale design ==
  * A naive `Window.orderBy(...)` with no partition key collapses to a
  * single partition — fine at 60k rows, fatal at 100 TB. The shared
  * three-phase recipe, with NO driver-side collect anywhere:
  *
  *  1. range-bucket the order on a monotone double image of the leading
  *     order key, boundaries from ONE global `approxQuantile`
  *     (deterministic Greenwald–Khanna sketch; no RangePartitioner
  *     sampling, whose boundaries can differ between jobs and would
  *     desynchronize phases 2/3) — or a static uniform grid when the
  *     caller knows the key range, skipping the pass entirely;
  *  2. per-(group, bucket) totals → exclusive per-group bucket offsets
  *     via a window over the totals table itself (|groups| × |buckets|
  *     rows, partitioned by group — never collected to the driver),
  *     eagerly localCheckpointed while the narrow projection is cached,
  *     then broadcast back;
  *  3. within-(group, bucket) running sum over the EXACT order columns
  *     + offset = the group-global prefix — window parallelism is
  *     |groups| × |buckets| instead of |groups|, so no task ever sorts
  *     more than one bucket and a hot group fans out across `buckets`
  *     tasks.
  *
  * One bucket (`buckets` = 1) is the small-input case: no quantile
  * pass, no narrow persist, no totals pass — every offset is 0 and
  * phase 3 alone is the running sum. Callers that know their input is
  * small pass 1.
  *
  * `offset(group, bucket) + local_prefix == group_prefix` for ANY bucket
  * boundaries, so results never depend on sketch accuracy or boundary
  * placement — only balance does (pinned by the bucket-count-independence
  * cases in CompactorSpec and CurationSpec).
  *
  * Phases 1–2 run on a narrow (group, order key, value) projection —
  * never the payload: caching record content is exactly what cannot work
  * at 100 TB, and columnar sources prune the payload read. The projection
  * is persisted only when the quantile pass makes it two eager passes,
  * and released before returning.
  */
private[graft] object PrefixSum {

  /** Append `outCol` = running total of `valueCol` (cast long, null → 0)
    * over the total order `orderCols`, within `groupCol` groups.
    *
    * The group key is matched NULL-SAFELY end to end: phase 2's groupBy
    * and phase 3's window partitioning both treat NULL as one ordinary
    * group (SQL grouping semantics), and the offsets join uses `<=>` so
    * null-group rows are summed under their own group rather than
    * silently dropped. Null-safe equality is still a hash-join key, so
    * the broadcast plan is unchanged.
    *
    * @param groupCol   group key; pass `lit(0)` for one global order
    * @param ordKey     double image of the LEADING order column, monotone
    *                   (non-strictly) in it — e.g. `mtime.cast("double")`
    *                   or `negate(quality.cast("double"))`. Used only for
    *                   range bucketing; casting can collapse nearby
    *                   values, which costs balance, never correctness,
    *                   because the running sum orders by `orderCols`
    * @param orderCols  the exact total order (direction included)
    * @param buckets    range buckets (window parallelism per group);
    *                   <= 0 → `spark.sql.shuffle.partitions`
    * @param inclusive  frame includes the current row (budget packing)
    *                   or stops one before it (bundle assignment)
    * @param nullsLast  where a NULL ordKey buckets: the bucket must agree
    *                   with the null placement of `orderCols`'s leading
    *                   direction — last bucket for `desc` (NULLS LAST),
    *                   bucket 0 for `asc` (NULLS FIRST)
    * @param outCol     name of the appended running-total column
    * @param ordBounds  static known (lo, hi) range of `ordKey`: bucket
    *                   boundaries become a uniform grid and the
    *                   approxQuantile pass (plus its narrow persist) is
    *                   skipped — boundaries affect only balance
    * @param keepValueAs when set, the coalesced long value column stays
    *                   in the output under this name
    */
  def runningTotal(df: DataFrame, groupCol: Column, ordKey: Column,
                   orderCols: Seq[Column], valueCol: Column, buckets: Int,
                   inclusive: Boolean, nullsLast: Boolean, outCol: String,
                   ordBounds: Option[(Double, Double)] = None,
                   keepValueAs: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    val b = if (buckets > 0) buckets
            else spark.sessionState.conf.numShufflePartitions

    // Phase-2 input: the narrow projection. Persisted only when the
    // quantile pass ALSO needs it (two eager consumers); with static
    // bounds it feeds exactly one aggregation and caching would be
    // pure overhead.
    def narrowProj = df.select(groupCol.as("_st"), ordKey.as("_ord"),
      coalesce(valueCol.cast("long"), lit(0L)).as("_val"))

    val (bounds: Array[Double], narrow: DataFrame, cached: Boolean) =
      ordBounds match {
        case _ if b <= 1 => (Array.empty[Double], narrowProj, false)
        case Some((lo, hi)) =>
          require(hi > lo, s"ordBounds must satisfy hi > lo, got ($lo, $hi)")
          val grid = (1 until b).map(i => lo + i * (hi - lo) / b).toArray
          (grid, narrowProj, false)
        case None =>
          val n = narrowProj.persist()
          val probes = (1 until b).map(_.toDouble / b).toArray
          (n.stat.approxQuantile("_ord", probes, 0.01).distinct.sorted, n, true)
      }

    // Bucket index = number of boundaries <= key: depends only on the
    // key, so equal keys share a bucket and buckets tile the key space
    // in order. Binary search (native expression), not a chained-when
    // fold — the fold's generated code grows with the bucket count and
    // falls out of whole-stage codegen at thousands of buckets.
    def bucketOf(c: Column): Column =
      if (bounds.isEmpty) lit(0)
      else coalesce(graft.expressions.NativeFns.range_bucket(c, bounds),
        lit(if (nullsLast) bounds.length else 0))

    // exclusive per-group offsets over the tiny totals table, pinned by
    // localCheckpoint so phase 3's execution re-reads a few hundred
    // checkpointed rows, not the totals aggregation.
    //  - quantile path (`cached`): EAGER — it must materialize while
    //    `narrow` is still persisted (approxQuantile already built that
    //    cache; lazy would recompute the projection after the unpersist
    //    below).
    //  - static-bounds path: NO checkpoint — nothing is cached to
    //    protect, and ANY localCheckpoint here (even eager=false: AQE's
    //    toRdd runs every non-result stage) was a pure serialization
    //    barrier — the offsets aggregation ran as its own job strictly
    //    before the caller could finish building its plan. Uncheck-
    //    pointed, the offsets subtree folds into the caller's first
    //    action as ONE DAG whose scheduler overlaps it with the other
    //    independent stages (measured: ~2.5s off the incremental
    //    pipeline's day floor at 5k rows). A caller that materializes
    //    the result repeatedly without caching re-runs the subtree —
    //    standard lazy-plan semantics.
    val wOff = Window.partitionBy(col("_st")).orderBy(col("_bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsetsRaw = narrow.withColumn("_bucket", bucketOf(col("_ord")))
      .groupBy(col("_st"), col("_bucket"))
      .agg(sum(col("_val")).as("_total"))
      .withColumn("_offset", coalesce(sum(col("_total")).over(wOff), lit(0L)))
      .select(col("_st").as("_off_st"), col("_bucket").as("_off_bucket"),
        col("_offset"))
    val offsets =
      if (cached) {
        val c = offsetsRaw.localCheckpoint()
        narrow.unpersist(false)
        c
      } else offsetsRaw

    // Phase 3 (lazy, computed when the caller materializes): ONE fresh
    // pass over the full source — bucket, broadcast-join the offset,
    // within-bucket running sum over the ORIGINAL order columns. With
    // one bucket per group every exclusive bucket offset is 0, so the
    // totals aggregation and its join are skipped: the plan is the plain
    // per-group window.
    val w = Window.partitionBy(col("_pk_st"), col("_pk_bucket"))
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding,
        if (inclusive) Window.currentRow else -1L)
    val bucketed = df
      .withColumn("_pk_st", groupCol)
      .withColumn("_pk_val", coalesce(valueCol.cast("long"), lit(0L)))
      .withColumn("_pk_bucket", bucketOf(ordKey))
    val withOffset =
      if (b <= 1) bucketed.withColumn("_offset", lit(0L))
      else bucketed.join(broadcast(offsets),
        col("_pk_st") <=> col("_off_st") &&
          col("_pk_bucket") === col("_off_bucket"))
    val summed = withOffset
      .withColumn(outCol,
        coalesce(sum(col("_pk_val")).over(w), lit(0L)) + col("_offset"))
      .drop("_pk_st", "_pk_bucket", "_off_st", "_off_bucket", "_offset")
    keepValueAs match {
      case Some(name) => summed.withColumnRenamed("_pk_val", name)
      case None       => summed.drop("_pk_val")
    }
  }
}
