package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** As-of (backward) join as a cogrouped merge — the scale-correct form.
  *
  * Semantics: for each left row, attach the single right row with the
  * same key and the greatest right-time <= left-time (ties on
  * right-time broken by the greatest tiebreaker column, matching the
  * `row_number() over (order by t desc, tiebreak desc) = 1` contract of
  * the declarative form in `e03_asof_join`). Left rows with no match
  * keep nulls (left-outer).
  *
  * Why not the join-then-rank form: `left.join(right, key && rt <= lt)`
  * materializes EVERY (left, earlier-right) pair before the rank filter
  * — quadratic per key. A 100 TB events-x-orders as-of with thousands
  * of orders per customer explodes 1000x before collapsing back. This
  * operator shuffles each side ONCE on the key (map-side partial
  * nothing — it's a partitioning, not an agg), sorts within each
  * cogroup, and merges with two pointers: O(n log n) per key in the
  * group sort, zero pair blowup, output exactly |left|.
  *
  * Memory: one key's rows must fit in a task (same bound as any
  * cogroup/window); skewed hot keys would need the salting in [[Skew]].
  */
object AsOf {

  /** Streaming backward as-of against a VERSIONED dimension: each
    * micro-batch runs the full [[backward]] merge (batch semantics,
    * exactly the e05/e06 contract) and hands the enriched batch to
    * `sink`. Use when the match must respect the dimension's OWN
    * event time (an updated dimension row must not apply to earlier
    * facts) — the plain stream-static join ([[enrichStream]]) always
    * matches the latest snapshot. The dimension is re-read per batch,
    * so slowly-growing dimensions are picked up without restart.
    */
  def backwardStream(stream: DataFrame, dim: DataFrame, key: String,
                     leftTime: String, rightTime: String, tiebreak: String,
                     checkpointDir: String,
                     trigger: org.apache.spark.sql.streaming.Trigger =
                       org.apache.spark.sql.streaming.Trigger.AvailableNow())
                    (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        sink(backward(batch.toDF(), dim, key, leftTime, rightTime, tiebreak), id)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** Stream-static enrichment: left-join a STREAMING fact to a static
    * dimension. No watermark or state — the static side is re-read per
    * micro-batch (picking up dimension updates) and broadcast when
    * small. The streaming counterpart of the e03/e05/e06 enrichment
    * family for the common "decorate events with the latest dimension
    * snapshot" case; a true streaming as-of (versioned dimension) is
    * [[backward]] run per micro-batch via foreachBatch.
    */
  def enrichStream(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(dim, Seq(key), "left")

  /** Backward as-of join. `leftTime`/`rightTime`/`tiebreak` must be
    * numeric-orderable (cast times to epoch longs first). Output =
    * left columns ++ right columns (right side nullable).
    *
    * @param key       equi-join key column name, present on both sides
    *                  (Long-typed)
    * @param leftTime  left event-time column name (Long)
    * @param rightTime right event-time column name (Long)
    * @param tiebreak  right column breaking right-time ties (Long,
    *                  greatest wins)
    */
  def backward(left: DataFrame, right: DataFrame, key: String,
               leftTime: String, rightTime: String,
               tiebreak: String): DataFrame = {
    val spark = left.sparkSession
    val lSchema = left.schema
    val rSchema = right.schema
    val lKey = lSchema.fieldIndex(key)
    val rKey = rSchema.fieldIndex(key)
    val lT = lSchema.fieldIndex(leftTime)
    val rT = rSchema.fieldIndex(rightTime)
    val rTie = rSchema.fieldIndex(tiebreak)
    // right key column is redundant in the output (equals the left's)
    val rKeep = rSchema.fields.indices.filterNot(_ == rKey)
    val outSchema = StructType(lSchema.fields ++
      rKeep.map(i => StructField(rSchema(i).name, rSchema(i).dataType,
        nullable = true)))

    // "nulls never match" (same contract as the rank and planned forms):
    // left rows with a null key/time go straight to the null-padded
    // output; right rows with a null key/time can never be anyone's
    // match and are dropped before the shuffle. Both filters are narrow.
    val lClean = left.filter(col(key).isNotNull && col(leftTime).isNotNull)
    val lNullish = left.filter(col(key).isNull || col(leftTime).isNull)
    val rClean = right.filter(col(key).isNotNull && col(rightTime).isNotNull)

    implicit val keyEnc = Encoders.scalaLong
    implicit val rowEnc = Encoders.row(outSchema)
    val lg = lClean.groupByKey(r => r.getLong(lKey))(keyEnc)
    val rg = rClean.groupByKey(r => r.getLong(rKey))(keyEnc)
    val merged = lg.cogroup(rg) { (_, ls, rs) =>
      // sort each side once; walk both with two pointers
      val lRows = ls.toArray.sortBy(_.getLong(lT))
      // right ordered by (t, tiebreak): the LAST entry with t <= lt is
      // the rank-1 row of the DESC,DESC window. A null tiebreak sorts
      // first (= loses every tie), matching desc-nulls-last rank form.
      val rRows = rs.toArray.sortBy(r => (r.getLong(rT),
        if (r.isNullAt(rTie)) Long.MinValue else r.getLong(rTie)))
      var j = 0
      var best: Row = null
      lRows.iterator.map { l =>
        val lt = l.getLong(lT)
        while (j < rRows.length && rRows(j).getLong(rT) <= lt) {
          best = rRows(j); j += 1
        }
        val rVals: Seq[Any] =
          if (best == null) Seq.fill[Any](rKeep.length)(null)
          else rKeep.map(best.get)
        Row.fromSeq(l.toSeq ++ rVals)
      }
    }(rowEnc).toDF(outSchema.fieldNames.toIndexedSeq: _*)
    val padded = lNullish.select(
      lSchema.fieldNames.map(col).toIndexedSeq ++
      rKeep.map(i => lit(null).cast(rSchema(i).dataType)
        .as(rSchema(i).name)): _*)
    merged.union(padded)
  }

  /** The PLANNED form: same backward as-of semantics through the custom
    * Catalyst operator ([[graft.plans.AsOfJoinPlan]] ->
    * [[graft.plans.AsOfJoinExec]]), so EnsureRequirements places the
    * exchanges/sorts — a pre-partitioned or bucketed input plans no
    * shuffle at all, and the per-partition merge streams with spillable
    * sorts instead of the cogroup's in-memory groups. Key/time/tie
    * columns must be LongType; sides may use different column names.
    */
  def backwardPlanned(left: DataFrame, right: DataFrame,
                      leftKey: String, rightKey: String,
                      leftTime: String, rightTime: String,
                      tiebreak: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.DatasetBridge
    import graft.plans.{AsOfJoinPlan, AsOfJoinStrategy}
    val spark = left.sparkSession
    // check-then-append on session-global state: serialize concurrent
    // first-time callers (the bench submits 12 queries at once) so a
    // racing pair can't lose or double-add the strategy
    spark.synchronized {
      if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ AsOfJoinStrategy
    }
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             name: String) =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name"))
    DatasetBridge.ofRows(spark, AsOfJoinPlan(lPlan, rPlan,
      attr(lPlan, leftKey), attr(rPlan, rightKey),
      attr(lPlan, leftTime), attr(rPlan, rightTime),
      attr(rPlan, tiebreak)))
  }
}
