package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables

/** Sketch/approximate aggregates. The sketch BINARIES/estimates are not
  * DuckDB-expressible (HLL++ vs DuckDB's approx algorithms differ by
  * design), so x01/x03 carry TOLERANCE CONTRACTS instead of raw
  * estimates: each query computes the exact twin in the SAME run and
  * emits explicit `*_tol_ok` booleans (estimate within the documented
  * bound of the exact answer) alongside fully-exact columns — the
  * DuckDB oracle restates the exact columns and asserts TRUE for the
  * contract booleans, so the driver's rows/schema/hash gate verifies
  * the whole row. The bounds are the algorithms' published guarantees
  * ([[HllRtol]]: 5× the requested rsd 0.01; the median must sit inside
  * the exact [p49, p51] band — percentile_approx(accuracy=1000)
  * promises rank ±1/1000, checked 10× wider), shared with the
  * QueriesSpec pins. The pure sketch-only serving plans (no exact
  * twin — what a 100 TB job runs) are exercised by SketchMergeSpec and
  * measured in BENCH_sketch_probe.json; the exact twins here are the
  * verification harness, not the serving shape.
  */
object SketchOps extends QuerySet {

  /** HLL estimates must land within ±5% of exact (rsd 0.01 requested in
    * x01 ⇒ 5σ; lgK=12 in x03 ⇒ rsd ~1.6%, 3σ). Referenced by the
    * QueriesSpec pins so the spec and the shipped contract cannot
    * drift. */
  val HllRtol = 0.05

  val all: Seq[Q] = Seq(

    // approx_count_distinct (HLL++) + quantile sketch per event type —
    // the at-scale forms of distinct-count and percentile (exact
    // versions shuffle every distinct value; sketches shuffle ~KB).
    // Registered output = the tolerance contract (see object scaladoc):
    // one groupBy computes sketch + exact twin together.
    Q("x01_sketch_aggregates",
      (s, d) => {
        import s.implicits._
        val ev = Tables.load(s, d, "events")
        // TWO group passes joined on the |event_type| rows, not one:
        // countDistinct plans an Expand that doubles every row through
        // the other aggregate buffers, and fusing the sketches with it
        // measured 7.6 s solo where the two separate passes cost
        // ~0.3 + 0.8 s. The approx pass is also exactly the production
        // serving plan (sketches only, no exact twin in its lineage).
        val approxPass = ev.groupBy($"event_type")
          .agg(
            approx_count_distinct($"user_id", 0.01).as("au"),
            percentile_approx($"value", lit(0.5), lit(1000)).as("mv"),
            count(lit(1)).as("n"))
        val exactPass = ev.groupBy($"event_type")
          .agg(countDistinct($"user_id").as("nd"),
            // ONE percentile buffer for both band edges — two scalar
            // percentile aggs each sort their own copy of the group
            expr("percentile(value, array(0.49, 0.51))").as("pband"))
        approxPass.join(exactPass, Seq("event_type"))
          .select($"event_type", $"n",
            (abs($"au" - $"nd") <= $"nd" * HllRtol).as("users_tol_ok"),
            ($"mv" >= element_at($"pband", 1) &&
             $"mv" <= element_at($"pband", 2)).as("median_tol_ok"))
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  TRUE AS users_tol_ok, TRUE AS median_tol_ok
             |FROM events GROUP BY event_type""".stripMargin)),

    // Exact twins of the x01 sketches, per event type — fully
    // oracle-checkable (exact distinct count; exact continuous
    // percentile, which Spark's `percentile` and DuckDB's
    // `quantile_cont` both define by linear interpolation; rounding
    // absorbs interpolation ulp).
    Q("x02_exact_quantiles",
      (s, d) => {
        import s.implicits._
        Tables.load(s, d, "events")
          .groupBy($"event_type")
          .agg(
            countDistinct($"user_id").as("nd_users"),
            // one shared percentile buffer (see x01's band note)
            expr("percentile(value, array(0.5, 0.95))").as("_p"),
            count(lit(1)).as("n"))
          .select($"event_type", $"nd_users",
            round(element_at($"_p", 1), 4).as("p50"),
            round(element_at($"_p", 2), 4).as("p95"),
            $"n")
      },
      Some("""SELECT event_type,
             |  count(DISTINCT user_id) AS nd_users,
             |  round(quantile_cont(value, 0.5), 4) AS p50,
             |  round(quantile_cont(value, 0.95), 4) AS p95,
             |  count(*) AS n
             |FROM events GROUP BY event_type""".stripMargin)),

    // MERGEABLE sketch columns — the lakehouse rollup pattern: stage 1
    // builds a per-(type, day) HLL sketch COLUMN (DataSketches binary),
    // stage 2 unions day sketches into per-type estimates. At 100 TB
    // stage 1 is the daily incremental job persisting ~KB sketches per
    // partition; stage 2 answers "distinct users over any day range"
    // without rescanning events — the thing an exact countDistinct
    // fundamentally cannot do incrementally. Register-wise max makes
    // the union order-independent, so results are deterministic under
    // any partitioning. Registered output = the tolerance contract
    // (object scaladoc): the merged estimate checks against an exact
    // countDistinct computed in the same run; the day-sketch counts
    // and event totals are exact and fully oracled.
    Q("x03_sketch_columns",
      (s, d) => {
        import s.implicits._
        val ev = Tables.load(s, d, "events")
        val merged = ev
          .groupBy($"event_type", to_date($"ts").as("day"))
          .agg(hll_sketch_agg($"user_id", lit(12)).as("sk"),
            count(lit(1)).as("n"))
          .groupBy($"event_type")
          .agg(
            hll_sketch_estimate(hll_union_agg($"sk")).as("au"),
            sum($"n").as("n_events"),
            count(lit(1)).as("n_day_sketches"))
        val exact = ev.groupBy($"event_type")
          .agg(countDistinct($"user_id").as("nd"))
        merged.join(exact, Seq("event_type"))
          .select($"event_type", $"n_events", $"n_day_sketches",
            (abs($"au" - $"nd") <= $"nd" * HllRtol).as("users_tol_ok"))
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             |  CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_day_sketches,
             |  TRUE AS users_tol_ok
             |FROM events GROUP BY event_type""".stripMargin)),

    // --- Heavy hitters over the token stream: Misra-Gries sketch
    // (bounded ≤m counters per partial, mergeable with additive error —
    // the PODS'12 mergeable-summaries construction) narrows the
    // candidates, then ONE exact re-count of only those ≤m keys
    // verifies. The sketch's superset guarantee (every key with true
    // count > n/(m+1) survives any merge tree) makes the FINAL output
    // deterministic and exactly SQL-expressible — the sketch family's
    // first full DuckDB oracle. Scale shape: map-side sketch -> p×m
    // entries to one tiny merge -> broadcast candidates -> exact count
    // of candidate rows only. The full token cardinality never
    // shuffles; an exact GROUP BY token at 100 TB shuffles billions of
    // distinct keys to answer a 64-row question.
    Q("x04_heavy_hitters",
      (s, d) => {
        import s.implicits._
        val m = 64
        val words = Tables.load(s, d, "documents")
          .select(explode(graft.functions.TextFns.tokens($"text")).as("token"))
        // n rides the sketch pass (one agg, two outputs) and travels to
        // the recount inside the ≤m-row broadcast — exactly TWO corpus
        // scans total, the minimum while the recount is the correctness
        // surface (a standalone words.count() was a third full pass).
        // n DIV (m+1): integer floor division, matching the oracle's //.
        val cands = words
          .agg(graft.expressions.MisraGries.mg_sketch($"token", m).as("sk"),
            count(lit(1)).as("n"))
          .select(explode(map_keys($"sk")).as("token"),
            expr(s"n DIV ${m + 1}").as("thresh"))
        words.join(broadcast(cands), Seq("token"))
          .groupBy($"token", $"thresh")
          .agg(count(lit(1)).as("cnt"))
          .filter($"cnt" > $"thresh")
          .select($"token", $"cnt")
      },
      Some("""WITH E AS (SELECT unnest(list_filter(
             |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
             |  FROM documents),
             |N AS (SELECT count(*) AS n FROM E)
             |SELECT token, CAST(count(*) AS BIGINT) AS cnt
             |FROM E GROUP BY token
             |HAVING count(*) > (SELECT n // 65 FROM N)""".stripMargin))
  )
}
