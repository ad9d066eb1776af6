package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Relational parity, part 2: window functions, grouped-set aggregates,
  * semi/anti joins, set operations, scalar function coverage (SURVEY
  * §2.6-2.10 — all Spark built-ins; every query stays inside
  * whole-stage codegen).
  */
object Relational2 extends QuerySet {

  val all: Seq[Q] = Seq(

    // --- Window: top-3 orders per customer by price (rank-and-filter
    // top-k: shuffles once on the partition key; never a global sort).
    Q("q02_topk_per_customer",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
        Tables.load(s, d, "orders")
          .withColumn("rk", row_number().over(w))
          .filter($"rk" <= 3)
          .select($"o_custkey", $"rk".cast("long").as("rk"), $"o_orderkey",
            round($"o_totalprice", 2).as("price"))
      },
      Some("""SELECT o_custkey, rk, o_orderkey, round(o_totalprice,2) AS price
             |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             |  row_number() OVER (PARTITION BY o_custkey
             |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
             |  FROM orders) WHERE rk <= 3""".stripMargin)),

    // --- Semi join (EXISTS): priority counts for orders having at least
    // one late line; the semi join needs only the key column from
    // lineitem, so the exchange carries one column.
    Q("q04_order_priority",
      (s, d) => {
        import s.implicits._
        val o = Tables.load(s, d, "orders")
        val late = Tables.load(s, d, "lineitem")
          .filter($"l_shipdate" > lit("2000-01-01").cast("timestamp"))
          .select($"l_orderkey")
        o.join(late, o("o_orderkey") === late("l_orderkey"), "left_semi")
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
             |              AND l_shipdate > TIMESTAMP '2000-01-01')
             |GROUP BY o_orderpriority""".stripMargin)),

    // --- Filtered single-row aggregate (pure scan+agg, fully pushed).
    Q("q06_revenue_forecast",
      (s, d) => {
        import s.implicits._
        Tables.load(s, d, "lineitem")
          .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
                  $"l_shipdate" <  lit("1999-01-01").cast("timestamp") &&
                  $"l_discount".between(0.03, 0.07) && $"l_quantity" < 24)
          .agg(round(sum($"l_extendedprice" * $"l_discount"), 2).as("revenue"))
      },
      Some("""SELECT round(sum(l_extendedprice*l_discount),2) AS revenue
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             |AND l_shipdate < TIMESTAMP '1999-01-01'
             |AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin)),

    // --- ROLLUP with grouping-level marker.
    Q("q07_rollup",
      (s, d) => {
        import s.implicits._
        Tables.load(s, d, "lineitem")
          .rollup($"l_returnflag", $"l_linestatus")
          .agg(round(sum($"l_quantity"), 2).as("sum_qty"),
               count(lit(1)).as("n"),
               grouping_id().cast("long").as("gid"))
      },
      Some("""SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
             |count(*) AS n, CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)),

    // --- CUBE over part attributes.
    Q("q08_cube",
      (s, d) => {
        import s.implicits._
        Tables.load(s, d, "part")
          .cube($"p_type", $"p_brand")
          .agg(round(avg($"p_retailprice"), 4).as("avg_price"),
               count(lit(1)).as("n"))
      },
      Some("""SELECT p_type, p_brand, round(avg(p_retailprice),4) AS avg_price,
             |count(*) AS n
             |FROM part GROUP BY CUBE (p_type, p_brand)""".stripMargin)),

    // --- GROUPING SETS (SQL surface over registered views).
    Q("q09_grouping_sets",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql("""SELECT c_mktsegment, c_nationkey,
                |round(sum(c_acctbal),2) AS total_bal, count(*) AS n
                |FROM customer
                |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())""".stripMargin)
      },
      Some("""SELECT c_mktsegment, c_nationkey,
             |round(sum(c_acctbal),2) AS total_bal, count(*) AS n
             |FROM customer
             |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())""".stripMargin)),

    // --- Anti join (NOT EXISTS): nations' customers without orders.
    Q("q10_customers_without_orders",
      (s, d) => {
        import s.implicits._
        val c = Tables.load(s, d, "customer")
        val o = Tables.load(s, d, "orders")
          .filter($"o_orderdate" >= lit("2001-01-01").cast("timestamp"))
          .select($"o_custkey")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .groupBy($"c_nationkey")
          .agg(count(lit(1)).as("n_idle"),
               round(sum($"c_acctbal"), 2).as("idle_bal"))
      },
      Some("""SELECT c_nationkey, count(*) AS n_idle,
             |round(sum(c_acctbal),2) AS idle_bal
             |FROM customer WHERE NOT EXISTS
             |  (SELECT 1 FROM orders WHERE o_custkey = c_custkey
             |   AND o_orderdate >= TIMESTAMP '2001-01-01')
             |GROUP BY c_nationkey""".stripMargin)),

    // --- Set operations: INTERSECT / EXCEPT / UNION with a side marker.
    Q("q11_setops",
      (s, d) => {
        import s.implicits._
        val highBal = Tables.load(s, d, "customer")
          .filter($"c_acctbal" > 5000).select($"c_custkey")
        val buyers = Tables.load(s, d, "orders")
          .filter($"o_totalprice" > 450000)
          .select($"o_custkey".as("c_custkey")).distinct()
        val both  = highBal.intersect(buyers).withColumn("side", lit("both"))
        val only  = highBal.except(buyers).withColumn("side", lit("rich_only"))
        both.unionAll(only)
          .groupBy($"side").agg(count(lit(1)).as("n"))
      },
      Some("""WITH rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
             |buyers AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders
             |           WHERE o_totalprice > 450000),
             |tagged AS (
             |  SELECT c_custkey, 'both' AS side FROM (SELECT * FROM rich INTERSECT SELECT * FROM buyers)
             |  UNION ALL
             |  SELECT c_custkey, 'rich_only' AS side FROM (SELECT * FROM rich EXCEPT SELECT * FROM buyers))
             |SELECT side, count(*) AS n FROM tagged GROUP BY side""".stripMargin)),

    // --- Window frames: per-supplier running revenue + lag delta.
    Q("q12_running_revenue",
      (s, d) => {
        import s.implicits._
        val ord = Window.partitionBy($"l_suppkey")
          .orderBy($"l_shipdate".asc, $"l_orderkey".asc, $"l_linenumber".asc)
        Tables.load(s, d, "lineitem")
          .filter($"l_shipdate" >= lit("2001-01-01").cast("timestamp"))
          .withColumn("running",
            round(sum($"l_extendedprice").over(
              ord.rowsBetween(Window.unboundedPreceding, 0)), 2))
          .withColumn("prev_price",
            round(coalesce(lag($"l_extendedprice", 1).over(ord), lit(0.0)), 2))
          .select($"l_suppkey", $"l_orderkey", $"l_linenumber", $"running", $"prev_price")
      },
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
             |round(sum(l_extendedprice) OVER (PARTITION BY l_suppkey
             |  ORDER BY l_shipdate, l_orderkey, l_linenumber
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running,
             |round(coalesce(lag(l_extendedprice, 1) OVER (PARTITION BY l_suppkey
             |  ORDER BY l_shipdate, l_orderkey, l_linenumber), 0.0),2) AS prev_price
             |FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-01-01'""".stripMargin)),

    // --- Full outer join of two aggregates (nation-level customer vs
    // supplier presence; unmatched sides surface as zeros).
    Q("q13_outer_join",
      (s, d) => {
        import s.implicits._
        val c = Tables.load(s, d, "customer").groupBy($"c_nationkey".as("nk"))
          .agg(count(lit(1)).as("n_customers"))
        val sup = Tables.load(s, d, "supplier").groupBy($"s_nationkey".as("nk"))
          .agg(count(lit(1)).as("n_suppliers"))
        c.join(sup, Seq("nk"), "full_outer")
          .select($"nk",
            coalesce($"n_customers", lit(0L)).as("n_customers"),
            coalesce($"n_suppliers", lit(0L)).as("n_suppliers"))
      },
      Some("""SELECT coalesce(c.nk, s.nk) AS nk,
             |coalesce(n_customers, 0) AS n_customers,
             |coalesce(n_suppliers, 0) AS n_suppliers
             |FROM (SELECT c_nationkey AS nk, count(*) AS n_customers
             |      FROM customer GROUP BY 1) c
             |FULL OUTER JOIN (SELECT s_nationkey AS nk, count(*) AS n_suppliers
             |      FROM supplier GROUP BY 1) s USING (nk)""".stripMargin)),

    // --- RANGE window frame + analytic ranks: orders within the
    // trailing 30 days per customer, dense_rank / percent_rank / ntile.
    Q("q16_range_frame",
      (s, d) => {
        import s.implicits._
        val withDay = Tables.load(s, d, "orders")
          .withColumn("day", datediff($"o_orderdate", lit("1995-01-01").cast("date")))
        val byDay = Window.partitionBy($"o_custkey").orderBy($"day")
        val byPrice = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
        withDay
          .withColumn("n_last_30d",
            count(lit(1)).over(byDay.rangeBetween(-30, 0)))
          .withColumn("price_rank", dense_rank().over(byPrice).cast("long"))
          .withColumn("price_pctile", round(percent_rank().over(byPrice), 6))
          .withColumn("quartile", ntile(4).over(byPrice).cast("long"))
          .select($"o_orderkey", $"o_custkey", $"n_last_30d",
            $"price_rank", $"price_pctile", $"quartile")
      },
      Some("""SELECT o_orderkey, o_custkey,
             |count(*) OVER (PARTITION BY o_custkey ORDER BY day
             |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS n_last_30d,
             |dense_rank() OVER wp AS price_rank,
             |round(percent_rank() OVER wp, 6) AS price_pctile,
             |ntile(4) OVER wp AS quartile
             |FROM (SELECT *, datediff('day', DATE '1995-01-01',
             |        CAST(o_orderdate AS DATE)) AS day FROM orders)
             |WINDOW wp AS (PARTITION BY o_custkey
             |  ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin)),

    // --- Conditional aggregation (promo revenue share) over a broadcast
    // join with the part dimension.
    Q("q14_promo_share",
      (s, d) => {
        import s.implicits._
        val l = Tables.load(s, d, "lineitem")
        val p = Tables.load(s, d, "part")
        l.join(p, $"l_partkey" === $"p_partkey")
          .agg(round(
            sum(when($"p_type" === "PROMO", $"l_extendedprice" * (lit(1) - $"l_discount"))
              .otherwise(0.0)) * 100.0 /
            sum($"l_extendedprice" * (lit(1) - $"l_discount")), 4).as("promo_pct"))
      },
      Some("""SELECT round(
             |  100.0 * sum(CASE WHEN p_type = 'PROMO'
             |    THEN l_extendedprice*(1-l_discount) ELSE 0.0 END)
             |  / sum(l_extendedprice*(1-l_discount)), 4) AS promo_pct
             |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin)),

    // --- Distinct aggregate per group.
    //
    // r13 scale audit (solo sf10join 12.2 s / 8.8x, above the 3-5x
    // join band; the q15 row of BENCH_sf10_join_probe.json is the
    // current record): PROFILE-ATTRIBUTED, not a plan flaw — its
    // sub-plans timed solo at sf10join: the partkey join alone is
    // 2.8 s; ONE single-distinct aggregate (no Expand anywhere) is
    // 11.5-14.3 s; the two-distinct Expand form is 13.6 s — i.e.
    // Expand's second copy of the fact rides the same wall as one
    // distinct, and the cost IS the 60M-row distinct-dedup volume
    // (irreducible for an
    // exact answer: (brand, orderkey) pairs are near-unique, so no
    // layout crushes them map-side). Falsified rewrites, measured:
    // distinct-(partkey,suppkey)-first two-branch 21.0 s (a random
    // layout gives partial-distinct nothing to crush, and the fact
    // shuffles twice); shuffle_hash join 21.8 s (the dual consumer
    // re-probes); int-coded brand agg key 13.6 s (string hashing is
    // not the cost). The declarative form below IS the right plan.
    Q("q15_brand_suppliers",
      (s, d) => {
        import s.implicits._
        val l = Tables.load(s, d, "lineitem")
        val p = Tables.load(s, d, "part")
        l.join(p, $"l_partkey" === $"p_partkey")
          .groupBy($"p_brand")
          .agg(countDistinct($"l_suppkey").as("n_suppliers"),
               countDistinct($"l_orderkey").as("n_orders"))
      },
      Some("""SELECT p_brand, count(DISTINCT l_suppkey) AS n_suppliers,
             |count(DISTINCT l_orderkey) AS n_orders
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY p_brand""".stripMargin)),

    // --- Agg-join-filter on a per-group average (TPC-H Q17 shape):
    // lines whose quantity is below half their part's average. r12:
    // the per-part average is a WINDOW over the fact table, not a
    // groupBy + join-back — the join form forks the lineitem subtree
    // (the avg branch prunes to (partkey, qty), the probe branch keeps
    // price too; differing pruned columns defeat AQE stage reuse, so
    // lineitem scans twice — the q25/q36 trap). One window = one scan,
    // one partkey shuffle, one sort (the SMJ sorted the same rows
    // anyway). Precision-parity-safe: quantities are small exact
    // doubles, so sum/avg are order-independent and the window's
    // different accumulation order cannot flip the boundary filter.
    Q("q17_small_quantity_revenue",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val l = Tables.load(s, d, "lineitem")
        l.withColumn("avg_qty",
            avg($"l_quantity").over(Window.partitionBy($"l_partkey")))
          .filter($"l_quantity" < $"avg_qty" * 0.5)
          .agg(round(sum($"l_extendedprice"), 2).as("small_qty_revenue"),
               count(lit(1)).as("n_lines"))
      },
      Some("""WITH a AS (SELECT l_partkey AS ap_partkey, avg(l_quantity) AS avg_qty
             |           FROM lineitem GROUP BY l_partkey)
             |SELECT round(sum(l_extendedprice),2) AS small_qty_revenue,
             |count(*) AS n_lines
             |FROM lineitem JOIN a ON l_partkey = ap_partkey
             |WHERE l_quantity < avg_qty * 0.5""".stripMargin)),

    // --- HAVING: large orders (group-filter-join, TPC-H Q18 shape).
    Q("q18_large_orders",
      (s, d) => {
        import s.implicits._
        val l = Tables.load(s, d, "lineitem")
        val o = Tables.load(s, d, "orders")
        val big = l.groupBy($"l_orderkey")
          .agg(round(sum($"l_quantity"), 2).as("total_qty"))
          .filter($"total_qty" > 120)
        o.join(big, $"o_orderkey" === $"l_orderkey")
          .select($"o_orderkey", $"o_custkey", round($"o_totalprice", 2).as("price"),
            $"total_qty")
          .orderBy($"total_qty".desc, $"o_orderkey".asc)
          .limit(100)
      },
      Some("""SELECT o_orderkey, o_custkey, round(o_totalprice,2) AS price, total_qty
             |FROM orders JOIN (
             |  SELECT l_orderkey, round(sum(l_quantity),2) AS total_qty
             |  FROM lineitem GROUP BY l_orderkey HAVING round(sum(l_quantity),2) > 120
             |) ON o_orderkey = l_orderkey
             |ORDER BY total_qty DESC, o_orderkey ASC LIMIT 100""".stripMargin)),

    // --- Scalar-function coverage: string/date/math in one projection
    // (codegen-friendly; no UDFs).
    Q("q19_scalar_functions",
      (s, d) => {
        import s.implicits._
        Tables.load(s, d, "orders")
          .filter($"o_orderkey" % 10 === 0)
          .select(
            $"o_orderkey",
            year($"o_orderdate").as("yr"),
            month($"o_orderdate").as("mo"),
            dayofmonth($"o_orderdate").as("dom"),
            upper(substring($"o_orderpriority", 1, 1)).as("prio_initial"),
            concat($"o_orderstatus", lit("-"), $"o_orderpriority").as("status_prio"),
            length($"o_orderpriority").as("prio_len"),
            ($"o_orderkey" % 7).as("key_mod"),
            round(abs($"o_totalprice" - 1000.0), 2).as("abs_diff"),
            round(sqrt($"o_totalprice"), 4).as("sqrt_price"),
            when($"o_totalprice" > 100000, "big").otherwise("small").as("bucket"))
      },
      Some("""SELECT o_orderkey,
             |CAST(year(o_orderdate) AS INT) AS yr,
             |CAST(month(o_orderdate) AS INT) AS mo,
             |CAST(day(o_orderdate) AS INT) AS dom,
             |upper(substring(o_orderpriority, 1, 1)) AS prio_initial,
             |o_orderstatus || '-' || o_orderpriority AS status_prio,
             |CAST(length(o_orderpriority) AS INT) AS prio_len,
             |o_orderkey % 7 AS key_mod,
             |round(abs(o_totalprice - 1000.0),2) AS abs_diff,
             |round(sqrt(o_totalprice),4) AS sqrt_price,
             |CASE WHEN o_totalprice > 100000 THEN 'big' ELSE 'small' END AS bucket
             |FROM orders WHERE o_orderkey % 10 = 0""".stripMargin)),

    // --- HAVING over join + multiple aggregates.
    Q("q20_active_nations",
      (s, d) => {
        import s.implicits._
        val c = Tables.load(s, d, "customer")
        val n = Tables.load(s, d, "nation")
        c.join(broadcast(n), $"c_nationkey" === $"n_nationkey")
          .groupBy($"n_name")
          .agg(count(lit(1)).as("n_customers"),
               round(avg($"c_acctbal"), 4).as("avg_bal"))
          .filter($"n_customers" >= 3)
      },
      Some("""SELECT n_name, count(*) AS n_customers, round(avg(c_acctbal),4) AS avg_bal
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name HAVING count(*) >= 3""".stripMargin))
  )
}
