package graft.queries

import graft.operators.AsOf
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Standard relational coverage over the TPC-H-ish star schema
  * (SURVEY.md §7.4): scan+filter+agg, multi-way broadcast joins,
  * window/top-k, set ops, rollup/cube, semi/anti joins, pivot, scalar
  * functions, as-of join.
  *
  * Oracle-parity rule: any SUM over a double expression is cast to
  * DECIMAL before aggregation. Decimal addition is exact and
  * order-independent, so Spark's parallel partial aggregation and
  * DuckDB's sequential sum produce bit-identical results at any scale —
  * a double sum would differ in the last ulps depending on partition
  * order. Per-row double arithmetic (same IEEE ops both engines) is
  * deterministic, so casting the row expression is enough.
  *
  * Broadcast-hint policy: explicit `broadcast()` only on sides whose
  * size is bounded INDEPENDENT of scale factor — nation (25 rows),
  * region (5), and one-row scalar frames. Customer/supplier/part
  * sides, filtered or not, grow with the data: a forced hint there is
  * a driver-OOM waiting for a low-selectivity predicate at 100×,
  * while AQE broadcasts them anyway at runtime whenever their ACTUAL
  * post-filter size fits (which it does at every tested SF) and
  * degrades to a shuffle join, not an OOM, when it doesn't.
  */
object RelationalQueries extends QueryModule {

  private def dec(c: Column): Column = c.cast("decimal(28,6)")

  /** Session-scoped memo of the customer⇄supplier trade-graph edge
    * list (both directions, distinct) — the most expensive join of the
    * graph family, shared by pagerank_suppliers, ppr_suppliers AND
    * community_lpa. Materialized HASH-PARTITIONED BY `src`
    * ([[graft.PlanUtil.partitionedCheckpoint]]): every consumer's
    * per-round contribution/vote join and `groupBy(src)` degree
    * aggregate is keyed on `src`, so the one repartition here makes
    * all 9 Jacobi/LPA rounds across the three queries read the edge
    * side exchange-free (guide §2.4 — two operations keyed the same
    * way share one exchange) instead of re-shuffling the same frame
    * every round. Checkpointed, not cached: the edge RDDs are released
    * to GC with the entry. */
  private[queries] val tradeEdges = memo("trade_edges",
      Seq("orders.parquet", "lineitem.parquet"), warm = true) { (s, dir) =>
    val e0 = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"))
      .join(Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
      .distinct()
    graft.PlanUtil.partitionedCheckpoint(
      e0.union(e0.select(col("dst").as("src"), col("src").as("dst"))),
      col("src"))
  }

  /** Canonical final-output form for a decimal aggregate: round in exact
    * decimal space (both engines round half-away-from-zero; DuckDB's bare
    * decimal→decimal CAST truncates, so `round` it is), then cast to
    * DOUBLE. The rounded value ×10⁴ stays < 2⁵³, so the decimal→double
    * conversion is a single exact-input rounding on both engines →
    * bit-identical doubles. Raw `sum(decimal)` outputs hash-mismatch in
    * the driver gate (engines materialize the sum type differently). */
  private def dbl4(c: Column): Column = round(c, 4).cast("double")

  val all: Seq[Q] = Seq(

    // TPC-H Q1-shaped pricing summary: full scan, predicate pushdown,
    // 4 sums + avg + count per tiny group set. The workhorse agg bench.
    Q("q1_pricing_summary",
      (s, dir) => Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dbl4(sum(dec(col("l_quantity")))).as("sum_qty"),
          dbl4(sum(dec(col("l_extendedprice")))).as("sum_base_price"),
          dbl4(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount"))))).as("sum_disc_price"),
          dbl4(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))))).as("sum_charge"),
          count(lit(1)).as("count_order")),
      Some("""SELECT l_returnflag, l_linestatus,
             |       CAST(round(sum(CAST(l_quantity AS DECIMAL(28,6))), 4) AS DOUBLE) AS sum_qty,
             |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(28,6))), 4) AS DOUBLE) AS sum_base_price,
             |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))), 4) AS DOUBLE) AS sum_disc_price,
             |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))), 4) AS DOUBLE) AS sum_charge,
             |       count(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
             |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // TPC-H Q3-shaped: 3-way join, agg, deterministic top-10
    // (revenue is an exact decimal, so the ordering is unambiguous;
    // o_orderkey tiebreak for equal revenues)
    Q("q3_shipping_topk",
      (s, dir) => {
        val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        val o = Tables.orders(s, dir)
        val l = Tables.lineitem(s, dir)
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .groupBy(col("l_orderkey"))
          .agg(dbl4(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount"))))).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey,
             |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))), 4) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders   ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'
             |GROUP BY l_orderkey
             |ORDER BY revenue DESC, l_orderkey
             |LIMIT 10""".stripMargin)),

    // TPC-H Q10-shaped returned-items report: which customers returned
    // the most revenue — fact⨝fact join (lineitem⨝orders shuffled on
    // orderkey) with dim joins AQE plans as broadcasts at tested
    // sizes, top 20. The mixed-strategy join showcase: broadcast dims,
    // sort-merge/shuffle-hash between the two facts.
    Q("q10_returned_items",
      (s, dir) => {
        val l = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
        val o = Tables.orders(s, dir)
        val c = Tables.customer(s, dir)
        val n = Tables.nation(s, dir)
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
          .agg(dbl4(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount"))))).as("revenue"),
            count(lit(1)).as("n_returned_items"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, n_name,
             |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))), 4) AS DOUBLE) AS revenue,
             |       count(*) AS n_returned_items
             |FROM lineitem
             |JOIN orders   ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation   ON c_nationkey = n_nationkey
             |WHERE l_returnflag = 'R'
             |GROUP BY c_custkey, c_name, n_name
             |ORDER BY revenue DESC, c_custkey
             |LIMIT 20""".stripMargin)),

    // TPC-H Q14-shaped promo-revenue share: fact⨝dim with a broadcast
    // part table and a conditional-aggregate ratio — the global-ratio
    // single-row shape (two decimal sums, one division at the end).
    Q("q14_promo_share",
      (s, dir) => {
        val l = Tables.lineitem(s, dir)
        val p = Tables.part(s, dir)
        val rev = dec(col("l_extendedprice") * (lit(1) - col("l_discount")))
        l.join(p, l("l_partkey") === p("p_partkey"))
          .agg(
            dbl4(sum(when(col("p_type") === "PROMO", rev))).as("promo_revenue"),
            dbl4(sum(rev)).as("total_revenue"),
            round(sum(when(col("p_type") === "PROMO", rev))
              .cast("double") * 100.0 / sum(rev).cast("double"), 4)
              .as("promo_pct"))
      },
      Some("""SELECT
             |  CAST(round(sum(CASE WHEN p_type = 'PROMO'
             |                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)) END), 4) AS DOUBLE) AS promo_revenue,
             |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))), 4) AS DOUBLE) AS total_revenue,
             |  round(CAST(sum(CASE WHEN p_type = 'PROMO'
             |             THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)) END) AS DOUBLE) * 100.0
             |        / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE), 4) AS promo_pct
             |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin)),

    // TPC-H Q5-shaped: 4-way join through the dimension chain with
    // broadcast dims, revenue per nation in one region
    Q("q5_region_revenue",
      (s, dir) => {
        val l = Tables.lineitem(s, dir)
        val sup = Tables.supplier(s, dir)
        val n = Tables.nation(s, dir)
        val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
        l.join(sup, l("l_suppkey") === sup("s_suppkey"))
          .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(dbl4(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount"))))).as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some("""SELECT n_name,
             |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))), 4) AS DOUBLE) AS revenue,
             |       count(*) AS n_items
             |FROM lineitem
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation   ON s_nationkey = n_nationkey
             |JOIN region   ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |GROUP BY n_name""".stripMargin)),

    // TPC-H Q6-shaped: pure scan + multi-predicate filter + single agg —
    // the predicate-pushdown showcase (all three filters reach parquet)
    Q("q6_forecast_revenue",
      (s, dir) => Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.02, 0.06) &&
          col("l_quantity") < 24)
        .agg(dbl4(sum(dec(col("l_extendedprice") * col("l_discount")))).as("revenue"),
          count(lit(1)).as("n_items")),
      Some("""SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,6))), 4) AS DOUBLE) AS revenue,
             |       count(*) AS n_items
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             |  AND l_shipdate < TIMESTAMP '1997-01-01'
             |  AND l_discount BETWEEN 0.02 AND 0.06
             |  AND l_quantity < 24""".stripMargin)),

    // Window ranking: top-3 orders per customer by totalprice,
    // orderkey tiebreak (row_number keeps the output deterministic)
    Q("topk_per_group",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, dir)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |         row_number() OVER (PARTITION BY o_custkey
             |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) t
             |WHERE rn <= 3""".stripMargin)),

    // Running/analytic windows: running order total + rank + lag delta
    // per customer in orderdate order
    Q("window_running",
      (s, dir) => {
        val byCust = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        Tables.orders(s, dir).select(
          col("o_custkey"), col("o_orderkey"),
          dbl4(sum(dec(col("o_totalprice")))
            .over(byCust.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
            .as("running_total"),
          rank().over(byCust).cast("long").as("order_rank"),
          dbl4(dec(col("o_totalprice") - coalesce(lag(col("o_totalprice"), 1).over(byCust), lit(0.0))))
            .as("delta_vs_prev"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,6)))
             |         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS DOUBLE) AS running_total,
             |       rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_rank,
             |       CAST(round(CAST(o_totalprice - coalesce(lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 0.0) AS DECIMAL(28,6)), 4) AS DOUBLE) AS delta_vs_prev
             |FROM orders""".stripMargin)),

    // Set operations: customers segmented by order-status presence.
    // INTERSECT/EXCEPT/EXCEPT over the same scan would cost 6+ shuffles;
    // one grouped aggregation with presence flags + CASE computes all
    // three segments in a SINGLE shuffle over one scan — the oracle
    // keeps the literal set-op formulation as the equivalence proof.
    Q("set_ops",
      (s, dir) => Tables.orders(s, dir)
        .filter(col("o_orderstatus").isin("O", "F"))
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderstatus") === "O").as("has_open"),
          max(col("o_orderstatus") === "F").as("has_done"))
        .select(col("o_custkey"),
          when(col("has_open") && col("has_done"), "both")
            .when(col("has_open"), "open_only")
            .otherwise("done_only").as("tag")),
      Some("""WITH open_c AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
             |done_c AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
             |SELECT o_custkey, 'both' AS tag FROM (SELECT * FROM open_c INTERSECT SELECT * FROM done_c)
             |UNION ALL
             |SELECT o_custkey, 'open_only' AS tag FROM (SELECT * FROM open_c EXCEPT SELECT * FROM done_c)
             |UNION ALL
             |SELECT o_custkey, 'done_only' AS tag FROM (SELECT * FROM done_c EXCEPT SELECT * FROM open_c)""".stripMargin)),

    // Semi/anti joins: order-having vs order-less customers, one frame
    Q("semi_anti_join",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir)
        val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select(col("c_custkey")).withColumn("tag", lit("has_orders"))
        val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select(col("c_custkey")).withColumn("tag", lit("no_orders"))
        semi.unionByName(anti)
      },
      Some("""SELECT c_custkey, 'has_orders' AS tag FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |UNION ALL
             |SELECT c_custkey, 'no_orders' AS tag FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),

    // ROLLUP: customer count + balance by region/nation with subtotals
    Q("rollup_customers",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val n = Tables.nation(s, dir)
        val r = Tables.region(s, dir)
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .rollup(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_customers"),
            dbl4(sum(dec(col("c_acctbal")))).as("total_acctbal"))
      },
      Some("""SELECT r_name, n_name, count(*) AS n_customers,
             |       CAST(round(sum(CAST(c_acctbal AS DECIMAL(28,6))), 4) AS DOUBLE) AS total_acctbal
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY ROLLUP(r_name, n_name)""".stripMargin)),

    // CUBE over order status × priority
    Q("cube_orders",
      (s, dir) => Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          dbl4(sum(dec(col("o_totalprice")))).as("total_price")),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
             |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,6))), 4) AS DOUBLE) AS total_price
             |FROM orders
             |GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin)),

    // Pivot (conditional aggregation under the hood); lowercase aliases
    // keep column-name parity with the oracle
    Q("pivot_status",
      (s, dir) => Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("O"), lit(0L)).as("n_open"),
          coalesce(col("F"), lit(0L)).as("n_finished"),
          coalesce(col("P"), lit(0L)).as("n_pending")),
      Some("""SELECT o_orderpriority,
             |       count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_open,
             |       count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
             |       count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_pending
             |FROM orders GROUP BY o_orderpriority""".stripMargin)),

    // Correlated-aggregate filter (TPC-H Q18 shape): orders whose total
    // quantity exceeds a threshold, via join against a grouped frame
    Q("large_orders",
      (s, dir) => {
        val l = Tables.lineitem(s, dir)
        val o = Tables.orders(s, dir)
        val big = l.groupBy(col("l_orderkey"))
          .agg(sum(dec(col("l_quantity"))).as("total_qty"))
          .filter(col("total_qty") > 150)
        o.join(big, o("o_orderkey") === big("l_orderkey"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            dbl4(col("total_qty")).as("total_qty"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice,
             |       CAST(round(total_qty, 4) AS DOUBLE) AS total_qty
             |FROM orders
             |JOIN (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(28,6))) AS total_qty
             |      FROM lineitem GROUP BY l_orderkey
             |      HAVING sum(CAST(l_quantity AS DECIMAL(28,6))) > 150) t
             |ON o_orderkey = l_orderkey""".stripMargin)),

    // Correlated scalar subquery (TPC-H Q17 shape): lineitems below 20%
    // of their part's average quantity. Written as a genuine correlated
    // subquery through spark.sql so Catalyst's decorrelation rewrites
    // it into the aggregate-join — the plan a hand-decorrelated version
    // would produce, but exercising the subquery surface itself.
    // l_quantity values are integral, so the correlated avg is exact in
    // double on both engines (no accumulation-order drift).
    Q("q17_small_quantity",
      (s, dir) => {
        Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
        Tables.part(s, dir).createOrReplaceTempView("graft_part")
        s.sql("""SELECT round(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(28,6))), 4) AS DOUBLE) / 7.0, 4) AS avg_yearly,
                |       count(*) AS n_items
                |FROM graft_lineitem l
                |JOIN graft_part p ON p.p_partkey = l.l_partkey
                |WHERE p.p_brand = 'Brand#13'
                |  AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                |                      FROM graft_lineitem l2
                |                      WHERE l2.l_partkey = l.l_partkey)""".stripMargin)
      },
      Some("""SELECT round(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(28,6))), 4) AS DOUBLE) / 7.0, 4) AS avg_yearly,
             |       count(*) AS n_items
             |FROM lineitem l
             |JOIN part p ON p.p_partkey = l.l_partkey
             |WHERE p.p_brand = 'Brand#13'
             |  AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
             |                      FROM lineitem l2
             |                      WHERE l2.l_partkey = l.l_partkey)""".stripMargin)),

    // Scalar-function surface (SURVEY.md §2.8): regex extract/match,
    // string ops, timestamp arithmetic — projection only, no shuffle
    Q("scalar_functions",
      (s, dir) => Tables.part(s, dir).select(
        col("p_partkey"),
        regexp_extract(col("p_brand"), "Brand#(\\d+)", 1).cast("long").as("brand_num"),
        col("p_name").rlike("^(red|blue)").as("is_primary_color"),
        upper(col("p_type")).as("type_upper"),
        concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"),
        length(col("p_name")).as("name_len"),
        (col("p_size") % 7).as("size_mod")),
      Some("""SELECT p_partkey,
             |       CAST(regexp_extract(p_brand, 'Brand#(\d+)', 1) AS BIGINT) AS brand_num,
             |       regexp_matches(p_name, '^(red|blue)') AS is_primary_color,
             |       upper(p_type) AS type_upper,
             |       concat_ws('/', p_brand, p_type) AS brand_type,
             |       length(p_name) AS name_len,
             |       p_size % 7 AS size_mod
             |FROM part""".stripMargin)),

    // Ranking-window family: ntile quartiles, percent_rank, cume_dist
    Q("window_ranking",
      (s, dir) => {
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        Tables.orders(s, dir).select(
          col("o_orderstatus"), col("o_orderkey"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
      },
      Some("""SELECT o_orderstatus, o_orderkey,
             |       ntile(4) OVER w AS quartile,
             |       round(percent_rank() OVER w, 6) AS pct_rank,
             |       round(cume_dist() OVER w, 6) AS cume
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderstatus
             |             ORDER BY o_totalprice, o_orderkey)""".stripMargin)),

    // Time-series rollup: monthly order revenue + cumulative total
    Q("monthly_revenue",
      (s, dir) => {
        val m = Tables.orders(s, dir)
          .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
          .agg(count(lit(1)).as("n_orders"),
            sum(dec(col("o_totalprice"))).as("revenue"))
        m.withColumn("cum_revenue",
            sum(col("revenue")).over(
              Window.orderBy(col("month"))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("month"), col("n_orders"),
            dbl4(col("revenue")).as("revenue"),
            dbl4(col("cum_revenue")).as("cum_revenue"))
      },
      Some("""WITH m AS (
             |  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             |         count(*) AS n_orders,
             |         sum(CAST(o_totalprice AS DECIMAL(28,6))) AS revenue
             |  FROM orders GROUP BY 1)
             |SELECT month, n_orders,
             |       CAST(round(revenue, 4) AS DOUBLE) AS revenue,
             |       CAST(round(sum(revenue) OVER (ORDER BY month
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS DOUBLE) AS cum_revenue
             |FROM m""".stripMargin)),

    // Exact interpolated percentiles per group (Spark `percentile` and
    // DuckDB `quantile_cont` both interpolate linearly)
    Q("percentiles_by_status",
      (s, dir) => Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(
          round(expr("percentile(o_totalprice, 0.25)"), 4).as("p25"),
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.75)"), 4).as("p75")),
      Some("""SELECT o_orderstatus,
             |       round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
             |       round(quantile_cont(o_totalprice, 0.5), 4)  AS p50,
             |       round(quantile_cont(o_totalprice, 0.75), 4) AS p75
             |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // Percentile scale path: exact `percentile` sorts every group —
    // fine at test SF, a full per-group sort at 100 TB. approx_percentile
    // (Greenwald-Khanna sketch, mergeable, bounded memory) is the
    // at-scale form. GK internals differ across engines, so the raw
    // estimate stays internal and the OUTPUT is the check: the exact
    // interpolated p50 (DuckDB recomputes via quantile_cont, the
    // percentiles_by_status parity) plus the within_bound verdict the
    // oracle asserts as its constant claim — the a2_distinct_approx
    // gated-check shape, so the whole row lands under the hash gate.
    Q("percentiles_approx",
      (s, dir) => Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("exact_p50"),
          round(expr("approx_percentile(o_totalprice, 0.5, 1000)"), 4).as("approx_p50"))
        .select(col("o_orderstatus"), col("exact_p50"),
          (abs(col("approx_p50") - col("exact_p50"))
            <= greatest(lit(10.0), col("exact_p50") * 0.02)).as("within_bound")),
      Some("""SELECT o_orderstatus,
             |       round(quantile_cont(o_totalprice, 0.5), 4) AS exact_p50,
             |       TRUE AS within_bound
             |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // The PERSISTED-sketch percentile path: graft's own log-bucketed
    // quantile sketch (QuantileOps — relative-error alpha, merge =
    // bucket-wise count ADDITION, so unlike approx_percentile's GK
    // state the bytes are a maintainable store column: batch build,
    // union of per-chunk sketches, and rollup re-aggregation all
    // commute exactly; see QuantileSketchSpec). Bound-checked
    // against the exact sort-based percentile; no SQL oracle — sketch
    // internals are engine-specific, like the HLL and GK rows.
    // The sketch-quantile idea under the FULL hash gate (the
    // token_freq_cms recipe applied to quantiles): values quantize to
    // integer cents, map through the exact bin()-based linear-log2
    // surrogate, and land in OCTAVE SUB-BUCKETS (fp >> 14 ⇒ 64
    // buckets per power of two ⇒ ~1.6% relative width). The histogram
    // is a plain (status, bucket) count — mergeable, partition-order-
    // free, engine-portable — and the quantile estimate is the first
    // bucket whose cumulative count reaches ceil(q·N), decoded back
    // through the exact integer inverse of the log surrogate. Every
    // step is BIGINT arithmetic ⇒ DuckDB rebuilds histogram AND
    // estimates bit-for-bit (unlike percentiles_qsketch, whose
    // engine-specific sketch bytes are bound-checked only).
    // QuantileSketchSpec's octave case asserts the estimates stay
    // within 2% of the exact interpolated percentiles. The cumulative
    // window runs over the ≤ #octaves×64-row histogram — never data.
    Q("percentiles_octave_fp",
      (s, dir) => {
        import graft.functions.FixedPointOps._
        val cents = expr("CAST(floor(o_totalprice * 100) AS BIGINT)")
        val hist = Tables.orders(s, dir)
          .select(col("o_orderstatus"), cents.as("cents"))
          .select(col("o_orderstatus"),
            call_function("shiftright", log2LinFp(col("cents")), lit(14))
              .as("b"))
          .groupBy(col("o_orderstatus"), col("b"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("o_orderstatus")).orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = hist
          .withColumn("cum", sum(col("n")).over(w))
          .withColumn("total",
            sum(col("n")).over(Window.partitionBy(col("o_orderstatus"))))
        def pick(targetSql: String, name: String) =
          cum.filter(col("cum") >= expr(targetSql))
            .groupBy(col("o_orderstatus"))
            .agg(min(col("b")).as(name))
        // exact integer inverse of log2LinFp at the bucket's lower
        // edge: v = b<<14; x = ((2^20 + v mod 2^20) << (v div 2^20)) >> 20
        def decode(b: String): Column = expr(
          s"shiftright(shiftleft($FpScale + (shiftleft($b, 14) % $FpScale)," +
            s" CAST(shiftleft($b, 14) div $FpScale AS INT)), 20)")
        pick("(total + 1) div 2", "b50")
          .join(pick("(total * 19 + 19) div 20", "b95"), Seq("o_orderstatus"))
          .join(cum.groupBy(col("o_orderstatus"))
            .agg(max(col("total")).as("n")), Seq("o_orderstatus"))
          .select(col("o_orderstatus"), col("n"),
            decode("b50").as("p50_est_cents"),
            decode("b95").as("p95_est_cents"))
      },
      Some {
        import graft.functions.FixedPointOps.log2LinFpSql
        s"""WITH c AS (SELECT o_orderstatus,
           |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
           |           FROM orders),
           |f AS (SELECT o_orderstatus, ${log2LinFpSql("cents")} >> 14 AS b FROM c),
           |h AS (SELECT o_orderstatus, b, CAST(count(*) AS BIGINT) AS n
           |      FROM f GROUP BY 1, 2),
           |cum AS (SELECT o_orderstatus, b, n,
           |               CAST(sum(n) OVER (PARTITION BY o_orderstatus ORDER BY b
           |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
           |               CAST(sum(n) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS total
           |        FROM h),
           |p50 AS (SELECT o_orderstatus, min(b) AS b50 FROM cum
           |        WHERE cum >= (total + 1) // 2 GROUP BY 1),
           |p95 AS (SELECT o_orderstatus, min(b) AS b95 FROM cum
           |        WHERE cum >= (total * 19 + 19) // 20 GROUP BY 1),
           |t AS (SELECT o_orderstatus, max(total) AS n FROM cum GROUP BY 1)
           |SELECT t.o_orderstatus, t.n,
           |       (1048576 + ((p50.b50 << 14) % 1048576))
           |         << ((p50.b50 << 14) // 1048576) >> 20 AS p50_est_cents,
           |       (1048576 + ((p95.b95 << 14) % 1048576))
           |         << ((p95.b95 << 14) // 1048576) >> 20 AS p95_est_cents
           |FROM t JOIN p50 ON t.o_orderstatus = p50.o_orderstatus
           |       JOIN p95 ON t.o_orderstatus = p95.o_orderstatus""".stripMargin
      }),

    // graft's own log-bucketed quantile sketch under the same
    // gated-check shape: exact p50/p95 recomputed by DuckDB, the
    // sketch estimates held to 2% internally and only the verdict
    // leaves the query (sketch bytes are engine-specific; the
    // fully-portable sibling is percentiles_octave_fp).
    Q("percentiles_qsketch",
      (s, dir) => Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("exact_p50"),
          round(expr("percentile(o_totalprice, 0.95)"), 4).as("exact_p95"),
          graft.functions.expressions.QuantileSketchAgg(
            col("o_totalprice"), 0.5).as("sk_p50"),
          graft.functions.expressions.QuantileSketchAgg(
            col("o_totalprice"), 0.95).as("sk_p95"))
        .select(col("o_orderstatus"), col("exact_p50"), col("exact_p95"),
          ((abs(col("sk_p50") - col("exact_p50"))
            <= greatest(lit(10.0), col("exact_p50") * 0.02)) &&
           (abs(col("sk_p95") - col("exact_p95"))
            <= greatest(lit(10.0), col("exact_p95") * 0.02))).as("within_bound")),
      Some("""SELECT o_orderstatus,
             |       round(quantile_cont(o_totalprice, 0.5), 4) AS exact_p50,
             |       round(quantile_cont(o_totalprice, 0.95), 4) AS exact_p95,
             |       TRUE AS within_bound
             |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // As-of join on the star schema: each order picks up the customer's
    // most recent PRIOR order key (point-in-time self-join via AsOf)
    Q("asof_prev_order",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val probe = o.select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
        val build = o.select(col("o_custkey"),
          col("o_orderkey").as("prev_orderkey"),
          // strictly-before semantics: shift build timestamps by +1µs
          // so an order never matches itself
          (col("o_orderdate") + expr("INTERVAL 1 MICROSECOND")).as("bdate"))
        AsOf.join(probe, build, "o_custkey", "o_orderdate", "bdate",
          "o_orderkey", "prev_orderkey", Seq("prev_orderkey"))
          .select(col("o_custkey"), col("o_orderkey"),
            col("asof_prev_orderkey").as("prev_orderkey"))
      },
      Some("""WITH u AS (
             |  SELECT o_custkey AS k, o_orderdate AS t, 1 AS side,
             |         o_orderkey, NULL::BIGINT AS prev_orderkey
             |  FROM orders
             |  UNION ALL
             |  SELECT o_custkey, o_orderdate + INTERVAL 1 MICROSECOND, 0,
             |         NULL::BIGINT, o_orderkey
             |  FROM orders),
             |w AS (
             |  SELECT k, side, o_orderkey,
             |         last_value(prev_orderkey IGNORE NULLS)
             |           OVER (PARTITION BY k ORDER BY t, side, coalesce(o_orderkey, prev_orderkey)
             |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_orderkey
             |  FROM u)
             |SELECT k AS o_custkey, o_orderkey, prev_orderkey
             |FROM w WHERE side = 1""".stripMargin)),

    // TPC-H Q7-shaped nation-pair trade volume: the 6-way join with a
    // disjunctive cross-dimension predicate. Both nation dims are
    // pre-filtered to the two names BEFORE joining (the pair
    // disjunction itself couples the two sides, so it can't push into
    // either scan — but the name prefilter shrinks each broadcast to 2
    // rows, and the disjunction then runs over an already-tiny join).
    Q("q7_nation_volume",
      (s, dir) => {
        val pair = Seq("NATION_11", "NATION_12")
        val l = Tables.lineitem(s, dir)
          .filter(col("l_shipdate").between(
            lit("1996-01-01").cast("timestamp"), lit("1997-12-31").cast("timestamp")))
        val o = Tables.orders(s, dir)
        val c = Tables.customer(s, dir)
        val sup = Tables.supplier(s, dir)
        val n1 = Tables.nation(s, dir).filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
        val n2 = Tables.nation(s, dir).filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(sup, l("l_suppkey") === sup("s_suppkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n1), sup("s_nationkey") === col("s_nk"))
          .join(broadcast(n2), c("c_nationkey") === col("c_nk"))
          .filter(col("supp_nation") =!= col("cust_nation"))
          .withColumn("l_year", year(col("l_shipdate")))
          .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
          .agg(dbl4(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount"))))).as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             |       year(l_shipdate) AS l_year,
             |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))), 4) AS DOUBLE) AS revenue,
             |       count(*) AS n_items
             |FROM lineitem
             |JOIN orders   ON l_orderkey = o_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation n1 ON s_nationkey = n1.n_nationkey
             |JOIN nation n2 ON c_nationkey = n2.n_nationkey
             |WHERE n1.n_name IN ('NATION_11', 'NATION_12')
             |  AND n2.n_name IN ('NATION_11', 'NATION_12')
             |  AND n1.n_name <> n2.n_name
             |  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
             |GROUP BY 1, 2, 3""".stripMargin)),

    // TPC-H Q8-shaped market share: one nation's share of regional
    // revenue per year. The share is a ratio of two EXACT decimal sums
    // (each cast to double — a single exact-input rounding — before
    // one IEEE division), so the output is bit-stable across engines
    // and partitionings; a double sum here would not be.
    Q("q8_market_share",
      (s, dir) => {
        val l = Tables.lineitem(s, dir)
        val o = Tables.orders(s, dir)
          .filter(col("o_orderdate").between(
            lit("1996-01-01").cast("timestamp"), lit("1997-12-31").cast("timestamp")))
        val c = Tables.customer(s, dir)
        val sup = Tables.supplier(s, dir)
        val p = Tables.part(s, dir).filter(col("p_type") === "ECONOMY")
        val n1 = Tables.nation(s, dir)
          .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
        val r = Tables.region(s, dir).filter(col("r_name") === "AMERICA")
        val n2 = Tables.nation(s, dir)
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
        l.join(p, l("l_partkey") === p("p_partkey"))
          .join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(sup, l("l_suppkey") === sup("s_suppkey"))
          .join(broadcast(n1), c("c_nationkey") === col("c_nk"))
          .join(broadcast(r), col("n_regionkey") === r("r_regionkey"))
          .join(broadcast(n2), sup("s_nationkey") === col("s_nk"))
          .withColumn("o_year", year(col("o_orderdate")))
          .withColumn("volume", dec(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .groupBy(col("o_year"))
          .agg(round(
            sum(when(col("supp_nation") === "NATION_1", col("volume")).otherwise(dec(lit(0))))
              .cast("double") /
            sum(col("volume")).cast("double"), 6).as("mkt_share"),
            count(lit(1)).as("n_items"))
      },
      Some("""WITH flat AS (
             |  SELECT year(o_orderdate) AS o_year,
             |         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)) AS volume,
             |         n2.n_name AS supp_nation
             |  FROM lineitem
             |  JOIN part     ON l_partkey = p_partkey
             |  JOIN orders   ON l_orderkey = o_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN supplier ON l_suppkey = s_suppkey
             |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
             |  JOIN region   ON n1.n_regionkey = r_regionkey
             |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
             |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
             |    AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31')
             |SELECT o_year,
             |       round(CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
             |             / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share,
             |       count(*) AS n_items
             |FROM flat GROUP BY o_year""".stripMargin)),

    // TPC-H Q13-shaped customer order-count distribution: LEFT join so
    // zero-order customers land in the c_count = 0 bucket, then the
    // distribution over counts. Two shuffles (custkey, count) — both
    // key-partitioned, no global sort until the tiny result.
    Q("q13_order_distribution",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
      },
      Some("""SELECT c_count, count(*) AS custdist
             |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
             |      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |      GROUP BY c_custkey) t
             |GROUP BY c_count""".stripMargin)),

    // TPC-H Q15-shaped top supplier: per-supplier quarterly revenue,
    // keep the supplier(s) equal to the global max — the scalar
    // subquery expressed as a one-row broadcast crossJoin (no second
    // scan of lineitem: the tiny rev frame feeds both the max and the
    // final filter). Exact decimal revenue ⇒ the max-equality is
    // unambiguous (doubles would make "equals max" partition-order
    // dependent).
    Q("q15_top_supplier",
      (s, dir) => {
        val rev = Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
          .groupBy(col("l_suppkey"))
          .agg(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("total_rev"))
        val top = rev.agg(max(col("total_rev")).as("max_rev"))
        rev.join(broadcast(top), rev("total_rev") === top("max_rev"))
          .join(Tables.supplier(s, dir),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            dbl4(col("total_rev")).as("total_rev"))
      },
      Some("""WITH rev AS (
             |  SELECT l_suppkey,
             |         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS total_rev
             |  FROM lineitem
             |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             |    AND l_shipdate < TIMESTAMP '1996-04-01'
             |  GROUP BY l_suppkey)
             |SELECT s_suppkey, s_name,
             |       CAST(round(total_rev, 4) AS DOUBLE) AS total_rev
             |FROM rev JOIN supplier ON l_suppkey = s_suppkey
             |WHERE total_rev = (SELECT max(total_rev) FROM rev)""".stripMargin)),

    // TPC-H Q18-shaped large-volume orders: the HAVING-subquery
    // becomes an aggregate→filter frame joined back to the fact — the
    // groupBy and the semi-join share the l_orderkey partitioning, so
    // AQE plans one shuffle for both sides of the join.
    Q("q18_large_volume",
      (s, dir) => {
        val l = Tables.lineitem(s, dir)
        val big = l.groupBy(col("l_orderkey"))
          .agg(sum(dec(col("l_quantity"))).as("sum_qty"))
          .filter(col("sum_qty") > 300)
        val o = Tables.orders(s, dir)
        val c = Tables.customer(s, dir)
        big.join(o, col("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"), col("o_totalprice"),
            dbl4(col("sum_qty")).as("sum_qty"))
      },
      Some("""WITH big AS (
             |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(28,6))) AS sum_qty
             |  FROM lineitem GROUP BY l_orderkey
             |  HAVING sum(CAST(l_quantity AS DECIMAL(28,6))) > 300)
             |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
             |       CAST(round(sum_qty, 4) AS DOUBLE) AS sum_qty
             |FROM big
             |JOIN orders   ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey""".stripMargin)),

    // TPC-H Q22-shaped idle balances: customers with above-average
    // positive balance and no orders in the final year of the data
    // (every customer has SOME order in these fixtures, so the
    // classic "no orders ever" predicate would be vacuous — dormancy
    // is the version with signal). The scalar average is an exact
    // decimal sum cast to double over an exact long count — one IEEE
    // division, bit-identical in both engines — broadcast into the
    // filter; the dormancy test is a genuine anti-join against the
    // date-filtered orders (the filter pushes into the orders scan).
    Q("q22_idle_balances",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val recent = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
        val avgBal = c.filter(col("c_acctbal") > 0)
          .agg((sum(dec(col("c_acctbal"))).cast("double") /
            count(lit(1)).cast("double")).as("avg_bal"))
        c.join(broadcast(avgBal), col("c_acctbal") > col("avg_bal"))
          .join(recent, c("c_custkey") === recent("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("numcust"),
            dbl4(sum(dec(col("c_acctbal")))).as("totacctbal"))
      },
      Some("""WITH a AS (
             |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
             |         / CAST(count(*) AS DOUBLE) AS avg_bal
             |  FROM customer WHERE c_acctbal > 0)
             |SELECT c_mktsegment, count(*) AS numcust,
             |       CAST(round(sum(CAST(c_acctbal AS DECIMAL(28,6))), 4) AS DOUBLE) AS totacctbal
             |FROM customer, a
             |WHERE c_acctbal > a.avg_bal
             |  AND NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey
             |                    AND o_orderdate >= TIMESTAMP '2001-01-01')
             |GROUP BY c_mktsegment""".stripMargin)),

    // Runtime bloom-join filter: the urgent-1996 order keys aggregate
    // into a fixed-size bloom (BloomFilterAgg) that prefilters the
    // lineitem scan BEFORE its shuffle — the semi-join pushdown every
    // warehouse engine runs at 100 TB (a ~2% selective dim side means
    // ~98% of fact rows never leave the scan stage). False positives
    // only, and the exact join downstream removes them, so the result
    // EQUALS the plain join — which is exactly what the oracle runs.
    //
    // The bloom scalar is evaluated ON THE DRIVER at plan-construction
    // time and probed as a BINARY LITERAL — the same shape as Spark's
    // own InjectRuntimeFilter, which runs the bloom aggregate as a
    // driver-materialized scalar subquery. Carrying the bytes as a
    // one-row broadcast COLUMN instead re-copies the bit array out of
    // the joined UnsafeRow on every probed fact row (getBinary copies;
    // 128 KiB × |fact| was a measured 25 s disaster); the literal is a
    // single codegen reference object, copied never. The collected
    // value is O(numBits), independent of data scale.
    Q("bloom_semi_join",
      (s, dir) => {
        val urgent = Tables.orders(s, dir)
          .filter(col("o_orderpriority") === "1-URGENT" &&
            col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        val bloomBytes = urgent.agg(
          graft.functions.expressions.BloomFilterAgg(col("o_orderkey")).as("bf"))
          .head().getAs[Array[Byte]](0)
        val l = Tables.lineitem(s, dir)
          .filter(graft.functions.expressions.BloomMightContain(
            lit(bloomBytes), col("l_orderkey")))
        l.join(urgent, l("l_orderkey") === urgent("o_orderkey"))
          .groupBy(month(col("o_orderdate")).as("o_month"))
          .agg(dbl4(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount"))))).as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some("""SELECT month(o_orderdate) AS o_month,
             |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))), 4) AS DOUBLE) AS revenue,
             |       count(*) AS n_items
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderpriority = '1-URGENT'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate < TIMESTAMP '1997-01-01'
             |GROUP BY 1""".stripMargin)),

    // TPC-H Q2-shaped min-cost supplier (the schema has no partsupp,
    // so "supply cost" is the min observed unit price in the lineitem
    // history — same correlated-min-per-group plan shape). The per-key
    // min and the min-of-mins share the l_partkey partitioning, so the
    // equality join back reuses one shuffle; the min is an EXACT
    // decimal, making "cost = min cost" unambiguous across engines
    // (a double min would make the tie set partition-order dependent).
    Q("q2_min_cost_supplier",
      (s, dir) => {
        val p = Tables.part(s, dir)
          .filter(col("p_size") === 15 && col("p_type") === "SMALL")
        // min_cost is per-partkey, so the part filter commutes with the
        // aggregation: semi-join lineitem down to the matching parts
        // BEFORE the (partkey, suppkey) groupBy — the shuffle carries
        // only the selected parts' rows, not the whole fact table
        // (AQE broadcasts the filtered-part side at tested sizes). At
        // 100 TB this is the difference between shuffling ~0.05% of
        // lineitem and all of it.
        val cost = Tables.lineitem(s, dir)
          .join(p.select(col("p_partkey").as("sel_pk")),
            col("l_partkey") === col("sel_pk"), "left_semi")
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(min(dec(col("l_extendedprice") / col("l_quantity"))).as("supplycost"))
        val minc = cost.groupBy(col("l_partkey")).agg(min(col("supplycost")).as("min_cost"))
          .withColumnRenamed("l_partkey", "mk")
        cost.join(minc,
            col("l_partkey") === col("mk") && col("supplycost") === col("min_cost"))
          .join(p, col("l_partkey") === col("p_partkey"))
          .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_name"), col("n_name"), col("p_partkey"), col("p_name"),
            col("s_acctbal"), dbl4(col("supplycost")).as("supplycost"))
      },
      Some("""WITH cost AS (
             |  SELECT l_partkey, l_suppkey,
             |         min(CAST(l_extendedprice / l_quantity AS DECIMAL(28,6))) AS supplycost
             |  FROM lineitem GROUP BY 1, 2),
             |minc AS (SELECT l_partkey AS mk, min(supplycost) AS min_cost FROM cost GROUP BY 1)
             |SELECT s_name, n_name, p_partkey, p_name, s_acctbal,
             |       CAST(round(supplycost, 4) AS DOUBLE) AS supplycost
             |FROM cost
             |JOIN minc ON l_partkey = mk AND supplycost = min_cost
             |JOIN part ON l_partkey = p_partkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation ON s_nationkey = n_nationkey
             |WHERE p_size = 15 AND p_type = 'SMALL'""".stripMargin)),

    // TPC-H Q4-shaped priority check: EXISTS becomes a left-semi join
    // with a cross-side non-equi term (shipped >60 days after the
    // order date — the schema has no commit/receipt dates). The semi
    // join shuffles on orderkey only; the date filter pushes into the
    // orders scan.
    Q("q4_priority_semi",
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
        val l = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"))
        o.join(l,
            o("o_orderkey") === l("l_orderkey") &&
              l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"),
            "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate < TIMESTAMP '1996-10-01'
             |  AND EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey
             |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
             |GROUP BY o_orderpriority""".stripMargin)),

    // TPC-H Q9-shaped product-line profit by nation and year. No
    // partsupp, so cost is proxied by the part's retail price (5% per
    // unit); profit stays a DIFFERENCE OF TWO EXACT DECIMALS, so the
    // sum is order-independent. Dims join broadcast via AQE (nation
    // keeps its hint — bounded); the only big shuffle is the orderkey
    // join for the order year.
    Q("q9_product_profit",
      (s, dir) => {
        val p = Tables.part(s, dir).filter(col("p_name").contains("widget"))
          .select(col("p_partkey"), col("p_retailprice"))
        val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate"))
        val l = Tables.lineitem(s, dir)
        l.join(p, col("l_partkey") === col("p_partkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
          .withColumn("amount",
            dec(col("l_extendedprice") * (lit(1) - col("l_discount"))) -
              dec(col("p_retailprice") * col("l_quantity") * lit(0.05)))
          .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
          .agg(dbl4(sum(col("amount"))).as("sum_profit"))
      },
      Some("""SELECT n_name AS nation, year(o_orderdate) AS o_year,
             |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))
             |                     - CAST(p_retailprice * l_quantity * 0.05 AS DECIMAL(28,6))), 4) AS DOUBLE) AS sum_profit
             |FROM lineitem
             |JOIN part     ON l_partkey = p_partkey
             |JOIN orders   ON l_orderkey = o_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation   ON s_nationkey = n_nationkey
             |WHERE p_name LIKE '%widget%'
             |GROUP BY 1, 2""".stripMargin)),

    // TPC-H Q11-shaped important parts: per-part value restricted to
    // one nation's suppliers, kept where value > 1.5× the average part
    // value (the classic fraction-of-total threshold is scale-variant;
    // the average form keeps the HAVING-scalar-subquery shape with
    // stable selectivity at every SF). The threshold is one broadcast
    // row computed FROM the same aggregated frame — no second scan.
    Q("q11_important_parts",
      (s, dir) => {
        val n = Tables.nation(s, dir).filter(col("n_name") === "NATION_3")
        val sup = Tables.supplier(s, dir)
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"))
        val v = Tables.lineitem(s, dir)
          .join(sup, col("l_suppkey") === col("s_suppkey"), "left_semi")
          .groupBy(col("l_partkey"))
          .agg(sum(dec(col("l_extendedprice"))).as("value"))
        val cut = v.agg((sum(col("value")).cast("double") /
          count(lit(1)).cast("double") * lit(1.5)).as("cut"))
        v.join(broadcast(cut), col("value").cast("double") > col("cut"))
          .select(col("l_partkey"), dbl4(col("value")).as("part_value"))
      },
      Some("""WITH v AS (
             |  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS value
             |  FROM lineitem
             |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
             |                      JOIN nation ON s_nationkey = n_nationkey
             |                      WHERE n_name = 'NATION_3')
             |  GROUP BY 1)
             |SELECT l_partkey, CAST(round(value, 4) AS DOUBLE) AS part_value
             |FROM v
             |WHERE CAST(value AS DOUBLE) >
             |      (SELECT CAST(sum(value) AS DOUBLE) / CAST(count(*) AS DOUBLE) * 1.5 FROM v)""".stripMargin)),

    // TPC-H Q12-shaped shipping buckets: the schema has no shipmode,
    // so lines bucket by ship lag (days from order to ship — integer
    // datediff, exact in both engines) and the two CASE-counts use
    // count(CASE…) not sum(CASE…): DuckDB widens integer SUMs to
    // HUGEINT, which would hash-mismatch the gate's type check, while
    // COUNT is BIGINT in both.
    Q("q12_ship_lag",
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        val l = Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
          .select(col("l_orderkey"), col("l_shipdate"))
        val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .withColumn("lag_days", datediff(col("l_shipdate"), col("o_orderdate")))
          .withColumn("ship_bucket",
            when(col("lag_days") <= 30, "FAST")
              .when(col("lag_days") <= 90, "REGULAR")
              .otherwise("SLOW"))
          .groupBy(col("ship_bucket"))
          .agg(count(when(high, lit(1))).as("high_line_count"),
            count(when(!high, lit(1))).as("low_line_count"))
      },
      Some("""SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN 'FAST'
             |            WHEN date_diff('day', o_orderdate, l_shipdate) <= 90 THEN 'REGULAR'
             |            ELSE 'SLOW' END AS ship_bucket,
             |       count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_line_count,
             |       count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_line_count
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             |  AND l_shipdate < TIMESTAMP '1998-01-01'
             |GROUP BY 1""".stripMargin)),

    // TPC-H Q16-shaped supplier counts per part segment, excluding
    // negative-balance suppliers (the schema has no comment column for
    // the classic complaints filter; a real predicate beats a vacuous
    // one). The exclusion is a left-anti join ≡ NOT EXISTS —
    // deliberately NOT the NOT IN form: NOT IN's three-valued logic
    // returns zero rows the moment the subquery yields one NULL key,
    // which is never what a data pipeline wants and would also diverge
    // from the anti-join on NULL-keyed fact rows. The oracle states
    // NOT EXISTS so both engines share null semantics by construction.
    // The distinct count is exact, one shuffle on (brand, type, size).
    Q("q16_supplier_parts",
      (s, dir) => {
        val p = Tables.part(s, dir)
          .filter(col("p_brand") =!= "Brand#1" &&
            !col("p_type").startsWith("PROMO") &&
            col("p_size").isin(1, 4, 7, 10, 14, 19, 23, 36, 45, 49))
        val bad = Tables.supplier(s, dir)
          .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
        Tables.lineitem(s, dir).select(col("l_partkey"), col("l_suppkey"))
          .join(p, col("l_partkey") === col("p_partkey"))
          .join(bad, col("l_suppkey") === col("s_suppkey"), "left_anti")
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      },
      Some("""SELECT p_brand, p_type, p_size,
             |       count(DISTINCT l_suppkey) AS supplier_cnt
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE p_brand <> 'Brand#1'
             |  AND p_type NOT LIKE 'PROMO%'
             |  AND p_size IN (1, 4, 7, 10, 14, 19, 23, 36, 45, 49)
             |  AND NOT EXISTS (SELECT 1 FROM supplier
             |                  WHERE s_suppkey = l_suppkey AND s_acctbal < 0)
             |GROUP BY 1, 2, 3""".stripMargin)),

    // TPC-H Q19-shaped disjunctive revenue: an OR of three
    // (brand, size, quantity) conjunctions as the join condition.
    // Catalyst extracts the common l_partkey = p_partkey equi-key so
    // this plans as a HASH join (broadcast via AQE at tested sizes)
    // with the disjunction as a post-join filter — NOT a nested-loop
    // join — and the partkey-only IN-filter implied by the OR pushes
    // into the part scan.
    Q("q19_disjunctive_revenue",
      (s, dir) => {
        val p = Tables.part(s, dir)
        val l = Tables.lineitem(s, dir)
        val cond =
          (p("p_brand") === "Brand#12" && p("p_size").between(1, 5) &&
            l("l_quantity").between(1, 11)) ||
          (p("p_brand") === "Brand#23" && p("p_size").between(1, 10) &&
            l("l_quantity").between(10, 20)) ||
          (p("p_brand") === "Brand#3" && p("p_size").between(20, 35) &&
            l("l_quantity").between(20, 30))
        l.join(p, l("l_partkey") === p("p_partkey") && cond)
          .agg(dbl4(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount"))))).as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some("""SELECT CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))), 4) AS DOUBLE) AS revenue,
             |       count(*) AS n_items
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
             |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
             |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // TPC-H Q20-shaped promotion suppliers: the nested IN-with-
    // aggregate subquery — suppliers who moved >300 units of red parts
    // in 1997 — as agg→filter→semi-join. The red-part filter and the
    // per-supplier qty frame are both small enough that AQE broadcasts
    // them at tested sizes (both scale with SF, so no forced hint).
    // Decimal qty makes the >300 cut exact.
    Q("q20_promotion_suppliers",
      (s, dir) => {
        val redParts = Tables.part(s, dir)
          .filter(col("p_name").startsWith("red")).select(col("p_partkey"))
        val qty = Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
          .join(redParts, col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_suppkey"))
          .agg(sum(dec(col("l_quantity"))).as("total_qty"))
          .filter(col("total_qty") > 300)
        Tables.supplier(s, dir)
          .join(qty, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"), col("n_name"))
      },
      Some("""SELECT s_suppkey, s_name, n_name
             |FROM supplier JOIN nation ON s_nationkey = n_nationkey
             |WHERE s_suppkey IN (
             |  SELECT l_suppkey FROM lineitem
             |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
             |    AND l_shipdate >= TIMESTAMP '1997-01-01'
             |    AND l_shipdate < TIMESTAMP '1998-01-01'
             |  GROUP BY l_suppkey
             |  HAVING sum(CAST(l_quantity AS DECIMAL(28,6))) > 300)""".stripMargin)),

    // TPC-H Q21-shaped waiting suppliers: the double-correlated
    // EXISTS / NOT EXISTS — late lines on finished orders where SOME
    // other supplier shipped the order but NO other supplier was late.
    // Both become orderkey-equi joins with a supplier-inequality
    // residual: semi against the distinct (order, supplier) pairs,
    // anti against the distinct late pairs — three shuffles total, all
    // on orderkey, no correlated re-execution per row.
    Q("q21_waiting_suppliers",
      (s, dir) => {
        // The double-correlated EXISTS/NOT-EXISTS collapses to per-order
        // supplier counts: "another supplier exists" ⟺ the order has >1
        // distinct suppliers, and "no OTHER supplier was late" ⟺ the
        // order's late rows all belong to one supplier. Both ride ONE
        // orderkey-partitioned window over the already orderkey-joined
        // frame — the window reuses the join's hash partitioning (no
        // extra exchange), replacing the former two distincts + semi +
        // anti (4 more lineitem-sized shuffles) of the textbook plan.
        val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate"))
        val w = Window.partitionBy(col("l_orderkey"))
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .withColumn("is_late",
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
          .withColumn("n_supp", size(collect_set(col("l_suppkey")).over(w)))
          .withColumn("n_late_supp",
            size(collect_set(when(col("is_late"), col("l_suppkey"))).over(w)))
          .filter(col("is_late") && col("n_supp") > 1 && col("n_late_supp") === 1)
          .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_name"))
          .agg(count(lit(1)).as("numwait"))
      },
      Some("""WITH late AS (
             |  SELECT l_orderkey, l_suppkey
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  WHERE o_orderstatus = 'F'
             |    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
             |SELECT s_name, count(*) AS numwait
             |FROM late l1
             |JOIN supplier ON l1.l_suppkey = s_suppkey
             |WHERE EXISTS (SELECT 1 FROM lineitem l2
             |              WHERE l2.l_orderkey = l1.l_orderkey
             |                AND l2.l_suppkey <> l1.l_suppkey)
             |  AND NOT EXISTS (SELECT 1 FROM late l3
             |                  WHERE l3.l_orderkey = l1.l_orderkey
             |                    AND l3.l_suppkey <> l1.l_suppkey)
             |GROUP BY s_name""".stripMargin)),

    // Deterministic negative sampling — the recommender-training data
    // op: for each customer, K hash-generated candidate parts they
    // did NOT buy (implicit negatives to pair with the purchase
    // positives). Hash-slot candidates instead of RNG so the sample
    // is reproducible across runs, engines, and cluster sizes (the
    // corpus_sample property), and growth-stable per (customer, slot).
    // Scale: candidates are |customers|×K rows built with NO data
    // shuffle (one-row broadcast keyspace frame, the q15/q22 scalar
    // shape); the existence check is an equi semi join against part
    // keys and the positives anti join shuffles once on the
    // (custkey, partkey) it is keyed by. Never customers×parts.
    // Slot collisions with a genuine purchase simply drop (a customer
    // yields ≤K negatives) — the standard contract: at training time
    // absent negatives are refilled by the next epoch's salt.
    Q("negative_samples",
      (s, dir) => {
        val K = 8
        val pos = Tables.orders(s, dir)
          .select(col("o_custkey").as("custkey"), col("o_orderkey"))
          .join(Tables.lineitem(s, dir)
            .select(col("l_orderkey"), col("l_partkey").as("partkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("custkey"), col("partkey")).distinct()
        val keyspace = Tables.part(s, dir)
          .agg((max(col("p_partkey")) + 1).as("n"))
        val cust = Tables.orders(s, dir)
          .select(col("o_custkey").as("custkey")).distinct()
        cust
          .crossJoin(broadcast(keyspace))
          .withColumn("slot", explode(sequence(lit(0), lit(K - 1))))
          .withColumn("partkey", pmod(graft.functions.TextOps.portableHash(
            concat(col("custkey").cast("string"), lit("#"),
              col("slot").cast("string"))), col("n")))
          .drop("n")
          .join(Tables.part(s, dir).select(col("p_partkey")),
            col("partkey") === col("p_partkey"), "left_semi")
          .join(pos, Seq("custkey", "partkey"), "left_anti")
          .select(col("custkey"), col("slot").cast("long").as("slot"),
            col("partkey"))
      },
      Some("""WITH mx AS (SELECT max(p_partkey) + 1 AS n FROM part),
             |cust AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
             |cand AS (SELECT custkey, t.i AS slot,
             |                ('0x' || substr(md5(CAST(custkey AS VARCHAR) || '#' || CAST(t.i AS VARCHAR)), 1, 15))::BIGINT % n AS partkey
             |         FROM cust, range(8) t(i), mx),
             |pos AS (SELECT DISTINCT o_custkey AS custkey, l_partkey AS partkey
             |        FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
             |SELECT c.custkey, c.slot, c.partkey
             |FROM cand c
             |WHERE EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = c.partkey)
             |  AND NOT EXISTS (SELECT 1 FROM pos
             |                  WHERE pos.custkey = c.custkey
             |                    AND pos.partkey = c.partkey)""".stripMargin)),

    // Graph centrality over the customer–supplier purchase network —
    // PageRank, the classic link-quality signal corpus curation weighs
    // crawled hosts/pages by, exercised here on the data the fixtures
    // provide: an undirected bipartite graph whose edges are distinct
    // (customer, supplier) trade relationships. Integer fixed-point
    // arithmetic end to end (see operators/PageRank) makes three
    // Jacobi rounds bit-identical across engines, so the oracle
    // replays them as three unrolled CTE layers and the gate
    // hash-compares exact BIGINTs — an ITERATIVE operator under the
    // exact-equality gate, like the dedup clusters' recursive CTE.
    Q("pagerank_suppliers",
      (s, dir) => graft.operators.PageRank.run(tradeEdges(s, dir), 3),
      Some("""WITH e0 AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
             |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             |e AS (SELECT src, dst FROM e0
             |      UNION ALL SELECT dst AS src, src AS dst FROM e0),
             |nd AS (SELECT DISTINCT src AS node FROM e),
             |nn AS (SELECT count(*) AS n FROM nd),
             |dg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
             |r0 AS (SELECT node, 1000000000000 // n AS r FROM nd, nn),
             |s1 AS (SELECT e.dst AS node, CAST(sum(r0.r // dg.d) AS BIGINT) AS s
             |       FROM e JOIN r0 ON e.src = r0.node JOIN dg ON e.src = dg.src
             |       GROUP BY e.dst),
             |r1 AS (SELECT nd.node,
             |              (15 * (1000000000000 // n)) // 100 +
             |              (85 * coalesce(s1.s, 0)) // 100 AS r
             |       FROM nd LEFT JOIN s1 ON nd.node = s1.node, nn),
             |s2 AS (SELECT e.dst AS node, CAST(sum(r1.r // dg.d) AS BIGINT) AS s
             |       FROM e JOIN r1 ON e.src = r1.node JOIN dg ON e.src = dg.src
             |       GROUP BY e.dst),
             |r2 AS (SELECT nd.node,
             |              (15 * (1000000000000 // n)) // 100 +
             |              (85 * coalesce(s2.s, 0)) // 100 AS r
             |       FROM nd LEFT JOIN s2 ON nd.node = s2.node, nn),
             |s3 AS (SELECT e.dst AS node, CAST(sum(r2.r // dg.d) AS BIGINT) AS s
             |       FROM e JOIN r2 ON e.src = r2.node JOIN dg ON e.src = dg.src
             |       GROUP BY e.dst),
             |r3 AS (SELECT nd.node,
             |              (15 * (1000000000000 // n)) // 100 +
             |              (85 * coalesce(s3.s, 0)) // 100 AS r
             |       FROM nd LEFT JOIN s3 ON nd.node = s3.node, nn)
             |SELECT node, r AS rank_fp FROM r3""".stripMargin)),

    // Personalized PageRank: restart mass pinned to the BUILDING-
    // segment customers — ranks measure proximity to that seed set
    // over the customer⇄supplier order graph (the seed-expansion
    // signal: grow a trusted seed set along link structure, the
    // harmonic-centrality cousin of the uniform pagerank above).
    // Same exact integer arithmetic ⇒ same unrolled-CTE oracle shape;
    // suppliers trading only with other segments rank strictly lower,
    // nodes with no seed-reachable path rank exactly 0.
    Q("ppr_suppliers",
      (s, dir) => {
        val seeds = Tables.customer(s, dir)
          .filter(col("c_mktsegment") === "BUILDING")
          .select(concat(lit("c"), col("c_custkey")).as("node"))
        graft.operators.PageRank.personalized(tradeEdges(s, dir), seeds, 3)
      },
      Some("""WITH e0 AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
             |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             |e AS (SELECT src, dst FROM e0
             |      UNION ALL SELECT dst AS src, src AS dst FROM e0),
             |nd AS (SELECT DISTINCT src AS node FROM e),
             |sd AS (SELECT node FROM nd
             |       WHERE node IN (SELECT 'c' || c_custkey FROM customer
             |                      WHERE c_mktsegment = 'BUILDING')),
             |ns AS (SELECT count(*) AS n FROM sd),
             |b AS (SELECT nd.node,
             |             CASE WHEN sd.node IS NOT NULL
             |                  THEN 1000000000000 // ns.n ELSE 0 END AS b
             |      FROM nd LEFT JOIN sd ON nd.node = sd.node, ns),
             |dg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
             |s1 AS (SELECT e.dst AS node, CAST(sum(b.b // dg.d) AS BIGINT) AS s
             |       FROM e JOIN b ON e.src = b.node JOIN dg ON e.src = dg.src
             |       GROUP BY e.dst),
             |r1 AS (SELECT b.node,
             |              (15 * b.b) // 100 + (85 * coalesce(s1.s, 0)) // 100 AS r
             |       FROM b LEFT JOIN s1 ON b.node = s1.node),
             |s2 AS (SELECT e.dst AS node, CAST(sum(r1.r // dg.d) AS BIGINT) AS s
             |       FROM e JOIN r1 ON e.src = r1.node JOIN dg ON e.src = dg.src
             |       GROUP BY e.dst),
             |r2 AS (SELECT b.node,
             |              (15 * b.b) // 100 + (85 * coalesce(s2.s, 0)) // 100 AS r
             |       FROM b LEFT JOIN s2 ON b.node = s2.node),
             |s3 AS (SELECT e.dst AS node, CAST(sum(r2.r // dg.d) AS BIGINT) AS s
             |       FROM e JOIN r2 ON e.src = r2.node JOIN dg ON e.src = dg.src
             |       GROUP BY e.dst),
             |r3 AS (SELECT b.node,
             |              (15 * b.b) // 100 + (85 * coalesce(s3.s, 0)) // 100 AS r
             |       FROM b LEFT JOIN s3 ON b.node = s3.node)
             |SELECT node, r AS rank_fp FROM r3""".stripMargin))
  )
}
