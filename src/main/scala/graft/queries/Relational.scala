package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.tables.Tables

/**
 * Core relational operator coverage (SURVEY.md §2.2–§2.7): scan → filter →
 * project, all join types, aggregation (incl. GROUPING SETS / CUBE /
 * ROLLUP / FILTER clause / DISTINCT aggregates), window functions, sort /
 * limit / offset, set operations, and subqueries (scalar / IN / EXISTS).
 *
 * Implementation style: DataFrame API where the operator composes cleanly
 * (Catalyst sees the same logical plan either way); `spark.sql` where the
 * surface is SQL-specific (GROUPING SETS, FILTER clause, VALUES, named
 * windows) — the same path `graft.engine.SqlEngine` exposes, mirroring the
 * reference's single `execute_sql` entry point (reference: `src/core.rs:74-76`).
 *
 * Scale notes (100 TB):
 *  - dimension joins (region/nation/customer here) broadcast; at full scale
 *    AQE picks broadcast vs shuffled-hash from runtime stats — we do not
 *    hard-code hints except where the small side is bounded by construction;
 *  - aggregations are partial→final (map-side combine) automatically; the
 *    DECIMAL accumulation keeps them order-independent, hence correct under
 *    any partitioning;
 *  - windows shuffle once on their PARTITION BY key; all window queries here
 *    partition on high-cardinality keys (user_id, l_orderkey) so no single
 *    partition explodes at scale.
 */
object Relational {

  /** Exact, order-independent SUM of a 2-decimal double column, as DOUBLE. */
  private def dsum(x: String) = s"CAST(SUM(CAST($x AS DECIMAL(18,2))) AS DOUBLE)"
  private val dec = DecimalType(18, 2)

  // ---------------------------------------------------------------- q01
  // Flagship (TPC-H Q1 shape): scan → filter (pushed to parquet) →
  // hash-aggregate (partial/final) → sort. The filter reaches the scan as
  // PushedFilters and only 7 of 11 columns are read (ReadSchema pruning).
  val q01 = Q.df(
    "q01_agg_pushdown",
    s"""SELECT l_returnflag, l_linestatus,
       |  ${dsum("l_quantity")} AS sum_qty,
       |  ${dsum("l_extendedprice")} AS sum_base_price,
       |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS sum_disc_price,
       |  ${dsum("l_quantity")} / COUNT(l_quantity) AS avg_qty,
       |  ${dsum("l_extendedprice")} / COUNT(l_extendedprice) AS avg_price,
       |  CAST(COUNT(*) AS BIGINT) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (spark, dir) =>
    val li = Tables.load(spark, dir, "lineitem")
    li.filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(DecimalType(25, 6)))
          .cast("double").as("sum_disc_price"),
        (sum(col("l_quantity").cast(dec)).cast("double") / count(col("l_quantity"))).as("avg_qty"),
        (sum(col("l_extendedprice").cast(dec)).cast("double") / count(col("l_extendedprice"))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  // ---------------------------------------------------------------- q02
  // Projection + rich predicate set (BETWEEN, IN, CASE). Per-row double
  // arithmetic is IEEE-deterministic, so no decimal detour needed.
  val q02 = Q.df(
    "q02_filter_project",
    """SELECT l_orderkey, l_linenumber,
      |  l_extendedprice * (1.0 - l_discount) AS revenue,
      |  CASE WHEN l_quantity >= 25 THEN 'bulk' ELSE 'small' END AS qty_class
      |FROM lineitem
      |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-12-31 00:00:00'
      |  AND l_returnflag IN ('A', 'R') AND l_quantity BETWEEN 5 AND 45
      |  AND l_linestatus = 'F' AND l_extendedprice > 1000.0
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (spark, dir) =>
    val li = Tables.load(spark, dir, "lineitem")
    li.filter(
        col("l_shipdate").between(
          lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")),
          lit(java.sql.Timestamp.valueOf("1996-12-31 00:00:00"))) &&
        col("l_returnflag").isin("A", "R") &&
        col("l_quantity").between(5, 45) &&
        col("l_linestatus") === "F" && col("l_extendedprice") > 1000.0)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        when(col("l_quantity") >= 25, "bulk").otherwise("small").as("qty_class"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  // ---------------------------------------------------------------- q03
  // 3-way inner join + aggregate (TPC-H Q3 shape). customer/orders shuffle
  // on the join keys; at 100 TB AQE decides broadcast vs sort-merge.
  val q03 = Q.df(
    "q03_join_inner_agg",
    """SELECT o.o_orderkey,
      |  CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
      |  c.c_mktsegment
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE c.c_mktsegment = 'BUILDING'
      |GROUP BY o.o_orderkey, c.c_mktsegment
      |ORDER BY revenue DESC, o_orderkey LIMIT 20""".stripMargin) { (spark, dir) =>
    val c = Tables.load(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.load(spark, dir, "orders")
    val l = Tables.load(spark, dir, "lineitem")
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, l("l_orderkey") === o("o_orderkey"))
      .groupBy(o("o_orderkey"), c("c_mktsegment"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(25, 6))).cast("double").as("revenue"))
      .select("o_orderkey", "revenue", "c_mktsegment")
      .orderBy(col("revenue").desc, col("o_orderkey")).limit(20)
  }

  // ---------------------------------------------------------------- q04
  val q04 = Q.df(
    "q04_join_left",
    s"""SELECT c.c_custkey, c.c_name,
       |  CAST(COUNT(o.o_orderkey) AS BIGINT) AS order_cnt,
       |  CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spent
       |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
       |GROUP BY c.c_custkey, c.c_name
       |ORDER BY c.c_custkey""".stripMargin) { (spark, dir) =>
    val c = Tables.load(spark, dir, "customer")
    val o = Tables.load(spark, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(c("c_custkey"), c("c_name"))
      .agg(
        count(o("o_orderkey")).as("order_cnt"),
        coalesce(sum(o("o_totalprice").cast(dec)), lit(0)).cast("double").as("total_spent"))
      .orderBy("c_custkey")
  }

  // ---------------------------------------------------------------- q05
  val q05 = Q.df(
    "q05_join_right",
    """SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS order_cnt,
      |  MIN(o.o_orderdate) AS first_order
      |FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY c.c_custkey ORDER BY c.c_custkey""".stripMargin) { (spark, dir) =>
    val c = Tables.load(spark, dir, "customer")
    val o = Tables.load(spark, dir, "orders")
    o.join(c, o("o_custkey") === c("c_custkey"), "right")
      .groupBy(c("c_custkey"))
      .agg(count(o("o_orderkey")).as("order_cnt"), min(o("o_orderdate")).as("first_order"))
      .orderBy("c_custkey")
  }

  // ---------------------------------------------------------------- q06
  // FULL OUTER JOIN of two pre-aggregated sides (suppliers exist only for
  // a few nations → genuine null rows on both sides).
  val q06 = Q.sql(
    "q06_join_full",
    """WITH cn AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey),
      |     sn AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey)
      |SELECT CAST(COALESCE(cn.nk, sn.nk) AS INT) AS nationkey,
      |  CAST(COALESCE(cn.n_cust, 0) AS BIGINT) AS n_cust,
      |  CAST(COALESCE(sn.n_supp, 0) AS BIGINT) AS n_supp
      |FROM cn FULL JOIN sn ON cn.nk = sn.nk
      |ORDER BY nationkey""".stripMargin)

  // ---------------------------------------------------------------- q07
  // LEFT SEMI join (EXISTS decorrelation); Spark side uses the native
  // left_semi join type directly.
  val q07 = Q.df(
    "q07_join_semi",
    """SELECT c_custkey, c_acctbal FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    val c = Tables.load(spark, dir, "customer")
    val o = Tables.load(spark, dir, "orders").filter(col("o_totalprice") > 400000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_acctbal").orderBy("c_custkey")
  }

  // ---------------------------------------------------------------- q08
  val q08 = Q.df(
    "q08_join_anti",
    """SELECT c_custkey, c_acctbal FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    val c = Tables.load(spark, dir, "customer")
    val o = Tables.load(spark, dir, "orders").filter(col("o_totalprice") > 400000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_acctbal").orderBy("c_custkey")
  }

  // ---------------------------------------------------------------- q09
  val q09 = Q.df(
    "q09_join_cross",
    """SELECT r_name, n_name FROM region CROSS JOIN nation
      |ORDER BY r_name, n_name""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "region")
      .crossJoin(Tables.load(spark, dir, "nation"))
      .select("r_name", "n_name").orderBy("r_name", "n_name")
  }

  // ---------------------------------------------------------------- q10
  // Non-equi (theta) residual on top of an equi key → hash join with
  // residual filter; a pure theta join would pick broadcast-nested-loop.
  val q10 = Q.df(
    "q10_join_nonequi",
    """SELECT n1.n_name AS nation_a, n2.n_name AS nation_b
      |FROM nation n1 JOIN nation n2
      |  ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
      |ORDER BY nation_a, nation_b""".stripMargin) { (spark, dir) =>
    val n1 = Tables.load(spark, dir, "nation").as("n1")
    val n2 = Tables.load(spark, dir, "nation").as("n2")
    n1.join(n2, col("n1.n_regionkey") === col("n2.n_regionkey") &&
        col("n1.n_nationkey") < col("n2.n_nationkey"))
      .select(col("n1.n_name").as("nation_a"), col("n2.n_name").as("nation_b"))
      .orderBy("nation_a", "nation_b")
  }

  // ---------------------------------------------------------------- q11
  // DISTINCT aggregates — Catalyst expands to a two-phase plan
  // (RewriteDistinctAggregates), keeping the shuffle on (group, value).
  val q11 = Q.df(
    "q11_agg_distinct",
    """SELECT l_returnflag,
      |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supp_cnt,
      |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS part_cnt,
      |  CAST(COUNT(*) AS BIGINT) AS row_cnt
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_suppkey")).as("supp_cnt"),
        countDistinct(col("l_partkey")).as("part_cnt"),
        count(lit(1)).as("row_cnt"))
      .orderBy("l_returnflag")
  }

  // ---------------------------------------------------------------- q12
  val q12 = Q.sql(
    "q12_agg_filter_clause",
    """SELECT l_linestatus,
      |  CAST(COUNT(*) FILTER (WHERE l_returnflag = 'A') AS BIGINT) AS cnt_a,
      |  CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS cnt_r,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS qty_disc
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)

  // ---------------------------------------------------------------- q13
  val q13 = Q.sql(
    "q13_rollup",
    """SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS cnt,
      |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
      |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)

  // ---------------------------------------------------------------- q14
  val q14 = Q.sql(
    "q14_cube",
    """SELECT o_orderpriority, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
      |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin)

  // ---------------------------------------------------------------- q15
  val q15 = Q.sql(
    "q15_grouping_sets",
    """SELECT o_orderpriority, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
      |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin)

  // ---------------------------------------------------------------- q16
  // Ranking window family. ROW_NUMBER/RANK return INT in Spark vs BIGINT
  // in DuckDB → explicit casts. percent_rank/cume_dist are exact rational
  // divisions — cross-engine deterministic without rounding.
  val q16 = Q.df(
    "q16_window_rank",
    """SELECT o_orderkey, o_orderpriority, o_totalprice,
      |  CAST(ROW_NUMBER() OVER w AS INT) AS rn,
      |  CAST(RANK() OVER w AS INT) AS rnk,
      |  CAST(DENSE_RANK() OVER w AS INT) AS drnk,
      |  CAST(NTILE(4) OVER w AS INT) AS quartile,
      |  PERCENT_RANK() OVER w AS prank,
      |  CUME_DIST() OVER w AS cdist
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_orderpriority, rn""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.load(spark, dir, "orders")
      .select(
        col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"))
      .orderBy("o_orderpriority", "rn")
  }

  // ---------------------------------------------------------------- q17
  // lag/lead over the events table — also exercises the timestamp read
  // path (Tables.load casts the naive µs column to a UTC instant).
  val q17 = Q.df(
    "q17_window_lag_lead",
    """SELECT event_id, user_id, ts, value,
      |  LAG(value, 1) OVER w AS prev_value,
      |  LEAD(value, 1) OVER w AS next_value,
      |  LAG(value, 2, -1.0) OVER w AS prev2
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, ts, event_id""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.load(spark, dir, "events")
      .select(
        col("event_id"), col("user_id"), col("ts"), col("value"),
        lag("value", 1).over(w).as("prev_value"),
        lead("value", 1).over(w).as("next_value"),
        lag(col("value"), 2, -1.0).over(w).as("prev2"))
      .orderBy("user_id", "ts", "event_id")
  }

  // ---------------------------------------------------------------- q18
  // Frame specs: running/moving sums (ROWS) + RANGE count-to-date. Running
  // double sums go through DECIMAL so partial accumulation order is moot.
  val q18 = Q.df(
    "q18_window_frames",
    """SELECT user_id, event_id,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_sum,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum,
      |  CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cnt_to_date
      |FROM events ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val vdec = col("value").cast(dec)
    Tables.load(spark, dir, "events")
      .select(
        col("user_id"), col("event_id"),
        sum(vdec).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_sum"),
        sum(vdec).over(w.rowsBetween(-2, Window.currentRow))
          .cast("double").as("moving_sum"),
        count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("cnt_to_date"))
      .orderBy("user_id", "event_id")
  }

  // ---------------------------------------------------------------- q19
  // Whole-partition window aggregates over a high-cardinality key.
  val q19 = Q.df(
    "q19_window_part_agg",
    """SELECT l_orderkey, l_linenumber,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_orderkey) AS DOUBLE) AS order_qty,
      |  CAST(COUNT(*) OVER (PARTITION BY l_orderkey) AS BIGINT) AS order_lines,
      |  MAX(l_extendedprice) OVER (PARTITION BY l_orderkey) AS max_price
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("l_orderkey")
    Tables.load(spark, dir, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        sum(col("l_quantity").cast(dec)).over(w).cast("double").as("order_qty"),
        count(lit(1)).over(w).as("order_lines"),
        max(col("l_extendedprice")).over(w).as("max_price"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  // ---------------------------------------------------------------- q73
  // Time-interval RANGE frame: a sliding 30-minute sum per user. RANGE
  // pools same-timestamp peers, so no tiebreak is needed for
  // determinism; the DECIMAL accumulation keeps the sum
  // summation-order-independent. Same text parses on both engines
  // (Spark calendar-interval frame bound / DuckDB interval RANGE).
  val q73 = Q.sql(
    "q73_time_range_frame",
    """SELECT event_id, user_id, ts,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts
      |    RANGE BETWEEN INTERVAL '30' MINUTE PRECEDING AND CURRENT ROW) AS DOUBLE) AS roll_30m
      |FROM events ORDER BY event_id""".stripMargin)

  // ---------------------------------------------------------------- q20
  val q20 = Q.sql(
    "q20_sort_limit_offset",
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC NULLS LAST, o_orderkey
      |LIMIT 50 OFFSET 10""".stripMargin)

  // ---------------------------------------------------------------- q21
  // orderBy().limit() → Catalyst TakeOrderedAndProject (distributed top-k
  // heap; no global sort — the plan that survives 100 TB).
  val q21 = Q.df(
    "q21_topk",
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      |LIMIT 100""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(100)
  }

  // ---------------------------------------------------------------- q22-q25: set ops
  val q22 = Q.sql(
    "q22_union_all",
    """SELECT n_name AS name, 'nation' AS kind FROM nation
      |UNION ALL
      |SELECT r_name AS name, 'region' AS kind FROM region
      |ORDER BY kind, name""".stripMargin)

  val q23 = Q.sql(
    "q23_union_distinct",
    """SELECT CAST(c_nationkey AS INT) AS nk FROM customer
      |UNION
      |SELECT CAST(s_nationkey AS INT) AS nk FROM supplier
      |ORDER BY nk""".stripMargin)

  val q24 = Q.sql(
    "q24_intersect",
    """SELECT CAST(c_nationkey AS INT) AS nk FROM customer
      |INTERSECT
      |SELECT CAST(s_nationkey AS INT) AS nk FROM supplier
      |ORDER BY nk""".stripMargin)

  val q25 = Q.sql(
    "q25_except",
    """SELECT CAST(c_nationkey AS INT) AS nk FROM customer
      |EXCEPT
      |SELECT CAST(s_nationkey AS INT) AS nk FROM supplier WHERE s_acctbal > 5000.0
      |ORDER BY nk""".stripMargin)

  // Multiset set-op semantics (SURVEY §2.7 lists the ALL variants; the
  // DISTINCT forms alone were pinned through r04): INTERSECT ALL keeps
  // min(count_left, count_right) copies per value, EXCEPT ALL keeps
  // count_left − count_right — both deterministic, so the row
  // multiplicities hash-match. One branch per variant, labeled.
  val q69 = Q.sql(
    "q69_setop_all",
    """SELECT 'ia' AS op, n FROM (
      |  SELECT c_nationkey AS n FROM customer WHERE c_acctbal > 0
      |  INTERSECT ALL
      |  SELECT c_nationkey AS n FROM customer WHERE c_mktsegment = 'BUILDING') i
      |UNION ALL
      |SELECT 'ea' AS op, n FROM (
      |  SELECT c_nationkey AS n FROM customer WHERE c_acctbal > 0
      |  EXCEPT ALL
      |  SELECT c_nationkey AS n FROM customer WHERE c_mktsegment = 'BUILDING') e
      |ORDER BY op, n""".stripMargin)

  // ---------------------------------------------------------------- q26-q28: subqueries
  // Scalar subquery threshold computed via exact decimal avg so both
  // engines compare against the bit-identical double.
  val q26 = Q.sql(
    "q26_scalar_subquery",
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_totalprice > 1.9 * (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM orders)
      |ORDER BY o_orderkey""".stripMargin)

  val q27 = Q.sql(
    "q27_in_subquery",
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
      |ORDER BY c_custkey""".stripMargin)

  val q28 = Q.sql(
    "q28_exists_correlated",
    """SELECT c_custkey FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000.0)
      |  AND c_acctbal > 0.0
      |ORDER BY c_custkey""".stripMargin)

  // ---------------------------------------------------------------- q29-q31
  val q29 = Q.sql2(
    "q29_values_inline",
    """SELECT id, name FROM VALUES (1, 'alice'), (2, 'bob'), (3, 'carol') AS t(id, name) ORDER BY id""",
    """SELECT id, name FROM (VALUES (1, 'alice'), (2, 'bob'), (3, 'carol')) t(id, name) ORDER BY id""")

  val q30 = Q.sql2(
    "q30_generate_series",
    """SELECT id, id * id AS sq FROM range(1, 101) ORDER BY id""",
    """SELECT CAST(range AS BIGINT) AS id, CAST(range * range AS BIGINT) AS sq FROM range(1, 101) ORDER BY id""")

  val q31 = Q.sql2(
    "q31_unnest",
    """SELECT vec_id, CAST(v AS DOUBLE) AS val FROM embeddings
      |LATERAL VIEW explode(embedding) AS v
      |WHERE vec_id < 10 ORDER BY vec_id, val""".stripMargin,
    """SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS val FROM embeddings
      |WHERE vec_id < 10 ORDER BY vec_id, val""".stripMargin)

  // ---------------------------------------------------------------- q32-q33
  val q32 = Q.sql(
    "q32_case_cast",
    """SELECT p_partkey,
      |  CASE WHEN p_size >= 40 THEN 'L' WHEN p_size >= 20 THEN 'M' ELSE 'S' END AS size_class,
      |  CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS DOUBLE) AS price_dec,
      |  TRY_CAST(p_brand AS INT) AS brand_int,
      |  CAST(p_size AS VARCHAR(10)) AS size_str
      |FROM part ORDER BY p_partkey""".stripMargin)

  // ---------------------------------------------------------------- q51
  // The DataFusion FROM-clause TVF spelling (SURVEY §2.1, reference
  // Cargo.lock:845) — run through `SqlEngine.executeStatement`, whose
  // session resolves it as a table function; DuckDB has the TVF natively
  // (column named `generate_series`).
  val q51 = Q.df(
    "q51_generate_series_tvf",
    """SELECT CAST(generate_series AS BIGINT) AS value,
      |  CAST(generate_series * 2 AS BIGINT) AS doubled
      |FROM generate_series(2, 20, 3) ORDER BY value""".stripMargin) { (spark, dir) =>
    graft.tables.Tables.registerAll(spark, dir)
    new graft.engine.SqlEngine(spark).executeStatement(
      """SELECT CAST(value AS BIGINT) AS value, CAST(value * 2 AS BIGINT) AS doubled
        |FROM generate_series(2, 20, 3) ORDER BY value""".stripMargin)
  }

  val q33 = Q.df(
    "q33_distinct",
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "lineitem")
      .select("l_returnflag", "l_linestatus").distinct()
      .orderBy("l_returnflag", "l_linestatus")
  }

  def defs: Seq[Q] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08, q09, q10,
    q11, q12, q13, q14, q15, q16, q17, q18, q19, q20,
    q21, q22, q23, q24, q25, q26, q27, q28, q29, q30,
    q31, q32, q33, q51, q69, q73)
}
