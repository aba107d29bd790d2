package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.SqlEngine
import graft.tables.Tables

/**
 * Oracle-verified entries that run THROUGH the `SqlEngine` façade — the
 * catalog/IO surface (SURVEY §2.1) that r01 left unit-test-only: CTAS,
 * INSERT INTO, CSV and NDJSON external tables via translated DDL, and
 * the view lifecycle. Each query routes DDL + DML through
 * `executeStatement` (exactly what `execute_sql` does per statement,
 * reference `src/core.rs:102-128`) and returns a final SELECT whose
 * rows the DuckDB oracle checks against the parquet fixtures.
 *
 * Side-effects are idempotent: tables are dropped up front, file dumps
 * are overwritten, so Verify and the double-run Bench see stable
 * results.
 */
object EngineOps {

  private def engine(spark: SparkSession, dir: String): SqlEngine = {
    Tables.registerAll(spark, dir)
    new SqlEngine(spark)
  }

  /** Round-trip dump of `nation` under a per-format temp dir. The
    * fixed name is safe for the same reason as `hiveOut` below:
    * `nation` is SF-INVARIANT (25 rows at every scale factor), so a
    * run at another SF overwriting the dump leaves the oracle
    * comparison unaffected. */
  private def dump(spark: SparkSession, dir: String, fmt: String): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_engineops_${fmt}_nation"
    val w = Tables.load(spark, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.mode("overwrite")
    fmt match {
      case "csv" => w.option("header", "true").csv(out)
      case "json" => w.json(out)
    }
    out
  }

  // ---------------------------------------------------------------- q54
  // CTAS (MemTable parity) + INSERT INTO append (§2.1 rows 7-8).
  val q54 = Q.df(
    "q54_ctas_insert",
    """SELECT CAST(k AS BIGINT) AS k, n_name, CAST(rk AS BIGINT) AS rk FROM (
      |  SELECT n_nationkey AS k, n_name, n_regionkey AS rk FROM nation WHERE n_regionkey < 3
      |  UNION ALL
      |  SELECT n_nationkey + 100 AS k, n_name, n_regionkey AS rk FROM nation WHERE n_regionkey = 4
      |) ORDER BY k""".stripMargin) { (spark, dir) =>
    val eng = engine(spark, dir)
    eng.executeStatement("DROP TABLE IF EXISTS ctas_nation")
    // a previous JVM may have left the managed-table directory behind
    // (DROP only knows tables in the current catalog); Spark refuses to
    // create a managed table over a non-empty location
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.conf.warehousePath, "ctas_nation")
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    eng.executeStatement(
      "CREATE TABLE ctas_nation AS SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey < 3")
    eng.executeStatement(
      "INSERT INTO ctas_nation SELECT n_nationkey + 100, n_name, n_regionkey FROM nation WHERE n_regionkey = 4")
    eng.executeStatement(
      """SELECT CAST(n_nationkey AS BIGINT) AS k, n_name, CAST(n_regionkey AS BIGINT) AS rk
        |FROM ctas_nation ORDER BY k""".stripMargin)
  }

  // ---------------------------------------------------------------- q55
  // CSV scan via translated CREATE EXTERNAL TABLE ... STORED AS CSV WITH
  // HEADER ROW (§2.1 row 2): parquet → CSV dump → DDL-registered scan.
  val q55 = Q.df(
    "q55_csv_scan",
    """SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name,
      |  CAST(n_regionkey AS INT) AS n_regionkey
      |FROM nation ORDER BY n_nationkey""".stripMargin) { (spark, dir) =>
    val eng = engine(spark, dir)
    val path = dump(spark, dir, "csv")
    eng.executeStatement("DROP TABLE IF EXISTS csv_nation")
    eng.executeStatement(
      s"""CREATE EXTERNAL TABLE csv_nation (n_nationkey INT, n_name STRING, n_regionkey INT)
         |STORED AS CSV WITH HEADER ROW LOCATION '$path'""".stripMargin)
    eng.executeStatement(
      "SELECT n_nationkey, n_name, n_regionkey FROM csv_nation ORDER BY n_nationkey")
  }

  // ---------------------------------------------------------------- q56
  // NDJSON scan via translated DDL (§2.1 row 3).
  val q56 = Q.df(
    "q56_ndjson_scan",
    """SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name,
      |  CAST(n_regionkey AS INT) AS n_regionkey
      |FROM nation ORDER BY n_nationkey""".stripMargin) { (spark, dir) =>
    val eng = engine(spark, dir)
    val path = dump(spark, dir, "json")
    eng.executeStatement("DROP TABLE IF EXISTS json_nation")
    eng.executeStatement(
      s"""CREATE EXTERNAL TABLE json_nation (n_nationkey INT, n_name STRING, n_regionkey INT)
         |STORED AS JSON LOCATION '$path'""".stripMargin)
    eng.executeStatement(
      "SELECT n_nationkey, n_name, n_regionkey FROM json_nation ORDER BY n_nationkey")
  }

  // ---------------------------------------------------------------- q57
  // View lifecycle (§2.1 row 9): create-or-replace, query through it.
  val q57 = Q.df(
    "q57_view",
    """SELECT r_name, CAST(COUNT(*) AS BIGINT) AS nations,
      |  CAST(MIN(n_nationkey) AS BIGINT) AS first_key
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin) { (spark, dir) =>
    val eng = engine(spark, dir)
    eng.executeStatement(
      """CREATE OR REPLACE TEMP VIEW v_nation_region AS
        |SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey""".stripMargin)
    eng.executeStatement(
      """SELECT r_name, CAST(COUNT(*) AS BIGINT) AS nations,
        |  CAST(MIN(n_nationkey) AS BIGINT) AS first_key
        |FROM v_nation_region GROUP BY r_name ORDER BY r_name""".stripMargin)
  }

  // ---------------------------------------------------------------- q59
  // GROUPS window frames (SURVEY §2.5 gap: the reference's planner
  // accepts them, Spark has no GROUPS mode). `Dialect.markGroupsFrames`
  // marks the frame and the `GroupsFrames` optimizer rule runs it as a
  // RANGE frame over the dense_rank of the window ordering.
  // DuckDB does NOT implement GROUPS either ("not implemented yet"), so
  // the oracle derives the same frame independently: pre-aggregate each
  // peer group, window over the per-group rows, join back per row.
  // Deterministic despite intra-peer-group ties: GROUPS frames always
  // cover whole peer groups, and SUM over DECIMAL is order-insensitive.
  private val groupsSql =
    """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_orderpriority ORDER BY o_orderdate
      |    GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS DOUBLE) AS grp_sum,
      |  CAST(COUNT(*) OVER (
      |    PARTITION BY o_orderpriority ORDER BY o_orderdate
      |    GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS grp_cnt
      |FROM orders ORDER BY o_orderkey""".stripMargin
  val q59 = Q.df(
    "q59_groups_frame",
    """WITH g AS (SELECT o_orderkey, o_orderpriority,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS tp,
      |    DENSE_RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate) AS dr
      |  FROM orders),
      |s AS (SELECT o_orderpriority, dr, SUM(tp) AS gsum, COUNT(*) AS gcnt
      |  FROM g GROUP BY o_orderpriority, dr),
      |c AS (SELECT o_orderpriority, dr,
      |    SUM(gsum) OVER (PARTITION BY o_orderpriority ORDER BY dr
      |      RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS w_sum,
      |    SUM(gcnt) OVER (PARTITION BY o_orderpriority ORDER BY dr
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w_cnt
      |  FROM s)
      |SELECT CAST(g.o_orderkey AS BIGINT) AS o_orderkey,
      |  CAST(c.w_sum AS DOUBLE) AS grp_sum, CAST(c.w_cnt AS BIGINT) AS grp_cnt
      |FROM g JOIN c ON g.o_orderpriority = c.o_orderpriority AND g.dr = c.dr
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    engine(spark, dir).executeStatement(groupsSql)
  }

  // ---------------------------------------------------------------- q60
  // SIMILAR TO predicate (§2.2) — rewritten to anchored RLIKE by the
  // engine (VERDICT r02 #3: was unit-test-only). DuckDB's SIMILAR TO is
  // a raw-regex predicate (`%` is NOT a wildcard there), so the oracle
  // states the same SQL-standard semantics independently via LIKE.
  val q60 = Q.df(
    "q60_similar_to",
    """SELECT CAST(p_partkey AS BIGINT) AS p_partkey, p_name
      |FROM part WHERE p_name LIKE '%green%' OR p_name LIKE '%blue%'
      |ORDER BY p_partkey""".stripMargin) { (spark, dir) =>
    engine(spark, dir).executeStatement(
      """SELECT CAST(p_partkey AS BIGINT) AS p_partkey, p_name
        |FROM part WHERE p_name SIMILAR TO '%(green|blue)%' ORDER BY p_partkey""".stripMargin)
  }

  // ---------------------------------------------------------------- q61
  // Hive-style partition discovery + pruning (§2.1 row 6): nation is
  // re-laid-out as n_regionkey=K directories, registered via schema-less
  // external DDL (engine MSCKs discovered partitions), then scanned with
  // a partition predicate. The DuckDB oracle reads the same directory
  // tree with hive_partitioning=1 — pinning row SEMANTICS; the dir-level
  // pruning (PartitionFilters) is plan-asserted in SqlEngineSpec. The
  // fixed /tmp path appears verbatim in the static oracle text; the
  // Spark side rewrites it on every run, so Verify→check stays coherent.
  // The path can NOT be SF-keyed (the oracle text is static), but nation
  // is SF-INVARIANT (TPC-H fixes it at 25 rows for every scale factor),
  // so a run at another SF overwriting the tree leaves the oracle
  // comparison unaffected; only truly concurrent writes race, which the
  // bench-runs-alone contract already excludes.
  private val hiveOut = "/tmp/graft_q61_hive_nation"
  val q61 = Q.df(
    "q61_hive_pruning",
    s"""SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name,
       |  CAST(n_regionkey AS INT) AS n_regionkey
       |FROM read_parquet('$hiveOut/*/*.parquet', hive_partitioning=1)
       |WHERE n_regionkey = 2 ORDER BY n_nationkey""".stripMargin) { (spark, dir) =>
    val eng = engine(spark, dir)
    Tables.load(spark, dir, "nation")
      .write.mode("overwrite").partitionBy("n_regionkey").parquet(hiveOut)
    eng.executeStatement("DROP TABLE IF EXISTS hive_nation")
    eng.executeStatement(
      s"CREATE EXTERNAL TABLE hive_nation STORED AS PARQUET LOCATION '$hiveOut'")
    eng.executeStatement(
      """SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS INT) AS n_regionkey
        |FROM hive_nation WHERE n_regionkey = 2 ORDER BY n_nationkey""".stripMargin)
  }

  // ---------------------------------------------------------------- q62
  // information_schema CONTENT parity (§2.1 row 10; VERDICT r02 #7):
  // table names, column names, ordinal positions and column types of the
  // fixture tables cross-checked against DuckDB's native
  // information_schema over the same parquet. The CASE maps Spark's
  // catalog type spellings onto DuckDB's (int→INTEGER, string→VARCHAR,
  // timestamp_ntz→TIMESTAMP) — names differ, the typed CONTENT must not.
  val q62 = Q.df(
    "q62_info_schema",
    """SELECT table_name, column_name,
      |  CAST(ordinal_position AS INT) AS ordinal_position, data_type
      |FROM information_schema.columns
      |WHERE table_name IN ('region', 'nation', 'customer', 'orders')
      |ORDER BY table_name, ordinal_position""".stripMargin) { (spark, dir) =>
    engine(spark, dir).executeStatement(
      """SELECT table_name, column_name,
        |  CAST(ordinal_position AS INT) AS ordinal_position,
        |  CASE upper(data_type)
        |    WHEN 'INT' THEN 'INTEGER' WHEN 'STRING' THEN 'VARCHAR'
        |    WHEN 'TIMESTAMP_NTZ' THEN 'TIMESTAMP'
        |    ELSE upper(data_type) END AS data_type
        |FROM information_schema.columns
        |WHERE table_name IN ('region', 'nation', 'customer', 'orders')
        |ORDER BY table_name, ordinal_position""".stripMargin)
  }

  // ---------------------------------------------------------------- q63
  // GROUPS frames inside a CTE body AND in the statement after the WITH
  // clause (VERDICT r03 "what's missing" #1 / next-round #4: the
  // reference accepts GROUPS anywhere a window is legal; round 3 covered
  // only the standalone single-SELECT shape). DuckDB has no GROUPS mode,
  // so — like q59 — the oracle derives the same frames independently:
  // pre-aggregate each peer group, window over the per-group rows, join
  // back per row. SUM over DECIMAL keeps intra-group order irrelevant.
  private val groupsCteSql =
    """WITH w AS (
      |  SELECT o_orderkey, o_orderpriority, o_orderdate,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |      PARTITION BY o_orderpriority ORDER BY o_orderdate
      |      GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS DOUBLE) AS grp_sum
      |  FROM orders)
      |SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, grp_sum,
      |  CAST(COUNT(*) OVER (
      |    PARTITION BY o_orderpriority ORDER BY o_orderdate
      |    GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cnt
      |FROM w ORDER BY o_orderkey""".stripMargin
  val q63 = Q.df(
    "q63_groups_frame_cte",
    """WITH g AS (SELECT o_orderkey, o_orderpriority,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS tp,
      |    DENSE_RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate) AS dr
      |  FROM orders),
      |s AS (SELECT o_orderpriority, dr, SUM(tp) AS gsum, COUNT(*) AS gcnt
      |  FROM g GROUP BY o_orderpriority, dr),
      |c AS (SELECT o_orderpriority, dr,
      |    SUM(gsum) OVER (PARTITION BY o_orderpriority ORDER BY dr
      |      RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS w_sum,
      |    SUM(gcnt) OVER (PARTITION BY o_orderpriority ORDER BY dr
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w_cnt
      |  FROM s)
      |SELECT CAST(g.o_orderkey AS BIGINT) AS o_orderkey,
      |  CAST(c.w_sum AS DOUBLE) AS grp_sum, CAST(c.w_cnt AS BIGINT) AS run_cnt
      |FROM g JOIN c ON g.o_orderpriority = c.o_orderpriority AND g.dr = c.dr
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    engine(spark, dir).executeStatement(groupsCteSql)
  }

  // ---------------------------------------------------------------- q64
  // GROUPS frames inside a named WINDOW clause (definitions are inlined
  // into their OVER references before marking). Oracle: q63's per-peer-group derivation
  // with the 1 PRECEDING..1 FOLLOWING frame.
  private val groupsNamedWindowSql =
    """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS grp_sum,
      |  CAST(COUNT(*) OVER w AS BIGINT) AS peer_cnt
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate
      |  GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
      |ORDER BY o_orderkey""".stripMargin
  val q64 = Q.df(
    "q64_groups_named_window",
    """WITH g AS (SELECT o_orderkey, o_orderpriority,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS tp,
      |    DENSE_RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate) AS dr
      |  FROM orders),
      |s AS (SELECT o_orderpriority, dr, SUM(tp) AS gsum, COUNT(*) AS gcnt
      |  FROM g GROUP BY o_orderpriority, dr),
      |c AS (SELECT o_orderpriority, dr,
      |    SUM(gsum) OVER (PARTITION BY o_orderpriority ORDER BY dr
      |      RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS w_sum,
      |    SUM(gcnt) OVER (PARTITION BY o_orderpriority ORDER BY dr
      |      RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS w_cnt
      |  FROM s)
      |SELECT CAST(g.o_orderkey AS BIGINT) AS o_orderkey,
      |  CAST(c.w_sum AS DOUBLE) AS grp_sum, CAST(c.w_cnt AS BIGINT) AS peer_cnt
      |FROM g JOIN c ON g.o_orderpriority = c.o_orderpriority AND g.dr = c.dr
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    engine(spark, dir).executeStatement(groupsNamedWindowSql)
  }

  // ---------------------------------------------------------------- q65
  // GROUPS frames over a grouped query: the GroupsFrames rule rewrites
  // the Window above the Aggregate. The window orders by YEAR so peer
  // groups span many aggregated rows — true GROUPS, not ROWS. MAX keeps
  // the double column order-insensitive; the running count is exact
  // BIGINT arithmetic.
  private val groupsGroupBySql =
    """SELECT o_orderpriority, o_orderdate, COUNT(*) AS day_cnt,
      |  SUM(COUNT(*)) OVER (PARTITION BY o_orderpriority ORDER BY YEAR(o_orderdate)
      |    GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS roll_cnt,
      |  MAX(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)) OVER (
      |    PARTITION BY o_orderpriority ORDER BY YEAR(o_orderdate)
      |    GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS max_day_sum
      |FROM orders
      |GROUP BY o_orderpriority, o_orderdate
      |ORDER BY o_orderpriority, o_orderdate""".stripMargin
  val q65 = Q.df(
    "q65_groups_group_by",
    """WITH d AS (
      |  SELECT o_orderpriority, o_orderdate, COUNT(*) AS day_cnt,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS day_sum,
      |    YEAR(o_orderdate) AS yr
      |  FROM orders GROUP BY o_orderpriority, o_orderdate),
      |g AS (SELECT *, DENSE_RANK() OVER (PARTITION BY o_orderpriority ORDER BY yr) AS dr
      |  FROM d),
      |s AS (SELECT o_orderpriority, dr, SUM(day_cnt) AS ycnt, MAX(day_sum) AS ymax
      |  FROM g GROUP BY o_orderpriority, dr),
      |c AS (SELECT o_orderpriority, dr,
      |    SUM(ycnt) OVER (PARTITION BY o_orderpriority ORDER BY dr
      |      RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS w_cnt,
      |    MAX(ymax) OVER (PARTITION BY o_orderpriority ORDER BY dr
      |      RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS w_max
      |  FROM s)
      |SELECT g.o_orderpriority, g.o_orderdate, CAST(g.day_cnt AS BIGINT) AS day_cnt,
      |  CAST(c.w_cnt AS BIGINT) AS roll_cnt, c.w_max AS max_day_sum
      |FROM g JOIN c ON g.o_orderpriority = c.o_orderpriority AND g.dr = c.dr
      |ORDER BY g.o_orderpriority, g.o_orderdate""".stripMargin) { (spark, dir) =>
    engine(spark, dir).executeStatement(groupsGroupBySql)
  }

  // ---------------------------------------------------------------- q66
  // SQL MEDIAN / PERCENTILE_CONT through the engine: PercentilePlanner
  // routes this shape through the sort-based rank selection (no
  // per-group value buffer — PlanSpec asserts it), and the result must
  // still hash-match DuckDB's percentile_cont bit-for-bit: both sides
  // interpolate lower·(1−frac) + upper·frac (the r04 formula fix this
  // row exposed the need for). Aggregates are deliberately UNrounded so
  // the fast path engages and the parity is pinned raw; DESC included —
  // native descending ranks share the buffered plan's frac arithmetic
  // for every p. The SAME string is the engine input and the oracle: the
  // invariant IS that the two engines agree on it verbatim.
  private val sqlPercentiles =
    """SELECT l_returnflag,
      |  MEDIAN(l_quantity) AS med_qty,
      |  PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY l_extendedprice) AS q1_price,
      |  PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY l_extendedprice DESC) AS q3_price
      |FROM lineitem
      |WHERE l_quantity > 5
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin
  val q66 = Q.df("q66_sql_percentiles", sqlPercentiles) { (spark, dir) =>
    engine(spark, dir).executeStatement(sqlPercentiles)
  }

  // ---------------------------------------------------------------- q67
  // GROUPS window inside a `(SELECT …)` DERIVED TABLE. The derived
  // table computes the GROUPS rolling sum per order-date peer group; the
  // outer query filters and re-projects it, so the rule rewrites a
  // Window below the outer scope's filter. The oracle derives the frame
  // per peer group exactly as q59 does (DuckDB
  // has no GROUPS mode either).
  private val groupsSubquerySql =
    """SELECT CAST(d.o_orderkey AS BIGINT) AS o_orderkey, d.grp_sum
      |FROM (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |      PARTITION BY o_orderpriority ORDER BY o_orderdate
      |      GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS DOUBLE) AS grp_sum
      |  FROM orders) d
      |WHERE d.o_custkey % 10 = 0
      |ORDER BY o_orderkey""".stripMargin
  val q67 = Q.df(
    "q67_groups_subquery",
    """WITH g AS (SELECT o_orderkey, o_custkey, o_orderpriority,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS tp,
      |    DENSE_RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate) AS dr
      |  FROM orders),
      |s AS (SELECT o_orderpriority, dr, SUM(tp) AS gsum
      |  FROM g GROUP BY o_orderpriority, dr),
      |c AS (SELECT o_orderpriority, dr,
      |    SUM(gsum) OVER (PARTITION BY o_orderpriority ORDER BY dr
      |      RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS w_sum
      |  FROM s)
      |SELECT CAST(g.o_orderkey AS BIGINT) AS o_orderkey,
      |  CAST(c.w_sum AS DOUBLE) AS grp_sum
      |FROM g JOIN c ON g.o_orderpriority = c.o_orderpriority AND g.dr = c.dr
      |WHERE g.o_custkey % 10 = 0
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    engine(spark, dir).executeStatement(groupsSubquerySql)
  }

  // ---------------------------------------------------------------- q71
  // GROUPS window inside an IN subquery: the rule rewrites Windows
  // inside subquery plans too. The
  // IN-list is the set of running peer-group counts over orders; rows
  // whose custkey appears in that set survive. Deterministic: the SET of
  // counts is well-defined regardless of intra-peer-group order. The
  // oracle derives the frame per peer group exactly as q59 does (DuckDB
  // has no GROUPS mode either).
  private val groupsInSubquerySql =
    """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey
      |FROM orders
      |WHERE o_custkey IN (
      |  SELECT CAST(COUNT(*) OVER (
      |    PARTITION BY o_orderpriority ORDER BY o_orderdate
      |    GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |  FROM orders)
      |ORDER BY o_orderkey""".stripMargin
  val q71 = Q.df(
    "q71_groups_in_subquery",
    """WITH g AS (SELECT o_orderpriority,
      |    DENSE_RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate) AS dr
      |  FROM orders),
      |s AS (SELECT o_orderpriority, dr, COUNT(*) AS gcnt
      |  FROM g GROUP BY o_orderpriority, dr),
      |c AS (SELECT CAST(SUM(gcnt) OVER (PARTITION BY o_orderpriority ORDER BY dr
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS w_cnt
      |  FROM s)
      |SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey
      |FROM orders
      |WHERE o_custkey IN (SELECT w_cnt FROM c)
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    engine(spark, dir).executeStatement(groupsInSubquerySql)
  }

  // ---------------------------------------------------------------- q68
  // MEDIAN/PERCENTILE_CONT over a two-table join with a mixed aggregate
  // list and HAVING — the shapes the r04 regex planner bailed on (its
  // fallback re-opened the buffered per-group-value plan for any
  // non-trivial SQL, VERDICT r04 next #2). The r05 plan-level rewrite
  // routes the percentiles through the sort-based rank selection and
  // the residual COUNT through a bounded Aggregate (PlanSpec asserts no
  // buffered Percentile/Median); aggregates stay UNrounded so the
  // bitwise parity with DuckDB is pinned raw, as in q66.
  private val sqlMedianJoin =
    """SELECT o_orderpriority,
      |  MEDIAN(l_extendedprice) AS med_price,
      |  PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY l_quantity) AS p90_qty,
      |  COUNT(*) AS n
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |HAVING COUNT(*) > 10
      |ORDER BY o_orderpriority""".stripMargin
  val q68 = Q.df("q68_median_join", sqlMedianJoin) { (spark, dir) =>
    engine(spark, dir).executeStatement(sqlMedianJoin)
  }

  // ---------------------------------------------------------------- q72
  // Mixed percentile + residual aggregate list, SINGLE-PASS (VERDICT r05
  // next #2): SUM/AVG/MIN beside MEDIAN/PERCENTILE_CONT ride the melted
  // rank-selection scan as payload columns — no second aggregation of
  // the join, no join-back (PlanSpec pins 2 scans: one per table).
  // Determinism: SUM(double) routes through DECIMAL per the Q contract;
  // AVG(l_quantity) is raw — quantities are integer-valued, so the sum
  // is order-exact in double and both engines divide once.
  private val sqlMixedSinglePass =
    """SELECT o_orderpriority,
      |  MEDIAN(l_extendedprice) AS med_price,
      |  PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY l_quantity) AS p75_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  AVG(l_quantity) AS avg_qty,
      |  MIN(l_extendedprice) AS min_price,
      |  COUNT(*) AS n
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin
  val q72 = Q.df("q72_mixed_single_pass", sqlMixedSinglePass) { (spark, dir) =>
    engine(spark, dir).executeStatement(sqlMixedSinglePass)
  }

  // ---------------------------------------------------------------- q70
  // ORDER BY inside array_agg/string_agg (SURVEY §2.4 — DataFusion
  // accepts the inline form; Spark has no ordered collect_list). The
  // engine rewrites both onto the comparator-sorted keyed-struct list
  // (r05, same machinery as aggregate first/last); DuckDB evaluates the
  // inline form natively. Keys are unique per group (n_name), making the
  // layouts deterministic. The ordered array is projected through
  // array_join (DuckDB: array_to_string) so the result carries NO raw
  // array column — the driver's comparator sorts result cells and cannot
  // hash arrays (r05 q70 err; VERDICT r05 Next #1). The inline-ORDER-BY
  // rewrite under test is unchanged: the join is applied OUTSIDE the
  // aggregate, after the ordered list is built.
  private val orderedAggSpark =
    """SELECT CAST(n_regionkey AS INT) AS rk,
      |  array_join(array_agg(n_name ORDER BY n_name DESC), '|') AS names,
      |  string_agg(n_name, '|' ORDER BY n_name) AS joined
      |FROM nation GROUP BY n_regionkey ORDER BY rk""".stripMargin
  private val orderedAggDuck =
    """SELECT CAST(n_regionkey AS INT) AS rk,
      |  array_to_string(array_agg(n_name ORDER BY n_name DESC), '|') AS names,
      |  string_agg(n_name, '|' ORDER BY n_name) AS joined
      |FROM nation GROUP BY n_regionkey ORDER BY rk""".stripMargin
  val q70 = Q.df("q70_ordered_agg", orderedAggDuck) { (spark, dir) =>
    engine(spark, dir).executeStatement(orderedAggSpark)
  }

  def defs: Seq[Q] = Seq(q54, q55, q56, q57, q59, q60, q61, q62, q63, q64,
    q65, q66, q67, q68, q70, q71, q72)
}
