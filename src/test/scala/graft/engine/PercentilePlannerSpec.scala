package graft.engine

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSessions
import graft.tables.Tables

/**
 * SQL MEDIAN/PERCENTILE_CONT must plan the sort-based rank selection
 * (no per-group value buffer) wherever an Aggregate carries a supported
 * percentile — since r05 the match is on the optimized logical plan, so
 * joins, CTEs, HAVING, derived tables and mixed aggregate lists all
 * qualify (VERDICT r04 next #2) — with bit-identical results to Spark's
 * buffered aggregates, and fall back cleanly for anything unsupported.
 */
class PercentilePlannerSpec extends AnyFunSuite {
  private lazy val spark = TestSessions.spark
  private lazy val engine = new SqlEngine(spark)

  private def withTables[A](f: => A): A = {
    Tables.load(spark, TestSessions.sf001, "lineitem")
      .createOrReplaceTempView("lineitem")
    Tables.load(spark, TestSessions.sf001, "orders")
      .createOrReplaceTempView("orders")
    try f finally {
      spark.catalog.dropTempView("lineitem")
      spark.catalog.dropTempView("orders")
    }
  }

  /** Engages, carries no buffered percentile, matches buffered bitwise. */
  private def assertScalePlan(sql: String): Unit = {
    val fast = PercentilePlanner.rewrite(spark, spark.sql(sql))
    assert(fast.isDefined, s"fast path did not engage on: $sql")
    val plan = fast.get.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("percentile") && !plan.contains("Median"),
      s"buffered aggregate leaked into the scale plan:\n$plan")
    val buffered = spark.sql(sql).collect()
    val ours = fast.get.collect()
    assert(ours.sameElements(buffered),
      s"fast=${ours.mkString} buffered=${buffered.mkString} for: $sql")
  }

  private val sql =
    """SELECT l_returnflag,
      |  MEDIAN(l_quantity) AS med_qty,
      |  PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY l_extendedprice) AS q1_price
      |FROM lineitem
      |WHERE l_quantity > 5
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  test("supported shape takes the scale plan and matches the buffered result") {
    withTables { assertScalePlan(sql) }
  }

  test("the engine routes matching SQL through the scale plan end-to-end") {
    withTables {
      val df = engine.executeStatement(sql)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.toLowerCase.contains("percentile") && !plan.contains("Median"), plan)
      assert(df.count() > 0)
    }
  }

  test("DESC ordering ranks descending natively") {
    withTables {
      assertScalePlan(
        """SELECT l_returnflag,
          |  PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY l_extendedprice DESC) AS p
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }
  }

  test("non-dyadic DESC is bitwise (native desc ranks, not the 1-p shortcut)") {
    withTables {
      // p=0.1: the 1-p complement evaluates frac at 0.9*(n-1), which
      // rounds differently than the buffered 0.1*(n-1)-from-the-top —
      // native desc ranks share the buffered arithmetic exactly
      assertScalePlan(
        """SELECT l_returnflag,
          |  PERCENTILE_CONT(0.1) WITHIN GROUP (ORDER BY l_extendedprice DESC) AS p
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }
  }

  test("ungrouped global percentiles take the fast path") {
    withTables {
      assertScalePlan("SELECT MEDIAN(l_quantity) AS m, " +
        "PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY l_extendedprice) AS p " +
        "FROM lineitem WHERE l_quantity > 5")
    }
  }

  test("HAVING qualifies (plan-level match, r05)") {
    withTables {
      assertScalePlan(sql.replace("GROUP BY l_returnflag",
        "GROUP BY l_returnflag HAVING COUNT(*) > 0"))
    }
  }

  test("mixed aggregate lists split into pipeline + bounded residual aggregate") {
    withTables {
      assertScalePlan(
        """SELECT l_returnflag, MEDIAN(l_quantity) AS m, SUM(l_quantity) AS s,
          |  COUNT(*) AS c
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }
  }

  /** Count the parquet scans in the executed plan. */
  private def scanCount(df: org.apache.spark.sql.DataFrame): Int =
    "FileScan parquet".r
      .findAllIn(df.queryExecution.executedPlan.toString).length

  test("mixed aggregates are SINGLE-PASS: residuals ride the melted scan (r06)") {
    withTables {
      // SUM/AVG/MIN/MAX/COUNT(col) beside two percentiles: ONE scan of
      // lineitem, no residual re-aggregation join (VERDICT r05 next #2).
      // l_quantity is integer-valued, so double sums are order-exact.
      val mixed =
        """SELECT l_returnflag, MEDIAN(l_quantity) AS m,
          |  PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY l_extendedprice) AS p90,
          |  SUM(l_quantity) AS s, AVG(l_quantity) AS a,
          |  MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx,
          |  COUNT(l_linestatus) AS nc, COUNT(*) AS n
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
      val fast = PercentilePlanner.rewrite(spark, spark.sql(mixed))
      assert(fast.isDefined)
      assert(scanCount(fast.get) == 1,
        s"expected ONE scan, got:\n${fast.get.queryExecution.executedPlan}")
      assert(fast.get.collect().sameElements(spark.sql(mixed).collect()))
    }
  }

  test("FILTER and DISTINCT residual aggregates ride the melt too") {
    withTables {
      val q =
        """SELECT l_returnflag, MEDIAN(l_quantity) AS m,
          |  SUM(l_quantity) FILTER (WHERE l_linenumber <= 2) AS s2,
          |  COUNT(DISTINCT l_linenumber) AS dl
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
      val fast = PercentilePlanner.rewrite(spark, spark.sql(q))
      assert(fast.isDefined)
      assert(scanCount(fast.get) == 1,
        s"expected ONE scan, got:\n${fast.get.queryExecution.executedPlan}")
      assert(fast.get.collect().sameElements(spark.sql(q).collect()))
    }
  }

  test("percentiles nested inside expressions become rank-selection specs") {
    withTables {
      // MEDIAN(x) + 1 used to keep the buffered per-group-unbounded
      // Median via the residual branch; now it rides as its own spec
      val q =
        """SELECT l_returnflag, MEDIAN(l_quantity) + 1 AS m1,
          |  ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY l_quantity) / 2, 3) AS h
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
      assertScalePlan(q)
      assert(scanCount(PercentilePlanner.rewrite(spark, spark.sql(q)).get) == 1)
    }
  }

  test("ROLLUP + ridden residuals: riders aggregate the Expand output correctly") {
    withTables {
      // the melt runs OVER the Expand, so each grouping set's rider sees
      // exactly its expanded rows — same semantics as the buffered plan
      assertScalePlan(
        """SELECT l_returnflag, MEDIAN(l_quantity) AS m, SUM(l_quantity) AS s,
          |  COUNT(*) AS n
          |FROM lineitem GROUP BY ROLLUP(l_returnflag)
          |ORDER BY l_returnflag NULLS FIRST""".stripMargin)
    }
  }

  test("global empty input: ridden count-like aggregates answer their defaults") {
    withTables {
      val q =
        """SELECT MEDIAN(l_quantity) AS m, SUM(l_quantity) AS s,
          |  COUNT(l_quantity) AS c, COUNT(*) AS n
          |FROM lineitem WHERE l_quantity < 0""".stripMargin
      val fast = PercentilePlanner.rewrite(spark, spark.sql(q))
      assert(fast.isDefined)
      assert(fast.get.collect().sameElements(spark.sql(q).collect()),
        "empty-input defaults (null, null, 0, 0) must match the buffered plan")
    }
  }

  test("a grouped percentile runs no job while planning") {
    // perfbench's percentile template: the GROUP BY alone picks the
    // default sort, so neither the engine's 32 slices nor the test
    // session's 4 make planning run the bounds probe or a job (the
    // synchronous probeRuns counter pins the probe; a fresh literal per
    // run keeps a memoized probe from hiding one)
    Tables.load(spark, TestSessions.sf001, "customer")
      .createOrReplaceTempView("customer")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try for ((slices, key) <- Seq("32" -> 7, "4" -> 11)) {
      spark.conf.set("spark.sql.shuffle.partitions", slices)
      val q = s"""SELECT c_mktsegment, MEDIAN(c_acctbal) AS med_bal,
        PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY c_acctbal) AS p90_bal
        FROM customer WHERE c_nationkey = $key
        GROUP BY c_mktsegment ORDER BY c_mktsegment"""
      val runs = graft.ops.Percentiles.probeRuns.get()
      var df: org.apache.spark.sql.DataFrame = null
      val jobs = TestSessions.jobsOf(spark) { df = engine.executeStatement(q) }
      assert(graft.ops.Percentiles.probeRuns.get() == runs,
        s"planning ran the bounds probe at $slices slices")
      assert(jobs == 0, s"planning started $jobs jobs at $slices slices")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("__pct_b"), s"range mode at $slices slices:\n$plan")
      assert(!plan.toLowerCase.contains("percentile") && !plan.contains("Median"), plan)
      assert(df.collect().sameElements(spark.sql(q).collect()))
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", before)
      spark.catalog.dropTempView("customer")
    }
  }

  test("joins qualify (the r04 regex bailed on these)") {
    withTables {
      assertScalePlan(
        """SELECT o_orderpriority, MEDIAN(l_quantity) AS m
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }
  }

  test("CTEs, derived tables, and expression group keys qualify") {
    withTables {
      assertScalePlan(
        """WITH big AS (SELECT * FROM lineitem WHERE l_quantity > 10)
          |SELECT l_returnflag, MEDIAN(l_extendedprice) AS m
          |FROM big GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      assertScalePlan(
        """SELECT l_returnflag, MEDIAN(l_quantity) AS m
          |FROM (SELECT * FROM lineitem WHERE l_linenumber <= 4)
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      assertScalePlan(
        """SELECT l_linenumber % 2 AS odd, MEDIAN(l_quantity) AS m
          |FROM lineitem GROUP BY l_linenumber % 2 ORDER BY odd""".stripMargin)
      // the string function replace() must not read as REPLACE-TABLE DML
      assertScalePlan(
        """SELECT replace(l_returnflag, 'N', 'X') AS k, MEDIAN(l_quantity) AS m
          |FROM lineitem GROUP BY replace(l_returnflag, 'N', 'X') ORDER BY k""".stripMargin)
    }
  }

  test("compositions above and beside the rewritten Aggregate resolve") {
    withTables {
      // two Aggregates under one UNION ALL: both rewrite independently
      assertScalePlan(
        """SELECT l_returnflag AS k, MEDIAN(l_quantity) AS m
          |FROM lineitem GROUP BY l_returnflag
          |UNION ALL
          |SELECT o_orderpriority AS k, MEDIAN(o_totalprice) AS m
          |FROM orders GROUP BY o_orderpriority
          |ORDER BY k, m""".stripMargin)
      // a window function ABOVE the rewritten aggregate references its
      // pinned output attributes
      assertScalePlan(
        """SELECT l_returnflag, m, RANK() OVER (ORDER BY m) AS r FROM (
          |  SELECT l_returnflag, MEDIAN(l_extendedprice) AS m
          |  FROM lineitem GROUP BY l_returnflag)
          |ORDER BY l_returnflag""".stripMargin)
      // ORDER BY + LIMIT on the percentile output
      assertScalePlan(
        """SELECT l_returnflag, MEDIAN(l_quantity) AS m
          |FROM lineitem GROUP BY l_returnflag ORDER BY m DESC LIMIT 2""".stripMargin)
      // nested aggregation over a rewritten inner aggregate
      assertScalePlan(
        """SELECT MAX(m) AS mx, MIN(m) AS mn FROM (
          |  SELECT l_returnflag, MEDIAN(l_quantity) AS m
          |  FROM lineitem GROUP BY l_returnflag)""".stripMargin)
      // a percentile appearing ONLY in HAVING (analyzer appends it to
      // the Aggregate and projects it away above)
      assertScalePlan(
        """SELECT l_returnflag, SUM(l_quantity) AS s
          |FROM lineitem GROUP BY l_returnflag
          |HAVING MEDIAN(l_quantity) > 10 ORDER BY l_returnflag""".stripMargin)
      // ROLLUP: the Aggregate sits above an Expand; the pipeline groups
      // by the expanded attrs + grouping id, one percentile per set
      assertScalePlan(
        """SELECT l_returnflag, MEDIAN(l_quantity) AS m
          |FROM lineitem GROUP BY ROLLUP(l_returnflag)
          |ORDER BY l_returnflag NULLS FIRST""".stripMargin)
      // a percentile inside a scalar-subquery EXPRESSION stays buffered
      // (subquery plans are out of the main-tree rewrite) but must still
      // answer — and the outer aggregate rewrites
      val mixed =
        """SELECT l_returnflag, MEDIAN(l_quantity) AS m,
          |  (SELECT MEDIAN(o_totalprice) FROM orders) AS global_med
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
      val fast = PercentilePlanner.rewrite(spark, spark.sql(mixed))
      assert(fast.isDefined)
      assert(fast.get.collect().sameElements(spark.sql(mixed).collect()))
    }
  }

  test("frequency-weighted percentiles take the weighted rank selection (r05)") {
    withTables {
      // constant and column frequencies, grouped and global — every one
      // must match the buffered frequency-weighted Percentile bitwise
      assertScalePlan(
        """SELECT l_returnflag, percentile(l_quantity, 0.5, 2) AS m
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      assertScalePlan(
        """SELECT l_returnflag,
          |  percentile(l_extendedprice, 0.35, l_linenumber) AS m
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      assertScalePlan(
        "SELECT percentile(l_extendedprice, 0.9, l_linenumber) AS m FROM lineitem")
      // mixed weighted + unweighted + COUNT(*) (count falls back to the
      // residual branch when any spec is weighted)
      assertScalePlan(
        """SELECT l_returnflag, MEDIAN(l_quantity) AS m,
          |  percentile(l_quantity, 0.5, l_linenumber) AS wm, COUNT(*) AS c
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }
  }

  test("global aggregate over empty input still emits its one null row") {
    withTables {
      val q = "SELECT MEDIAN(l_quantity) AS m FROM lineitem WHERE l_quantity < 0"
      val fast = PercentilePlanner.rewrite(spark, spark.sql(q))
      assert(fast.isDefined)
      val rows = fast.get.collect()
      assert(rows.length == 1 && rows(0).isNullAt(0),
        s"expected one null row, got ${rows.mkString}")
    }
  }

  test("unsupported shapes fall back (None), never error") {
    withTables {
      val shapes = Seq(
        // window form — no Aggregate node carries a percentile
        "SELECT l_returnflag, MEDIAN(l_quantity) OVER () AS m FROM lineitem",
        // DISTINCT percentile keeps the buffered form
        "SELECT percentile(DISTINCT l_quantity, 0.5) AS m FROM lineitem GROUP BY l_returnflag",
        // array-of-percentages keeps the buffered form
        "SELECT percentile(l_quantity, array(0.25, 0.5)) AS m FROM lineitem GROUP BY l_returnflag")
      shapes.foreach { s =>
        assert(PercentilePlanner.rewrite(spark, spark.sql(s)).isEmpty, s"engaged on: $s")
      }
      // a nondeterministic child would feed each rewrite branch a
      // different sample — buffered plan stays (r05 review)
      assert(PercentilePlanner.rewrite(spark, spark.sql(
        """SELECT l_returnflag, MEDIAN(l_quantity) AS m, SUM(l_quantity) AS s
          |FROM (SELECT * FROM lineitem WHERE rand() < 0.5)
          |GROUP BY l_returnflag""".stripMargin)).isEmpty,
        "engaged on a nondeterministic child")
      // and the buffered path still answers the DISTINCT form
      assert(engine.executeStatement(shapes(1)).count() > 0)
    }
  }

  test("DDL/DML with a percentile runs exactly once through the engine") {
    // spark.sql runs a command eagerly, once; the planner then sees its
    // CommandResult, which carries no Aggregate to rewrite
    withTables {
      spark.sql("DROP TABLE IF EXISTS med_ctas")
      spark.sql("DROP TABLE IF EXISTS med_sink")
      val dir = java.nio.file.Files.createTempDirectory("graft_med_dir").toString
      try {
        val median = "SELECT MEDIAN(l_quantity) AS m FROM lineitem"
        val expected = spark.sql(median).collect().toSeq
        // a second run of the CTAS would fail on the existing table
        engine.executeStatement(s"CREATE TABLE med_ctas USING parquet AS $median")
        assert(spark.table("med_ctas").collect().toSeq == expected)
        // WITH-prefixed DML is still DML: running it twice would insert
        // two rows (r05 review)
        spark.sql("CREATE TABLE med_sink(v DOUBLE) USING parquet")
        engine.executeStatement(
          "WITH m AS (SELECT MEDIAN(l_quantity) AS v FROM lineitem) " +
            "INSERT INTO med_sink SELECT v FROM m")
        assert(spark.table("med_sink").count() == 1,
          "the engine must run the statement exactly once")
        // INSERT OVERWRITE DIRECTORY (an InsertIntoDir node, neither
        // Command nor ParsedStatement in Spark 4.1's grammar)
        engine.executeStatement(s"INSERT OVERWRITE DIRECTORY '$dir/out' USING parquet $median")
        assert(spark.read.parquet(s"$dir/out").collect().toSeq == expected)
        // v1 parquet tables reject row-level DML: Spark's error surfaces
        // and the target keeps its one row
        Seq(
          "MERGE INTO med_sink USING lineitem ON 1 = 1 WHEN MATCHED THEN DELETE",
          "UPDATE med_sink SET v = (SELECT MEDIAN(l_quantity) FROM lineitem)",
          "DELETE FROM med_sink WHERE v > (SELECT MEDIAN(l_quantity) FROM lineitem)"
        ).foreach { s =>
          intercept[Exception](engine.executeStatement(s))
          assert(spark.table("med_sink").count() == 1, s"target changed by: $s")
        }
      } finally {
        spark.sql("DROP TABLE IF EXISTS med_ctas")
        spark.sql("DROP TABLE IF EXISTS med_sink")
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      }
    }
  }

  test("percentiles behind a view take the scale plan through the engine") {
    withTables {
      spark.sql(
        """CREATE OR REPLACE TEMP VIEW med_by_flag AS
          |SELECT l_returnflag, MEDIAN(l_quantity) AS m
          |FROM lineitem GROUP BY l_returnflag""".stripMargin)
      try {
        val q = "SELECT * FROM med_by_flag ORDER BY l_returnflag"
        val df = engine.executeStatement(q)
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.toLowerCase.contains("percentile") && !plan.contains("Median"), plan)
        assert(df.collect().sameElements(spark.sql(q).collect()))
      } finally spark.catalog.dropTempView("med_by_flag")
    }
  }

  test("dialect-only WHERE: Spark rejects the raw text, the engine still scale-plans it") {
    withTables {
      // SIMILAR TO is not Spark SQL: spark.sql rejects the raw text, so
      // the planner never sees it (VERDICT r04 next #7)...
      val dialect =
        """SELECT l_returnflag, MEDIAN(l_quantity) AS m
          |FROM lineitem WHERE l_returnflag SIMILAR TO '(A|R)'
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
      intercept[org.apache.spark.sql.catalyst.parser.ParseException](spark.sql(dialect))
      // ...while the engine translates the dialect FIRST and then takes
      // the scale plan (r05 ordering)
      val df = engine.executeStatement(dialect)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.toLowerCase.contains("percentile") && !plan.contains("Median"), plan)
      val expected = spark.sql(
        """SELECT l_returnflag, MEDIAN(l_quantity) AS m
          |FROM lineitem WHERE l_returnflag IN ('A', 'R')
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin).collect()
      assert(df.collect().sameElements(expected))
    }
  }
}
