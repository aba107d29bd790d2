package graft.engine

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SimpleMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSessions
import graft.tables.Tables

/** [[ParamLiterals]] changes generated code only: every statement returns
  * the same rows, raises the same error and prints the same plan on the
  * test session (which carries the extension) as on a session of the same
  * context built without it. */
class ParamLiteralSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSessions.spark.newSession()
  private lazy val plain = TestSessions.plain.newSession()

  /** Every type whose literal the rule replaces, with NULLs, NaN, ±Infinity,
    * −0.0, the integral extremes and dates and times before 1970. */
  private lazy val table: String = {
    val dir = java.nio.file.Files.createTempDirectory("param_literal").resolve("t").toString
    spark.sql("""SELECT * FROM VALUES
      (1, 0, 0L, 0S, 0Y, 0.0F, 0.0D, DATE '1970-01-01', TIMESTAMP '1970-01-01 00:00:00',
        TIMESTAMP_NTZ '1970-01-01 00:00:00', '7'),
      (2, -1, -1L, -1S, -1Y, CAST('-0.0' AS FLOAT), CAST('-0.0' AS DOUBLE), DATE '1969-12-31',
        TIMESTAMP '1969-12-31 23:59:59.999999', TIMESTAMP_NTZ '1969-12-31 23:59:59.999999', '12'),
      (3, 2147483647, 9223372036854775807L, 32767S, 127Y, CAST('NaN' AS FLOAT),
        CAST('NaN' AS DOUBLE), DATE '1900-01-01', TIMESTAMP '1900-01-01 00:00:00',
        TIMESTAMP_NTZ '1900-01-01 00:00:00', 'x'),
      (4, -2147483648, CAST('-9223372036854775808' AS BIGINT), -32768S, -128Y,
        CAST('Infinity' AS FLOAT), CAST('Infinity' AS DOUBLE), DATE '2024-02-29',
        TIMESTAMP '2024-02-29 12:34:56.789', TIMESTAMP_NTZ '2024-02-29 12:34:56.789', '3'),
      (5, 5, 5L, 5S, 5Y, CAST('-Infinity' AS FLOAT), CAST('-Infinity' AS DOUBLE),
        DATE '1000-03-01', TIMESTAMP '1000-03-01 06:00:00', TIMESTAMP_NTZ '1000-03-01 06:00:00', '5'),
      (6, 7, 123456789012L, 7S, 42Y, CAST('1.5' AS FLOAT), 1.5D, DATE '2000-06-15',
        TIMESTAMP '2000-06-15 08:30:00', TIMESTAMP_NTZ '2000-06-15 08:30:00', NULL),
      (7, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
      (8, 42, 42L, 100S, 42Y, CAST('3.4028235E38' AS FLOAT), 4.9E-324D, DATE '1969-01-01',
        TIMESTAMP '1960-06-01 12:00:00', TIMESTAMP_NTZ '1960-06-01 12:00:00', '-4')
      AS t(id, i, l, s, b, f, d, dt, ts, ntz, str)""").write.parquet(dir)
    Seq(spark, plain).foreach(_.read.parquet(dir).createOrReplaceTempView("pl"))
    "pl"
  }

  /** Column → literals compared with it, each of the column's type. */
  private val literals: Seq[(String, DataType, Seq[String])] = Seq(
    ("i", IntegerType, Seq("0", "-1", "5", "-2147483648", "2147483647")),
    ("l", LongType, Seq("0L", "CAST('-9223372036854775808' AS BIGINT)", "9223372036854775807L", "42L")),
    ("s", ShortType, Seq("0S", "-1S", "7S", "-32768S")),
    ("b", ByteType, Seq("0Y", "42Y", "-128Y")),
    ("f", FloatType, Seq("CAST('NaN' AS FLOAT)", "CAST('Infinity' AS FLOAT)",
      "CAST('-Infinity' AS FLOAT)", "CAST('-0.0' AS FLOAT)", "CAST('1.5' AS FLOAT)")),
    ("d", DoubleType, Seq("CAST('NaN' AS DOUBLE)", "CAST('Infinity' AS DOUBLE)",
      "CAST('-Infinity' AS DOUBLE)", "CAST('-0.0' AS DOUBLE)", "0.0D", "1.5D", "4.9E-324D")),
    ("dt", DateType, Seq("DATE '1969-12-31'", "DATE '1900-01-01'", "DATE '2024-02-29'")),
    ("ts", TimestampType, Seq("TIMESTAMP '1969-12-31 23:59:59.999999'",
      "TIMESTAMP '2024-02-29 12:34:56.789'")),
    ("ntz", TimestampNTZType, Seq("TIMESTAMP_NTZ '1969-12-31 23:59:59.999999'",
      "TIMESTAMP_NTZ '1900-01-01 00:00:00'")))

  private val operators = Seq("=", "<>", "<", "<=", ">", ">=", "<=>")

  /** Rows as sorted strings, or the Spark error's condition and message. */
  private def outcome(s: SparkSession, q: String): Either[String, Seq[String]] =
    try Right(s.sql(q).collect().map(_.toString).toSeq.sorted)
    catch {
      case e: Exception =>
        Left(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
          case t: SparkThrowable if t.getCondition != null => s"${t.getCondition}: ${t.getMessage}"
        }.getOrElse(e.toString))
    }

  private def params(plan: SparkPlan): Seq[ParamLiteral] =
    collectWithSubqueries(plan) { case p => p.expressions }.flatten
      .flatMap(_.collect { case p: ParamLiteral => p })

  private def executed(s: SparkSession, q: String): SparkPlan = {
    val df = s.sql(q)
    df.collect()
    df.queryExecution.executedPlan
  }

  test("the test session carries the extension, the plain session does not, same confs") {
    Seq("spark.sql.ansi.enabled", "spark.sql.session.timeZone", "spark.sql.shuffle.partitions")
      .foreach(k => assert(spark.conf.get(k) == plain.conf.get(k), k))
    val q = s"SELECT id FROM $table WHERE l > 5L"
    assert(params(executed(spark, q)).map(_.dataType) == Seq(LongType))
    assert(params(executed(plain, q)).isEmpty)
  }

  test("comparisons in WHERE give the same rows for every replaced type and special value") {
    for ((col, t, lits) <- literals; lit <- lits) {
      val q = operators.map(op =>
        s"SELECT id, '$op' AS op FROM $table WHERE $col $op $lit").mkString(" UNION ALL ")
      val ours = outcome(spark, q)
      assert(ours.isRight, s"$q: $ours")
      assert(ours == outcome(plain, q), q)
      assert(params(executed(spark, q)).exists(_.dataType == t), s"no $t parameter in: $q")
    }
  }

  test("comparisons in a projection and inside CASE give the same values") {
    for ((col, t, lits) <- literals) {
      val cols = lits.zipWithIndex.flatMap { case (lit, n) =>
        operators.zipWithIndex.map { case (op, m) => s"$col $op $lit AS c${n}_$m" } :+
          s"CASE WHEN $col > $lit THEN 'gt' WHEN $col = $lit THEN 'eq' " +
            s"WHEN $col IS NULL THEN 'null' ELSE 'lt' END AS w$n"
      }
      val q = s"SELECT id, ${cols.mkString(", ")} FROM $table"
      val ours = outcome(spark, q)
      assert(ours.isRight, s"$q: $ours")
      assert(ours == outcome(plain, q), q)
      assert(params(executed(spark, q)).exists(_.dataType == t), s"no $t parameter in: $q")
    }
  }

  test("ANSI errors next to a replaced literal carry the same message") {
    val failing = Seq(
      s"SELECT id FROM $table WHERE i + 2147483647 > 5",
      s"SELECT id FROM $table WHERE CAST(str AS INT) > 3",
      s"SELECT id FROM $table WHERE 10 / (i - i) > 1.5D",
      s"SELECT id, CASE WHEN l * 2L > 5L THEN 1 ELSE 0 END AS c FROM $table",
      s"SELECT id FROM $table WHERE dt > DATE '1970-01-01' AND CAST(str AS DATE) < DATE '2000-01-01'")
    for (q <- failing) {
      val ours = outcome(spark, q)
      assert(ours.isLeft, s"$q returned rows: $ours")
      assert(ours == outcome(plain, q), q)
    }
  }

  test("exchange reuse never merges branches that differ only in a literal") {
    val s = spark.newSession()
    s.range(0, 1000).selectExpr("id AS v").createOrReplaceTempView("pl_range")
    def branches(a: Int, b: Int) =
      s"SELECT count(*) AS n FROM pl_range WHERE v > $a UNION ALL " +
        s"SELECT count(*) AS n FROM pl_range WHERE v > $b"
    for (adaptive <- Seq("true", "false")) {
      s.conf.set("spark.sql.adaptive.enabled", adaptive)
      def reused(plan: SparkPlan) = collectWithSubqueries(plan) { case r: ReusedExchangeExec => r }
      val differ = s.sql(branches(5, 6))
      assert(differ.collect().map(_.getLong(0)).sorted.toSeq == Seq(993L, 994L), s"AQE $adaptive")
      assert(reused(differ.queryExecution.executedPlan).isEmpty, s"AQE $adaptive")
      assert(params(differ.queryExecution.executedPlan).nonEmpty, s"AQE $adaptive")
      val same = s.sql(branches(5, 5))
      assert(same.collect().map(_.getLong(0)).toSeq == Seq(994L, 994L), s"AQE $adaptive")
      assert(reused(same.queryExecution.executedPlan).nonEmpty, s"AQE $adaptive")
    }
  }

  test("the point lookup's key stays in the scan's PushedFilters and DataFilters") {
    Tables.registerAll(spark, TestSessions.sf0001)
    val plan = executed(spark, "SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey = 4242")
    val scan = collect(plan) { case f: FileSourceScanExec => f }.head
    assert(scan.dataFilters.exists(_.exists {
      case Literal(4242L, LongType) => true
      case _ => false
    }), scan.dataFilters)
    assert(!scan.dataFilters.exists(_.exists(_.isInstanceOf[ParamLiteral])), scan.dataFilters)
    assert(scan.metadata("PushedFilters").contains("EqualTo(o_orderkey,4242)"), scan.metadata)
    val filter = collect(plan) { case f: FilterExec => f }.head
    assert(filter.condition.exists(_ == ParamLiteral(4242L, LongType)), filter.condition)
  }

  test("the façade templates print the same plan with and without the extension") {
    Seq(spark, plain).foreach(Tables.registerAll(_, TestSessions.sf0001))
    val engines = Seq(new SqlEngine(spark), new SqlEngine(plain))
    val templates = Seq(
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority " +
        "FROM orders WHERE o_orderkey = 1031",
      "SELECT c_custkey, c_name, c_acctbal, n_name, r_name FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
        "WHERE c_custkey = 77",
      "SELECT l_returnflag, l_linestatus, CAST(SUM(l_quantity) AS DECIMAL(18, 2)) AS sum_qty, " +
        "ROUND(AVG(l_discount), 6) AS avg_disc, COUNT(*) AS count_order FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1998-01-01' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
      "SELECT n_name, COUNT(*) AS n_orders, SUM(o_totalprice) AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01' " +
        "AND c_mktsegment = 'BUILDING' GROUP BY n_name ORDER BY revenue DESC, n_name LIMIT 10",
      "SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM (SELECT c_mktsegment, c_custkey, " +
        "c_acctbal, ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, " +
        "c_custkey) AS rn FROM customer WHERE c_nationkey = 11) t WHERE rn <= 3 " +
        "ORDER BY c_mktsegment, rn",
      "SELECT c_mktsegment, MEDIAN(c_acctbal) AS med_bal, PERCENTILE_CONT(0.9) WITHIN GROUP " +
        "(ORDER BY c_acctbal) AS p90_bal FROM customer WHERE c_nationkey = 3 " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment",
      "SELECT o_orderkey, o_orderpriority, COUNT(*) OVER (ORDER BY o_orderpriority GROUPS " +
        "BETWEEN 1 PRECEDING AND CURRENT ROW) AS n_near FROM orders WHERE o_custkey = 37 " +
        "ORDER BY o_orderkey",
      "SELECT p_type, COUNT(*) AS n_parts FROM part WHERE p_name SIMILAR TO '(blue|red) %' " +
        "AND p_size <= 33 GROUP BY p_type ORDER BY p_type",
      "SELECT g.value AS size, COUNT(p_partkey) AS n_parts FROM generate_series(1, 17) g " +
        "JOIN part ON p_size = g.value GROUP BY g.value ORDER BY g.value",
      "SELECT c_mktsegment, FIRST_VALUE(c_name ORDER BY c_acctbal DESC) AS top_name " +
        "FROM customer WHERE c_nationkey = 8 GROUP BY c_mktsegment ORDER BY c_mktsegment",
      "SELECT table_name, column_name, data_type FROM information_schema.columns " +
        "WHERE table_name = 'orders' ORDER BY ordinal_position",
      "SELECT COUNT(*) AS n_nations FROM nation WHERE n_regionkey = 2",
      "SELECT r_name FROM region WHERE r_regionkey = 2",
      "SELECT COUNT(*) AS n_customers FROM customer WHERE c_nationkey = 19",
      "SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice FROM lineitem " +
        "WHERE l_orderkey >= 700 AND l_orderkey < 2200 AND l_linenumber <= 3")
    def plan(engine: SqlEngine, q: String): String = {
      val df: DataFrame = engine.executeStatement(q)
      df.collect()
      df.queryExecution.explainString(SimpleMode)
        .replaceAll("#\\d+", "#_").replaceAll("plan_id=\\d+", "plan_id=_")
    }
    for (q <- templates) {
      val Seq(ours, theirs) = engines.map(plan(_, q))
      assert(ours == theirs, q)
    }
    // the pin is not vacuous: the point lookup's plan holds a parameter
    assert(params(engines.head.executeStatement(templates.head).queryExecution.executedPlan).nonEmpty)
  }
}
