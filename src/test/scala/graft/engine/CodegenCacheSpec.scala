package graft.engine

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSessions}
import graft.tables.Tables

/** The JVM-wide codegen class cache holds the engine's working set: a
  * statement compiles its generated classes once per plan shape, not
  * once per call. Compiles are counted as deltas of Spark's JVM-wide
  * compilation-time histogram (one update per Janino compile). */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSessions.spark
  private lazy val engine = new SqlEngine(spark)

  /** Spark's cache size before [[SqlEngine.CodegenCacheEntries]]. */
  private val SparkDefaultEntries = 100

  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("newSession's context carries the JVM-wide defaults") {
    val fresh = SqlEngine.newSession("local[4]").spark
    assert(fresh ne spark)
    val expected = Map(
      "spark.sql.codegen.cache.maxEntries" -> SqlEngine.CodegenCacheEntries,
      "spark.sql.ui.retainedExecutions" -> SqlEngine.RetainedStatus,
      "spark.ui.retainedJobs" -> SqlEngine.RetainedStatus,
      "spark.ui.retainedStages" -> SqlEngine.RetainedStatus)
    expected.foreach { case (k, v) =>
      assert(fresh.sparkContext.getConf.get(k) == v.toString, k)
      assert(fresh.conf.get(k) == v.toString, k)
    }
  }

  test("a rotation past Spark's 100-entry cap keeps its first statement compiled") {
    spark.range(0, 4000).selectExpr(
      "id % 7 AS k1", "id % 11 AS k2", "id % 13 AS k3", "CAST(id % 17 AS STRING) AS k4",
      "id AS v1", "CAST(id AS DOUBLE) / 3 AS v2", "CAST(id % 101 AS INT) AS v3")
      .createOrReplaceTempView("cg_rotation")
    // literal-free statements: the generated source depends only on the
    // plan shape, so a rerun can be served from the cache
    val statements = for {
      k <- Seq("k1", "k2", "k3", "k4", "k1, k2", "k3, k4")
      agg <- Seq("sum(v1)", "min(v2)", "max(v3)", "avg(v1)", "count(v2)", "sum(v3) + max(v1)")
    } yield s"SELECT $k, $agg AS a FROM cg_rotation GROUP BY $k"
    try {
      val firstOut = engine.executeSql(statements.head)
      val rotation = compiles(statements.tail.foreach(engine.executeSql))
      info(s"the rotation compiled $rotation classes")
      assert(rotation > SparkDefaultEntries,
        s"the rotation compiled only $rotation classes: too few to overflow the old cap")
      val again = compiles(assert(engine.executeSql(statements.head) == firstOut))
      assert(again == 0, s"rerunning the first statement compiled $again classes")
    } finally spark.catalog.dropTempView("cg_rotation")
  }

  /** Statement shapes whose comparison literals Spark would write into
    * the generated source; each takes the index of a fresh value. */
  private val literalShapes: Seq[(String, Int => String)] = Seq(
    "12 point lookups with distinct BIGINT keys" -> (k =>
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders " +
        s"WHERE o_orderkey = ${7 + 11 * k}"),
    "12 calls of a TIMESTAMP range" -> { k =>
      val (y, m) = (1995 + k / 12, 1 + k % 12)
      "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS q, count(*) AS n FROM lineitem " +
        f"WHERE l_shipdate >= TIMESTAMP '$y-$m%02d-01' AND l_shipdate < TIMESTAMP '${y + 2}-01-01' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
    },
    "12 calls of a DOUBLE comparison" -> (k =>
      s"SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_acctbal > ${k * 97.25 - 800}D"))

  test("a fresh comparison literal reuses the compiled stage, through the façade or spark.sql") {
    // a session of the test builder: it carries jvmDefaults' extension
    val s = spark.newSession()
    Tables.registerAll(s, TestSessions.sf0001)
    val engine = new SqlEngine(s)
    val paths: Seq[(String, String => Any, Int)] = Seq(
      ("executeSql", engine.executeSql, 0), ("spark.sql", q => s.sql(q).collect(), 24))
    for ((shape, statement) <- literalShapes; (path, run, from) <- paths) {
      run(statement(from))
      val n = compiles((from + 1 to from + 12).foreach(k => run(statement(k))))
      assert(n == 0, s"$shape through $path compiled $n classes after the first call")
    }
  }

  test("without the extension the same shapes compile per literal") {
    // the control for the test above: its shapes do carry inlined values
    val s = TestSessions.plain.newSession()
    Tables.registerAll(s, TestSessions.sf0001)
    for ((shape, statement) <- literalShapes) {
      s.sql(statement(48)).collect()
      val n = compiles((49 to 51).foreach(k => s.sql(statement(k)).collect()))
      assert(n >= 3, s"$shape compiled only $n classes for 3 fresh literals without the extension")
    }
  }

  test("a second x71 run compiles nothing") {
    val x71 = SparkEntry.queries("x71_cluster_sizes")
    val first = x71(spark, TestSessions.sf0001).collect().toSeq
    val again = compiles(assert(x71(spark, TestSessions.sf0001).collect().toSeq == first))
    assert(again == 0, s"the second x71 run compiled $again classes")
  }
}
