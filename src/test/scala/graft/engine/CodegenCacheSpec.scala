package graft.engine

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSessions}

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

  test("a second x71 run compiles nothing") {
    val x71 = SparkEntry.queries("x71_cluster_sizes")
    val first = x71(spark, TestSessions.sf0001).collect().toSeq
    val again = compiles(assert(x71(spark, TestSessions.sf0001).collect().toSeq == first))
    assert(again == 0, s"the second x71 run compiled $again classes")
  }
}
