package graft.engine

import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSessions

/** `generate_series(start, stop[, step])` is a table function in the
  * session's registry: Spark parses the call and resolves it to the plan
  * of `SELECT explode(sequence(start, stop[, step])) AS value`. */
class GenerateSeriesSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSessions.spark.newSession()
    new SqlEngine(s)
    s
  }

  private val argLists = Seq("1, 4", "2, 8, 3", "5, 1", "5, 1, -2",
    "DATE '2024-01-31', DATE '2024-06-30', INTERVAL 1 MONTH")

  test("the table function plans and answers as the sequence explode") {
    argLists.foreach { args =>
      val tvf = spark.sql(s"SELECT * FROM generate_series($args)")
      val explode = spark.sql(s"SELECT * FROM (SELECT explode(sequence($args)) AS value)")
      assert(tvf.queryExecution.optimizedPlan.canonicalized ==
        explode.queryExecution.optimizedPlan.canonicalized, args)
      assert(tvf.columns.toSeq == Seq("value"), args)
      assert(tvf.collect().toSeq == explode.collect().toSeq, args)
    }
  }

  test("plain spark.sql resolves it, with an alias, a column alias and a comma join") {
    assert(spark.sql("SELECT * FROM generate_series(1, 3)").collect().map(_.getInt(0)).toSeq ==
      Seq(1, 2, 3))
    assert(spark.sql("SELECT g.value * 10 AS v FROM generate_series(1, 2) g")
      .collect().map(_.getInt(0)).toSeq == Seq(10, 20))
    assert(spark.sql("SELECT n FROM generate_series(4, 5) AS g(n)")
      .collect().map(_.getInt(0)).toSeq == Seq(4, 5))
    assert(spark.sql(
      "SELECT a, value FROM VALUES (7) t(a), generate_series(1, 2) ORDER BY value")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((7, 1), (7, 2)))
  }

  test("a select-list generate_series fails with an error naming it") {
    val e = intercept[Exception](spark.sql("SELECT generate_series(1, 3)").collect())
    assert(e.getMessage.toLowerCase.contains("generate_series"), e.getMessage)
  }

  test("a wrong argument count fails with sequence's own error") {
    val e = intercept[AnalysisException](spark.sql("SELECT * FROM generate_series(1)"))
    assert(e.getMessage.contains("WRONG_NUM_ARGS"), e.getMessage)
  }
}
