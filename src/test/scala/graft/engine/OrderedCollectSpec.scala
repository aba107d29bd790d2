package graft.engine

import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSessions
import graft.tables.Tables

/** A root ORDER BY without LIMIT is sorted on the rows the formatter
  * collects. Every statement's output is compared with Spark's own sort
  * of the same statement: the same sequence of sort keys and the same
  * rows, since rows that tie on every key may come in any order. */
class OrderedCollectSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSessions.spark
  private lazy val engine = new SqlEngine(spark)

  /** Seeded rows with ties, nulls, NaN, ±Infinity and −0.0; `v` is unique. */
  override def beforeAll(): Unit = {
    val r = new Random(9)
    def pick[A](xs: A*): A = xs(r.nextInt(xs.size))
    val rows = (0 until 90).map { v =>
      Row(v.toLong,
        pick[Any](null, -1, 1, 2, 3),
        pick[Any](null, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0, 1.5, -2.25),
        pick[Any](null, new java.math.BigDecimal("1.10"), new java.math.BigDecimal("-3.50"),
          new java.math.BigDecimal("20.00")),
        pick[Any](null, Date.valueOf("2024-02-29"), Date.valueOf("1999-12-31"), Date.valueOf("2024-03-01")),
        pick[Any](null, Timestamp.valueOf("2024-01-01 00:00:00"), Timestamp.valueOf("2024-01-01 00:00:00.5"),
          Timestamp.valueOf("1970-01-01 00:00:00")),
        pick[Any](null, "apple", "Apple", "APPLE", "banana", "Banana", "cherry", "zeta"))
    }
    val schema = StructType(Seq(
      StructField("v", LongType, nullable = false), StructField("k", IntegerType),
      StructField("d", DoubleType), StructField("dec", DecimalType(10, 2)),
      StructField("dt", DateType), StructField("ts", TimestampType), StructField("s", StringType)))
    // several partitions, so Spark's own sort runs as a range shuffle
    spark.createDataFrame(rows.asJava, schema).repartition(3).createOrReplaceTempView("oc")
    spark.sql("CREATE OR REPLACE TEMP VIEW oc_view AS SELECT v, k, d FROM oc WHERE v % 2 = 0")
  }

  override def afterAll(): Unit = {
    spark.catalog.dropTempView("oc_view")
    spark.catalog.dropTempView("oc")
  }

  private def takesDriverSort(q: String): Boolean =
    Formatter.sortedRoot(engine.executeStatement(q).queryExecution.analyzed).isDefined

  /** Header and rows of a `table` result, cells trimmed. */
  private def cells(table: String): (Seq[String], Seq[Seq[String]]) = {
    def split(line: String) = line.split("\\|", -1).toSeq.drop(1).dropRight(1).map(_.trim)
    val lines = table.split("\n").toSeq
    (split(lines(1)), lines.drop(3).dropRight(1).map(split))
  }

  /** Spark's own rows of `q`, rendered as the formatter renders cells. */
  private def sparkRows(q: String): Seq[Seq[String]] = {
    val df = spark.sql(q)
    df.collect().toSeq.map(row =>
      df.schema.fields.indices.map(i => Formatter.renderValue(row.get(i), df.schema(i).dataType)))
  }

  /** `key` picks a row's sort key out of its cells. */
  private def assertSortedLikeSpark(q: String, key: Seq[String] => Seq[Any]): Unit = {
    val (_, got) = cells(engine.executeSql(q))
    val expected = sparkRows(q)
    assert(got.map(key) == expected.map(key), q)
    assert(got.map(_.mkString("|")).sorted == expected.map(_.mkString("|")).sorted, q)
  }

  private def columns(is: Int*): Seq[String] => Seq[Any] = row => is.map(row)

  test("ASC, DESC and explicit null order take the driver sort and match Spark") {
    for ((q, key) <- Seq(
        "SELECT k, v FROM oc ORDER BY k" -> columns(0),
        "SELECT k, v FROM oc ORDER BY k DESC" -> columns(0),
        "SELECT d, v FROM oc ORDER BY d" -> columns(0),
        "SELECT d, v FROM oc ORDER BY d DESC NULLS FIRST" -> columns(0),
        "SELECT d, v FROM oc ORDER BY d ASC NULLS LAST" -> columns(0),
        "SELECT k, d, v FROM oc ORDER BY k DESC NULLS LAST, d ASC NULLS FIRST" -> columns(0, 1),
        "SELECT k, d, v FROM oc ORDER BY k, d DESC, v" -> columns(0, 1, 2))) {
      assert(takesDriverSort(q), q)
      assertSortedLikeSpark(q, key)
    }
  }

  test("decimal, date, timestamp and UTF8_LCASE string keys match Spark") {
    val caseless: Seq[String] => Seq[Any] = row => Seq(row(0).toLowerCase)
    for ((q, key) <- Seq(
        "SELECT dec, v FROM oc ORDER BY dec DESC" -> columns(0),
        "SELECT dt, ts, v FROM oc ORDER BY dt DESC, ts" -> columns(0, 1),
        "SELECT ts, v FROM oc ORDER BY ts NULLS LAST" -> columns(0),
        "SELECT s, v FROM oc ORDER BY s COLLATE UTF8_LCASE" -> caseless,
        "SELECT s COLLATE UTF8_LCASE AS s, v FROM oc ORDER BY s DESC" -> caseless)) {
      assert(takesDriverSort(q), q)
      assertSortedLikeSpark(q, key)
    }
  }

  test("ordinal, alias, expression and hidden keys match Spark") {
    for ((q, key) <- Seq(
        "SELECT k, v FROM oc ORDER BY 1 DESC, 2" -> columns(0, 1),
        "SELECT k AS kk, v FROM oc ORDER BY kk NULLS FIRST, v DESC" -> columns(0, 1),
        "SELECT k + 1 AS k1, v FROM oc ORDER BY k + 1, v" -> columns(0, 1),
        "SELECT v, d FROM oc ORDER BY abs(d) DESC, v" -> columns(0, 1),
        // nvl is RuntimeReplaceable: it evaluates on a row only once the
        // optimizer has replaced it, so the key must be computed by Spark
        "SELECT k, v FROM oc ORDER BY nvl(k, 0), v" -> columns(0, 1),
        "SELECT k FROM oc ORDER BY v DESC" -> columns(0),
        "SELECT s, k FROM oc ORDER BY upper(s), dec, v" -> columns(0, 1))) {
      assert(takesDriverSort(q), q)
      assertSortedLikeSpark(q, key)
    }
  }

  test("an unaliased COUNT(*), a MEDIAN and a view take the driver sort") {
    val count = "SELECT k, COUNT(*) FROM oc GROUP BY k ORDER BY k DESC"
    assert(takesDriverSort(count))
    assert(cells(engine.executeSql(count))._1 == Seq("k", "count(*)"))
    assertSortedLikeSpark(count, columns(0))

    val median = "SELECT k, MEDIAN(v) AS m FROM oc GROUP BY k ORDER BY m DESC, k"
    assert(PercentilePlanner.rewrite(spark, spark.sql(median)).isDefined, "the percentile rewrite applies")
    assert(takesDriverSort(median))
    assertSortedLikeSpark(median, columns(0, 1))

    val view = "SELECT d, v FROM oc_view ORDER BY d DESC, k"
    assert(takesDriverSort(view))
    assertSortedLikeSpark(view, columns(0))
  }

  test("the Json format sorts the same way") {
    val json = new SqlEngine(spark)
    json.setResultFormat(ResultFormat.Json)
    val q = "SELECT v, d, s FROM oc ORDER BY d DESC NULLS FIRST, v"
    assert(takesDriverSort(q))
    val expected = spark.sql(q)
    assert(json.executeSql(q) ==
      Formatter.json(spark.createDataFrame(expected.collect().toSeq.asJava, expected.schema)))
  }

  test("LIMIT, rand() and WITH keep Spark's plan") {
    for (q <- Seq(
        "SELECT k, v FROM oc ORDER BY v DESC LIMIT 7",
        "WITH w AS (SELECT k, v FROM oc WHERE k > 1) SELECT k, v FROM w ORDER BY v")) {
      assert(!takesDriverSort(q), q)
      assertSortedLikeSpark(q, columns(0, 1))
    }
    val random = "SELECT v FROM oc ORDER BY rand()"
    assert(!takesDriverSort(random))
    assert(cells(engine.executeSql(random))._2.map(_.head).sorted == sparkRows(random).map(_.head).sorted)
  }

  test("a GROUP BY ... ORDER BY statement starts 2 Spark jobs: no range-sampling job") {
    val s = spark.newSession()
    Tables.registerAll(s, TestSessions.sf0001)
    val e = new SqlEngine(s)
    val q = "SELECT c_mktsegment, FIRST_VALUE(c_name ORDER BY c_acctbal DESC) AS top_name " +
      "FROM customer WHERE c_nationkey = 7 GROUP BY c_mktsegment ORDER BY c_mktsegment"
    val jobs = TestSessions.jobsOf(s)(e.executeSql(q))
    assert(jobs == 2, s"the statement started $jobs jobs")
  }
}
