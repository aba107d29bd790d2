package graft.engine

import java.nio.file.Files

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSessions
import graft.tables.Tables

/** `information_schema` as a catalog: what it lists, in which session,
  * under which spelling, and what it costs at statement time. */
class InfoSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSessions.spark
  private lazy val engine = new SqlEngine(spark)

  private def rows(e: SqlEngine, q: String): Seq[Seq[Any]] =
    e.executeStatement(q).collect().toSeq.map(_.toSeq)

  test("the information_schema prefix and view names fold case, literals keep theirs") {
    spark.sql("CREATE OR REPLACE TEMP VIEW case_probe AS SELECT 1 AS x, 'y' AS y")
    for ((mixed, lower, shown) <- Seq(
        ("SELECT table_name, table_type FROM INFORMATION_SCHEMA.TABLES WHERE table_name = 'case_probe'",
          "SELECT table_name, table_type FROM information_schema.tables WHERE table_name = 'case_probe'",
          "| case_probe | VIEW       |"),
        ("SELECT column_name, data_type FROM Information_Schema.Columns WHERE table_name = 'case_probe'",
          "SELECT column_name, data_type FROM information_schema.columns WHERE table_name = 'case_probe'",
          "| y           | string    |"))) {
      val out = engine.executeSql(mixed)
      assert(out == engine.executeSql(lower), mixed)
      assert(out.contains(shown), out)
    }
    assert(engine.executeStatement("SELECT 'INFORMATION_SCHEMA.TABLES' AS s").head().getString(0)
      == "INFORMATION_SCHEMA.TABLES")
  }

  test("plain spark.sql resolves information_schema on an engine's session") {
    engine
    spark.sql("CREATE OR REPLACE TEMP VIEW plain_probe AS SELECT 1 AS x")
    val tables = spark.sql("SELECT * FROM information_schema.tables").collect()
    assert(tables.exists(r => r.getString(2) == "plain_probe" && r.getString(3) == "VIEW"))
    assert(spark.sql("SELECT data_type FROM information_schema.columns WHERE table_name = 'plain_probe'")
      .collect().map(_.getString(0)).toSeq == Seq("int"))
  }

  test("two sessions on one context each list only their own views, whatever session is active") {
    val (s1, s2) = (spark.newSession(), spark.newSession())
    val (e1, e2) = (new SqlEngine(s1), new SqlEngine(s2))
    s1.sql("CREATE TEMP VIEW own_one AS SELECT 1 AS x")
    s2.sql("CREATE TEMP VIEW own_two AS SELECT 2 AS y")
    val q = "SELECT table_name FROM information_schema.tables WHERE table_name LIKE 'own_%'"
    /** `e.executeSql(q)` on a thread whose active session is `active`. */
    def on(active: Option[SparkSession], e: SqlEngine): String = {
      var out: Try[String] = null
      val t = new Thread(() => {
        active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
        out = Try(e.executeSql(q))
      })
      t.start()
      t.join()
      out.get
    }
    for ((e, own, other, active) <- Seq((e1, "own_one", "own_two", s2), (e2, "own_two", "own_one", s1));
         a <- Seq(Some(active), None)) {
      val out = on(a, e)
      assert(out.contains(own) && !out.contains(other),
        s"$own's engine, active session ${a.fold("none")(_ => "the other")}: $out")
    }
  }

  test("tables, views and columns list what spark.catalog lists, in its order") {
    val s = spark.newSession()
    val e = new SqlEngine(s)
    val dir = Files.createTempDirectory("graft_info").toString
    Tables.registerAll(s, TestSessions.sf0001)
    s.sql("CREATE DATABASE info_parity")
    s.sql("USE info_parity")
    try {
      Tables.load(s, TestSessions.sf0001, "nation").write.partitionBy("n_regionkey").parquet(s"$dir/part")
      e.executeSql(
        s"""CREATE TABLE typed_t (v VARCHAR(5), d DECIMAL(10,2), m MAP<STRING, INT>,
           |  st STRUCT<a: INT, b: STRING>) USING parquet;
           |INSERT INTO typed_t SELECT 'abc', 1.5, map('k', 1), named_struct('a', 1, 'b', 'x');
           |CREATE TABLE ctas_t USING parquet AS SELECT * FROM typed_t;
           |CREATE VIEW pv AS SELECT v, d FROM typed_t;
           |CREATE EXTERNAL TABLE part_nation STORED AS PARQUET LOCATION '$dir/part'""".stripMargin)

      // what the emulation computed before the catalog, from the same API
      val db = s.catalog.currentDatabase
      val listed = s.catalog.listTables().collect().toSeq
      def isView(t: org.apache.spark.sql.catalog.Table) = t.tableType == "VIEW" || t.isTemporary
      def named(t: org.apache.spark.sql.catalog.Table) =
        Seq("spark_catalog", Option(t.database).getOrElse(db), t.name)
      val tables = listed.map(t => named(t) :+ (if (isView(t)) "VIEW" else "BASE TABLE"))
      val views = listed.filter(isView).map(named)
      val columns = listed.flatMap { t =>
        s.catalog.listColumns(t.name).collect().toSeq.zipWithIndex.map { case (c, i) =>
          named(t) ++ Seq(c.name, i + 1, if (c.nullable) "YES" else "NO", c.dataType)
        }
      }
      assert(listed.map(_.name).toSet == Tables.names.toSet ++ Set("typed_t", "ctas_t", "pv", "part_nation"))
      // listColumns prints a VARCHAR(5) column as its stored type, string
      assert(columns.filter(_(3) == "v").map(_(6)).distinct == Seq("string"))
      assert(Set[Any]("decimal(10,2)", "map<string,int>", "struct<a:int,b:string>")
        .subsetOf(columns.map(_(6)).toSet[Any]))
      assert(columns.exists(c => c(2) == "part_nation" && c(3) == "n_regionkey"))

      assert(rows(e, "SELECT * FROM information_schema.tables") == tables)
      assert(rows(e, "SELECT * FROM information_schema.views") == views)
      assert(rows(e, "SELECT * FROM information_schema.columns") == columns)
    } finally {
      s.sql("USE default")
      s.sql("DROP DATABASE info_parity CASCADE")
      new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("an information_schema statement starts no job before it is acted on") {
    spark.sql("CREATE OR REPLACE TEMP VIEW info_jobs AS SELECT 1 AS a, 'x' AS b")
    val q = "SELECT table_name, column_name, data_type FROM information_schema.columns " +
      "WHERE table_name = 'info_jobs' ORDER BY ordinal_position"
    engine.executeSql(q)
    assert(TestSessions.jobsOf(spark)(engine.executeStatement(q)) == 0)
    val all = TestSessions.jobsOf(spark)(engine.executeSql(q))
    assert(all <= 1, s"executeSql started $all jobs")
  }
}
