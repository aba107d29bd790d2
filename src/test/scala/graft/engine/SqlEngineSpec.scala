package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSessions

class SqlEngineSpec extends AnyFunSuite {
  private lazy val spark = TestSessions.spark
  private lazy val engine = new SqlEngine(spark)

  /** A statement's rows as plain values, in the order it returns them. */
  private def rows(sql: String): Seq[Seq[Any]] =
    engine.executeStatement(sql).collect().toSeq.map(_.toSeq)

  test("newSession builds its own session and leaves the caller's as it was") {
    SparkSession.setActiveSession(spark)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val fresh = SqlEngine.newSession("local[4]").spark
    assert(fresh ne spark)
    assert(fresh.conf.get("spark.sql.shuffle.partitions") == "32")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(SparkSession.getActiveSession.contains(spark))
    assert(SparkSession.getDefaultSession.contains(spark))
  }

  test("greet is wired") {
    assert(SqlEngine.greet() == "hello from graft-spark")
  }

  test("multi-statement executeSql: results joined by newline") {
    val out = engine.executeSql("SELECT 1 AS a; SELECT 'x' AS b")
    assert(out.contains("| a |") && out.contains("| b |"))
    assert(out.contains("| 1 |") && out.contains("| x |"))
    // exactly the two formatted blocks joined by one newline: the b
    // table's top border directly follows the a table's bottom border
    // (the old `split("\n\\+").length >= 2` held for a SINGLE bordered
    // table too — vacuous, r04 review)
    val aTable = engine.executeSql("SELECT 1 AS a")
    val bTable = engine.executeSql("SELECT 'x' AS b")
    assert(out == s"$aTable\n$bTable", out)
  }

  test("CREATE EXTERNAL TABLE ... STORED AS PARQUET LOCATION is translated and queryable") {
    try {
      engine.executeSql(
        s"CREATE EXTERNAL TABLE ext_nation STORED AS PARQUET LOCATION '${TestSessions.sf0001}/nation.parquet'")
      val out = engine.executeSql("SELECT count(*) AS n FROM ext_nation")
      assert(out.contains("| 25 |"))
    } finally spark.sql("DROP TABLE IF EXISTS ext_nation")
  }

  test("CREATE VIEW / SELECT / DROP lifecycle in one call") {
    val out = engine.executeSql(
      """CREATE OR REPLACE TEMP VIEW v_two AS SELECT 2 AS two;
        |SELECT two * 2 AS four FROM v_two;
        |DROP VIEW v_two""".stripMargin)
    assert(out.contains("| four |") && out.contains("| 4"))
  }

  test("information_schema.tables lists registered views") {
    spark.sql("CREATE OR REPLACE TEMP VIEW info_probe AS SELECT 1 AS x")
    val out = engine.executeSql(
      "SELECT table_name FROM information_schema.tables WHERE table_name = 'info_probe'")
    assert(out.contains("info_probe"))
  }

  test("information_schema.columns exposes column metadata") {
    spark.sql("CREATE OR REPLACE TEMP VIEW info_probe2 AS SELECT 1 AS some_col")
    val out = engine.executeSql(
      "SELECT column_name, data_type FROM information_schema.columns WHERE table_name = 'info_probe2'")
    assert(out.contains("some_col"))
  }

  test("information_schema never lists its own views: a repeated statement answers the same") {
    for (q <- Seq(
        "SELECT table_name FROM information_schema.tables ORDER BY table_name",
        "SELECT table_name, column_name FROM information_schema.columns " +
          "ORDER BY table_name, ordinal_position")) {
      val first = engine.executeSql(q)
      val second = engine.executeSql(q)
      assert(first == second, q)
      assert(!first.contains("information_schema__"), first)
    }
    // nor does the session: SHOW TABLES and spark.catalog list no such view
    val shown = spark.sql("SHOW TABLES").collect().map(_.getAs[String]("tableName"))
    val listed = spark.catalog.listTables().collect().map(_.name)
    assert(!(shown ++ listed).exists(_.startsWith("information_schema__")),
      (shown ++ listed).mkString(", "))
  }

  test("df_settings exposes session configuration") {
    val out = engine.executeSql(
      "SELECT name FROM information_schema.df_settings WHERE name = 'spark.sql.session.timeZone'")
    assert(out.contains("spark.sql.session.timeZone"))
  }

  test("df_settings golden: (name, value) shape and content mirror the reference surface") {
    // The reference enables information_schema on its session
    // (/root/reference/src/core.rs:62); DataFusion's df_settings view is
    // exactly two Utf8 columns (name, value), one row per session
    // setting, name-sorted. Pin the emulation to that shape, with Spark
    // confs as the settings namespace (VERDICT r03 "what's missing" #3).
    // plain spark.sql: building the engine registers the catalog
    val df = engine.spark.sql("SELECT * FROM information_schema.df_settings")
    assert(df.schema.fields.map(f => (f.name, f.dataType.typeName)).toSeq
      == Seq(("name", "string"), ("value", "string")))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).toSeq == rows.map(_._1).toSeq.sorted, "rows must be name-sorted")
    // content parity: values are the LIVE session values, not snapshots
    val m = rows.toMap
    // the analog of the reference's explicit target_partitions setting
    assert(m("spark.sql.shuffle.partitions")
      == spark.conf.get("spark.sql.shuffle.partitions"))
    assert(m("spark.sql.session.timeZone")
      == spark.conf.get("spark.sql.session.timeZone"))
    // a setting changed through SQL shows its new value on the next read,
    // like DataFusion's SET ... reflected in df_settings
    val saved = spark.conf.get("spark.sql.session.timeZone")
    try {
      val probe = engine.executeSql(
        """SET spark.sql.session.timeZone=America/New_York;
          |SELECT value FROM information_schema.df_settings
          |WHERE name = 'spark.sql.session.timeZone'""".stripMargin)
      assert(probe.contains("America/New_York"))
    } finally spark.conf.set("spark.sql.session.timeZone", saved)
  }

  test("SHOW TABLES passes through") {
    spark.sql("CREATE OR REPLACE TEMP VIEW show_probe AS SELECT 1 AS x")
    val out = engine.executeSql("SHOW TABLES")
    assert(out.contains("show_probe"))
  }

  test("set_result_format(Json) is honored (fixes reference dead-code bug, SURVEY §3.4)") {
    engine.setResultFormat(ResultFormat.Json)
    try {
      val out = engine.executeSql("SELECT 1 AS id, 'Alice' AS name")
      assert(out == """[{"id":1,"name":"Alice"}]""")
    } finally engine.setResultFormat(ResultFormat.Table)
  }

  test("values / set ops / windows run through the SQL surface") {
    val out = engine.executeSql(
      """SELECT id, ROW_NUMBER() OVER (ORDER BY id DESC) AS rn
        |FROM VALUES (1), (2), (3) AS t(id)
        |ORDER BY id""".stripMargin)
    assert(out.contains("| 1  | 3  |"))
  }

  test("setS3Config maps to per-bucket hadoop s3a settings") {
    engine.setS3Config("root", "my-bucket", "us-west-2", "AKID", "SECRET")
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc.get("fs.s3a.bucket.my-bucket.access.key") == "AKID")
    assert(hc.get("fs.s3a.bucket.my-bucket.endpoint.region") == "us-west-2")
  }

  test("CSV external table: header + delimiter options round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, "data.csv")
    java.nio.file.Files.writeString(f.toPath, "id|name\n1|alice\n2|bob\n")
    try {
      engine.executeSql(
        s"CREATE EXTERNAL TABLE csv_t (id INT, name STRING) STORED AS CSV WITH HEADER ROW DELIMITER '|' LOCATION '${f.getAbsolutePath}'")
      val out = engine.executeSql("SELECT name FROM csv_t WHERE id = 2")
      assert(out.contains("bob"))
    } finally spark.sql("DROP TABLE IF EXISTS csv_t")
  }

  test("NDJSON external table scans") {
    val dir = java.nio.file.Files.createTempDirectory("graft_json").toFile
    val f = new java.io.File(dir, "data.json")
    java.nio.file.Files.writeString(f.toPath, "{\"id\":1,\"v\":\"x\"}\n{\"id\":2,\"v\":\"y\"}\n")
    try {
      engine.executeSql(
        s"CREATE EXTERNAL TABLE json_t STORED AS JSON LOCATION '${f.getAbsolutePath}'")
      val out = engine.executeSql("SELECT v FROM json_t WHERE id = 1")
      assert(out.contains("| x |"))
    } finally spark.sql("DROP TABLE IF EXISTS json_t")
  }

  test("CTAS + INSERT INTO on a parquet table") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ins").toFile.getAbsolutePath
    try {
      engine.executeSql(
        s"""CREATE TABLE ins_t USING parquet OPTIONS (path '$dir/t') AS SELECT 1 AS id;
           |INSERT INTO ins_t VALUES (2), (3)""".stripMargin)
      val out = engine.executeSql("SELECT CAST(SUM(id) AS BIGINT) AS s FROM ins_t")
      assert(out.contains("| 6 |"))
    } finally spark.sql("DROP TABLE IF EXISTS ins_t")
  }

  test("function-alias rewriting never touches string literals") {
    engine.setResultFormat(ResultFormat.Json)
    try {
      assert(engine.executeSql("SELECT 'meet today(ish)' AS note") ==
        """[{"note":"meet today(ish)"}]""")
      assert(engine.executeSql("SELECT 'see information_schema.tables' AS s") ==
        """[{"s":"see information_schema.tables"}]""")
    } finally engine.setResultFormat(ResultFormat.Table)
  }

  test("splitter respects backslash-escaped quotes") {
    assert(StatementSplitter.split("SELECT 'a\\';b' AS x; SELECT 2") ==
      Seq("SELECT 'a\\';b' AS x", "SELECT 2"))
  }

  test("typed external-table DDL with parenthesized types translates") {
    val t = DdlTranslator.translate(
      "CREATE EXTERNAL TABLE t (a DECIMAL(10,2), b INT) STORED AS PARQUET LOCATION '/x'")
    assert(t.contains("USING parquet") && t.contains("DECIMAL(10,2)"))
  }

  test("SIMILAR TO escaped metachars stay literal") {
    engine.setResultFormat(ResultFormat.Json)
    try {
      // SQL text: '.' SIMILAR TO '\.'  (escaped dot must stay literal)
      assert(engine.executeSql("SELECT '.' SIMILAR TO '\\.' AS dot, 'x' SIMILAR TO '\\.' AS anych") ==
        """[{"dot":true,"anych":false}]""")
    } finally engine.setResultFormat(ResultFormat.Table)
  }

  test("SIMILAR TO is rewritten to anchored RLIKE") {
    engine.setResultFormat(ResultFormat.Json)
    try {
      assert(engine.executeSql("SELECT 'abc' SIMILAR TO 'a%' AS m") == """[{"m":true}]""")
      assert(engine.executeSql("SELECT 'abc' SIMILAR TO 'b%' AS m") == """[{"m":false}]""")
      assert(engine.executeSql("SELECT 'abc' NOT SIMILAR TO '_b_' AS m") == """[{"m":false}]""")
      assert(engine.executeSql("SELECT 'a.c' SIMILAR TO 'a.c' AS dot, 'axc' SIMILAR TO 'a.c' AS lit") ==
        """[{"dot":true,"lit":false}]""")
      assert(engine.executeSql("SELECT 'abab' SIMILAR TO '(ab)+' AS m") == """[{"m":true}]""")
    } finally engine.setResultFormat(ResultFormat.Table)
  }

  test("SIMILAR TO inside a string literal is data, not syntax") {
    engine.setResultFormat(ResultFormat.Json)
    try {
      // the keyword + quoted section live INSIDE a literal — a text corpus
      // row containing a SQL fragment must pass through unrewritten
      assert(engine.executeSql("SELECT ' SIMILAR TO ''pat'' ' AS doc") ==
        """[{"doc":" SIMILAR TO 'pat' "}]""")
      // and a real predicate AFTER such a literal still rewrites
      assert(engine.executeSql(
        "SELECT ' SIMILAR TO ''x'' ' AS doc, 'abc' SIMILAR TO 'a%' AS m") ==
        """[{"doc":" SIMILAR TO 'x' ","m":true}]""")
    } finally engine.setResultFormat(ResultFormat.Table)
  }

  test("SIMILAR TO treats ^ and $ as literal characters") {
    engine.setResultFormat(ResultFormat.Json)
    try {
      assert(engine.executeSql("SELECT 'ab$' SIMILAR TO 'ab$' AS m") == """[{"m":true}]""")
      assert(engine.executeSql("SELECT '^ab' SIMILAR TO '^ab' AS m") == """[{"m":true}]""")
      assert(engine.executeSql("SELECT 'ab' SIMILAR TO 'ab$' AS m") == """[{"m":false}]""")
    } finally engine.setResultFormat(ResultFormat.Table)
  }

  test("generate_series TVF rewrites to a sequence-explode subquery") {
    engine.setResultFormat(ResultFormat.Json)
    try {
      assert(engine.executeSql("SELECT * FROM generate_series(1, 4)") ==
        """[{"value":1},{"value":2},{"value":3},{"value":4}]""")
      assert(engine.executeSql(
        "SELECT value * 10 AS v FROM generate_series(2, 8, 3) ORDER BY value") ==
        """[{"v":20},{"v":50},{"v":80}]""")
      // inside a literal: data, not syntax
      assert(engine.executeSql("SELECT 'generate_series(1, 4)' AS doc") ==
        """[{"doc":"generate_series(1, 4)"}]""")
    } finally engine.setResultFormat(ResultFormat.Table)
  }

  test("aggregate-form first_value/last_value with ORDER BY rewrite to min_by/max_by") {
    engine.setResultFormat(ResultFormat.Json)
    try {
      assert(engine.executeSql(
        """SELECT FIRST_VALUE(name ORDER BY id) AS f,
          |       LAST_VALUE(name ORDER BY id) AS l,
          |       FIRST_VALUE(name ORDER BY id DESC) AS fd,
          |       NTH_VALUE(name, 2 ORDER BY id) AS n2,
          |       NTH_VALUE(name, 2 ORDER BY id DESC) AS n2d,
          |       NTH_VALUE(name, 9 ORDER BY id) AS past_end
          |FROM VALUES (1, 'a'), (2, 'b'), (3, 'c') t(id, name)""".stripMargin) ==
        """[{"f":"a","l":"c","fd":"c","n2":"b","n2d":"b"}]""") // null past_end omitted (arrow JSON parity)
      // window form (no ORDER BY inside the call parens) is untouched
      assert(engine.executeSql(
        """SELECT FIRST_VALUE(name) OVER (ORDER BY id) AS f
          |FROM VALUES (2, 'b'), (1, 'a') t(id, name) ORDER BY f LIMIT 1""".stripMargin) ==
        """[{"f":"a"}]""")
    } finally engine.setResultFormat(ResultFormat.Table)
  }

  test("aggregate first/last: nested parens, multi-key, DataFusion null ordering") {
    engine.setResultFormat(ResultFormat.Json)
    try {
      // nested parens inside the value expression (r02: the regex arg
      // matcher silently missed these and Spark threw a parse error)
      assert(engine.executeSql(
        """SELECT FIRST_VALUE(upper(substr(name, 1, 1)) ORDER BY y) AS f
          |FROM VALUES ('abc', 1), ('xyz', 2) t(name, y)""".stripMargin) ==
        """[{"f":"A"}]""")
      // nth_value whose expr itself contains commas
      assert(engine.executeSql(
        """SELECT NTH_VALUE(substr(name, 1, 2), 2 ORDER BY y) AS n2
          |FROM VALUES ('abc', 1), ('xyz', 2) t(name, y)""".stripMargin) ==
        """[{"n2":"xy"}]""")
      // multi-key ORDER BY with mixed directions
      assert(engine.executeSql(
        """SELECT FIRST_VALUE(name ORDER BY grp, rnk DESC) AS f
          |FROM VALUES (1, 1, 'a'), (1, 2, 'b'), (2, 9, 'c') t(grp, rnk, name)""".stripMargin) ==
        """[{"f":"b"}]""")
      // NULL ordering keys: DataFusion sorts ASC NULLS LAST, so
      // last_value returns the null-key row's value (a min_by/max_by
      // mapping silently skips it — the r02 ADVICE divergence)
      assert(engine.executeSql(
        """SELECT FIRST_VALUE(name ORDER BY k) AS f, LAST_VALUE(name ORDER BY k) AS l
          |FROM VALUES (1, 'a'), (2, 'b'), (NULL, 'z') t(k, name)""".stripMargin) ==
        """[{"f":"a","l":"z"}]""")
      // explicit NULLS FIRST override
      assert(engine.executeSql(
        """SELECT FIRST_VALUE(name ORDER BY k NULLS FIRST) AS f
          |FROM VALUES (1, 'a'), (NULL, 'z') t(k, name)""".stripMargin) ==
        """[{"f":"z"}]""")
    } finally engine.setResultFormat(ResultFormat.Table)
  }

  test("generate_series outside FROM/JOIN position falls through untouched") {
    val e = intercept[Exception] {
      engine.executeSql("SELECT generate_series(1, 3) AS g")
    }
    assert(e.getMessage.toLowerCase.contains("generate_series"))
  }

  /** Range-request file handler shared by the HTTP source tests. */
  private def rangeHandler(bytes: Array[Byte]): com.sun.net.httpserver.HttpHandler =
    ex => {
      try {
        Option(ex.getRequestHeaders.getFirst("Range")) match {
          case Some(r) if r.startsWith("bytes=") =>
            val parts = r.stripPrefix("bytes=").split("-", -1)
            val from = parts(0).toLong
            val to =
              if (parts.length > 1 && parts(1).nonEmpty) math.min(parts(1).toLong, bytes.length - 1L)
              else bytes.length - 1L
            val len = (to - from + 1).toInt
            ex.getResponseHeaders.set("Content-Range", s"bytes $from-$to/${bytes.length}")
            ex.sendResponseHeaders(206, len)
            ex.getResponseBody.write(bytes, from.toInt, len)
          case _ =>
            ex.sendResponseHeaders(200, bytes.length)
            ex.getResponseBody.write(bytes)
        }
      } finally ex.close()
    }

  test("HTTP external parquet table scans through the range-request filesystem") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/testdata/sf0.001/nation.parquet"))
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/nation.parquet", rangeHandler(bytes))
    server.start()
    val port = server.getAddress.getPort
    try {
      engine.executeSql(
        s"CREATE EXTERNAL TABLE http_nation STORED AS PARQUET LOCATION 'http://127.0.0.1:$port/nation.parquet'")
      val rows = engine.executeStatement(
        "SELECT count(*) AS n, min(n_name) AS first_name FROM http_nation").collect()
      assert(rows(0).getLong(0) == 25)
      assert(rows(0).getString(1) == "NATION_0")
    } finally {
      engine.executeStatement("DROP TABLE IF EXISTS http_nation")
      server.stop(0)
    }
  }

  test("HTTP source follows redirects Java won't and rejects bad 206 lengths") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/testdata/sf0.001/region.parquet"))
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    // 308 Permanent Redirect: HttpURLConnection's auto-follow predates
    // RFC 7538 and never follows it — exercises the manual loop that
    // also handles cross-protocol hops (r04 review)
    server.createContext("/moved.parquet", ex => {
      try {
        ex.getResponseHeaders.set("Location", "/real.parquet")
        ex.sendResponseHeaders(308, -1)
      } finally ex.close()
    })
    server.createContext("/real.parquet", rangeHandler(bytes))
    // a 206 whose Content-Range total is '*': the 1-byte range body must
    // NOT be reported as the object length (silent truncation pre-fix)
    server.createContext("/star.parquet", ex => {
      try {
        ex.getResponseHeaders.set("Content-Range", "bytes 0-0/*")
        ex.sendResponseHeaders(206, 1)
        ex.getResponseBody.write(Array[Byte](0))
      } finally ex.close()
    })
    server.start()
    val port = server.getAddress.getPort
    try {
      engine.executeSql(
        s"CREATE EXTERNAL TABLE http_moved STORED AS PARQUET LOCATION 'http://127.0.0.1:$port/moved.parquet'")
      assert(engine.executeStatement("SELECT count(*) AS n FROM http_moved")
        .collect()(0).getLong(0) == 5)
      val e = intercept[Exception] {
        engine.executeSql(
          s"CREATE EXTERNAL TABLE http_star STORED AS PARQUET LOCATION 'http://127.0.0.1:$port/star.parquet'")
        engine.executeStatement("SELECT count(*) FROM http_star").collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(m => m.contains("Content-Range") || m.contains("206")),
        msgs(e).mkString(" | "))
    } finally {
      engine.executeStatement("DROP TABLE IF EXISTS http_moved")
      engine.executeStatement("DROP TABLE IF EXISTS http_star")
      server.stop(0)
    }
  }

  test("INSERT INTO an external parquet table writes files readable back") {
    val dir = java.nio.file.Files.createTempDirectory("graft_extwrite").toString
    try {
      engine.executeSql(
        s"CREATE EXTERNAL TABLE ext_write (id INT, name STRING) STORED AS PARQUET LOCATION '$dir/t'")
      engine.executeStatement("INSERT INTO ext_write VALUES (1, 'a'), (2, 'b')")
      engine.executeStatement("INSERT INTO ext_write VALUES (3, 'c')")
      val rows = engine.executeStatement("SELECT id, name FROM ext_write ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(rows == Seq((1, "a"), (2, "b"), (3, "c")))
      // the data really landed as parquet files at the location
      assert(new java.io.File(s"$dir/t").listFiles().exists(_.getName.endsWith(".parquet")))
    } finally {
      engine.executeStatement("DROP TABLE IF EXISTS ext_write")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("hive-layout external table discovers partitions and prunes them") {
    val dir = java.nio.file.Files.createTempDirectory("graft_partdisc").toString
    try {
      val spark = engine.spark
      import spark.implicits._
      Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c"))
        .toDF("id", "region").write.partitionBy("region").parquet(s"$dir/t")
      engine.executeSql(
        s"CREATE EXTERNAL TABLE part_disc STORED AS PARQUET LOCATION '$dir/t'")
      val df = engine.executeStatement(
        "SELECT id FROM part_disc WHERE region = 'a' ORDER BY id")
      assert(df.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
      // the partition predicate must prune directories, not filter rows:
      // it has to land in PartitionFilters (dir-level) — a region
      // reference in PushedFilters/Filter would mean row-level filtering
      val p = df.queryExecution.executedPlan.toString
      val pf = """PartitionFilters: \[[^\]]*region[^\]]*= a\)""".r
      assert(pf.findFirstIn(p).isDefined, s"no partition filter on region in:\n$p")
    } finally {
      engine.executeStatement("DROP TABLE IF EXISTS part_disc")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("unaliased COUNT(*) keeps the reference's column name") {
    val out = engine.executeSql("SELECT count(*) FROM VALUES (1), (2) t(x)")
    assert(out.contains("count(*)") && !out.contains("count(1)"))
  }

  test("GROUPS frames emulate via a dense_rank-keyed RANGE rewrite") {
    engine.setResultFormat(ResultFormat.Json)
    try {
      // peer groups of x: {1,1}, {2}, {3} — GROUPS 1 PRECEDING spans the
      // current peer group plus the previous one
      assert(engine.executeSql(
        """SELECT x, sum(x) OVER (ORDER BY x GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
          |FROM VALUES (1), (1), (2), (3) t(x) ORDER BY x""".stripMargin) ==
        """[{"x":1,"s":2},{"x":1,"s":2},{"x":2,"s":4},{"x":3,"s":5}]""")
      // partitioned + UNBOUNDED/CURRENT bounds + a shorthand frame
      assert(engine.executeSql(
        """SELECT p, x, count(*) OVER (PARTITION BY p ORDER BY x GROUPS CURRENT ROW) AS peers
          |FROM VALUES ('a', 1), ('a', 1), ('a', 2), ('b', 5) t(p, x) ORDER BY p, x""".stripMargin) ==
        """[{"p":"a","x":1,"peers":2},{"p":"a","x":1,"peers":2},{"p":"a","x":2,"peers":1},{"p":"b","x":5,"peers":1}]""")
    } finally engine.setResultFormat(ResultFormat.Table)
  }

  test("GROUPS frames inside CTE bodies and after the WITH clause") {
    engine.setResultFormat(ResultFormat.Json)
    try {
      // GROUPS inside the CTE body; the main statement is untouched
      // (its SELECT * is legal — only GROUPS-bearing segments restructure)
      assert(engine.executeSql(
        """WITH w AS (
          |  SELECT x, sum(x) OVER (ORDER BY x GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
          |  FROM VALUES (1), (1), (2), (3) t(x))
          |SELECT * FROM w ORDER BY x""".stripMargin) ==
        """[{"x":1,"s":2},{"x":1,"s":2},{"x":2,"s":4},{"x":3,"s":5}]""")
      // GROUPS in the second of two CTEs AND in the main statement,
      // consuming the first CTE through the derived-table wrap
      assert(engine.executeSql(
        """WITH base AS (SELECT x FROM VALUES (1), (1), (2) t(x)),
          |peers AS (
          |  SELECT x, count(*) OVER (ORDER BY x GROUPS CURRENT ROW) AS peers
          |  FROM base)
          |SELECT x, peers,
          |  sum(x) OVER (ORDER BY x GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
          |FROM peers ORDER BY x""".stripMargin) ==
        """[{"x":1,"peers":2,"run":2},{"x":1,"peers":2,"run":2},{"x":2,"peers":1,"run":4}]""")
      // a nested WITH inside a CTE body recurses
      assert(engine.executeSql(
        """WITH outer_cte AS (
          |  WITH inner_cte AS (
          |    SELECT x, sum(x) OVER (ORDER BY x GROUPS CURRENT ROW) AS s
          |    FROM VALUES (4), (4) t(x))
          |  SELECT * FROM inner_cte)
          |SELECT * FROM outer_cte ORDER BY x""".stripMargin) ==
        """[{"x":4,"s":8},{"x":4,"s":8}]""")
      // an unaliased expression item with GROUP BY inside a CTE body: one
      // group ('a', sum 1) is its own peer group
      assert(rows(
        """WITH w AS (
          |  SELECT p || 'x', sum(sum(x)) OVER (ORDER BY p GROUPS CURRENT ROW) AS s
          |  FROM VALUES ('a', 1) t(p, x) GROUP BY p)
          |SELECT * FROM w""".stripMargin) == Seq(Seq("ax", 1L)))
    } finally engine.setResultFormat(ResultFormat.Table)
  }

  test("MEDIAN / PERCENTILE_CONT WITHIN GROUP still run on the Spark side") {
    // q41 moved to the graft.ops.Percentiles scale plan (r04), which
    // left the dialect's MEDIAN / WITHIN GROUP surface — what the
    // reference's SQL users type — without oracle coverage; pin it here
    // (r04 self-review).
    engine.setResultFormat(ResultFormat.Json)
    try {
      assert(engine.executeSql(
        """SELECT g, MEDIAN(x) AS med,
          |  PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY x) AS q1
          |FROM VALUES ('a', 1), ('a', 2), ('a', 3), ('a', 10), ('b', 5) t(g, x)
          |GROUP BY g ORDER BY g""".stripMargin) ==
        """[{"g":"a","med":2.5,"q1":1.75},{"g":"b","med":5.0,"q1":5.0}]""")
    } finally engine.setResultFormat(ResultFormat.Table)
  }

  test("GROUPS frames in set-operation branches") {
    engine.setResultFormat(ResultFormat.Json)
    try {
      // GROUPS in both branches, independent window specs per branch;
      // UNION ALL keeps both rows per input
      assert(engine.executeSql(
        """SELECT x, sum(x) OVER (ORDER BY x GROUPS CURRENT ROW) AS s
          |FROM VALUES (1), (1) t(x)
          |UNION ALL
          |SELECT x, count(*) OVER (ORDER BY x DESC GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
          |FROM VALUES (7), (8) u(x)
          |ORDER BY x""".stripMargin) ==
        """[{"x":1,"s":2},{"x":1,"s":2},{"x":7,"s":2},{"x":8,"s":1}]""")
      // parenthesized branch + GROUPS only on one side; the trailing
      // ORDER BY applies to the whole set-op result
      assert(engine.executeSql(
        """(SELECT x, sum(x) OVER (ORDER BY x GROUPS CURRENT ROW) AS s
          |FROM VALUES (2), (2) t(x))
          |UNION
          |SELECT 9 AS x, 9 AS s
          |ORDER BY x""".stripMargin) ==
        """[{"x":2,"s":4},{"x":9,"s":9}]""")
      // a CTE whose main statement is a set op with GROUPS composes
      assert(engine.executeSql(
        """WITH base AS (SELECT x FROM VALUES (3), (3) t(x))
          |SELECT x, sum(x) OVER (ORDER BY x GROUPS CURRENT ROW) AS s FROM base
          |UNION ALL
          |SELECT x, x AS s FROM base
          |ORDER BY s""".stripMargin) ==
        """[{"x":3,"s":3},{"x":3,"s":3},{"x":3,"s":6},{"x":3,"s":6}]""")
      // parenthesized LAST branch with the set-op-wide ORDER BY after
      // its closing paren (r04 self-review): the tail stays outside
      assert(engine.executeSql(
        """SELECT 9 AS x, 9 AS s
          |UNION
          |(SELECT x, sum(x) OVER (ORDER BY x GROUPS CURRENT ROW) AS s
          |FROM VALUES (2), (2) t(x))
          |ORDER BY x LIMIT 2""".stripMargin) ==
        """[{"x":2,"s":4},{"x":9,"s":9}]""")
    } finally engine.setResultFormat(ResultFormat.Table)
  }

  test("GROUPS frames: alias-qualified refs resolve; SELECT * hides __grp") {
    engine.setResultFormat(ResultFormat.Json)
    try {
      // the derived table inherits the original FROM alias
      assert(engine.executeSql(
        """SELECT t.x, sum(t.x) OVER (ORDER BY t.x GROUPS CURRENT ROW) AS s
          |FROM VALUES (1), (1) t(x) ORDER BY t.x""".stripMargin) ==
        """[{"x":1,"s":2},{"x":1,"s":2}]""")
      // SELECT * rewrites to `* EXCEPT (__grp)` — the internal dense_rank
      // column stays hidden (r04; r03 raised a documented error here),
      // and a count(*) star inside a call is untouched
      assert(engine.executeSql(
        """SELECT *, sum(x) OVER (ORDER BY x GROUPS CURRENT ROW) AS s,
          |  count(*) OVER (ORDER BY x GROUPS CURRENT ROW) AS c
          |FROM VALUES (1, 'a'), (1, 'b') t(x, y) ORDER BY y""".stripMargin) ==
        """[{"x":1,"y":"a","s":2,"c":2},{"x":1,"y":"b","s":2,"c":2}]""")
      // qualified star over the inherited alias hides __grp too
      assert(engine.executeSql(
        """SELECT t.*, sum(x) OVER (ORDER BY x GROUPS CURRENT ROW) AS s
          |FROM VALUES (2) t(x)""".stripMargin) ==
        """[{"x":2,"s":2}]""")
    } finally engine.setResultFormat(ResultFormat.Table)
  }

  test("aggregate first/last with FILTER clause and select-list generate_series guard") {
    engine.setResultFormat(ResultFormat.Json)
    try {
      // FILTER re-attaches to the rewritten aggregate (r03 review)
      assert(engine.executeSql(
        """SELECT FIRST_VALUE(name ORDER BY id) FILTER (WHERE id > 1) AS f
          |FROM VALUES (1, 'a'), (2, 'b'), (3, 'c') t(id, name)""".stripMargin) ==
        """[{"f":"b"}]""")
      // comma-position guard: a select-list call is NOT FROM position...
      val e = intercept[Exception] {
        engine.executeSql("SELECT a, generate_series(1, 3) FROM VALUES (1) t(a)")
      }
      assert(e.getMessage.toLowerCase.contains("generate_series"))
      // ...but a comma-separated FROM-clause TVF still rewrites
      assert(engine.executeSql(
        """SELECT a, value FROM VALUES (7) t(a), generate_series(1, 2)
          |ORDER BY value""".stripMargin) ==
        """[{"a":7,"value":1},{"a":7,"value":2}]""")
    } finally engine.setResultFormat(ResultFormat.Table)
  }

  test("masking understands comments, double-quoted strings and backtick idents") {
    engine.setResultFormat(ResultFormat.Json)
    try {
      // an apostrophe inside a -- comment must not derail the mask;
      // the real SIMILAR TO after it still rewrites
      assert(engine.executeSql(
        "SELECT name FROM VALUES ('abc'), ('xyz') t(name) -- don't scan\nWHERE name SIMILAR TO 'a%'") ==
        """[{"name":"abc"}]""")
      // same for /* */ comments
      assert(engine.executeSql(
        "SELECT /* it's fine */ name FROM VALUES ('abc') t(name) WHERE name SIMILAR TO '%b%'") ==
        """[{"name":"abc"}]""")
      // keyword-shaped DATA inside a double-quoted string stays data
      assert(engine.executeSql(
        """SELECT "x SIMILAR TO 'b'" AS doc""") ==
        """[{"doc":"x SIMILAR TO 'b'"}]""")
    } finally engine.setResultFormat(ResultFormat.Table)
  }

  test("SIMILAR TO honors an ESCAPE clause") {
    engine.setResultFormat(ResultFormat.Json)
    try {
      // '#%' with ESCAPE '#' is a literal percent sign
      assert(engine.executeSql(
        """SELECT s FROM VALUES ('50%'), ('50x') t(s)
          |WHERE s SIMILAR TO '50#%' ESCAPE '#'""".stripMargin) ==
        """[{"s":"50%"}]""")
    } finally engine.setResultFormat(ResultFormat.Table)
  }

  test("a column named groups is not mistaken for a GROUPS frame") {
    engine.setResultFormat(ResultFormat.Json)
    try assert(engine.executeSql(
      "SELECT groups FROM VALUES (1), (5) t(groups) WHERE groups BETWEEN 0 AND 2") ==
      """[{"groups":1}]""")
    finally engine.setResultFormat(ResultFormat.Table)
    // a `groups` COLUMN inside a named window spec is fine
    engine.setResultFormat(ResultFormat.Json)
    try assert(engine.executeSql(
      """SELECT max(x) OVER w AS m FROM VALUES (1, 1), (2, 1) t(x, groups)
        |WINDOW w AS (PARTITION BY groups BETWEEN 0 AND 2 ORDER BY x)
        |ORDER BY m""".stripMargin) ==
      """[{"m":1},{"m":2}]""")
    finally engine.setResultFormat(ResultFormat.Table)
  }

  test("GROUPS frames inside named WINDOW clauses inline and rewrite") {
    // r04: named windows are inlined into their OVER references before
    // the restructure (r03 raised a documented error here)
    engine.setResultFormat(ResultFormat.Json)
    try {
      assert(engine.executeSql(
        """SELECT x, sum(x) OVER w AS s, count(*) OVER w AS c
          |FROM VALUES (1), (1), (2) t(x)
          |WINDOW w AS (ORDER BY x GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW)
          |ORDER BY x""".stripMargin) ==
        """[{"x":1,"s":2,"c":2},{"x":1,"s":2,"c":2},{"x":2,"s":4,"c":3}]""")
      // an UNRELATED named window in a statement that restructures for an
      // inline GROUPS frame must inline too — the derived-table wrap
      // would otherwise bury the WINDOW clause away from its OVER ref
      assert(engine.executeSql(
        """SELECT x, sum(x) OVER (ORDER BY x GROUPS CURRENT ROW) AS s, max(x) OVER w AS m
          |FROM VALUES (1), (2) t(x)
          |WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |ORDER BY x""".stripMargin) ==
        """[{"x":1,"s":1,"m":1},{"x":2,"s":2,"m":2}]""")
      // window-referencing-window resolves by chaining (r05; was a
      // documented error through r04)
      assert(engine.executeSql(
        """SELECT sum(x) OVER w2 AS s FROM VALUES (1), (1) t(x)
          |WINDOW w AS (ORDER BY x),
          |       w2 AS (w GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW)""".stripMargin) ==
        """[{"s":2},{"s":2}]""")
    } finally engine.setResultFormat(ResultFormat.Table)
  }

  test("GROUPS frames with GROUP BY restructure through the aggregate") {
    engine.setResultFormat(ResultFormat.Json)
    try {
      // peer groups form on the POST-AGGREGATE ordering key: sums 10,10,5
      // put o=1,2 in one peer group, so GROUPS 1 PRECEDING sums both + 5
      assert(engine.executeSql(
        """SELECT o, sum(x) AS s,
          |  sum(sum(x)) OVER (ORDER BY sum(x) GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS gs,
          |  count(*) OVER (ORDER BY sum(x) GROUPS CURRENT ROW) AS peers
          |FROM VALUES (1, 10), (2, 10), (3, 5) t(o, x)
          |GROUP BY o ORDER BY o""".stripMargin) ==
        """[{"o":1,"s":10,"gs":25,"peers":2},{"o":2,"s":10,"gs":25,"peers":2},{"o":3,"s":5,"gs":5,"peers":1}]""")
      // PARTITION BY a group key + HAVING filter, window args aliased into
      // the inner aggregate; lag's literal offset must stay a literal
      assert(engine.executeSql(
        """SELECT p, o, sum(x) AS s,
          |  lag(sum(x), 1) OVER (PARTITION BY p ORDER BY o GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS prev_s
          |FROM VALUES (1, 1, 10), (1, 2, 20), (2, 4, 5), (2, 5, 7), (1, 3, 1) t(p, o, x)
          |GROUP BY p, o HAVING sum(x) > 1 ORDER BY p, o""".stripMargin) ==
        """[{"p":1,"o":1,"s":10},{"p":1,"o":2,"s":20,"prev_s":10},""" +
        """{"p":2,"o":4,"s":5},{"p":2,"o":5,"s":7,"prev_s":5}]""")
      // an unaliased GROUPS window with GROUP BY: one group, sum 1
      assert(rows(
        """SELECT o, sum(sum(x)) OVER (ORDER BY o GROUPS CURRENT ROW)
          |FROM VALUES (1, 1) t(o, x) GROUP BY o""".stripMargin) == Seq(Seq(1, 1L)))
      // and an unaliased expression item: o + 1 = 2
      assert(rows(
        """SELECT o + 1, sum(sum(x)) OVER (ORDER BY o GROUPS CURRENT ROW) AS gs
          |FROM VALUES (1, 1) t(o, x) GROUP BY o""".stripMargin) == Seq(Seq(2, 1L)))
    } finally engine.setResultFormat(ResultFormat.Table)
  }

  test("GROUPS dense_rank key pins SQL-standard null ordering (nulls last for ASC)") {
    engine.setResultFormat(ResultFormat.Json)
    try {
      // DataFusion/postgres number the NULL peer group LAST for ASC keys;
      // Spark's default would number it first and shift every frame
      assert(engine.executeSql(
        """SELECT x, count(*) OVER (ORDER BY x GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
          |FROM VALUES (1), (1), (CAST(NULL AS INT)) t(x) ORDER BY x NULLS LAST""".stripMargin) ==
        """[{"x":1,"c":2},{"x":1,"c":2},{"c":3}]""")
    } finally engine.setResultFormat(ResultFormat.Table)
  }

  test("aggregate alias starting with 'over' is not mistaken for a window form") {
    engine.setResultFormat(ResultFormat.Json)
    try assert(engine.executeSql(
      """SELECT FIRST_VALUE(name ORDER BY id) overall
        |FROM VALUES (1, 'a'), (2, 'b') t(id, name)""".stripMargin) ==
      """[{"overall":"a"}]""")
    finally engine.setResultFormat(ResultFormat.Table)
  }

  test("nth_value without a literal position raises the documented error") {
    val e = intercept[UnsupportedOperationException] {
      engine.executeSql("SELECT NTH_VALUE(x, ORDER BY x) FROM VALUES (1) t(x)")
    }
    assert(e.getMessage.contains("literal integer position"))
  }

  test("all dialect rewrites compose in one statement") {
    engine.setResultFormat(ResultFormat.Json)
    try {
      // SIMILAR TO + aggregate first_value + FROM-comma TVF + a comment
      // with an apostrophe + keyword-shaped data in a literal, together
      assert(engine.executeSql(
        """SELECT FIRST_VALUE(name ORDER BY id) AS f,
          |       value,
          |       'x SIMILAR TO ''y''' AS doc -- that's data, don't rewrite
          |FROM VALUES (1, 'alpha'), (2, 'beta') t(id, name), generate_series(1, 2)
          |WHERE name SIMILAR TO '%a'
          |GROUP BY value ORDER BY value""".stripMargin) ==
        """[{"f":"alpha","value":1,"doc":"x SIMILAR TO 'y'"},""" +
        """{"f":"alpha","value":2,"doc":"x SIMILAR TO 'y'"}]""")
      // GROUPS frame + SIMILAR TO in the same statement
      assert(engine.executeSql(
        """SELECT name, count(*) OVER (ORDER BY name GROUPS CURRENT ROW) AS peers
          |FROM VALUES ('aa'), ('aa'), ('ab') t(name)
          |WHERE name SIMILAR TO 'a%' ORDER BY name""".stripMargin) ==
        """[{"name":"aa","peers":2},{"name":"aa","peers":2},{"name":"ab","peers":1}]""")
    } finally engine.setResultFormat(ResultFormat.Table)
  }

  test("GROUPS r04-review corners: star-EXCEPT, IGNORE NULLS, subqueries") {
    engine.setResultFormat(ResultFormat.Json)
    try {
      // Spark 4 star-EXCEPT is not a set operator: the set-op splitter
      // must not cleave the statement at `* EXCEPT (...)`
      assert(engine.executeSql(
        """SELECT * EXCEPT (y),
          |  sum(x) OVER (ORDER BY x GROUPS CURRENT ROW) AS s
          |FROM VALUES (1, 9), (1, 9) t(x, y) ORDER BY x""".stripMargin) ==
        """[{"x":1,"s":2},{"x":1,"s":2}]""")
      // a comment between `*` and its EXCEPT list must not defeat the
      // merge (ADVICE r04: the whitespace-only scan emitted TWO EXCEPT
      // clauses — invalid SQL)
      assert(engine.executeSql(
        """SELECT * /* keep */ EXCEPT (y),
          |  sum(x) OVER (ORDER BY x GROUPS CURRENT ROW) AS s
          |FROM VALUES (1, 9), (1, 9) t(x, y) ORDER BY x""".stripMargin) ==
        """[{"x":1,"s":2},{"x":1,"s":2}]""")
      // IGNORE NULLS between the offset call and OVER: the inert GROUPS
      // frame is still dropped (not restructured into a RANGE frame
      // Spark would reject)
      assert(engine.executeSql(
        """SELECT x, lead(x) IGNORE NULLS OVER (ORDER BY x GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS nxt
          |FROM VALUES (1), (2) t(x) ORDER BY x""".stripMargin) ==
        """[{"x":1,"nxt":2},{"x":2}]""") // JSON format omits nulls (arrow parity)
    } finally engine.setResultFormat(ResultFormat.Table)
    // a GROUPS window inside a scalar subquery: the peer group {1, 1}
    // sums to 2 (a window may not sit inside an aggregate, so the
    // subquery returns the window value directly)
    assert(rows(
      """SELECT (SELECT sum(y) OVER (ORDER BY y GROUPS CURRENT ROW)
        |        FROM VALUES (1), (1) u(y) LIMIT 1) AS sub
        |FROM VALUES (1) t(x)""".stripMargin) == Seq(Seq(2L)))
  }

  test("array_agg/string_agg with inline ORDER BY rewrite to sorted lists (r05)") {
    engine.setResultFormat(ResultFormat.Json)
    try {
      assert(engine.executeSql(
        """SELECT array_agg(x ORDER BY k DESC) AS a,
          |  string_agg(x, '-' ORDER BY k) AS s
          |FROM VALUES ('b', 2), ('a', 1), ('c', 3) t(x, k)""".stripMargin) ==
        """[{"a":["c","b","a"],"s":"a-b-c"}]""")
      // multi-key ordering + FILTER clause; null values skipped by
      // string_agg (array_join) like the reference
      assert(engine.executeSql(
        """SELECT string_agg(x, ',' ORDER BY k1, k2 DESC) FILTER (WHERE k1 < 3) AS s
          |FROM VALUES ('a', 1, 1), ('b', 1, 2), ('c', 3, 0), (CAST(NULL AS STRING), 2, 0) t(x, k1, k2)""".stripMargin) ==
        """[{"s":"b,a"}]""")
      // window forms and plain calls stay untouched
      assert(engine.executeSql(
        "SELECT array_agg(x) AS a FROM VALUES (1), (1) t(x)") ==
        """[{"a":[1,1]}]""")
    } finally engine.setResultFormat(ResultFormat.Table)
  }

  test("named-window chains resolve before the GROUPS rewrite (r05)") {
    engine.setResultFormat(ResultFormat.Json)
    try {
      // w2 extends w1 (SQL-standard window chaining); the GROUPS frame
      // rides on the chained reference
      assert(engine.executeSql(
        """SELECT x, sum(x) OVER w2 AS s
          |FROM VALUES (1, 'a'), (1, 'a'), (2, 'a') t(x, p)
          |WINDOW w1 AS (PARTITION BY p), w2 AS (w1 ORDER BY x GROUPS CURRENT ROW)
          |ORDER BY x""".stripMargin) ==
        """[{"x":1,"s":2},{"x":1,"s":2},{"x":2,"s":2}]""")
      // a three-link chain resolves to a fixed point
      assert(engine.executeSql(
        """SELECT x, count(*) OVER w3 AS c
          |FROM VALUES (1), (1), (2) t(x)
          |WINDOW w1 AS (), w2 AS (w1 ORDER BY x), w3 AS (w2 GROUPS CURRENT ROW)
          |ORDER BY x""".stripMargin) ==
        """[{"x":1,"c":2},{"x":1,"c":2},{"x":2,"c":1}]""")
      // cycles keep a clean documented error
      val e = intercept[UnsupportedOperationException] {
        engine.executeSql(
          """SELECT x, sum(x) OVER w1 AS s FROM VALUES (1) t(x)
            |WINDOW w1 AS (w2 GROUPS CURRENT ROW), w2 AS (w1)""".stripMargin)
      }
      assert(e.getMessage.contains("cyclic"), e.getMessage)
      // a chain that would duplicate ORDER BY keeps a clean error
      val e2 = intercept[UnsupportedOperationException] {
        engine.executeSql(
          """SELECT x, sum(x) OVER w2 AS s FROM VALUES (1) t(x)
            |WINDOW w1 AS (ORDER BY x), w2 AS (w1 ORDER BY x GROUPS CURRENT ROW)""".stripMargin)
      }
      assert(e2.getMessage.contains("repeat"), e2.getMessage)
    } finally engine.setResultFormat(ResultFormat.Table)
  }

  test("GROUPS in FROM/JOIN derived tables auto-lifts into a CTE (r05)") {
    engine.setResultFormat(ResultFormat.Json)
    try {
      // plain derived table (the r04 documented error prescribed the
      // lift manually; now mechanical — VERDICT r04 next #3)
      assert(engine.executeSql(
        """SELECT d.x, d.s FROM (
          |  SELECT x, sum(x) OVER (ORDER BY x GROUPS CURRENT ROW) AS s
          |  FROM VALUES (1), (1), (2) t(x)) d
          |ORDER BY d.x""".stripMargin) ==
        """[{"x":1,"s":2},{"x":1,"s":2},{"x":2,"s":2}]""")
      // derived table on the JOIN side
      assert(engine.executeSql(
        """SELECT a.k, d.c FROM VALUES (1) a(k)
          |JOIN (SELECT x AS k, count(*) OVER (ORDER BY x GROUPS CURRENT ROW) AS c
          |      FROM VALUES (1), (1) t(x)) d ON a.k = d.k
          |ORDER BY a.k, d.c""".stripMargin) ==
        """[{"k":1,"c":2},{"k":1,"c":2}]""")
      // inside the main statement of an enclosing WITH: the generated
      // CTE merges into the existing list
      assert(engine.executeSql(
        """WITH base AS (SELECT * FROM VALUES (1), (1), (2) t(x))
          |SELECT d.x, d.s FROM (
          |  SELECT x, sum(x) OVER (ORDER BY x GROUPS CURRENT ROW) AS s
          |  FROM base) d
          |ORDER BY d.x""".stripMargin) ==
        """[{"x":1,"s":2},{"x":1,"s":2},{"x":2,"s":2}]""")
      // nested derived tables: the innermost scope lifts
      assert(engine.executeSql(
        """SELECT o.s FROM (
          |  SELECT * FROM (
          |    SELECT x, sum(x) OVER (ORDER BY x GROUPS CURRENT ROW) AS s
          |    FROM VALUES (3), (3) t(x)) i) o
          |ORDER BY o.s""".stripMargin) ==
        """[{"s":6},{"s":6}]""")
      // comments between FROM/'(' and '('/SELECT must not defeat the
      // lift (r05 review: the whitespace-only scans let the top-level
      // restructure splice __grp across scopes)
      assert(engine.executeSql(
        """SELECT d.x, d.s FROM /* tbl */ ( -- note
          |  SELECT x, sum(x) OVER (ORDER BY x GROUPS CURRENT ROW) AS s
          |  FROM VALUES (1), (1) t(x)) d
          |ORDER BY d.x""".stripMargin) ==
        """[{"x":1,"s":2},{"x":1,"s":2}]""")
      // the lift must NOT fire inside DDL — `WITH ... CREATE VIEW`
      // would be invalid SQL; a clean documented error stays instead
      // (r05 review)
      val e = intercept[UnsupportedOperationException] {
        engine.executeSql(
          """CREATE VIEW groups_view AS SELECT * FROM (
            |  SELECT x, sum(x) OVER (ORDER BY x GROUPS CURRENT ROW) AS s
            |  FROM VALUES (1) t(x)) d""".stripMargin)
      }
      assert(e.getMessage.contains("GROUPS window frames"), e.getMessage)
    } finally engine.setResultFormat(ResultFormat.Table)
  }

  test("GROUPS in uncorrelated expression subqueries auto-lifts (r06)") {
    engine.setResultFormat(ResultFormat.Json)
    try {
      // scalar subquery: the body resolves standalone, so it lifts
      // (peer group {4,4} -> rolling sum 8; LIMIT 1 makes it scalar)
      assert(engine.executeSql(
        """SELECT v FROM VALUES (5), (9) t(v)
          |WHERE v > (SELECT sum(x) OVER (ORDER BY x GROUPS CURRENT ROW)
          |           FROM VALUES (4), (4) u(x) ORDER BY 1 LIMIT 1)
          |ORDER BY v""".stripMargin) ==
        """[{"v":9}]""")
      // IN subquery: the IN-set is {2} (both rows share one peer group)
      assert(engine.executeSql(
        """SELECT v FROM VALUES (1), (2), (4) t(v)
          |WHERE v IN (SELECT count(*) OVER (ORDER BY x GROUPS CURRENT ROW)
          |            FROM VALUES (7), (7) u(x))
          |ORDER BY v""".stripMargin) ==
        """[{"v":2}]""")
      // EXISTS subquery
      assert(engine.executeSql(
        """SELECT v FROM VALUES (3) t(v)
          |WHERE EXISTS (
          |  SELECT sum(x) OVER (ORDER BY x GROUPS CURRENT ROW)
          |  FROM VALUES (9) u(x))""".stripMargin) ==
        """[{"v":3}]""")
      // comma-separated FROM derived table (ADVICE r05: the '(' follows
      // ',' not FROM/JOIN — same non-correlation guarantee)
      assert(engine.executeSql(
        """SELECT a.k, d.s FROM VALUES (1) a(k), (
          |  SELECT x, sum(x) OVER (ORDER BY x GROUPS CURRENT ROW) AS s
          |  FROM VALUES (4), (4) t(x)) d
          |ORDER BY d.s""".stripMargin) ==
        """[{"k":1,"s":8},{"k":1,"s":8}]""")
      // inside the main statement of an enclosing WITH: the generated
      // CTE merges into the existing list (same path as the FROM lift)
      assert(engine.executeSql(
        """WITH base AS (SELECT * FROM VALUES (1), (2), (4) t(v))
          |SELECT v FROM base
          |WHERE v IN (SELECT count(*) OVER (ORDER BY x GROUPS CURRENT ROW)
          |            FROM VALUES (7), (7) u(x))
          |ORDER BY v""".stripMargin) ==
        """[{"v":2}]""")
      // scalar subquery in the SELECT list wrapping a derived table:
      // the innermost derived table lifts via the FROM path, the outer
      // scalar evaluates against the lifted CTE
      assert(engine.executeSql(
        """SELECT v, (SELECT max(s) FROM (
          |  SELECT sum(x) OVER (ORDER BY x GROUPS CURRENT ROW) AS s
          |  FROM VALUES (2), (2) u(x))) AS ms
          |FROM VALUES (1) t(v)""".stripMargin) ==
        """[{"v":1,"ms":4}]""")
      // scalar subquery inside a CASE branch (before-word THEN)
      assert(engine.executeSql(
        """SELECT CASE WHEN 1 = 1 THEN (
          |  SELECT count(*) OVER (ORDER BY x GROUPS CURRENT ROW)
          |  FROM VALUES (3) u(x)) ELSE 0 END AS c""".stripMargin) ==
        """[{"c":1}]""")
      // parenthesized FIRST set-op branch: the lift intercepts before
      // the branch splitter since r06 — same result either way
      assert(engine.executeSql(
        """(SELECT x, sum(x) OVER (ORDER BY x GROUPS CURRENT ROW) AS s
          |FROM VALUES (1), (1) t(x))
          |UNION ALL SELECT x, CAST(99 AS BIGINT) FROM VALUES (5) u(x)
          |ORDER BY s""".stripMargin) ==
        """[{"x":1,"s":2},{"x":1,"s":2},{"x":5,"s":99}]""")
      // a CORRELATED EXISTS subquery: u.x = t.v holds for v = 1
      assert(engine.executeSql(
        """SELECT v FROM VALUES (1) t(v)
          |WHERE EXISTS (SELECT sum(x) OVER (ORDER BY x GROUPS CURRENT ROW)
          |              FROM VALUES (1) u(x) WHERE u.x = t.v)""".stripMargin) ==
        """[{"v":1}]""")
      // LATERAL: the one row u.x = 1 <= t.v is its own peer group
      assert(engine.executeSql(
        """SELECT t.v, d.s FROM VALUES (1) t(v),
          |LATERAL (SELECT sum(x) OVER (ORDER BY x GROUPS CURRENT ROW) AS s
          |         FROM VALUES (1) u(x) WHERE u.x <= t.v) d""".stripMargin) ==
        """[{"v":1,"s":1}]""")
    } finally engine.setResultFormat(ResultFormat.Table)
  }

  test("alias rewriting never fires inside string literals or comments") {
    // r04 review: the raw replaceAll turned 'call me today (noon)' into
    // 'call me current_date(noon)' — aliases now resolve as function
    // registry entries, so no text pass touches literals or comments
    engine.setResultFormat(ResultFormat.Json)
    try {
      assert(engine.executeSql("SELECT 'call me today (noon)' AS s") ==
        """[{"s":"call me today (noon)"}]""")
      // while real alias calls in code position still resolve
      assert(engine.executeSql(
        "SELECT to_hex(255) AS h -- today (reminder)\n") == """[{"h":"FF"}]""")
    } finally engine.setResultFormat(ResultFormat.Table)
  }

  test("documented gaps fail with clear messages") {
    // GROUPS over an aggregated query runs: one group, sum 1
    assert(rows(
      """SELECT sum(sum(x)) OVER (ORDER BY x GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW)
        |FROM VALUES (1) t(x) GROUP BY x""".stripMargin) == Seq(Seq(1L)))
    val e2 = intercept[UnsupportedOperationException] {
      engine.executeSql("SELECT current_time()")
    }
    assert(e2.getMessage.contains("TIME"))
    // but the words inside literals don't trigger the guard
    engine.setResultFormat(ResultFormat.Json)
    try assert(engine.executeSql("SELECT 'GROUPS BETWEEN friends' AS s") ==
      """[{"s":"GROUPS BETWEEN friends"}]""")
    finally engine.setResultFormat(ResultFormat.Table)
  }

  test("DdlTranslator rewrites s3 urls and csv options") {
    val t = DdlTranslator.translate(
      "CREATE EXTERNAL TABLE t (a INT) STORED AS CSV WITH HEADER ROW DELIMITER '|' LOCATION 's3://bkt/path/'")
    assert(t.contains("USING csv"))
    assert(t.contains("path 's3a://bkt/path/'"))
    assert(t.contains("header 'true'") && t.contains("sep '|'"))
  }

  test("DdlTranslator: quoted names become backticks; unknown clauses raise") {
    // DataFusion double-quoted identifiers are STRING literals to Spark
    val t = DdlTranslator.translate(
      """CREATE EXTERNAL TABLE "My Table" STORED AS PARQUET LOCATION 's3://b/p'""")
    assert(t.contains("CREATE TABLE `My Table` USING parquet"), t)
    assert(DdlTranslator.externalTableName(
      """CREATE EXTERNAL TABLE "My Table" STORED AS PARQUET LOCATION 's3://b/p'""")
      .contains("`My Table`"))
    // an unrecognized clause between STORED AS and LOCATION must raise,
    // not silently vanish (a dropped OPTIONS clause = garbled parses)
    val e = intercept[UnsupportedOperationException] {
      DdlTranslator.translate(
        "CREATE EXTERNAL TABLE t STORED AS CSV OPTIONS ('format.delimiter' '|') LOCATION 's3://b/p'")
    }
    assert(e.getMessage.contains("unsupported clause"), e.getMessage)
  }

  test("setS3Config root becomes a path prefix (reference opendal parity)") {
    engine.setS3Config("data/v1", "bkt2", "us-east-1", "ak", "sk")
    try {
      assert(engine.rewriteS3Url("s3://bkt2/file.parquet") ==
        "s3a://bkt2/data/v1/file.parquet")
      assert(engine.rewriteS3Url("s3://other/file.parquet") ==
        "s3a://other/file.parquet") // unconfigured bucket: no prefix
    } finally engine.setS3Config("", "bkt2", "us-east-1", "ak", "sk") // clear root
    assert(engine.rewriteS3Url("s3://bkt2/file.parquet") == "s3a://bkt2/file.parquet")
  }

  test("GROUPS statements may begin with comments; nested comments mask fully") {
    engine.setResultFormat(ResultFormat.Json)
    try {
      assert(engine.executeSql(
        """-- leading comment with a quote: don't
          |SELECT x, sum(x) OVER (ORDER BY x GROUPS CURRENT ROW) AS s
          |FROM VALUES (1), (1) t(x) ORDER BY x""".stripMargin) ==
        """[{"x":1,"s":2},{"x":1,"s":2}]""")
      // nested bracketed comment: Spark nests /* /* */ */; ending the
      // mask at the first */ left an apostrophe in the tail flipping the
      // literal state and derailing the SIMILAR TO rewrite
      assert(engine.executeSql(
        "/* outer /* inner */ tail don't */ SELECT s FROM VALUES ('ab') t(s) WHERE s SIMILAR TO 'a%'") ==
        """[{"s":"ab"}]""")
    } finally engine.setResultFormat(ResultFormat.Table)
  }
}
