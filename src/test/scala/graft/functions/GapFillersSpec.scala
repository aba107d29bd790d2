package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSessions
import graft.engine.{ResultFormat, SqlEngine}

/** Exercises every gap-filler through the public SQL surface (SURVEY §7.5:
  * the functions DataFusion 45 ships that Spark lacks or names differently). */
class GapFillersSpec extends AnyFunSuite {
  private lazy val engine = {
    val e = new SqlEngine(TestSessions.spark)
    e.setResultFormat(ResultFormat.Json)
    e
  }

  private def one(sql: String): String = engine.executeSql(sql)

  test("gcd / lcm / iszero") {
    assert(one("SELECT gcd(12, 18) AS g") == """[{"g":6}]""")
    assert(one("SELECT gcd(-12, 0) AS g") == """[{"g":12}]""")
    assert(one("SELECT lcm(4, 6) AS l") == """[{"l":12}]""")
    assert(one("SELECT lcm(0, 5) AS l") == """[{"l":0}]""")
    assert(one("SELECT iszero(0.0) AS z, iszero(1.5) AS nz") == """[{"z":true,"nz":false}]""")
  }

  test("date_bin floors into stride-aligned bins") {
    assert(one(
      "SELECT date_bin(INTERVAL '15' MINUTE, TIMESTAMP '2024-01-01 10:37:12', TIMESTAMP '2024-01-01 00:00:00') AS b")
      == """[{"b":"2024-01-01T10:30:00"}]""")
    // 2-arg form bins against the unix epoch
    assert(one(
      "SELECT date_bin(INTERVAL '1' HOUR, TIMESTAMP '2024-01-01 10:37:12') AS b")
      == """[{"b":"2024-01-01T10:00:00"}]""")
  }

  test("arrow_typeof mirrors Arrow type names") {
    assert(one("SELECT arrow_typeof(CAST(1 AS INT)) AS t") == """[{"t":"Int32"}]""")
    assert(one("SELECT arrow_typeof(1.5) AS t").contains("Decimal128"))
    assert(one("SELECT arrow_typeof(CAST(1.5 AS DOUBLE)) AS t") == """[{"t":"Float64"}]""")
    assert(one("SELECT arrow_typeof('x') AS t") == """[{"t":"Utf8"}]""")
  }

  test("arrow_cast casts through Arrow type names incl. unsigned widening") {
    assert(one("SELECT arrow_cast('123', 'Int64') AS v") == """[{"v":123}]""")
    assert(one("SELECT arrow_cast(200, 'UInt8') AS v") == """[{"v":200}]""")
    assert(one("SELECT arrow_cast(1, 'Float64') AS v") == """[{"v":1.0}]""")
  }

  test("arrow_cast nested List/Struct targets (short + Field debug spellings)") {
    assert(one("SELECT arrow_cast(array(1, 2), 'List(Int64)') AS v") ==
      """[{"v":[1,2]}]""")
    assert(one("SELECT arrow_typeof(arrow_cast(array(1), 'List(Float64)')) AS t") ==
      """[{"t":"List(Field { name: \"item\", data_type: Float64 })"}]""")
    // arrow_typeof output round-trips back through arrow_cast
    assert(one(
      """SELECT arrow_cast(array(1), 'List(Field { name: "item", data_type: Int32 })') AS v""") ==
      """[{"v":[1]}]""")
    assert(one("SELECT arrow_cast(named_struct('a', 1, 'b', 'x'), 'Struct(a Int64, b Utf8)') AS v") ==
      """[{"v":{"a":1,"b":"x"}}]""")
    assert(one("SELECT arrow_cast(array(array(1)), 'List(List(Int64))') AS v") ==
      """[{"v":[[1]]}]""")
    assert(one("SELECT arrow_cast(array(1, 2, 3), 'FixedSizeList(Int32, 3)') AS v") ==
      """[{"v":[1,2,3]}]""")
    // parameterized element types: the space inside the type's own
    // parens must not be read as a name/type separator (r03 review)
    assert(one("SELECT arrow_cast(array(1.5), 'List(Decimal128(10, 2))') AS v") ==
      """[{"v":[1.50]}]""")
  }

  test("version() identifies the engine") {
    assert(one("SELECT version() AS v").contains("graft-spark"))
  }

  test("to_char translates chrono formats") {
    assert(one("SELECT to_char(TIMESTAMP '2024-01-05 07:08:09', '%Y-%m-%d') AS s")
      == """[{"s":"2024-01-05"}]""")
    assert(one("SELECT to_char(TIMESTAMP '2024-01-05 07:08:09', '%H:%M:%S on %A') AS s")
      == """[{"s":"07:08:09 on Friday"}]""")
    // chrono composite codes
    assert(one("SELECT to_char(TIMESTAMP '2024-01-05 07:08:09', '%F %T') AS s")
      == """[{"s":"2024-01-05 07:08:09"}]""")
    assert(one("SELECT to_char(TIMESTAMP '2024-01-05 07:08:09', '%D %R') AS s")
      == """[{"s":"01/05/24 07:08"}]""")
  }

  test("to_char residual chrono codes: quarter, 12h clock, ctime, VMS, epoch, offsets") {
    assert(one("SELECT to_char(TIMESTAMP '2024-01-05 17:08:09', 'Q%q %r') AS s")
      == """[{"s":"Q1 05:08:09 PM"}]""")
    // chrono %e (and the %v/%c composites embedding it) SPACE-pads
    // single-digit days to two chars (r04 review: the unpadded form
    // silently diverged from the reference for days < 10)
    assert(one("SELECT to_char(TIMESTAMP '2024-01-05 07:08:09', '%v') AS s")
      == """[{"s":" 5-Jan-2024"}]""")
    assert(one("SELECT to_char(TIMESTAMP '2024-01-15 07:08:09', '%v') AS s")
      == """[{"s":"15-Jan-2024"}]""")
    assert(one("SELECT to_char(TIMESTAMP '2024-01-05 07:08:09', '%c') AS s")
      == """[{"s":"Fri Jan  5 07:08:09 2024"}]""")
    assert(one("SELECT to_char(TIMESTAMP '2024-01-05 07:08:09', 'day:%e.') AS s")
      == """[{"s":"day: 5."}]""")
    assert(one("SELECT to_char(TIMESTAMP '2024-01-05 07:08:09', '%k|%l') AS s")
      == """[{"s":" 7| 7"}]""")
    assert(one("SELECT to_char(TIMESTAMP '1970-01-01 00:01:40', '%s') AS s")
      == """[{"s":"100"}]""")
    // UTC session: numeric offsets render as zero
    assert(one("SELECT to_char(TIMESTAMP '2024-01-05 07:08:09', '%z %:z') AS s")
      == """[{"s":"+0000 +00:00"}]""")
    // %3f consumes all three chars (r03 review: the 'f' leaked as literal)
    assert(one("SELECT to_char(TIMESTAMP '2024-01-05 07:08:09.123456', '%S.%3f') AS s")
      == """[{"s":"09.123"}]""")
  }

  test("encode/decode dispatch hex and base64, charset path still works") {
    assert(one("SELECT encode('abc', 'hex') AS h") == """[{"h":"616263"}]""")
    assert(one("SELECT encode('hi', 'base64') AS b") == """[{"b":"aGk="}]""")
    assert(one("SELECT CAST(decode(encode('hi', 'base64'), 'base64') AS STRING) AS r")
      == """[{"r":"hi"}]""")
    assert(one("SELECT CAST(decode(encode('hi', 'hex'), 'hex') AS STRING) AS r")
      == """[{"r":"hi"}]""")
    assert(one("SELECT CAST(encode('hi', 'utf-8') AS STRING) AS r") == """[{"r":"hi"}]""")
  }

  test("approx_median approximates the exact median") {
    val out = one("SELECT approx_median(x) AS m FROM VALUES (1.0),(2.0),(3.0),(4.0),(100.0) t(x)")
    assert(out == """[{"m":3.0}]""")
  }

  test("approx_percentile_cont_with_weight uses the weight column") {
    val out = one(
      "SELECT approx_percentile_cont_with_weight(x, w, 0.5) AS p FROM VALUES (1.0, 1), (2.0, 1), (10.0, 8) t(x, w)")
    assert(out == """[{"p":10.0}]""")
  }

  test("approx_percentile_cont_with_weight accepts fractional weights") {
    // pre-fix, Cast(w, LongType) TRUNCATED: 0.4 -> 0, silently dropping
    // every row here. Fractional weights are now quantized (round(w*2^20))
    // so equal sub-unit weights behave like equal unit weights.
    assert(one(
      "SELECT approx_percentile_cont_with_weight(x, w, 0.5) AS p " +
      "FROM VALUES (1.0, 0.4), (2.0, 0.4), (3.0, 0.4) t(x, w)")
      == """[{"p":2.0}]""")
    // ratios are what matters: weights 0.5 : 1.5 act like 1 : 3
    assert(one(
      "SELECT approx_percentile_cont_with_weight(x, w, 0.5) AS p " +
      "FROM VALUES (1.0, 0.5), (10.0, 1.5) t(x, w)")
      == """[{"p":10.0}]""")
    // integral weights still take the exact unquantized path
    assert(one(
      "SELECT approx_percentile_cont_with_weight(x, w, 0.9) AS p " +
      "FROM VALUES (1.0, 1), (2.0, 1), (3.0, 18) t(x, w)")
      == """[{"p":3.0}]""")
    // positive weights below the 2^-21 quantum clamp to one quantum
    // instead of quantizing to frequency 0 (which Percentile silently
    // skips — the dropped-row bug one scale down, r04 review)
    assert(one(
      "SELECT approx_percentile_cont_with_weight(x, w, 0.5) AS p " +
      "FROM VALUES (1.0, 1e-7), (2.0, 1e-7), (3.0, 1e-7) t(x, w)")
      == """[{"p":2.0}]""")
  }

  test("to_local_time strips the timezone via the session zone") {
    val spark = TestSessions.spark
    val saved = spark.conf.get("spark.sql.session.timeZone")
    try {
      // contract (matches DataFusion's to_local_time: strip the zone):
      // the result renders as the instant's WALL CLOCK in the session
      // zone, as a naive timestamp
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      assert(one("SELECT to_local_time(TIMESTAMP '2024-06-01 12:00:00') AS t")
        == """[{"t":"2024-06-01T12:00:00"}]""")
      // DST boundary (LA springs forward 02:00->03:00 on 2024-03-10 at
      // 10:00Z): instants on either side pick up different offsets
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      assert(one("SELECT to_local_time(TIMESTAMP '2024-03-10 02:30:00Z') AS t")
        == """[{"t":"2024-03-09T18:30:00"}]""") // PST, UTC-8
      assert(one("SELECT to_local_time(TIMESTAMP '2024-03-10 11:30:00Z') AS t")
        == """[{"t":"2024-03-10T04:30:00"}]""") // PDT, UTC-7
    } finally spark.conf.set("spark.sql.session.timeZone", saved)
  }

  test("name aliases: approx_distinct, string_agg, to_hex, substr_index, today") {
    assert(one("SELECT approx_distinct(x) AS d FROM VALUES (1),(2),(2),(3) t(x)") == """[{"d":3}]""")
    assert(one("SELECT string_agg(x, ',') AS s FROM VALUES ('a'),('b') t(x)") == """[{"s":"a,b"}]""")
    assert(one("SELECT to_hex(255) AS h") == """[{"h":"FF"}]""")
    assert(one("SELECT substr_index('a.b.c', '.', 2) AS s") == """[{"s":"a.b"}]""")
    assert(one("SELECT (today() = current_date) AS same") == """[{"same":true}]""")
    assert(one("SELECT to_unixtime(TIMESTAMP '1970-01-01 00:01:00') AS u") == """[{"u":60}]""")
  }

  test("aliases are registry entries: spark.sql and expr() resolve them, headers unchanged") {
    val spark = TestSessions.spark
    engine // building an SqlEngine registers the entries on its session
    assert(spark.sql("SELECT to_hex(255) AS h").head().getString(0) == "FF")
    assert(spark.range(4).selectExpr("approx_distinct(id % 3) AS d").head().getLong(0) == 3L)
    assert(engine.executeStatement("SELECT to_hex(255)").columns.toSeq == Seq("hex(255)"))
    // every alias builds its target's expression: same header, same value
    val calls = Seq("approx_distinct(x)", "approx_percentile_cont(x, 0.5)",
      "substr_index('a.b.c', '.', 2)", "to_unixtime(TIMESTAMP '1970-01-01 00:01:00')",
      "to_timestamp_seconds(60)", "to_timestamp_millis(60000)",
      "to_timestamp_micros(60000000)", "to_hex(255)", "today()", "list_sort(array(3, 1, 2))")
    assert(calls.map(_.takeWhile(_ != '(')).toSet == GapFillers.aliases.keySet)
    calls.foreach { call =>
      val name = call.takeWhile(_ != '(')
      def from(c: String) = s"SELECT $c FROM VALUES (1.5), (2.5) t(x)"
      val ours = engine.executeStatement(from(call))
      val target = spark.sql(from(GapFillers.aliases(name) + call.drop(name.length)))
      assert(ours.columns.toSeq == target.columns.toSeq, call)
      assert(ours.collect().toSeq == target.collect().toSeq, call)
    }
  }

  test("a second engine on a session registers nothing again; builtin overrides stay bound") {
    val s = TestSessions.spark.newSession()
    val reg = s.sessionState.functionRegistry
    new SqlEngine(s)
    val encode = FunctionIdentifier("encode")
    assert(!reg.lookupFunction(encode).exists(
      _ eq FunctionRegistry.builtin.lookupFunction(encode).get), "encode still holds Spark's entry")
    val before = reg.listFunction().map(id => id -> reg.lookupFunction(id).get).toMap
    new SqlEngine(s)
    val replaced = reg.listFunction().filterNot(id => before.get(id).exists(_ eq reg.lookupFunction(id).get))
    assert(replaced.isEmpty, s"registered again: ${replaced.mkString(", ")}")
    assert(s.sql("SELECT encode('a', 'hex')").head().getString(0) == "61")
  }
}
