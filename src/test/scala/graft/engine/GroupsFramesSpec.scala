package graft.engine

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSessions

/** GROUPS window frames through `executeStatement`, compared with a
  * peer-group computation on the driver. Seeded random tables carry
  * ties, NULL keys and values, and 1-3 window partitions; each statement
  * holds two GROUPS windows with different specs. */
class GroupsFramesSpec extends AnyFunSuite {
  private lazy val spark = TestSessions.spark
  private lazy val engine = new SqlEngine(spark)

  private case class Rec(p: Int, k: Option[Int], v: Option[Int])

  /** One ORDER BY key: the column, its text, direction, null placement
    * (None = the SQL-standard default: NULLS LAST for ASC, FIRST for DESC). */
  private case class Key(col: Rec => Option[Int], name: String, asc: Boolean,
      nulls: Option[Boolean]) {
    def nullsFirst: Boolean = nulls.getOrElse(!asc)
    def sql: String = s"$name ${if (asc) "ASC" else "DESC"}" +
      nulls.fold("")(f => if (f) " NULLS FIRST" else " NULLS LAST")
    def cmp(a: Rec, b: Rec): Int = (col(a), col(b)) match {
      case (None, None) => 0
      case (None, _) => if (nullsFirst) -1 else 1
      case (_, None) => if (nullsFirst) 1 else -1
      case (Some(x), Some(y)) => if (asc) x.compare(y) else y.compare(x)
    }
  }

  /** A frame in peer groups relative to the current one; None is
    * UNBOUNDED on that side. */
  private case class Frame(lo: Option[Int], hi: Option[Int], shorthand: Boolean) {
    private def bound(b: Option[Int], unbounded: String): String = b match {
      case None => s"UNBOUNDED $unbounded"
      case Some(0) => "CURRENT ROW"
      case Some(n) if n < 0 => s"${-n} PRECEDING"
      case Some(n) => s"$n FOLLOWING"
    }
    def sql: String =
      if (shorthand) s"GROUPS ${bound(lo, "PRECEDING")}"
      else s"GROUPS BETWEEN ${bound(lo, "PRECEDING")} AND ${bound(hi, "FOLLOWING")}"
  }

  private case class Win(fn: String, partitioned: Boolean, keys: List[Key], frame: Frame) {
    def sql: String = {
      val part = if (partitioned) "PARTITION BY p " else ""
      s"$fn OVER (${part}ORDER BY ${keys.map(_.sql).mkString(", ")} ${frame.sql})"
    }
  }

  private val fns = Seq("sum(v)", "count(*)", "min(v)", "max(v)", "first_value(k)")

  private def randomWin(r: Random): Win = {
    def key(col: Rec => Option[Int], name: String) =
      Key(col, name, r.nextBoolean(), Seq(None, Some(true), Some(false))(r.nextInt(3)))
    val keys = key(_.k, "k") :: (if (r.nextInt(3) == 0) List(key(_.v, "v")) else Nil)
    val lo = Seq(None, Some(-2), Some(-1), Some(0), Some(1))(r.nextInt(5))
    val frame =
      if (lo.forall(_ <= 0) && r.nextInt(4) == 0) Frame(lo, Some(0), shorthand = true)
      else {
        val his = Seq(Some(-1), Some(0), Some(1), Some(2), None)
          .filter(h => h.isEmpty || lo.forall(_ <= h.get))
        Frame(lo, his(r.nextInt(his.size)), shorthand = false)
      }
    Win(fns(r.nextInt(fns.size)), r.nextBoolean(), keys, frame)
  }

  private def randomTable(r: Random): Seq[Rec] = {
    val parts = 1 + r.nextInt(3)
    Seq.fill(1 + r.nextInt(12))(Rec(r.nextInt(parts),
      if (r.nextInt(5) == 0) None else Some(r.nextInt(4)),
      if (r.nextInt(6) == 0) None else Some(r.nextInt(10))))
  }

  private def values(t: Seq[Rec]): String = {
    def lit(o: Option[Int]) = o.fold("CAST(NULL AS INT)")(_.toString)
    t.map(x => s"(${x.p}, ${lit(x.k)}, ${lit(x.v)})").mkString("VALUES ", ", ", " t(p, k, v)")
  }

  /** The window's value on every row of `t`, by peer groups. */
  private def expected(t: Seq[Rec], w: Win): Map[Rec, Seq[Any]] =
    t.groupBy(x => if (w.partitioned) x.p else 0).values.flatMap { part =>
      val cmp = (a: Rec, b: Rec) =>
        w.keys.iterator.map(_.cmp(a, b)).find(_ != 0).getOrElse(0)
      val sorted = part.sortWith(cmp(_, _) < 0)
      val groups = sorted.foldLeft(Vector.empty[Vector[Rec]]) { (gs, x) =>
        if (gs.nonEmpty && cmp(gs.last.head, x) == 0) gs.init :+ (gs.last :+ x)
        else gs :+ Vector(x)
      }
      groups.indices.flatMap { g =>
        val from = w.frame.lo.fold(0)(o => math.max(0, g + o))
        val until = w.frame.hi.fold(groups.size)(o => math.min(groups.size, g + o + 1))
        val rows = (from until until).flatMap(groups)
        val vs = rows.flatMap(_.v)
        val value: Any = w.fn match {
          case "sum(v)" => if (vs.isEmpty) null else vs.map(_.toLong).sum
          case "count(*)" => rows.size.toLong
          case "min(v)" => if (vs.isEmpty) null else vs.min
          case "max(v)" => if (vs.isEmpty) null else vs.max
          case "first_value(k)" => rows.headOption.flatMap(_.k).getOrElse(null)
        }
        groups(g).map(_ -> value)
      }
    }.groupBy(_._1).map { case (rec, vs) => rec -> vs.map(_._2).toSeq }

  private def rowsOf(sql: String): Seq[String] =
    engine.executeStatement(sql).collect().toSeq.map(_.toSeq.mkString("|")).sorted

  /** Expected `p|k|v|a|b` lines for windows `a` and `b` over `t`. */
  private def expectedLines(t: Seq[Rec], a: Win, b: Win): Seq[String] = {
    val (ea, eb) = (expected(t, a), expected(t, b))
    t.distinct.flatMap { x =>
      ea(x).zip(eb(x)).map { case (va, vb) => Seq(x.p, x.k.getOrElse(null), x.v.getOrElse(null), va, vb) }
    }.map(_.mkString("|")).sorted
  }

  test("differential: two GROUPS windows per statement match peer groups computed on the driver") {
    val r = new Random(20261019L)
    (0 until 40).foreach { _ =>
      val t = randomTable(r)
      val (a, b) = (randomWin(r), randomWin(r))
      val sql = s"SELECT p, k, v, ${a.sql} AS a, ${b.sql} AS b FROM ${values(t)}"
      assert(rowsOf(sql) == expectedLines(t, a, b), sql)
    }
  }

  // A fixed table for the statement shapes below: partitions 0 and 1,
  // ties on k, a NULL key.
  private val fixed = Seq(Rec(0, Some(1), Some(5)), Rec(0, Some(1), Some(2)),
    Rec(0, Some(2), Some(4)), Rec(0, None, Some(1)), Rec(1, Some(3), Some(7)),
    Rec(1, Some(3), None), Rec(1, Some(4), Some(6)))
  private val byK = List(Key(_.k, "k", asc = true, None))
  private val sumWin = Win("sum(v)", partitioned = true, byK, Frame(Some(-1), Some(0), shorthand = false))

  test("GROUPS in correlated EXISTS, LATERAL and GROUP BY shapes match the driver") {
    val sums = expected(fixed, sumWin)
    // LATERAL: the per-p window over u equals PARTITION BY p
    val lateral = rowsOf(
      s"""SELECT o.p, d.k, d.v, d.s FROM (SELECT DISTINCT p FROM ${values(fixed)}) o,
         |LATERAL (SELECT k, v, sum(v) OVER (ORDER BY k GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
         |         FROM ${values(fixed)} WHERE t.p = o.p) d""".stripMargin)
    assert(lateral == fixed.map(x =>
      Seq(x.p, x.k.getOrElse(null), x.v.getOrElse(null), sums(x).head).mkString("|")).sorted)
    // correlated IN: a row stays when its v + 1 is one of its own
    // partition's window sums, computed inside the subquery
    val in = rowsOf(
      s"""SELECT o.p, o.k, o.v FROM (SELECT * FROM ${values(fixed)}) o
         |WHERE o.v + 1 IN (SELECT sum(v) OVER (ORDER BY k GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW)
         |                  FROM ${values(fixed)} WHERE t.p = o.p)""".stripMargin)
    assert(in == fixed.filter(x => x.v.exists(v => fixed.filter(_.p == x.p)
      .exists(y => sums(y).head == (v + 1).toLong))).map(x => Seq(x.p, x.k.getOrElse(null), x.v.getOrElse(null)).mkString("|")).sorted)
    // correlated scalar subquery: the largest window sum of the row's own partition
    val scalar = rowsOf(
      s"""SELECT o.p, (SELECT max(s) FROM (SELECT sum(v) OVER (ORDER BY k
         |  GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM ${values(fixed)} WHERE t.p = o.p)) AS m
         |FROM (SELECT DISTINCT p FROM ${values(fixed)}) o""".stripMargin)
    assert(scalar == fixed.map(_.p).distinct.map(p =>
      s"$p|${fixed.filter(_.p == p).map(x => sums(x).head.asInstanceOf[Long]).max}").sorted)
    // GROUP BY with unaliased and expression items: windows over the
    // aggregated rows, peer groups on the post-aggregate key
    val agg = fixed.groupBy(_.k).toSeq.map { case (k, xs) => Rec(0, k, Some(xs.flatMap(_.v).sum)) }
    val aggSums = expected(agg, sumWin)
    assert(rowsOf(
      s"""SELECT k + 1, sum(v), sum(sum(v)) OVER (ORDER BY k GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW)
         |FROM ${values(fixed)} GROUP BY k""".stripMargin) ==
      agg.map(x => Seq(x.k.map(_ + 1).getOrElse(null), x.v.get.toLong, aggSums(x).head).mkString("|")).sorted)
  }

  test("GROUPS in temporary views and CTAS tables match the driver") {
    val a = sumWin
    val b = Win("count(*)", partitioned = false,
      List(Key(_.k, "k", asc = false, Some(false))), Frame(None, Some(0), shorthand = true))
    val select = s"SELECT p, k, v, ${a.sql} AS a, ${b.sql} AS b FROM ${values(fixed)}"
    val want = expectedLines(fixed, a, b)
    engine.executeStatement(s"CREATE TEMPORARY VIEW groups_tmp AS $select")
    try assert(rowsOf("SELECT * FROM groups_tmp") == want)
    finally spark.sql("DROP VIEW IF EXISTS groups_tmp")
    engine.executeStatement(s"CREATE TABLE groups_ctas USING parquet AS $select")
    try assert(rowsOf("SELECT * FROM groups_ctas") == want)
    finally spark.sql("DROP TABLE IF EXISTS groups_ctas")
  }

  test("a named window belongs to its own set-operation branch") {
    // branch 1: peer groups {1, 1}, {2} sum to 2, 2, 2; branch 2 defines
    // its own w, a running ROWS sum over 5, 5, 6: 5, 10, 16
    assert(rowsOf(
      """SELECT sum(x) OVER w AS s FROM VALUES (1), (1), (2) t(x)
        |WINDOW w AS (ORDER BY x GROUPS CURRENT ROW)
        |UNION ALL
        |SELECT sum(x) OVER w AS s FROM VALUES (5), (5), (6) u(x)
        |WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin) ==
      Seq("10", "16", "2", "2", "2", "5"))
    // the same with the second branch in parentheses, and a reference
    // nested in a function call of the first
    assert(rowsOf(
      """SELECT coalesce(sum(x) OVER w, 0) AS s FROM VALUES (1), (1), (2) t(x)
        |WINDOW w AS (ORDER BY x GROUPS CURRENT ROW)
        |UNION ALL
        |(SELECT sum(x) OVER w AS s FROM VALUES (5), (5), (6) u(x)
        | WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))""".stripMargin) ==
      Seq("10", "16", "2", "2", "2", "5"))
  }

  test("a WINDOW clause in a CTE body or subquery is inlined in its own query") {
    // w2 chains onto w1; p = 0 holds peer groups {1, 1}, {2}
    assert(rowsOf(
      """WITH c AS (SELECT x, sum(x) OVER w2 AS s FROM VALUES (0, 1), (0, 1), (0, 2), (1, 3) t(p, x)
        |  WINDOW w1 AS (PARTITION BY p), w2 AS (w1 ORDER BY x GROUPS CURRENT ROW))
        |SELECT * FROM c""".stripMargin) ==
      Seq("1|2", "1|2", "2|2", "3|3"))
    // lag ignores the GROUPS frame of the window it shares with sum:
    // groups {1, 1}, {2}, {4} give sums 2, 2 + 2, 2 + 4
    assert(rowsOf(
      """WITH c AS (SELECT x, lag(x) OVER w AS l, sum(x) OVER w AS s
        |  FROM VALUES (1), (1), (2), (4) t(x)
        |  WINDOW w AS (ORDER BY x GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW))
        |SELECT * FROM c""".stripMargin) ==
      Seq("1|1|2", "1|null|2", "2|1|4", "4|2|6"))
    assert(rowsOf(
      """SELECT (SELECT max(s) FROM (SELECT sum(x) OVER w AS s FROM VALUES (1), (1), (2) t(x)
        |  WINDOW w AS (ORDER BY x GROUPS CURRENT ROW))) AS m""".stripMargin) == Seq("2"))
    // a subquery between the reference and the clause is not its block
    assert(rowsOf(
      """SELECT x, sum(x) OVER w AS s, (SELECT max(y) FROM VALUES (7) u(y)) AS m
        |FROM VALUES (1), (1), (2) t(x) WINDOW w AS (ORDER BY x GROUPS CURRENT ROW)""".stripMargin) ==
      Seq("1|2|7", "1|2|7", "2|2|7"))
    // Spark's `w2 AS w1` definition and `OVER (w2)` reference
    assert(rowsOf(
      """SELECT x, sum(x) OVER (w2) AS s FROM VALUES (1), (1), (2) t(x)
        |WINDOW w1 AS (ORDER BY x GROUPS CURRENT ROW), w2 AS w1""".stripMargin) ==
      Seq("1|2", "1|2", "2|2"))
  }

  test("an unaliased GROUPS window column is named with its GROUPS frame") {
    val df = engine.executeStatement(
      "SELECT x, sum(x) OVER (ORDER BY x DESC GROUPS 1 PRECEDING) FROM VALUES (1), (1), (2) t(x)")
    assert(df.columns.toSeq == Seq("x",
      "sum(x) OVER (ORDER BY x DESC NULLS FIRST GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW)"))
  }

  test("GROUPS shapes outside the emulation keep the documented error") {
    Seq(
      "SELECT sum(x) OVER (ORDER BY x GROUPS CURRENT ROW EXCLUDE TIES) FROM VALUES (1) t(x)",
      "SELECT sum(x) OVER (GROUPS CURRENT ROW) FROM VALUES (1) t(x)",
      "SELECT sum(x) OVER (ORDER BY x GROUPS BETWEEN x PRECEDING AND CURRENT ROW) FROM VALUES (1) t(x)"
    ).foreach { sql =>
      val e = intercept[UnsupportedOperationException](engine.executeStatement(sql))
      assert(e.getMessage.startsWith("GROUPS window frames"), e.getMessage)
    }
  }

  test("a marked statement on a session without the rule fails, never answers with ROWS") {
    val s = spark.newSession()
    GroupsFrames.registerMark(s)
    val sql = Dialect.markGroupsFrames(
      "SELECT x, sum(x) OVER (ORDER BY x GROUPS CURRENT ROW) AS s FROM VALUES (1), (1), (2) t(x)")
    // generated code and the interpreted path both meet the mark
    Seq("CODEGEN_ONLY", "NO_CODEGEN").foreach { mode =>
      s.conf.set("spark.sql.codegen.factoryMode", mode)
      s.conf.set("spark.sql.codegen.wholeStage", (mode == "CODEGEN_ONLY").toString)
      val e = intercept[Exception](s.sql(sql).collect())
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(messages.exists(m => m != null && m.contains("GROUPS window frames")), e.toString)
    }
  }

  test("the rule is added once per session and leaves unmarked plans as they are") {
    engine
    new SqlEngine(spark)
    assert(spark.experimental.extraOptimizations.count(_ eq GroupsFrames) == 1)
    val plan = spark.sql("SELECT x, sum(x) OVER (ORDER BY x) FROM VALUES (1) t(x)")
      .queryExecution.analyzed
    assert(GroupsFrames(plan) eq plan)
  }
}
