package graft.engine

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the engine's textual pre-processing: the splitter
  * must preserve content, never split inside literals, and the dialect
  * helpers must leave literal contents untouched. (Raw scalacheck Gens
  * sampled deterministically — the scalatest bridge isn't on the
  * offline classpath.) */
class SplitterPropertySpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int = 100): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val word = Gen.alphaNumStr.suchThat(_.nonEmpty).map(_.take(8))
  private val literal = word.map(w => s"'$w;$w'")
  private val fragment = Gen.oneOf(word, literal, Gen.const("--c;\n"), Gen.const("/*x;y*/"))
  private val statement = Gen.listOfN(4, fragment).map(_.mkString("SELECT ", " ", ""))

  test("property: joined split equals input modulo separators and whitespace") {
    val squash = (s: String) => s.filterNot(c => c.isWhitespace || c == ';')
    samples(Gen.listOfN(3, statement)).foreach { stmts =>
      val sql = stmts.mkString(";")
      val out = StatementSplitter.split(sql)
      assert(out.map(squash).mkString == squash(sql), s"input: $sql")
    }
  }

  test("property: statements containing only quoted semicolons never split") {
    samples(Gen.zip(word, word)).foreach { case (a, b) =>
      val stmt = s"SELECT '$a;$b' AS x"
      assert(StatementSplitter.split(stmt) == Seq(stmt))
    }
  }

  test("property: outsideLiterals leaves literal contents untouched") {
    val renameToday = (seg: String) => seg.replaceAll("(?i)\\btoday\\s*\\(", "current_date(")
    samples(Gen.zip(word, word)).foreach { case (a, b) =>
      val sql = s"SELECT '$a today( $b' AS x, today() AS d"
      val out = Dialect.outsideLiterals(sql)(renameToday)
      assert(out.contains(s"'$a today( $b'"))
      assert(out.contains("current_date() AS d"))
    }
  }

  test("property: maskLiterals removes literal content but keeps structure") {
    samples(word).foreach { a =>
      val sql = s"SELECT '$a GROUPS BETWEEN $a' AS x"
      val masked = Dialect.maskLiterals(sql)
      assert(!masked.contains("GROUPS BETWEEN"))
      assert(masked.startsWith("SELECT '"))
    }
  }

  // keyword-shaped data inside literals — every masked-offset rewrite
  // must pass it through byte-identical
  private val sqlFragmentData = Gen.oneOf(
    " SIMILAR TO ''pat'' ",
    "x SIMILAR TO 'p'",
    "generate_series(1, 9)",
    "FROM generate_series(2, 5)",
    "FIRST_VALUE(a ORDER BY b)",
    "NTH_VALUE(a, 2 ORDER BY b DESC)",
    "OVER (ORDER BY x GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW)",
    "GROUPS CURRENT ROW")

  test("property: rewrites never touch keyword-shaped data inside literals") {
    samples(Gen.zip(word, sqlFragmentData)).foreach { case (w, frag) =>
      val sql = s"SELECT '$w $frag' AS doc, $w() AS k"
      val rewritten = Dialect.rewriteAggFirstLast(
        Dialect.rewriteSimilarTo(Dialect.markGroupsFrames(sql)))
      assert(rewritten == sql, s"input: $sql")
    }
  }

  test("property: rewrites still fire on real predicates after such literals") {
    samples(sqlFragmentData).foreach { frag =>
      val sql = s"SELECT '$frag' AS doc, c SIMILAR TO 'a%' AS m FROM t"
      val rewritten = Dialect.rewriteSimilarTo(sql)
      assert(rewritten.contains(s"'$frag'"), s"literal mangled: $rewritten")
      assert(rewritten.contains("RLIKE '^a.*$'"), s"predicate missed: $rewritten")
    }
  }
}
