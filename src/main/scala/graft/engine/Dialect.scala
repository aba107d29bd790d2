package graft.engine

import scala.util.matching.Regex

/**
 * Dialect shims that are syntax (not function-name) level, applied by
 * `SqlEngine` pre-parse.
 *
 * `SIMILAR TO` (SURVEY §2.2 predicate row): SQL-standard pattern
 * matching DataFusion accepts but Spark has no syntax for. Rewritten to
 * an anchored RLIKE: `%`→`.*`, `_`→`.` (outside character classes;
 * escape-char pairs preserved as literals, ESCAPE clause honored),
 * regex metacharacters that SQL patterns treat literally (`.`) escaped.
 * The regex-subset operators SIMILAR TO shares with POSIX (`|`, `*`,
 * `+`, `?`, `()`, `[]`, `{}`) pass through unchanged.
 */
object Dialect {

  private val M = '\u0001'

  private val SimilarTo: Regex =
    """(?i)\s+(NOT\s+)?SIMILAR\s+TO\s+'((?:[^']|'')*)'(\s+ESCAPE\s+'((?:[^']|'')*)')?""".r

  /** Length-preserving mask of every region whose content must never be
    * keyword-matched: single-quoted string literals (with `''` and
    * backslash escapes), double-quoted string literals (Spark default:
    * `"..."` is a string), backtick identifiers, `--` line comments and
    * multi-line comments — an apostrophe inside a comment or
    * a double-quoted string would otherwise flip the in-literal state
    * and derail every mask-based rewrite (r03 review). Content becomes
    * \u0001; delimiters stay, so regex match offsets on the masked text
    * are valid offsets into the raw text. */
  private[engine] def maskSameLength(sql: String): String = {
    val arr = sql.toCharArray
    var i = 0
    var state = 0 // 0 code, 1 '…', 2 "…", 3 `…`, 4 --…\n, 5 /*…*/
    var depth5 = 0 // bracketed comments NEST in Spark (r04 review —
    // StatementSplitter already tracks this; ending at the first */
    // left the tail commented-but-unmasked, derailing every rewrite)
    while (i < arr.length) {
      val c = arr(i)
      state match {
        case 0 =>
          if (c == '\'') state = 1
          else if (c == '"') state = 2
          else if (c == '`') state = 3
          else if (c == '-' && i + 1 < arr.length && arr(i + 1) == '-') { state = 4; i += 1 }
          else if (c == '/' && i + 1 < arr.length && arr(i + 1) == '*') {
            state = 5; depth5 = 1; i += 1
          }
        case 1 =>
          if (c == '\\' && i + 1 < arr.length) { arr(i) = M; arr(i + 1) = M; i += 1 }
          else if (c == '\'' && i + 1 < arr.length && arr(i + 1) == '\'') {
            arr(i) = M; arr(i + 1) = M; i += 1
          }
          else if (c == '\'') state = 0
          else arr(i) = M
        case 2 =>
          if (c == '\\' && i + 1 < arr.length) { arr(i) = M; arr(i + 1) = M; i += 1 }
          else if (c == '"' && i + 1 < arr.length && arr(i + 1) == '"') {
            arr(i) = M; arr(i + 1) = M; i += 1
          }
          else if (c == '"') state = 0
          else arr(i) = M
        case 3 =>
          if (c == '`') state = 0 else arr(i) = M
        case 4 =>
          if (c == '\n') state = 0 else arr(i) = M
        case 5 =>
          if (c == '*' && i + 1 < arr.length && arr(i + 1) == '/') {
            depth5 -= 1
            if (depth5 == 0) state = 0 // outer delimiter stays unmasked
            else { arr(i) = M; arr(i + 1) = M } // inner close is content
            i += 1
          } else if (c == '/' && i + 1 < arr.length && arr(i + 1) == '*') {
            depth5 += 1; arr(i) = M; arr(i + 1) = M; i += 1
          } else arr(i) = M
      }
      i += 1
    }
    new String(arr)
  }

  /** Index just past the `)` matching an already-consumed `(` (the scan
    * starts at `afterOpen`); -1 when unbalanced. */
  private def skipBalanced(masked: String, afterOpen: Int): Int = {
    var depth = 1
    var i = afterOpen
    while (i < masked.length && depth > 0) {
      masked.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
      }
      i += 1
    }
    if (depth == 0) i else -1
  }

  /** `x SIMILAR TO 'pat' [ESCAPE 'c']` → `x RLIKE '^pat$'`. Match
    * positions are found on a same-length literal mask so the keyword is
    * only recognized OUTSIDE string literals — a document containing
    * " SIMILAR TO 'x' " as DATA passes through untouched (this engine
    * targets text corpora where SQL fragments inside documents are
    * plausible). The pattern body itself is then read from the raw text
    * at the match offsets. */
  def rewriteSimilarTo(sql: String): String = {
    val ms = SimilarTo.findAllMatchIn(maskSameLength(sql)).toList
    if (ms.isEmpty) sql
    else {
      val sb = new StringBuilder
      var last = 0
      ms.foreach { m =>
        sb ++= sql.substring(last, m.start)
        val not = if (m.group(1) != null) "NOT " else ""
        val esc =
          if (m.group(3) == null) '\\'
          else {
            val e = sql.substring(m.start(4), m.end(4)).replace("''", "'")
            if (e.length != 1) throw new UnsupportedOperationException(
              s"SIMILAR TO ESCAPE must be a single character, got '$e'")
            e.charAt(0)
          }
        val pat = translatePattern(sql.substring(m.start(2), m.end(2)), esc)
        sb ++= s" ${not}RLIKE '^$pat$$'"
        last = m.end
      }
      sb ++= sql.substring(last)
      sb.toString
    }
  }

  private val GenSeries: Regex = """(?i)\bgenerate_series\s*\(""".r

  private val TvfKeyword =
    """(?i)\b(SELECT|FROM|WHERE|HAVING|JOIN|ON|USING|GROUP|ORDER|LIMIT|OFFSET)\b""".r
  private val FromOrJoin = """(?is).*(\bfrom|\bjoin)\s*$""".r.pattern

  /** True when position `at` sits in FROM-clause position: directly after
    * FROM/JOIN, or after a comma whose governing clause keyword (the last
    * same-depth SELECT/FROM/ON/... before it) belongs to the FROM clause
    * (FROM itself, or the tail of a join condition: ON/USING) — a comma
    * in a select list or an argument list does NOT qualify (r03 review:
    * the old any-comma rule rewrote select-list calls into the very
    * multi-row-subquery error the guard exists to prevent). */
  private def inFromPosition(masked: String, at: Int): Boolean = {
    val before = masked.substring(0, at)
    if (FromOrJoin.matcher(before).matches()) return true
    if (!before.trim.endsWith(",")) return false
    // governing keyword: last keyword before `at` whose paren depth
    // matches (net parens between the keyword and `at` is zero)
    TvfKeyword.findAllMatchIn(before).toList.reverseIterator
      .find { k =>
        val seg = before.substring(k.end)
        seg.count(_ == '(') == seg.count(_ == ')')
      }
      .exists(k => Set("FROM", "ON", "USING")
        .contains(k.group(1).toUpperCase(java.util.Locale.ROOT)))
  }

  /** DataFusion's FROM-clause TVF `generate_series(start, stop[, step])`
    * (reference: `Cargo.lock:845`, `datafusion-functions-table`) has no
    * Spark spelling — rewritten to a sequence-explode subquery producing
    * the same single `value` column:
    * `FROM generate_series(a, b[, s])` →
    * `FROM (SELECT explode(sequence(a, b[, s])) AS value)`.
    * The keyword is located on the literal mask and the argument parens
    * are balanced on the mask too, so data inside string arguments can
    * never derail the scan. Only FROM-clause position is rewritten (the
    * reference supports only the FROM-clause TVF): an expression-
    * position `generate_series(...)` would become a multi-row scalar
    * subquery — a confusing runtime error instead of a clean
    * "undefined function" (ADVICE r02). */
  def rewriteGenerateSeries(sql: String): String = {
    val masked = maskSameLength(sql)
    val ms = GenSeries.findAllMatchIn(masked).toList
    if (ms.isEmpty) sql
    else {
      val sb = new StringBuilder
      var last = 0
      ms.foreach { m =>
        if (m.start >= last && inFromPosition(masked, m.start)) {
          val i = skipBalanced(masked, m.end)
          if (i > 0) {
            val args = sql.substring(m.end, i - 1)
            sb ++= sql.substring(last, m.start)
            sb ++= s"(SELECT explode(sequence($args)) AS value)"
            last = i
          }
        }
      }
      sb ++= sql.substring(last)
      sb.toString
    }
  }

  private val AggCall: Regex =
    """(?i)\b(FIRST_VALUE|LAST_VALUE|NTH_VALUE|ARRAY_AGG|STRING_AGG|LISTAGG)\s*\(""".r

  /** DISTINCT + inline ORDER BY would splice DISTINCT into the middle
    * of the struct rewrite — reject with a clear message instead of a
    * downstream parse error. */
  private def rejectDistinctOrdered(fn: String, exprPartMasked: String): Unit =
    if ("""(?i)^\s*DISTINCT\b""".r.findFirstIn(exprPartMasked).isDefined)
      throw new UnsupportedOperationException(
        s"${fn.toLowerCase(java.util.Locale.ROOT)}(DISTINCT ... ORDER BY ...) " +
        "is not supported; deduplicate in a subquery first")

  /** Offsets of the first `ORDER BY` at paren-depth 0 of a (masked)
    * call-argument string, or None. */
  private def topLevelOrderBy(maskedArgs: String): Option[(Int, Int)] =
    findTopLevel(maskedArgs, """(?i)\bORDER\s+BY\b""".r).map(m => (m.start, m.end))

  /** Split positions of top-level commas in a (masked) string. */
  private def topLevelCommas(masked: String): List[Int] = {
    var depth = 0
    val out = List.newBuilder[Int]
    var i = 0
    while (i < masked.length) {
      masked.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => out += i
        case _ =>
      }
      i += 1
    }
    out.result()
  }

  /** (start, end) spans of `mk`'s top-level comma-separated segments in
    * [from, until) — shared by the GROUPS restructure and
    * PercentilePlanner. */
  private[engine] def splitTopLevel(mk: String, from: Int, until: Int): List[(Int, Int)] = {
    val buf = List.newBuilder[(Int, Int)]
    var depth = 0
    var s = from
    var i = from
    while (i < until) {
      val c = mk.charAt(i)
      if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (c == ',' && depth == 0) { buf += ((s, i)); s = i + 1 }
      i += 1
    }
    buf += ((s, until))
    buf.result()
  }

  private def splitTopLevel(raw: String, masked: String): List[String] = {
    val cuts = topLevelCommas(masked)
    ((-1 :: cuts) :+ raw.length).sliding(2).map {
      case List(a, b) => raw.substring(a + 1, b)
    }.toList
  }

  /** One ORDER BY sort key: expression text + direction + null placement.
    * DataFusion defaults match Postgres: NULLS LAST for ASC, NULLS FIRST
    * for DESC (the opposite of Spark's default — the r02 ADVICE
    * divergence this rewrite now encodes explicitly). */
  private case class SortKey(expr: String, asc: Boolean, nullsFirst: Boolean)

  private val KeyTail =
    """(?is)^(.*?)(?:\s+(ASC|DESC))?(?:\s+NULLS\s+(FIRST|LAST))?\s*$""".r.pattern

  private def parseSortKeys(raw: String, masked: String): List[SortKey] =
    splitTopLevel(raw, masked).zip(splitTopLevel(masked, masked)).map {
      case (seg, segMasked) =>
        val m = KeyTail.matcher(segMasked)
        require(m.matches())
        val asc = m.group(2) == null || m.group(2).equalsIgnoreCase("ASC")
        val nullsFirst =
          if (m.group(3) != null) m.group(3).equalsIgnoreCase("FIRST") else !asc
        SortKey(seg.substring(m.start(1), m.end(1)).trim, asc, nullsFirst)
    }

  /** Re-emit sort keys with EXPLICIT direction and null placement —
    * Spark's defaults (ASC NULLS FIRST) differ from the SQL-standard /
    * DataFusion ones parseSortKeys encodes. */
  private def pinSortKeys(keys: List[SortKey]): String =
    keys.map(k => s"${k.expr} ${if (k.asc) "ASC" else "DESC"} " +
      s"NULLS ${if (k.nullsFirst) "FIRST" else "LAST"}").mkString(", ")

  /** Comparator-lambda body for `array_sort` over structs of
    * (k0..kN, v): lexicographic over the keys with explicit direction
    * and null placement per key. */
  private def comparatorCase(keys: List[SortKey]): String = {
    def level(i: Int): String =
      if (i == keys.length) "0"
      else {
        val SortKey(_, asc, nullsFirst) = keys(i)
        val (a, b) = (s"a.k$i", s"b.k$i")
        val nullA = if (nullsFirst) -1 else 1
        val lt = if (asc) -1 else 1
        s"CASE WHEN $a IS NULL AND $b IS NULL THEN ${level(i + 1)} " +
          s"WHEN $a IS NULL THEN $nullA WHEN $b IS NULL THEN ${-nullA} " +
          s"WHEN $a < $b THEN $lt WHEN $a > $b THEN ${-lt} " +
          s"ELSE ${level(i + 1)} END"
      }
    level(0)
  }

  /** DataFusion accepts `first_value(x ORDER BY y)` / `last_value(...)` /
    * `nth_value(x, n ORDER BY y)` as AGGREGATES (`Cargo.lock:809`); Spark
    * only has the window forms. Two rewrite targets:
    *
    *  - **single-key first/last without FILTER** (the hot shape):
    *    constant-memory `min_by`/`max_by` guarded by null-key CASEs that
    *    encode DataFusion's null ordering (ASC → NULLS LAST, DESC →
    *    NULLS FIRST — opposite of Spark's default, and min_by/max_by
    *    silently skip null keys);
    *  - **everything else** (multi-key, nth, FILTER clause): an index
    *    into a comparator-sorted collected list —
    *    `try_element_at(array_sort(collect_list(named_struct('k0', y,
    *    'v', x)) [FILTER (...)], (a, b) -> cmp), idx).v`; first = 1,
    *    last = -1, nth = n; `try_element_at` yields NULL past the group
    *    size. O(group size) state — hot 100 TB paths should prefer the
    *    single-key shape or call min_by directly.
    *
    * Arguments are scanned with balanced parens, so nested calls like
    * `first_value(round(x, 2) ORDER BY y)` rewrite correctly (both r02
    * gaps). Window forms (no ORDER BY inside the call parens, or
    * followed by OVER) are left untouched. Keywords located on the
    * literal mask. */
  def rewriteAggFirstLast(sql: String): String = {
    val masked = maskSameLength(sql)
    val ms = AggCall.findAllMatchIn(masked).toList
    if (ms.isEmpty) return sql
    val sb = new StringBuilder
    var last = 0
    ms.foreach { m =>
      if (m.start >= last) {
        val i = skipBalanced(masked, m.end)
        var j = if (i > 0) i else masked.length
        while (j < masked.length && masked.charAt(j).isWhitespace) j += 1
        // word-boundary guard: an implicit alias like `overall` must not
        // read as a window OVER clause (r03 review)
        val isWindow = masked.regionMatches(true, j, "OVER", 0, 4) &&
          (j + 4 >= masked.length ||
            { val c = masked.charAt(j + 4); !(c.isLetterOrDigit || c == '_') })
        // a trailing FILTER (WHERE ...) clause is consumed and re-attached
        // to the rewritten aggregate (r03 review: leaving it dangling
        // after a non-aggregate expression is a parse error)
        var filterClause = ""
        var filterEnd = i
        if (i > 0 && !isWindow && masked.regionMatches(true, j, "FILTER", 0, 6)) {
          var p = j + 6
          while (p < masked.length && masked.charAt(p).isWhitespace) p += 1
          if (p < masked.length && masked.charAt(p) == '(') {
            val e2 = skipBalanced(masked, p + 1)
            if (e2 > 0) { filterClause = " FILTER " + sql.substring(p, e2); filterEnd = e2 }
          }
        }
        if (i > 0 && !isWindow) {
          val argsRaw = sql.substring(m.end, i - 1)
          val argsMasked = masked.substring(m.end, i - 1)
          topLevelOrderBy(argsMasked).foreach { case (obS, obE) =>
            val fn = m.group(1).toUpperCase(java.util.Locale.ROOT)
            val exprPartRaw = argsRaw.substring(0, obS)
            val exprPartMasked = argsMasked.substring(0, obS)
            val (valueExpr, idx) = fn match {
              case "NTH_VALUE" =>
                val segs = splitTopLevel(exprPartRaw, exprPartMasked)
                val n = segs.lastOption.map(_.trim).getOrElse("")
                if (segs.length < 2 || n.isEmpty || !n.forall(_.isDigit))
                  throw new UnsupportedOperationException(
                    "nth_value aggregate requires a literal integer position: " +
                    s"nth_value(expr, n ORDER BY ...), got ($exprPartRaw)")
                (segs.dropRight(1).mkString(",").trim, n)
              case "STRING_AGG" | "LISTAGG" =>
                // (expr, delimiter ORDER BY ...) — delimiter is the last
                // pre-ORDER-BY argument; idx carries it through
                val segs = splitTopLevel(exprPartRaw, exprPartMasked)
                if (segs.length < 2)
                  throw new UnsupportedOperationException(
                    "string_agg with ORDER BY requires " +
                    s"(expr, delimiter ORDER BY ...), got ($exprPartRaw)")
                rejectDistinctOrdered(fn, exprPartMasked)
                (segs.dropRight(1).mkString(",").trim, segs.last.trim)
              case "ARRAY_AGG" =>
                rejectDistinctOrdered(fn, exprPartMasked)
                (exprPartRaw.trim, "")
              case "FIRST_VALUE" => (exprPartRaw.trim, "1")
              case _ => (exprPartRaw.trim, "-1")
            }
            val keys = parseSortKeys(argsRaw.substring(obE), argsMasked.substring(obE))
            val listFns = Set("ARRAY_AGG", "STRING_AGG", "LISTAGG")
            val replacement =
              if (listFns.contains(fn)) {
                // DataFusion accepts ORDER BY inside array_agg/string_agg
                // (`Cargo.lock:809`); Spark's collect_list/listagg have no
                // inline ordering, so sort a keyed struct list with the
                // same comparator machinery and unwrap. string_agg skips
                // null values — array_join does too. O(group size) state,
                // inherent to the aggregate's own semantics.
                val fields = keys.zipWithIndex
                  .map { case (k, n) => s"'k$n', ${k.expr}" }
                  .mkString(", ")
                val arr = s"transform(array_sort(collect_list(" +
                  s"named_struct($fields, 'v', $valueExpr))$filterClause, " +
                  s"(a, b) -> ${comparatorCase(keys)}), s -> s.v)"
                if (fn == "ARRAY_AGG") arr else s"array_join($arr, $idx)"
              } else if (fn != "NTH_VALUE" && keys.length == 1 && filterClause.isEmpty) {
                // constant-memory path. byKey follows the key direction;
                // null-key rows win the frame edge when the null ordering
                // puts them there (nulls first for FIRST, nulls last for
                // LAST) — min_by/max_by alone would skip them.
                val SortKey(k, asc, nullsFirst) = keys.head
                val byKey = if ((fn == "FIRST_VALUE") == asc) "min_by" else "max_by"
                val nullKeyWins =
                  if (fn == "FIRST_VALUE") nullsFirst else !nullsFirst
                if (nullKeyWins)
                  s"(CASE WHEN count($k) < count(*) " +
                    s"THEN any_value(CASE WHEN ($k) IS NULL THEN $valueExpr END, true) " +
                    s"ELSE $byKey($valueExpr, $k) END)"
                else
                  s"(CASE WHEN count($k) = 0 THEN any_value($valueExpr) " +
                    s"ELSE $byKey($valueExpr, $k) END)"
              } else {
                val fields = keys.zipWithIndex
                  .map { case (k, n) => s"'k$n', ${k.expr}" }
                  .mkString(", ")
                s"try_element_at(array_sort(collect_list(" +
                  s"named_struct($fields, 'v', $valueExpr))$filterClause, " +
                  s"(a, b) -> ${comparatorCase(keys)}), $idx).v"
              }
            sb ++= sql.substring(last, m.start)
            sb ++= replacement
            last = if (filterClause.nonEmpty) filterEnd else i
          }
        }
      }
    }
    sb ++= sql.substring(last)
    sb.toString
  }

  // ------------------------------------------------------- GROUPS frames

  private case class GroupsSpec(overStart: Int, overEnd: Int,
      partition: String, order: String, frame: String)

  private def unsupportedGroups(why: String): Nothing =
    throw new UnsupportedOperationException(
      s"GROUPS window frames: $why (supported shape: a single-SELECT query — " +
      "standalone, as a CTE body / the statement after the WITH clause, or as " +
      "a set-operation branch — whose GROUPS windows share one PARTITION BY/" +
      "ORDER BY; with GROUP BY/HAVING every select item must be a bare column " +
      "or carry an explicit AS alias; Spark has no native GROUPS mode — " +
      "emulated via a dense_rank-keyed RANGE frame)")

  private val FrameBound =
    """(?is)^BETWEEN\s+(UNBOUNDED\s+PRECEDING|\d+\s+PRECEDING|\d+\s+FOLLOWING|CURRENT\s+ROW)\s+AND\s+(UNBOUNDED\s+FOLLOWING|\d+\s+PRECEDING|\d+\s+FOLLOWING|CURRENT\s+ROW)$|^(UNBOUNDED\s+PRECEDING|\d+\s+PRECEDING|CURRENT\s+ROW)$""".r.pattern

  /** The window-function name whose call immediately precedes the OVER
    * keyword at `overStart`: scan back over an optional IGNORE/RESPECT
    * NULLS, then `)` … balanced … `(`, and read the identifier. None
    * when the shape is anything else. */
  private def fnNameBefore(masked: String, overStart: Int): Option[String] = {
    var i = overStart - 1
    while (i >= 0 && masked.charAt(i).isWhitespace) i -= 1
    // `lead(x) IGNORE NULLS OVER (...)` — skip the null-treatment words
    // so the frame-drop still recognizes the offset function (r04 review)
    if (i >= 0 && masked.charAt(i) != ')') {
      def wordBack(): String = {
        val end = i + 1
        while (i >= 0 && (masked.charAt(i).isLetterOrDigit || masked.charAt(i) == '_')) i -= 1
        masked.substring(i + 1, end).toLowerCase(java.util.Locale.ROOT)
      }
      if (wordBack() != "nulls") return None
      while (i >= 0 && masked.charAt(i).isWhitespace) i -= 1
      val treat = wordBack()
      if (treat != "ignore" && treat != "respect") return None
      while (i >= 0 && masked.charAt(i).isWhitespace) i -= 1
    }
    if (i < 0 || masked.charAt(i) != ')') return None
    var depth = 1
    i -= 1
    while (i >= 0 && depth > 0) {
      val c = masked.charAt(i)
      if (c == ')') depth += 1 else if (c == '(') depth -= 1
      i -= 1
    }
    if (depth != 0) return None
    while (i >= 0 && masked.charAt(i).isWhitespace) i -= 1
    val end = i + 1
    while (i >= 0 && (masked.charAt(i).isLetterOrDigit || masked.charAt(i) == '_')) i -= 1
    if (i + 1 == end) None
    else Some(masked.substring(i + 1, end).toLowerCase(java.util.Locale.ROOT))
  }

  /** Offset of the first CODE character in a masked statement — skips
    * whitespace AND leading comments (whose delimiters survive masking,
    * so `stripLeading` alone saw '-' or '/' and misclassified valid
    * statements that begin with a comment — r04 review). */
  private def codeStart(masked: String): Int = skipBlank(masked, 0)

  /** First index ≥ `from` that is neither whitespace nor inside a
    * comment (comment CONTENT is masked but the delimiters survive
    * masking, so a plain whitespace skip stops at them — ADVICE r04:
    * the star-EXCEPT merge missed `* /* c */ EXCEPT (...)`). */
  private def skipBlank(masked: String, from: Int): Int = {
    var i = from
    var advanced = true
    while (advanced) {
      advanced = false
      while (i < masked.length && masked.charAt(i).isWhitespace) i += 1
      if (i + 1 < masked.length && masked.charAt(i) == '-' && masked.charAt(i + 1) == '-') {
        i += 2
        while (i < masked.length && masked.charAt(i) == M) i += 1
        if (i < masked.length && masked.charAt(i) == '\n') i += 1
        advanced = true
      } else if (i + 1 < masked.length && masked.charAt(i) == '/' && masked.charAt(i + 1) == '*') {
        i += 2
        while (i < masked.length && masked.charAt(i) == M) i += 1
        if (i + 1 < masked.length && masked.charAt(i) == '*' && masked.charAt(i + 1) == '/') i += 2
        advanced = true
      }
    }
    i
  }

  /** Last CODE character before `pos`, scanning backwards over
    * whitespace, masked literal/comment content and comment delimiters
    * (`--`, `/*`, `*/`). */
  private def lastCodeCharBefore(masked: String, pos: Int): Option[Char] = {
    var i = pos - 1
    while (i >= 0) {
      val c = masked.charAt(i)
      if (c.isWhitespace || c == M) i -= 1
      else if (i >= 1 && ((c == '/' && masked.charAt(i - 1) == '*') || // comment close
          (c == '*' && masked.charAt(i - 1) == '/') || // comment open
          (c == '-' && masked.charAt(i - 1) == '-'))) // line-comment open
        i -= 2
      else return Some(c)
    }
    None
  }

  /** Does the first code token of `masked` equal `word` (whole-word)? */
  private def startsWithCode(masked: String, word: String): Boolean = {
    val cs = codeStart(masked)
    masked.regionMatches(true, cs, word, 0, word.length) &&
      (cs + word.length >= masked.length ||
        { val c = masked.charAt(cs + word.length); !c.isLetterOrDigit && c != '_' })
  }

  private def findTopLevel(masked: String, word: Regex, from: Int = 0): Option[Regex.Match] =
    word.findAllMatchIn(masked).find { m =>
      if (m.start < from) false
      else {
        val prefix = masked.substring(0, m.start)
        prefix.count(_ == '(') == prefix.count(_ == ')')
      }
    }

  /**
   * SQL-standard GROUPS window frames (SURVEY §2.5 gap: the reference's
   * planner accepts them, Spark has no GROUPS mode). A GROUPS frame
   * counts PEER GROUPS of the window ordering; `dense_rank()` numbers
   * exactly those peer groups consecutively, so
   *
   *   agg OVER (PARTITION BY p ORDER BY k GROUPS <frame>)
   * ≡ agg OVER (PARTITION BY p ORDER BY __grp RANGE <frame>)
   *   over  SELECT *, DENSE_RANK() OVER (PARTITION BY p ORDER BY k) AS __grp
   *
   * — the RANGE offsets land on the integer dense-rank key, one step per
   * peer group. The dense_rank ORDER BY is re-emitted with EXPLICIT
   * direction + null placement (SQL-standard defaults: ASC NULLS LAST /
   * DESC NULLS FIRST), so null-key peer groups land where the reference
   * puts them, not where Spark's opposite default would. The statement
   * is restructured into the two-level form for the common single-SELECT
   * shape; anything else (CTEs, GROUP BY, set ops, SELECT *, mismatched
   * window specs) raises a clean documented error instead of a Spark
   * parse error. A `GROUPS` that is not a window frame (e.g. a column
   * named `groups` in a BETWEEN predicate) passes through untouched.
   */
  def rewriteGroupsFrames(sql: String): String = {
    val masked = maskSameLength(sql)
    val groupsKw = """(?i)\bGROUPS\s+(?=BETWEEN\b|UNBOUNDED\b|CURRENT\b|\d)""".r
    if (groupsKw.findFirstMatchIn(masked).isEmpty) return sql

    // Offset/ranking window functions ignore the frame (SQL standard:
    // lag/lead/rank/... are computed on the whole partition), so a
    // GROUPS frame on them is semantically inert — but Spark REJECTS any
    // explicit frame for them, and the RANGE-over-__grp restructure
    // would re-introduce one. Drop the frame text and keep the original
    // spec; position-independent, so it applies before any path split.
    locally {
      val overRe = """(?i)\bOVER\s*\(""".r
      val frameInsensitive = Set("lag", "lead", "rank", "dense_rank",
        "percent_rank", "row_number", "ntile", "cume_dist")
      val drops = overRe.findAllMatchIn(masked).flatMap { m =>
        val i = skipBalanced(masked, m.end)
        if (i < 0) None
        else {
          val inMasked = masked.substring(m.end, i - 1)
          findTopLevel(inMasked, groupsKw).flatMap { g =>
            val frame = inMasked.substring(g.end).trim.replaceAll("\\s+", " ")
            if (FrameBound.matcher(frame).matches() &&
              fnNameBefore(masked, m.start).exists(frameInsensitive))
              Some((m.end + g.start, i - 1))
            else None
          }
        }
      }.toList
      if (drops.nonEmpty) {
        val sb = new StringBuilder
        var last = 0
        drops.foreach { case (s, e) =>
          sb ++= sql.substring(last, s); last = e
        }
        sb ++= sql.substring(last)
        return rewriteGroupsFrames(sb.toString)
      }
    }

    // WITH statements: every CTE body and the trailing main statement are
    // each complete statements for the single-SELECT machinery below —
    // rewrite them independently and reassemble (VERDICT r03 "what's
    // missing" #1: the reference accepts GROUPS inside CTEs).
    if (startsWithCode(masked, "WITH"))
      return rewriteGroupsInWith(sql, masked)

    // GROUPS inside a FROM/JOIN derived table: lift the subquery into a
    // CTE and recurse — the CTE machinery restructures it in its own
    // scope (r05; the r04 documented error prescribed this lift
    // manually, VERDICT r04 next #3).
    liftGroupsSubquery(sql, masked, groupsKw) match {
      case Some(lifted) => return rewriteGroupsFrames(lifted)
      case None => ()
    }

    // set operations: each branch is independently a complete statement
    // for the machinery below — split at the top-level operators and
    // recurse per branch (branches without a GROUPS frame pass through).
    // A trailing ORDER BY/LIMIT stays outside the last branch's derived
    // table, so it still applies to the whole set-op result.
    val setOp =
      """(?i)\b(?:UNION|INTERSECT|EXCEPT|MINUS)(?:\s+(?:ALL|DISTINCT))?\b""".r
    val setOps = setOp.findAllMatchIn(masked).filter { m =>
      val prefix = masked.substring(0, m.start)
      // `* EXCEPT (cols)` is Spark 4 star-EXCEPT, not a set operator —
      // the preceding code char distinguishes them (r04 review; the
      // backward scan skips comments too, not just whitespace, so
      // `* /* c */ EXCEPT (...)` stays a star-EXCEPT — ADVICE r04)
      val starExcept = m.group(0).toUpperCase(java.util.Locale.ROOT).startsWith("EXCEPT") &&
        lastCodeCharBefore(masked, m.start).contains('*')
      !starExcept && prefix.count(_ == '(') == prefix.count(_ == ')')
    }.toList
    if (setOps.nonEmpty) {
      val sb = new StringBuilder
      var last = 0
      setOps.foreach { m =>
        sb ++= rewriteGroupsBranch(sql.substring(last, m.start))
        sb ++= sql.substring(m.start, m.end)
        last = m.end
      }
      sb ++= rewriteGroupsBranch(sql.substring(last))
      return sb.toString
    }

    // collect every OVER (...) spec containing a GROUPS frame
    val overRe = """(?i)\bOVER\s*\(""".r
    val specs = overRe.findAllMatchIn(masked).flatMap { m =>
      val i = skipBalanced(masked, m.end)
      if (i < 0) None
      else {
        val inMasked = masked.substring(m.end, i - 1)
        val inRaw = sql.substring(m.end, i - 1)
        findTopLevel(inMasked, groupsKw).map { g =>
          if ("""(?i)\bEXCLUDE\b""".r.findFirstIn(inMasked).isDefined)
            unsupportedGroups("EXCLUDE clauses are not supported")
          // a GROUPS window nested inside a `(SELECT ...)` subquery
          // belongs to a DIFFERENT query scope — the top-level
          // restructure below would splice __grp across scopes and
          // mangle it (r04 review). FROM/JOIN derived tables and
          // PROVABLY-UNCORRELATED subqueries in any other position were
          // already lifted into CTEs above (r05/r06), so reaching here
          // means a CORRELATED (or unresolvable) expression subquery or
          // LATERAL — a lifted CTE cannot see the outer row: raise the
          // documented error. Expression parens around the window
          // (CAST(... OVER ... )) are fine: the spec is rewritten in
          // place.
          locally {
            val inSubquery = enclosingSelectParen(masked, m.start).isDefined
            if (inSubquery)
              unsupportedGroups("GROUPS windows inside CORRELATED " +
                "subqueries or LATERAL derived tables are not supported " +
                "(a lifted CTE cannot see the outer row); derived tables " +
                "and uncorrelated scalar/IN/EXISTS subqueries are lifted " +
                "into CTEs automatically")
          }
          val ob = findTopLevel(inMasked, """(?i)\bORDER\s+BY\b""".r)
            .getOrElse(unsupportedGroups("the window must have an ORDER BY"))
          val pb = findTopLevel(inMasked, """(?i)\bPARTITION\s+BY\b""".r)
          val partition = pb.map(p => inRaw.substring(p.end, ob.start).trim).getOrElse("")
          val order = pinSortKeys(parseSortKeys(
            inRaw.substring(ob.end, g.start), inMasked.substring(ob.end, g.start)))
          val frame = inRaw.substring(g.end).trim
          if (!FrameBound.matcher(frame.replaceAll("\\s+", " ")).matches())
            unsupportedGroups(s"unsupported frame '$frame'")
          GroupsSpec(m.start, i, partition, order, frame)
        }
      }
    }.toList
    // A top-level named WINDOW clause: inline every definition into its
    // `OVER name` references and recurse (r04; r03 raised a documented
    // error). Inlining is needed whenever this statement restructures —
    // (a) a GROUPS frame inside the clause is out of the inline
    // machinery's reach, and (b) even an unrelated named window would be
    // buried inside the derived table below while its OVER references
    // stay outside, breaking resolution. Statements that do NOT
    // restructure (no GROUPS frame anywhere) pass through untouched for
    // Spark's native named-window handling.
    parseNamedWindows(sql, masked).foreach { case (cs, ce, rawDefs) =>
      // SQL-standard window chaining — `WINDOW w1 AS (...), w2 AS (w1
      // ORDER BY ...)` — resolves by splicing the referenced spec in
      // front of the remainder, to a fixed point (r05; r04 raised a
      // documented error). Cycles and chains that would duplicate a
      // PARTITION BY / ORDER BY clause keep a clean error.
      def headName(raw: String): String =
        raw.trim.takeWhile(c => c.isLetterOrDigit || c == '_')
          .toLowerCase(java.util.Locale.ROOT)
      var defs = rawDefs
      var rounds = 0
      var changed = true
      while (changed && rounds <= rawDefs.size) {
        changed = false
        defs = defs.map { case d @ (name, raw, _) =>
          defs.find(r => r._1 == headName(raw) && r._1 != name) match {
            case Some((_, refRaw, _)) =>
              changed = true
              val combined = refRaw + " " + raw.trim.drop(headName(raw).length)
              (name, combined, maskSameLength(combined))
            case None => d
          }
        }
        rounds += 1
      }
      if (defs.exists { case (name, raw, _) =>
        defs.exists(_._1 == headName(raw)) })
        unsupportedGroups("cyclic named-window references are not supported")
      def topCount(sm: String, re: Regex): Int =
        re.findAllMatchIn(sm).count { m =>
          val prefix = sm.substring(0, m.start)
          prefix.count(_ == '(') == prefix.count(_ == ')')
        }
      if (defs.exists { case (_, _, sm) =>
        topCount(sm, """(?i)\bPARTITION\s+BY\b""".r) > 1 ||
          topCount(sm, """(?i)\bORDER\s+BY\b""".r) > 1 })
        unsupportedGroups("a named-window chain may not repeat PARTITION BY " +
          "or ORDER BY (the referenced window already has one)")
      val defHasGroups = defs.exists { case (_, _, sm) =>
        findTopLevel(sm, groupsKw).exists { g =>
          FrameBound.matcher(
            sm.substring(g.end).trim.replaceAll("\\s+", " ")).matches()
        }
      }
      if (specs.nonEmpty || defHasGroups) {
        val without = sql.substring(0, cs) + sql.substring(ce)
        val m2 = maskSameLength(without)
        val overRef = """(?i)\bOVER\s+([A-Za-z_]\w*)""".r
        val sb = new StringBuilder
        var last = 0
        overRef.findAllMatchIn(m2).foreach { om =>
          val nm = om.group(1).toLowerCase(java.util.Locale.ROOT)
          defs.find(_._1 == nm).foreach { case (_, rawSpec, _) =>
            sb ++= without.substring(last, om.start)
            sb ++= s"OVER ($rawSpec)"
            last = om.end
          }
        }
        sb ++= without.substring(last)
        return rewriteGroupsFrames(sb.toString)
      }
    }
    // GROUPS-shaped text outside any OVER spec is not a window frame
    // (e.g. a column named `groups` in a BETWEEN predicate) — leave the
    // statement for Spark to parse (r03 review).
    if (specs.isEmpty) return sql
    val canon = specs.map(s => (s.partition, s.order)).distinct
    if (canon.length > 1)
      unsupportedGroups("all GROUPS windows in one statement must share the same " +
        "PARTITION BY and ORDER BY")

    // top-level statement shape: SELECT <list> FROM <rest> [ORDER BY/LIMIT tail]
    if (!startsWithCode(masked, "SELECT"))
      unsupportedGroups("only SELECT statements (or CTE bodies) are supported, not DDL")
    val fromM = findTopLevel(masked, """(?i)\bFROM\b""".r)
      .getOrElse(unsupportedGroups("the query must have a FROM clause"))
    if (specs.exists(_.overStart > fromM.start))
      unsupportedGroups("GROUPS windows are only supported in the SELECT list")
    val tailStart = findTopLevel(masked, """(?i)\bORDER\s+BY\b|\bLIMIT\b|\bOFFSET\b""".r,
        from = fromM.end).map(_.start).getOrElse(sql.length)

    val selStart = codeStart(masked) + "SELECT".length

    // grouped query: windows evaluate AFTER aggregation, so dense_rank
    // can be computed INSIDE the aggregate query and the restructure
    // follows a different (select-list-surgery) path (r04; the reference
    // accepts GROUPS with GROUP BY, VERDICT r03 "what's missing" #1).
    if (Seq("""(?i)\bGROUP\s+BY\b""".r, """(?i)\bHAVING\b""".r)
        .exists(kw => findTopLevel(masked, kw, from = fromM.end).isDefined))
      return rewriteGroupsOverAggregate(sql, masked, specs, selStart,
        fromM.start, tailStart)
    // a top-level star would also expand the internal __grp column —
    // rewrite it to `* EXCEPT (__grp)` (Spark 4 star-EXCEPT) so the
    // user-visible schema is preserved (r04; r03 rejected). A star is an
    // expansion (not multiplication) when it starts a select item or
    // follows a qualifier dot; stars inside calls (count(*)) stay.
    // single-relation FROM: name the derived table with the relation's
    // alias (or bare table name) so qualified select-list / PARTITION BY
    // references keep resolving (r03 review); the inner copy keeps its
    // own scope. The capture is the LAST plain token before an optional
    // column-alias list / WHERE — covers `tab`, `tab t`, `tab AS t`,
    // `VALUES (...) t(x)`. Multi-relation FROMs (top-level JOIN/comma)
    // keep the synthetic name; their qualified refs were unsupported
    // either way.
    val fromPart = masked.substring(fromM.start, tailStart).trim
    val aliasRe =
      """(?is)^FROM\s+.*?(?:\bAS\s+)?([A-Za-z_]\w*)(?:\s*\([^()]*\))?\s*(?:WHERE\b.*)?$""".r
    val reserved = Set("where", "group", "order", "limit", "offset", "join", "on",
      "inner", "left", "right", "full", "cross", "lateral", "union", "having",
      "intersect", "except", "values")
    // VALUES row-constructor commas are separators WITHIN one relation
    val isValues = """(?is)^FROM\s+VALUES\b.*""".r.pattern.matcher(fromPart).matches()
    val multiRel = !isValues && findTopLevel(fromPart, """(?i)\bJOIN\b|,""".r).isDefined
    val subAlias = fromPart match {
      case aliasRe(a) if !multiRel &&
        !reserved.contains(a.toLowerCase(java.util.Locale.ROOT)) => a
      case _ => "__graft_groups"
    }
    val (partition, order) = (specs.head.partition, specs.head.order)
    // select list with each GROUPS spec swapped for the RANGE-over-__grp spec
    val selSb = new StringBuilder
    var pos = selStart
    specs.foreach { s =>
      selSb ++= sql.substring(pos, s.overStart)
      val part = if (partition.nonEmpty) s"PARTITION BY $partition " else ""
      selSb ++= s"OVER (${part}ORDER BY __grp RANGE ${s.frame})"
      pos = s.overEnd
    }
    selSb ++= sql.substring(pos, fromM.start)
    val outSel = {
      val txt = selSb.toString
      val mk = maskSameLength(txt)
      val sb = new StringBuilder
      var d = 0
      var lastNonWs = ','
      var i = 0
      var injectAt = -1 // '(' of a user-written star-EXCEPT list
      while (i < txt.length) {
        val c = mk.charAt(i)
        sb += txt.charAt(i)
        if (!c.isWhitespace) {
          if (c == '*' && d == 0 && (lastNonWs == ',' || lastNonWs == '.')) {
            // `* EXCEPT (a, b)` already has a list — merge __grp into it
            // rather than emitting a second EXCEPT (r04 review). The
            // scan to EXCEPT and on to its '(' skips comments too, not
            // just whitespace (ADVICE r04: a comment between `*` and
            // EXCEPT produced two EXCEPT clauses)
            val j = skipBlank(mk, i + 1)
            var k = -1
            if (mk.regionMatches(true, j, "EXCEPT", 0, 6) &&
                (j + 6 == mk.length || !mk.charAt(j + 6).isLetterOrDigit)) {
              k = skipBlank(mk, j + 6)
              if (k >= mk.length || mk.charAt(k) != '(') k = -1
            }
            if (k >= 0) injectAt = k else sb ++= " EXCEPT (__grp)"
          }
          if (c == '(') {
            d += 1
            if (i == injectAt) { sb ++= "__grp, "; injectAt = -1 }
          }
          if (c == ')') d -= 1
          lastNonWs = c
        }
        i += 1
      }
      sb.toString
    }
    val part = if (partition.nonEmpty) s"PARTITION BY $partition " else ""
    val dense = s"DENSE_RANK() OVER (${part}ORDER BY $order) AS __grp"
    s"SELECT $outSel FROM (SELECT *, $dense " +
      s"${sql.substring(fromM.start, tailStart)}) $subAlias ${sql.substring(tailStart)}"
  }

  /** GROUPS windows over a grouped (GROUP BY/HAVING) SELECT. Window
    * functions evaluate after aggregation, so `dense_rank` can be
    * computed INSIDE the aggregate query; the GROUPS frames then become
    * RANGE-over-__grp in an outer SELECT, as in the ungrouped
    * restructure. String-level select-list surgery needs unambiguous
    * item boundaries, so each item must be a bare (possibly qualified)
    * column, `expr AS alias`, or `fn(args) OVER (...) AS alias` —
    * anything else raises the documented error. Window arguments and
    * PARTITION BY expressions (post-aggregate expressions) are aliased
    * into the inner select; literal arguments pass through so e.g.
    * lag offsets stay literals.
    *
    * Known limitation (r04 review): the trailing ORDER BY is spliced
    * onto the OUTER select verbatim, whose scope is the selected
    * columns/aliases only — a tail referencing unselected base columns
    * or fresh aggregate calls (`ORDER BY sum(x)`) resolves in the
    * original statement but raises Spark's AnalysisException here.
    * Order by a selected alias instead. Not statically detectable at
    * the string level without a resolver, so not a clean error. */
  private def rewriteGroupsOverAggregate(sql: String, masked: String,
      specs: List[GroupsSpec], selStart: Int, fromStart: Int,
      tailStart: Int): String = {
    val (partition, order) = (specs.head.partition, specs.head.order)
    if ("""(?is)^\s*DISTINCT\b""".r
        .findFirstIn(masked.substring(selStart, fromStart)).isDefined)
      unsupportedGroups("SELECT DISTINCT is not supported with GROUP BY + GROUPS")

    val inner = List.newBuilder[String]
    val outer = List.newBuilder[String]

    val partCols = if (partition.isEmpty) Nil else {
      val pm = maskSameLength(partition)
      splitTopLevel(pm, 0, pm.length).map { case (s, e) => partition.substring(s, e).trim }
    }
    partCols.zipWithIndex.foreach { case (p, k) => inner += s"$p AS __gpart_$k" }
    val outerPart =
      if (partCols.isEmpty) ""
      else partCols.indices.map(k => s"__gpart_$k").mkString("PARTITION BY ", ", ", " ")

    val Verbatim = """(?is)^\s*(\d+|\d*\.\d+|'[^']*'|NULL|TRUE|FALSE|\*)\s*$""".r.pattern
    val BareId = """(?is)^\s*(?:[A-Za-z_]\w*\.)*([A-Za-z_]\w*)\s*$""".r
    val Aliased = """(?is)^(.*\S)\s+AS\s+([A-Za-z_]\w*)\s*$""".r
    var wargN = 0
    splitTopLevel(masked, selStart, fromStart).foreach { case (s0, e0) =>
      specs.find(sp => sp.overStart >= s0 && sp.overEnd <= e0) match {
        case Some(sp) =>
          val shape = "with GROUP BY, each GROUPS window item must be exactly " +
            "`fn(args) OVER (...) AS alias`"
          val preMk = masked.substring(s0, sp.overStart)
          val fnM = """(?is)^\s*([A-Za-z_]\w*)\s*\(""".r.findFirstMatchIn(preMk)
            .getOrElse(unsupportedGroups(shape))
          val argsEnd = skipBalanced(preMk, fnM.end) // index AFTER ')'
          if (argsEnd < 0 || preMk.substring(argsEnd).trim.nonEmpty)
            unsupportedGroups(shape)
          val alias = """(?is)^\s*AS\s+([A-Za-z_]\w*)\s*$""".r
            .findFirstMatchIn(masked.substring(sp.overEnd, e0)).map(_.group(1))
            .getOrElse(unsupportedGroups(
              "with GROUP BY, alias each GROUPS window item (`... AS name`)"))
          val mapped = splitTopLevel(preMk, fnM.end, argsEnd - 1)
            .filter { case (s, e) => preMk.substring(s, e).trim.nonEmpty }
            .map { case (s, e) =>
              val argRaw = sql.substring(s0 + s, s0 + e).trim
              if (Verbatim.matcher(argRaw).matches()) argRaw
              else if ("""(?is)^DISTINCT\b""".r.findFirstIn(argRaw).isDefined)
                unsupportedGroups("DISTINCT window arguments are not supported")
              else { val nm = s"__warg_$wargN"; wargN += 1; inner += s"$argRaw AS $nm"; nm }
            }
          outer += s"${fnM.group(1)}(${mapped.mkString(", ")}) OVER " +
            s"(${outerPart}ORDER BY __grp RANGE ${sp.frame}) AS $alias"
        case None =>
          val itemRaw = sql.substring(s0, e0).trim
          masked.substring(s0, e0) match {
            case Aliased(_, alias) => inner += itemRaw; outer += alias
            case BareId(last) => inner += itemRaw; outer += last
            case _ => unsupportedGroups("with GROUP BY, each select item must " +
              "be a bare column or carry an explicit AS alias")
          }
      }
    }
    val innerPart = if (partition.nonEmpty) s"PARTITION BY $partition " else ""
    val dense = s"DENSE_RANK() OVER (${innerPart}ORDER BY $order) AS __grp"
    s"SELECT ${outer.result().mkString(", ")} FROM (SELECT " +
      s"${(inner.result() :+ dense).mkString(", ")} " +
      s"${sql.substring(fromStart, tailStart)}) __graft_groups ${sql.substring(tailStart)}"
  }

  /** Innermost `( SELECT …` parenthesis enclosing `pos`, if any. The
    * forward scan to SELECT skips comments too (`( /* c */ SELECT`),
    * not just whitespace — r05 review. */
  private def enclosingSelectParen(masked: String, pos: Int): Option[Int] = {
    var p = 0
    var open = List.empty[Int]
    while (p < pos) {
      val ch = masked.charAt(p)
      if (ch == '(') open ::= p
      else if (ch == ')' && open.nonEmpty) open = open.tail
      p += 1
    }
    open.find { pp =>
      val k = skipBlank(masked, pp + 1)
      masked.regionMatches(true, k, "SELECT", 0, 6)
    }
  }

  /** Last identifier/keyword ending before `pos`, scanning backwards
    * over whitespace, masked content and comment delimiters (`FROM
    * /* c */ (` must still read FROM — r05 review). Empty when `pos`
    * follows punctuation. */
  private def lastWordBefore(masked: String, pos: Int): String = {
    var j = pos - 1
    var scanning = true
    while (j >= 0 && scanning) {
      val c = masked.charAt(j)
      if (c.isWhitespace || c == M) j -= 1
      else if (j >= 1 && ((c == '/' && masked.charAt(j - 1) == '*') ||
          (c == '*' && masked.charAt(j - 1) == '/') ||
          (c == '-' && masked.charAt(j - 1) == '-'))) j -= 2
      else scanning = false
    }
    val end = j + 1
    while (j >= 0 && (masked.charAt(j).isLetterOrDigit || masked.charAt(j) == '_')) j -= 1
    masked.substring(j + 1, end).toUpperCase(java.util.Locale.ROOT)
  }

  /** Optional standalone-analysis hook for the subquery lift below:
    * returns true when a query TEXT fully resolves on its own (catalog +
    * temp views, no outer scope). Set by the engine around the GROUPS
    * rewrite — `Dialect` itself stays a pure string translator, and
    * direct calls without a resolver simply skip the correlation-gated
    * lifts (documented error instead, never a wrong answer). */
  private val resolver =
    new scala.util.DynamicVariable[Option[String => Boolean]](None)

  def withResolver[A](r: String => Boolean)(f: => A): A =
    resolver.withValue(Some(r))(f)

  /** Proof of non-correlation for a subquery body (r06, VERDICT r05 next
    * #3): SQL scoping resolves names innermost-first, so if EVERY
    * identifier in the body resolves with no outer scope present, the
    * body cannot reference an outer row — lifting it into a CTE
    * preserves semantics exactly. GROUPS frames share the ROWS frame
    * grammar, so the probe copy swaps the keyword to parse; any other
    * still-untranslated dialect construct makes the probe fail, which
    * conservatively keeps the documented error. */
  private def resolvesStandalone(body: String): Boolean =
    resolver.value.exists { r =>
      val probe = outsideLiterals(body)(
        _.replaceAll("""(?i)\bGROUPS\s+(?=BETWEEN\b|UNBOUNDED\b|CURRENT\b|\d)""",
          "ROWS "))
      r(probe)
    }

  /** A GROUPS window inside a `(SELECT …)` subquery: lift the subquery
    * body into a CTE prologue — `WITH __graft_sq_N AS (body) …` — so the
    * caller's recursion restructures it in its own scope
    * (`rewriteGroupsInWith`; an enclosing WITH merges the generated CTE
    * into its list). Two shapes:
    *
    *  - a DERIVED TABLE whose paren directly follows FROM or JOIN can
    *    never be correlated — the paren is replaced by the bare CTE name
    *    (any trailing alias keeps working: `FROM __graft_sq_N t`);
    *  - any OTHER subquery position — scalar/IN/EXISTS expressions,
    *    comma-separated FROM derived tables (ADVICE r05), subquery
    *    function arguments — lifts ONLY when `resolvesStandalone` proves
    *    the body uncorrelated (r06); the body is then replaced by
    *    `SELECT * FROM __graft_sq_N`, valid in every one of those
    *    positions. LATERAL stays out (correlation is its purpose).
    *
    * One lift per call — iteration through the caller's recursion. */
  private def liftGroupsSubquery(sql: String, masked: String,
      groupsKw: scala.util.matching.Regex): Option[String] = {
    // only query-shaped statements can take a WITH prefix: a lift inside
    // DDL/DML (CREATE VIEW ... AS SELECT ... FROM (...)) would emit
    // `WITH ... CREATE ...` — those keep the documented not-DDL error
    val cs = codeStart(masked)
    if (!startsWithCode(masked, "SELECT") &&
        !(cs < masked.length && masked.charAt(cs) == '(')) return None
    def freshName(): String = {
      val n = "__graft_sq_(\\d+)".r.findAllMatchIn(sql)
        .map(_.group(1).toInt).foldLeft(-1)(math.max) + 1
      s"__graft_sq_$n"
    }
    val overRe = """(?i)\bOVER\s*\(""".r
    overRe.findAllMatchIn(masked).foreach { m =>
      val i = skipBalanced(masked, m.end)
      if (i >= 0 &&
          findTopLevel(masked.substring(m.end, i - 1), groupsKw).isDefined) {
        enclosingSelectParen(masked, m.start).foreach { pp =>
          val before = lastWordBefore(masked, pp)
          val q = skipBalanced(masked, pp + 1) // index AFTER ')'
          if (q > 0) {
            val body = sql.substring(pp + 1, q - 1)
            if (before == "FROM" || before == "JOIN") {
              val name = freshName()
              return Some(s"WITH $name AS (" + body + ")\n" +
                sql.substring(0, pp) + name + sql.substring(q))
            } else if (before != "LATERAL" && resolvesStandalone(body)) {
              val name = freshName()
              return Some(s"WITH $name AS (" + body + ")\n" +
                sql.substring(0, pp + 1) + s"SELECT * FROM $name" +
                sql.substring(q - 1))
            }
          }
        }
      }
    }
    None
  }

  /** One set-operation branch: recurse into it, unwrapping one level of
    * outer parentheses (`(SELECT ...)`) so parenthesized branches reach
    * the single-SELECT machinery; surrounding whitespace is preserved.
    * The LAST branch may carry the set-op-wide ORDER BY/LIMIT/OFFSET
    * tail after its closing paren — the tail stays outside, untouched. */
  private def rewriteGroupsBranch(seg: String): String = {
    val masked = maskSameLength(seg)
    val start = codeStart(masked)
    if (start < masked.length && masked.charAt(start) == '(') {
      val end = skipBalanced(masked, start + 1) // index AFTER ')'
      val after = if (end > 0) masked.substring(end) else ""
      val tailOnly =
        """(?is)\s*(?:(?:ORDER\s+BY|LIMIT|OFFSET)\b.*)?""".r.pattern
          .matcher(after).matches()
      if (end > 0 && tailOnly)
        return seg.substring(0, start + 1) +
          rewriteGroupsFrames(seg.substring(start + 1, end - 1)) +
          seg.substring(end - 1)
    }
    // keep the whitespace before the branch: the restructure re-emits the
    // statement from its SELECT keyword, which would glue it to the
    // preceding set operator
    seg.substring(0, start) + rewriteGroupsFrames(seg.substring(start))
  }

  /** Parse a top-level `WINDOW name AS ( spec ) [, name2 AS ( spec2 )]*`
    * clause. Returns (clauseStart, clauseEnd, defs) where each def is
    * (lowercased name, raw spec, masked spec); None when no top-level
    * WINDOW keyword parses as a clause (e.g. an alias named `window`). */
  private def parseNamedWindows(sql: String, masked: String)
      : Option[(Int, Int, List[(String, String, String)])] =
    findTopLevel(masked, """(?i)\bWINDOW\s+""".r).flatMap { wm =>
      var defs = List.empty[(String, String, String)]
      var pos = wm.end
      var endOfClause = -1
      var done = false
      while (!done) {
        var i = pos
        while (i < masked.length && masked.charAt(i).isWhitespace) i += 1
        val idStart = i
        while (i < masked.length &&
          (masked.charAt(i).isLetterOrDigit || masked.charAt(i) == '_')) i += 1
        var j = i
        while (j < masked.length && masked.charAt(j).isWhitespace) j += 1
        val hasAs = i > idStart && masked.regionMatches(true, j, "AS", 0, 2) &&
          (j + 2 >= masked.length || !masked.charAt(j + 2).isLetterOrDigit)
        if (!hasAs) done = true
        else {
          j += 2
          while (j < masked.length && masked.charAt(j).isWhitespace) j += 1
          val close = if (j < masked.length && masked.charAt(j) == '(')
            skipBalanced(masked, j + 1) else -1 // index AFTER ')'
          if (close <= 0) done = true
          else {
            defs ::= ((sql.substring(idStart, i).toLowerCase(java.util.Locale.ROOT),
              sql.substring(j + 1, close - 1), masked.substring(j + 1, close - 1)))
            endOfClause = close
            var k = close
            while (k < masked.length && masked.charAt(k).isWhitespace) k += 1
            if (k < masked.length && masked.charAt(k) == ',') pos = k + 1
            else done = true
          }
        }
      }
      if (defs.isEmpty || endOfClause < 0) None
      else Some((wm.start, endOfClause, defs.reverse))
    }

  /** `WITH [RECURSIVE] name [(cols)] AS ( body ) [, ...] main`: rewrite
    * each CTE body and the trailing main statement through
    * `rewriteGroupsFrames` independently — each is a complete statement
    * for the single-SELECT machinery, so the same restructure applies
    * per-CTE with no new theory; segments without a GROUPS frame pass
    * through untouched. Nested WITHs recurse. A prologue that does not
    * parse as CTE clauses is left for Spark's parser to error on. */
  private def rewriteGroupsInWith(sql: String, masked: String): String = {
    val CteAs = """(?i)\bAS\s*\(""".r
    val out = new StringBuilder
    var last = 0
    // position after WITH [RECURSIVE]
    var pos = codeStart(masked) + 4
    locally {
      var j = pos
      while (j < masked.length && masked.charAt(j).isWhitespace) j += 1
      if (masked.regionMatches(true, j, "RECURSIVE", 0, 9) &&
          (j + 9 >= masked.length || !masked.charAt(j + 9).isLetterOrDigit))
        pos = j + 9
    }
    while (true) {
      findTopLevel(masked, CteAs, from = pos) match {
        case None => return sql // malformed WITH: let Spark report it
        case Some(m) =>
          val bodyEnd = skipBalanced(masked, m.end) // index AFTER ')'
          if (bodyEnd <= 0) return sql
          out ++= sql.substring(last, m.end)
          out ++= rewriteGroupsFrames(sql.substring(m.end, bodyEnd - 1))
          last = bodyEnd - 1
          var j = bodyEnd
          while (j < masked.length && masked.charAt(j).isWhitespace) j += 1
          if (j < masked.length && masked.charAt(j) == ',') pos = j + 1
          else { // the main statement follows the last CTE
            out ++= sql.substring(last, j)
            val main = rewriteGroupsFrames(sql.substring(j))
            val mm = maskSameLength(main)
            if (startsWithCode(mm, "WITH")) {
              // a derived-table lift prepended its own WITH — merge it
              // into THIS statement's CTE list (a main statement cannot
              // itself start with WITH)
              val ws = codeStart(mm)
              out ++= main.substring(0, ws)
              out += ','
              out ++= main.substring(ws + 4)
            } else out ++= main
            return out.toString
          }
      }
    }
    sql // unreachable
  }

  /** Apply `f` only to the segments of `sql` OUTSIDE string literals,
    * quoted identifiers and comments (the same regions `maskSameLength`
    * masks) — textual rewrites like the information_schema case fold
    * must never rewrite data inside them. */
  def outsideLiterals(sql: String)(f: String => String): String = {
    val masked = maskSameLength(sql)
    val sb = new StringBuilder
    val seg = new StringBuilder
    var i = 0
    while (i < sql.length) {
      if (masked.charAt(i) == M) {
        sb ++= f(seg.toString)
        seg.clear()
        while (i < sql.length && masked.charAt(i) == M) { sb += sql.charAt(i); i += 1 }
      } else {
        seg += sql.charAt(i)
        i += 1
      }
    }
    sb ++= f(seg.toString)
    sb.toString
  }

  /** The statement with masked-region contents (literals, quoted
    * identifiers, comment bodies) removed — for keyword detection that
    * must not trigger on data. */
  def maskLiterals(sql: String): String =
    maskSameLength(sql).filterNot(_ == M)

  /** SQL pattern → Java regex. `esc` is the SQL escape character
    * (backslash unless an ESCAPE clause overrides it): `<esc>c` keeps
    * `c` literal through BOTH the SQL string unescape and the regex
    * engine. */
  private[engine] def translatePattern(p: String, esc: Char = '\\'): String = {
    val sb = new StringBuilder
    var i = 0
    var inClass = false
    while (i < p.length) {
      val c = p.charAt(i)
      c match {
        case e if e == esc && i + 1 < p.length =>
          val nxt = p.charAt(i + 1)
          if (nxt == '\\') sb ++= "\\\\\\\\" // regex literal backslash
          else if ("|*+?(){}[].^$".indexOf(nxt.toInt) >= 0) sb ++= "\\\\" += nxt
          else sb += nxt // %, _, alphanumerics: plain char is the literal
          i += 1
        case '\\' =>
          // backslash under a custom ESCAPE clause (or trailing) is a
          // plain character — and a regex metachar, so it must be escaped
          sb ++= "\\\\\\\\"
        case '[' if !inClass => inClass = true; sb += c
        case ']' if inClass => inClass = false; sb += c
        case '%' if !inClass => sb ++= ".*"
        case '_' if !inClass => sb += '.'
        case '.' if !inClass => sb ++= "\\\\."
        // SIMILAR TO treats ^ and $ as literal characters; unescaped they
        // would anchor (or break) the emitted Java regex
        case '^' if !inClass => sb ++= "\\\\^"
        case '$' if !inClass => sb ++= "\\\\$"
        case other => sb += other
      }
      i += 1
    }
    sb.toString
  }
}
