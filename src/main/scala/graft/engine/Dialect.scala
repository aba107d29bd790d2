package graft.engine

import scala.util.matching.Regex

/**
 * Dialect shims that are syntax (not function-name) level, applied by
 * `SqlEngine` pre-parse. Only syntax Spark's parser rejects is rewritten
 * here: SIMILAR TO, aggregates with ORDER BY inside the call, and the
 * GROUPS frame keyword. What Spark parses resolves natively instead:
 * `generate_series` in FROM is a table function that
 * `GapFillers.register` adds once per session, so plain `spark.sql` on
 * an engine's session sees it too. [[maskSameLength]] is the one lexer:
 * the rewrites and [[StatementSplitter]] read literals and comments
 * through it.
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
    // ending at the first */ left the tail commented-but-unmasked,
    // derailing every rewrite and every statement cut)
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
    findTopLevel(maskedArgs, OrderBy).map(m => (m.start, m.end))

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
    * The list aggregates take ORDER BY inside the call too. Ordered
    * `string_agg`/`listagg` become Spark's own `WITHIN GROUP (ORDER BY
    * ...)` form; ordered `array_agg`, which Spark refuses WITHIN GROUP
    * for, becomes the comparator-sorted list unwrapped to its values.
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
            val replacement =
              if (fn == "STRING_AGG" || fn == "LISTAGG") {
                // DataFusion accepts ORDER BY inside string_agg
                // (`Cargo.lock:809`); Spark spells the same ordered
                // aggregate `listagg(x, d) WITHIN GROUP (ORDER BY ...)`
                // (string_agg is its alias), with FILTER after it. Both
                // skip null values and give NULL when none is left.
                s"${m.group(1)}($valueExpr, $idx) WITHIN GROUP " +
                  s"(ORDER BY ${pinSortKeys(keys)})$filterClause"
              } else if (fn == "ARRAY_AGG") {
                // Spark's collect_list has no ordering and rejects WITHIN
                // GROUP: sort a keyed struct list with the comparator and
                // unwrap. O(group size) state, inherent to the aggregate.
                val fields = keys.zipWithIndex
                  .map { case (k, n) => s"'k$n', ${k.expr}" }
                  .mkString(", ")
                s"transform(array_sort(collect_list(" +
                  s"named_struct($fields, 'v', $valueExpr))$filterClause, " +
                  s"(a, b) -> ${comparatorCase(keys)}), s -> s.v)"
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

  private val GroupsKw = """(?i)\bGROUPS\s+(?=BETWEEN\b|UNBOUNDED\b|CURRENT\b|\d)""".r
  private val OrderBy = """(?i)\bORDER\s+BY\b""".r

  private val FrameBound =
    """(?is)^BETWEEN\s+(UNBOUNDED\s+PRECEDING|\d+\s+PRECEDING|\d+\s+FOLLOWING|CURRENT\s+ROW)\s+AND\s+(UNBOUNDED\s+FOLLOWING|\d+\s+PRECEDING|\d+\s+FOLLOWING|CURRENT\s+ROW)$|^(UNBOUNDED\s+PRECEDING|\d+\s+PRECEDING|CURRENT\s+ROW)$""".r.pattern

  private def isFrame(text: String): Boolean =
    FrameBound.matcher(text.trim.replaceAll("\\s+", " ")).matches()

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

  private def atTopLevel(masked: String, at: Int): Boolean = {
    val prefix = masked.substring(0, at)
    prefix.count(_ == '(') == prefix.count(_ == ')')
  }

  private def findTopLevel(masked: String, word: Regex, from: Int = 0): Option[Regex.Match] =
    word.findAllMatchIn(masked).find(m => m.start >= from && atTopLevel(masked, m.start))

  /** The GROUPS keyword of a (masked) window spec's frame clause: the
    * top-level GROUPS after the spec's ORDER BY, so a column named
    * `groups` in PARTITION BY stays a column. */
  private def groupsFrame(spec: String): Option[Regex.Match] =
    findTopLevel(spec, GroupsKw, from = findTopLevel(spec, OrderBy).map(_.end).getOrElse(0))

  /** (OVER keyword offset, spec start, spec end) of every `OVER (spec)`. */
  private def overSpecs(masked: String): List[(Int, Int, Int)] =
    """(?i)\bOVER\s*\(""".r.findAllMatchIn(masked).flatMap { m =>
      val i = skipBalanced(masked, m.end)
      if (i < 0) None else Some((m.start, m.end, i - 1))
    }.toList

  /**
   * SQL-standard GROUPS window frames (SURVEY §2.5; the rows come from
   * the [[GroupsFrames]] optimizer rule). Each window spec with a GROUPS
   * frame — an OVER spec or a WINDOW definition — is rewritten in place
   * to a ROWS frame with the same bounds whose first ORDER BY key is
   * wrapped in the marker function the rule looks for:
   *
   *   OVER (PARTITION BY p ORDER BY k GROUPS 1 PRECEDING)
   * → OVER (PARTITION BY p ORDER BY __graft_groups(k) ASC NULLS LAST ROWS 1 PRECEDING)
   *
   * The keys are re-emitted with explicit direction and null placement
   * (the SQL-standard defaults ASC NULLS LAST / DESC NULLS FIRST, not
   * Spark's), so the rule's dense_rank numbers the null peer group where
   * the reference puts it. Frames on lag/lead/rank/... are dropped: those
   * functions ignore the frame and Spark rejects one. Each WINDOW clause
   * is first inlined into the `OVER name` references of its own query
   * block (SELECT branch, CTE body or subquery), which also resolves chains (`w2 AS (w1 ORDER BY ...)`) that Spark's parser
   * rejects. A `GROUPS` that is not a window frame (a column named
   * `groups`, text in a literal) passes through untouched.
   */
  def markGroupsFrames(sql: String): String = {
    val masked = maskSameLength(sql)
    if (GroupsKw.findFirstMatchIn(masked).isEmpty) return sql
    val specs = overSpecs(masked)
    val spans = specs.map { case (_, s, e) => (s, e) } ++ WindowKw.findAllMatchIn(masked)
      .flatMap(windowClause(masked, _)).flatMap(_._3.map { case (_, s, e) => (s, e) })
    if (!spans.exists { case (s, e) => groupsFrame(masked.substring(s, e)).isDefined }) return sql

    // Offset/ranking window functions are computed on the whole
    // partition, so a GROUPS frame on them is inert — but Spark rejects
    // any explicit frame for them. Drop the frame text.
    val frameInsensitive = Set("lag", "lead", "rank", "dense_rank",
      "percent_rank", "row_number", "ntile", "cume_dist")
    val drops = specs.flatMap { case (over, s, e) =>
      groupsFrame(masked.substring(s, e)).collect {
        case g if isFrame(masked.substring(s + g.end, e)) &&
            fnNameBefore(masked, over).exists(frameInsensitive) => (s + g.start, e)
      }
    }
    if (drops.nonEmpty) {
      val sb = new StringBuilder
      var last = 0
      drops.foreach { case (s, e) => sb ++= sql.substring(last, s); last = e }
      sb ++= sql.substring(last)
      return markGroupsFrames(sb.toString)
    }

    // A named WINDOW clause, at any depth: inline every definition into
    // the `OVER name` references of its own query block and recurse, one
    // clause per round. SQL-standard window chaining — `WINDOW w1 AS
    // (...), w2 AS (w1 ORDER BY ...)`, which Spark's parser rejects —
    // resolves by splicing the referenced spec in front of the
    // remainder, to a fixed point (r05). Cycles and chains that would
    // repeat a PARTITION BY / ORDER BY keep a clean error.
    WindowKw.findAllMatchIn(masked).flatMap(windowClause(masked, _)).nextOption().foreach { case (cs, ce, clause) =>
      def headName(raw: String): String =
        raw.trim.takeWhile(c => c.isLetterOrDigit || c == '_')
          .toLowerCase(java.util.Locale.ROOT)
      var defs = clause.map { case (name, s, e) => (name, sql.substring(s, e), masked.substring(s, e)) }
      var rounds = 0
      var changed = true
      while (changed && rounds <= clause.size) {
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
      if (defs.exists { case (_, raw, _) => defs.exists(_._1 == headName(raw)) })
        GroupsFrames.unsupported("cyclic named-window references are not supported")
      def topCount(sm: String, re: Regex): Int =
        re.findAllMatchIn(sm).count(m => atTopLevel(sm, m.start))
      if (defs.exists { case (_, _, sm) =>
        topCount(sm, """(?i)\bPARTITION\s+BY\b""".r) > 1 || topCount(sm, OrderBy) > 1 })
        GroupsFrames.unsupported("a named-window chain may not repeat PARTITION BY " +
          "or ORDER BY (the referenced window already has one)")
      // The clause's query block: its innermost enclosing query, and in
      // it the set-operation branch from the last SELECT before the
      // clause to the next one after it. A reference inside a subquery,
      // CTE body or parenthesized branch belongs to that query instead.
      val block = queryBlock(masked, cs)
      val selects = """(?i)\bSELECT\b""".r.findAllMatchIn(masked).map(_.start)
        .filter(queryBlock(masked, _) == block).toList
      val from = selects.filter(_ < cs).lastOption.getOrElse(0)
      val until = selects.find(_ >= ce).getOrElse(sql.length)
      val refs = OverName.findAllMatchIn(masked)
        .filter(om => om.start >= from && om.start < until && queryBlock(masked, om.start) == block)
        .flatMap { om =>
          val nm = Option(om.group(1)).getOrElse(om.group(2)).toLowerCase(java.util.Locale.ROOT)
          defs.find(_._1 == nm).map { case (_, rawSpec, _) => (om.start, om.end, s"OVER ($rawSpec)") }
        }.toList
      val sb = new StringBuilder
      var last = 0
      ((cs, ce, "") :: refs).sortBy(_._1).foreach { case (s, e, text) =>
        sb ++= sql.substring(last, s)
        sb ++= text
        last = e
      }
      sb ++= sql.substring(last)
      return markGroupsFrames(sb.toString)
    }

    // every WINDOW clause is inlined by now: mark each OVER spec in place
    val sb = new StringBuilder
    var last = 0
    specs.foreach { case (_, s, e) =>
      if (s >= last) groupsFrame(masked.substring(s, e)).foreach { g =>
        sb ++= sql.substring(last, s)
        sb ++= markSpec(sql.substring(s, e), masked.substring(s, e), g)
        last = e
      }
    }
    sb ++= sql.substring(last)
    sb.toString
  }

  /** One window spec's GROUPS frame as a ROWS frame over the marked,
    * explicitly pinned ORDER BY keys; the documented error for the
    * shapes the emulation does not cover. */
  private def markSpec(raw: String, mk: String, g: Regex.Match): String = {
    if ("""(?i)\bEXCLUDE\b""".r.findFirstIn(mk).isDefined)
      GroupsFrames.unsupported("EXCLUDE clauses are not supported")
    val ob = findTopLevel(mk, OrderBy)
      .getOrElse(GroupsFrames.unsupported("the window must have an ORDER BY"))
    val frame = raw.substring(g.end).trim
    if (!isFrame(frame)) GroupsFrames.unsupported(s"unsupported frame '$frame'")
    val keys = parseSortKeys(raw.substring(ob.end, g.start), mk.substring(ob.end, g.start))
    val marked = keys.head.copy(expr = s"${GroupsFrames.Marker}(${keys.head.expr})")
    s"${raw.substring(0, ob.start)}ORDER BY ${pinSortKeys(marked :: keys.tail)} ROWS $frame"
  }

  private val WindowKw = """(?i)\bWINDOW\s+""".r
  /** `OVER name` or `OVER (name)`: a reference to a named window. */
  private val OverName = """(?i)\bOVER(?:\s+([A-Za-z_]\w*)|\s*\(\s*([A-Za-z_]\w*)\s*\))""".r
  private val QueryStart = """(?i)\s*(?:SELECT|WITH)\b""".r.pattern

  /** Offset of the `(` that opens the innermost parenthesized query
    * (`(SELECT ...`, `(WITH ...`) enclosing `at`; -1 for the statement's
    * own level. */
  private def queryBlock(masked: String, at: Int): Int = {
    var depth = 0
    var i = at - 1
    while (i >= 0) {
      masked.charAt(i) match {
        case ')' => depth += 1
        case '(' if depth > 0 => depth -= 1
        case '(' if QueryStart.matcher(masked).region(i + 1, masked.length).lookingAt() => return i
        case _ =>
      }
      i -= 1
    }
    -1
  }

  /** Parse the `WINDOW name AS ( spec ) [, name2 AS ( spec2 ) | name2 AS name]*` clause
    * at `wm`. Returns (clauseStart, clauseEnd, defs) where each def is
    * (lowercased name, spec start, spec end); None when the keyword does
    * not start such a clause (e.g. an alias named `window`). */
  private def windowClause(masked: String, wm: Regex.Match)
      : Option[(Int, Int, List[(String, Int, Int)])] = {
    var defs = List.empty[(String, Int, Int)]
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
        // `name AS (spec)`, or `name AS other` naming another window
        var idEnd = j
        while (idEnd < masked.length &&
          (masked.charAt(idEnd).isLetterOrDigit || masked.charAt(idEnd) == '_')) idEnd += 1
        val (specStart, specEnd, close) =
          if (j < masked.length && masked.charAt(j) == '(') {
            val c = skipBalanced(masked, j + 1) // index AFTER ')'
            (j + 1, c - 1, c)
          } else (j, idEnd, if (idEnd > j) idEnd else -1)
        if (close <= 0) done = true
        else {
          defs ::= ((masked.substring(idStart, i).toLowerCase(java.util.Locale.ROOT),
            specStart, specEnd))
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
