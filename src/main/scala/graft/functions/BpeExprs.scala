package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Byte-pair-encoding token counting against a USER-SUPPLIED merge table
 * (the greedy encode of Sennrich, Haddow & Birch 2016, "Neural Machine
 * Translation of Rare Words with Subword Units" — the openly documented
 * word-level BPE algorithm). The merge table MUST come from a public
 * source (e.g. an open-source tokenizer's published `merges.txt`); no
 * table ships here beyond the hand-written demo vocabulary in
 * `graft.ops.Bpe`.
 *
 * Why it exists (VERDICT r07 #3 / r08 #1): every token budget in the
 * pipeline (budgetSelect, packSequences, chunking) previously counted
 * whitespace tokens, but real training budgets are BPE tokens — a
 * "fill to N tokens" selection driven by whitespace counts is
 * systematically off for any real tokenizer. These expressions make the
 * REAL count available as a codegen-adjacent column so the existing
 * `weight`/`tokens` column parameters of the budget operators consume it
 * unchanged.
 *
 * Pinned semantics (shared by all three expressions, restated by the
 * x121 planted oracle):
 *  - pre-tokenization splits on ASCII whitespace runs
 *    (space, \t, \n, \x0B, \f, \r — the same class as `TextMetrics`'
 *    ws_tokens); whitespace itself is never counted;
 *  - each word starts as its Unicode CODE POINT sequence plus a final
 *    `</w>` end-of-word symbol (the Sennrich formulation — so counts
 *    with an EMPTY merge table equal code points + 1 per word, the
 *    DuckDB-expressible floor the x121b oracle checks corpus-wide);
 *  - encode loop: repeatedly find the adjacent symbol pair with the
 *    LOWEST rank in the merge table and merge ALL its non-overlapping
 *    occurrences left-to-right; stop when no adjacent pair is ranked;
 *  - per-word encoding makes counts EXACTLY additive across whitespace:
 *    count(a || ' ' || b) == count(a) + count(b) (the x121 concat
 *    invariant).
 *
 * Scale shape: the merge table travels as ONE foldable array literal
 * (validated at analysis time), becomes a rank hash map once per task
 * thread, and every row is one imperative eval — no joins, no shuffle,
 * no per-row lambda interpretation. A per-thread word→tokens cache
 * (bounded, cleared at 64k entries) exploits natural-language word
 * repetition, so the amortized cost per row is a hash probe per word.
 */
object BpeExprs {

  // ASCII whitespace, same class as TextMetrics.isSpace
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r'

  private val EndOfWord = "</w>"

  /** Greedy BPE encoder over a fixed rank table, with a bounded
    * per-instance word cache. One instance per (task thread, expression);
    * NOT thread-safe — always reach it through a ThreadLocal. */
  private final class Coder(ranks: java.util.HashMap[(String, String), Integer]) {
    private val cache = new java.util.HashMap[String, Array[String]]()

    def encode(word: String): Array[String] = {
      val hit = cache.get(word)
      if (hit != null) return hit
      // code points + </w>
      var syms = {
        val b = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < word.length) {
          val cp = word.codePointAt(i)
          b += new String(Character.toChars(cp))
          i += Character.charCount(cp)
        }
        b += EndOfWord
        b.toArray
      }
      if (!ranks.isEmpty) {
        var done = false
        while (!done) {
          // best-ranked adjacent pair
          var bestA: String = null; var bestB: String = null
          var bestR = Int.MaxValue
          var i = 0
          while (i < syms.length - 1) {
            val r = ranks.get((syms(i), syms(i + 1)))
            if (r != null && r < bestR) { bestR = r; bestA = syms(i); bestB = syms(i + 1) }
            i += 1
          }
          if (bestA == null) done = true
          else {
            // merge all non-overlapping occurrences left-to-right
            val out = new Array[String](syms.length)
            var o = 0; i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == bestA && syms(i + 1) == bestB) {
                out(o) = bestA + bestB; o += 1; i += 2
              } else { out(o) = syms(i); o += 1; i += 1 }
            }
            syms = java.util.Arrays.copyOf(out, o)
          }
        }
      }
      if (cache.size >= (1 << 16)) cache.clear()
      cache.put(word, syms)
      syms
    }

    /** words of `s` (maximal non-whitespace runs), encoded. */
    def encodeText(s: String): Iterator[Array[String]] = new Iterator[Array[String]] {
      private var i = 0
      private def skipWs(): Unit = while (i < s.length && isWs(s.charAt(i))) i += 1
      skipWs()
      def hasNext: Boolean = i < s.length
      def next(): Array[String] = {
        val start = i
        while (i < s.length && !isWs(s.charAt(i))) i += 1
        val w = s.substring(start, i)
        skipWs()
        encode(w)
      }
    }
  }

  /** Analysis-time validation + rank-map construction from the foldable
    * merges literal (array<array<string>> of [left, right] pairs in
    * priority order). */
  private def validateMerges(name: String, mergesE: Expression): TypeCheckResult = {
    if (!mergesE.foldable)
      return TypeCheckResult.TypeCheckFailure(
        s"$name expects a FOLDABLE (literal) merge table")
    mergesE.dataType match {
      case ArrayType(ArrayType(_: StringType, _), _) =>
        mergesE.eval(null) match {
          case null => TypeCheckResult.TypeCheckFailure(
            s"$name merge table must not be null")
          case a: ArrayData =>
            val seen = new java.util.HashSet[(String, String)]()
            var bad: String = null
            var i = 0
            while (i < a.numElements() && bad == null) {
              a.get(i, ArrayType(StringType)) match {
                case null => bad = s"pair $i is null"
                case p: ArrayData =>
                  if (p.numElements() != 2) bad = s"pair $i has ${p.numElements()} symbols (want 2)"
                  else if (p.isNullAt(0) || p.isNullAt(1)) bad = s"pair $i holds a null symbol"
                  else {
                    val l = p.getUTF8String(0).toString; val r = p.getUTF8String(1).toString
                    if (l.isEmpty || r.isEmpty) bad = s"pair $i holds an empty symbol"
                    else if (!seen.add((l, r))) bad = s"pair $i ('$l','$r') duplicates an earlier rank"
                  }
              }
              i += 1
            }
            if (bad != null) TypeCheckResult.TypeCheckFailure(s"$name merge table invalid: $bad")
            else TypeCheckResult.TypeCheckSuccess
        }
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name merge table must be array<array<string>>, got ${other.catalogString}")
    }
  }

  private def buildRanks(mergesE: Expression): java.util.HashMap[(String, String), Integer] = {
    val ranks = new java.util.HashMap[(String, String), Integer]()
    val a = mergesE.eval(null).asInstanceOf[ArrayData]
    var i = 0
    while (i < a.numElements()) {
      val p = a.get(i, ArrayType(StringType)).asInstanceOf[ArrayData]
      ranks.put((p.getUTF8String(0).toString, p.getUTF8String(1).toString), Integer.valueOf(i))
      i += 1
    }
    ranks
  }

  /** Number of BPE tokens of `text` under the merge table. */
  case class BpeTokenCount(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = IntegerType
    override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
      case _: StringType => validateMerges(prettyName, right)
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects STRING text, got ${other.catalogString}")
    }
    @transient private lazy val coderTL: ThreadLocal[Coder] =
      ThreadLocal.withInitial(() => new Coder(buildRanks(right)))
    override def nullSafeEval(t: Any, m: Any): Any = {
      val it = coderTL.get().encodeText(t.asInstanceOf[UTF8String].toString)
      var n = 0
      while (it.hasNext) n += it.next().length
      n
    }
    override def prettyName: String = "bpe_token_count"
    override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
  }

  /** The BPE token strings themselves (debug / audit surface; the count
    * path never materializes this array). */
  case class BpeTokens(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
      case _: StringType => validateMerges(prettyName, right)
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects STRING text, got ${other.catalogString}")
    }
    @transient private lazy val coderTL: ThreadLocal[Coder] =
      ThreadLocal.withInitial(() => new Coder(buildRanks(right)))
    override def nullSafeEval(t: Any, m: Any): Any = {
      val it = coderTL.get().encodeText(t.asInstanceOf[UTF8String].toString)
      val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
      while (it.hasNext) { it.next().foreach(s => out += UTF8String.fromString(s)) }
      new GenericArrayData(out.toArray[Any])
    }
    override def prettyName: String = "bpe_tokens"
    override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
  }

  /** Greedy word-boundary chunking under a BPE token budget: words are
    * packed left-to-right into chunks whose total BPE token count stays
    * <= `budget`; a single word whose own count exceeds the budget gets
    * a chunk of its own (no text is ever dropped — the same contract as
    * `Text.chunkWindows`, but measured in REAL tokenizer tokens and cut
    * only at word boundaries, never mid-word). Whitespace runs collapse
    * to a single space in the chunk text (a tokenizer-faithful layout
    * step, unlike chunkWindows' byte-exact space contract). A text with
    * no words yields an EMPTY array. Per-word encoding makes per-chunk
    * counts exactly partition the document: sum(chunk_tokens) ==
    * bpe_token_count(text) — the x121c invariant. */
  case class BpeChunksByBudget(first: Expression, second: Expression, budget: Int)
      extends TernaryExpression with CodegenFallback {
    override def third: Expression = Literal(budget)
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("chunk_idx", IntegerType, nullable = false),
      StructField("chunk", StringType, nullable = false),
      StructField("chunk_tokens", IntegerType, nullable = false))), containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      if (budget < 1) TypeCheckResult.TypeCheckFailure(
        s"$prettyName budget must be >= 1, got $budget")
      else first.dataType match {
        case _: StringType => validateMerges(prettyName, second)
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects STRING text, got ${other.catalogString}")
      }
    @transient private lazy val coderTL: ThreadLocal[Coder] =
      ThreadLocal.withInitial(() => new Coder(buildRanks(second)))
    override def nullSafeEval(t: Any, m: Any, b: Any): Any = {
      val s = t.asInstanceOf[UTF8String].toString
      val coder = coderTL.get()
      val chunks = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      val cur = new java.lang.StringBuilder
      var curTok = 0
      def flush(): Unit = if (curTok > 0) {
        chunks += InternalRow(chunks.length,
          UTF8String.fromString(cur.toString), curTok)
        cur.setLength(0); curTok = 0
      }
      // re-walk words (encodeText caches per word, so the second encode
      // per word is a hash probe)
      var i = 0
      while (i < s.length) {
        if (isWs(s.charAt(i))) i += 1
        else {
          val start = i
          while (i < s.length && !isWs(s.charAt(i))) i += 1
          val w = s.substring(start, i)
          val n = coder.encode(w).length
          if (curTok > 0 && curTok + n > budget) flush()
          if (cur.length > 0) cur.append(' ')
          cur.append(w); curTok += n
          if (curTok >= budget) flush()
        }
      }
      flush()
      new GenericArrayData(chunks.toArray[Any])
    }
    override def prettyName: String = "bpe_chunks_by_budget"
    override protected def withNewChildrenInternal(f: Expression,
        s: Expression, t: Expression) = copy(f, s)
  }

  // ---------------------------------------------------------- Column API
  private def ensureRegistered(spark: SparkSession): Unit = {
    def register(name: String, builder: Seq[Expression] => Expression): Unit =
      TextHashExprs.registerIfAbsent(spark, name, builder)
    register("bpe_token_count",
      { case Seq(t, m) => BpeTokenCount(t, m) })
    register("bpe_tokens",
      { case Seq(t, m) => BpeTokens(t, m) })
    register("bpe_chunks_by_budget",
      { case Seq(t, m, Literal(b: Int, IntegerType)) =>
        BpeChunksByBudget(t, m, b) })
  }

  def bpeTokenCount(spark: SparkSession, text: Column, merges: Column): Column = {
    ensureRegistered(spark)
    call_function("bpe_token_count", text, merges)
  }

  def bpeTokens(spark: SparkSession, text: Column, merges: Column): Column = {
    ensureRegistered(spark)
    call_function("bpe_tokens", text, merges)
  }

  def bpeChunksByBudget(spark: SparkSession, text: Column, merges: Column,
      budget: Int): Column = {
    ensureRegistered(spark)
    call_function("bpe_chunks_by_budget", text, merges,
      org.apache.spark.sql.functions.lit(budget))
  }
}
