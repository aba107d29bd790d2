package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSessions

/**
 * Parity property: the single-pass `TextMetrics` expression must agree,
 * field by field, with the declarative regex/HOF formulation it replaced
 * (which the x08–x11 DuckDB oracles pinned) — across unicode that the
 * parquet fixtures never exercise: CJK, emoji (non-BMP), combining
 * marks, tabs/newlines, runs of punctuation, empty strings.
 */
class TextMetricsSpec extends AnyFunSuite {
  private lazy val spark = TestSessions.spark
  import spark.implicits._

  private val corpusChars: Gen[String] = Gen.oneOf(
    Gen.alphaNumChar.map(_.toString),
    Gen.oneOf(" ", " ", "\t", "\n", "\r"),
    Gen.oneOf(".", ",", "!", "?", ";", "-", "_", "(", ")", "'", "\"", "%", "$"),
    Gen.oneOf("的", "了", "是", "在", "über", "café", "naïve", "Ω", "и"),
    Gen.oneOf("😀", "🚀", "𝔘"), // non-BMP: surrogate pairs
    Gen.oneOf("the", "a", "of", "le", "der", "que", "zu"))

  private val doc: Gen[String] =
    Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, corpusChars).map(_.mkString))

  test("property: TextMetrics fields equal the declarative regex/HOF formulation") {
    // fixed seeds: a failing doc must reproduce on rerun (r04 review)
    val texts = (0 until 300).flatMap(i =>
      doc.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong))) ++
      Seq("", " ", "\t\t", "...", "a", "the the THE", "a_b c-d", "日本語のテキスト",
        "mixed 中文 and english", "😀😀 hi 😀", "xy") // incl. vertical tab
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

    val toks = filter(split(lower(col("text")), "\\W+"), t => t =!= lit(""))
    val declarative = docs.select(
        col("doc_id"),
        length(col("text")).cast("int").as("e_n_char"),
        size(regexp_extract_all(col("text"), lit("\\w+"), lit(0))).cast("int").as("e_n_tokens"),
        size(array_distinct(regexp_extract_all(lower(col("text")), lit("\\w+"), lit(0))))
          .cast("int").as("e_n_types"),
        size(regexp_extract_all(col("text"), lit("[^\\w\\s]"), lit(0))).cast("int").as("e_n_punct"),
        size(filter(split(col("text"), " "), t => t =!= lit(""))).cast("int").as("e_ws_tokens"),
        size(regexp_extract_all(col("text"), lit("\\w+|[^\\w\\s]"), lit(0))).cast("int").as("e_re_tokens"),
        size(toks).cast("int").as("e_n_toks"),
        aggregate(transform(toks, t => length(t)), lit(0L), (a, x) => a + x).as("e_tok_len_sum"),
        size(filter(toks, t => array_contains(
          array(TextHashExprs.stopWords.head._2.map(lit): _*), t))).cast("int").as("e_stop_en"),
        md5(array_join(sort_array(array_distinct(toks)), " ").cast("binary")).as("e_fingerprint"),
        size(regexp_extract_all(col("text"), lit("[\\x{4e00}-\\x{9fff}]"), lit(0)))
          .cast("int").as("e_n_cjk"))

    val actual = docs.select(col("doc_id"),
      inline(array(TextHashExprs.textMetrics(spark, col("text")))))

    val joined = actual.join(declarative, "doc_id")
      .select(col("doc_id"),
        (col("n_char") <=> col("e_n_char")).as("c1"),
        (col("n_tokens") <=> col("e_n_tokens")).as("c2"),
        (col("n_types") <=> col("e_n_types")).as("c3"),
        (col("n_punct") <=> col("e_n_punct")).as("c4"),
        (col("ws_tokens") <=> col("e_ws_tokens")).as("c5"),
        (col("re_tokens") <=> col("e_re_tokens")).as("c6"),
        (col("n_toks") <=> col("e_n_toks")).as("c7"),
        (col("tok_len_sum") <=> col("e_tok_len_sum")).as("c8"),
        (col("stop_en") <=> col("e_stop_en")).as("c9"),
        (col("fingerprint") <=> col("e_fingerprint")).as("c10"),
        (col("n_cjk") <=> col("e_n_cjk")).as("c11"))
    val bad = joined.filter(not(col("c1") && col("c2") && col("c3") && col("c4") &&
      col("c5") && col("c6") && col("c7") && col("c8") && col("c9") && col("c10") &&
      col("c11")))
      .collect()
    assert(bad.isEmpty, {
      val ids = bad.map(_.getLong(0)).toSet
      val samples = texts.zipWithIndex.filter(p => ids.contains(p._2.toLong)).take(5)
      s"${bad.length} mismatching docs, e.g. ${samples.map(s => s"#${s._2}: '${s._1}'")}"
    })
  }

  test("languageId: CJK text scores zh; signal-free text reports und") {
    // r04 review: \w+ strips CJK so the zh stopword list was dead code,
    // and zero-score docs won the max-tag tie-break as 'zh'
    val docs = Seq(
      (1L, "这是一个中文文档 的确如此"),
      (2L, "the cat sat on the mat and it is a cat"),
      (3L, "!!! ??? %%%"),
      (4L, "")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.languageId(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(out(1L)._1 == "zh" && out(1L)._2 > 0.5, out(1L).toString)
    assert(out(2L)._1 == "en", out(2L).toString)
    assert(out(3L)._1 == "und" && out(3L)._2 == 0.0, out(3L).toString)
    assert(out(4L)._1 == "und", out(4L).toString)
  }

  test("custom functions register once per session, not once per builder call") {
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    for ((name, build) <- Seq[(String, () => Unit)](
        "char_entropy" -> (() => TextHashExprs.charEntropy(s, lit("x"))),
        "bpe_token_count" -> (() => BpeExprs.bpeTokenCount(s, lit("x"), lit(null)))))
    {
      // each registration stores a new ExpressionInfo next to the builder;
      // the builders themselves are non-capturing lambdas, one instance
      // per call site, so they compare equal even when re-registered
      def entry() = (reg.lookupFunction(FunctionIdentifier(name)),
        reg.lookupFunctionBuilder(FunctionIdentifier(name)))
      build()
      val (info1, builder1) = entry()
      build()
      val (info2, builder2) = entry()
      assert(info1.isDefined && builder1.isDefined, name)
      assert((info1.get eq info2.get) && (builder1.get eq builder2.get),
        s"$name was registered again")
    }
  }
}
