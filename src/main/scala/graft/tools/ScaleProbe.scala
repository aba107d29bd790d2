package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.SqlEngine
import graft.ops.{Dedup, Dsir, Similarity, TextAnalysis}
import graft.tables.Tables

/**
 * Scaling evidence for the candidate-bounded dedup/ANN operators
 * (VERDICT r07 #7 / r08 #3): the "Σ bucket²" (minhashLsh), "Σ df²
 * df-capped" (containmentPairs), pigeonhole-blocked (editDistancePairs)
 * and "Σ cell²" (semanticDedup) candidate bounds are plan-asserted, but
 * sub-quadratic growth should be MEASURED, not argued. This probe
 * synthesizes a 10× corpus from the sf0.1 fixtures (each extra copy
 * word-salted / dimension-shifted so near-dup DENSITY stays constant —
 * 10 exact copies would inflate the true pair count 100×, which is the
 * data's property, not the algorithm's), times each operator at 1× and
 * 10×, and prints a markdown table for NOTES.md.
 *
 * Scale knob honesty: semanticDedup's Σ cell² bound is per-cell
 * quadratic, so its documented 100 TB shape scales nlist ∝ n (cell
 * depth constant); the probe does the same (16 → 160). The other three
 * have constant per-bucket caps (bands/maxDf/pigeonhole) and keep their
 * x-query parameters unchanged.
 *
 * Run: sbt "runMain graft.tools.ScaleProbe [sfDir] [factor] [onlySubstr]"
 * (the optional third arg filters probe rows by operator-name
 * substring, so a new probe can run without re-paying the whole r09
 * battery).
 */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val only = args.lift(2)
    val out = "/tmp/graft_scaleprobe"
    val spark = SqlEngine.jvmDefaults(SparkSession.builder())
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- prep: materialize 1x and Nx corpora so salting isn't timed
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val emb = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    def salted(k: Int): DataFrame =
      if (k == 0) docs
      // per-copy word salt: every token differs across copies, so copies
      // share no shingles (no cross-copy near-dups) while each copy keeps
      // the base corpus's internal duplicate structure -> density constant
      else docs.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        regexp_replace(col("text"), "([a-z]+)", s"c$k$$1").as("text"))
    def shifted(k: Int): DataFrame =
      if (k == 0) emb
      else emb.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
        transform(col("embedding"), x => (x + lit((k * 0.37).toFloat))
          .cast("float")).as("embedding"))
    (0 until factor).map(salted).reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/docs_xN")
    docs.write.mode("overwrite").parquet(s"$out/docs_x1")
    (0 until factor).map(shifted).reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/emb_xN")
    emb.write.mode("overwrite").parquet(s"$out/emb_x1")

    def t(fn: => DataFrame): Double = {
      def once: Double = {
        val t0 = System.nanoTime()
        fn.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once, once)
    }

    val d1 = spark.read.parquet(s"$out/docs_x1")
    val dN = spark.read.parquet(s"$out/docs_xN")
    def lined(df: DataFrame): DataFrame = df.select(col("doc_id"),
      regexp_replace(col("text"), "(\\S+ \\S+ \\S+) ", "$1\n").as("text"))
    val e1 = spark.read.parquet(s"$out/emb_x1")
    val eN = spark.read.parquet(s"$out/emb_xN")
    val n1 = d1.count(); val nN = dN.count()
    val m1 = e1.count(); val mN = eN.count()

    def ingestBatch(base: DataFrame): DataFrame = lined(
      base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 900000000L).as("doc_id"),
          concat(col("text"), lit(" fresh"),
            col("doc_id").cast("string")).as("text")))
    def tArtifact(dX: DataFrame, path: String): Double = {
      val batch = ingestBatch(d1) // batch FIXED across corpus scales
      // untimed first call builds the artifact; the timed call reads it
      Dedup.lineDedupAgainst(batch, lined(dX), Some(path))
        .write.format("noop").mode("overwrite").save()
      t(Dedup.lineDedupAgainst(batch, lined(dX), Some(path)))
    }
    // r11 (VERDICT r10 #7): bloom-vs-exact ingest crossover. The bloom's
    // claimed win is that batch lines missing the filter never shuffle
    // toward the index join at all — which only pays when the batch has
    // LOW overlap with the corpus, so the probe batch is fully salted
    // (shares no line with any corpus copy). Both routes read the same
    // prebuilt index artifact; what differs per call is the exact
    // route's batch⋈index hash join vs the bloom route's filter BUILD
    // (one index scan into an aggregate — the per-call price of the
    // literal transport) plus a tiny residual join of bloom positives.
    def lowOverlapBatch(base: DataFrame): DataFrame = lined(
      base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 900000000L).as("doc_id"),
          regexp_replace(col("text"), "([a-z]+)", "q$1").as("text")))
    def tExactLow(dX: DataFrame, path: String): Double = {
      val batch = lowOverlapBatch(d1)
      Dedup.lineDedupAgainst(batch, lined(dX), Some(path))
        .write.format("noop").mode("overwrite").save()
      t(Dedup.lineDedupAgainst(batch, lined(dX), Some(path)))
    }
    def tBloomLow(dX: DataFrame, path: String, expected: Long): Double = {
      val batch = lowOverlapBatch(d1)
      Dedup.lineDedupAgainstBloom(batch, lined(dX), expected, Some(path))
        .write.format("noop").mode("overwrite").save()
      t(Dedup.lineDedupAgainstBloom(batch, lined(dX), expected, Some(path)))
    }
    // thunked so the `only` filter skips unselected probes entirely
    val rows: Seq[(String, () => (String, Double, String, Double, String))] = Seq(
      ("minhashLsh(64,16,0.7)", () => (s"$n1 docs", t(Dedup.minhashLsh(d1, 64, 16, 0.7)),
        s"$nN docs", t(Dedup.minhashLsh(dN, 64, 16, 0.7)), "Σ bucket² (16 bands)")),
      ("containmentPairs(0.9,df≤5)", () => (s"$n1 docs", t(Dedup.containmentPairs(d1, 0.9, 5)),
        s"$nN docs", t(Dedup.containmentPairs(dN, 0.9, 5)), "Σ df², df-capped")),
      ("editDistancePairs(≤2)", () => (s"$n1 docs", t(Dedup.editDistancePairs(d1, 2)),
        s"$nN docs", t(Dedup.editDistancePairs(dN, 2)), "pigeonhole min-k grams")),
      ("semanticDedup(0.95)", () => (s"$m1 vecs, nlist 16",
        t(Similarity.semanticDedup(e1, 0.95, nlist = 16, iters = 2)),
        s"$mN vecs, nlist ${16 * factor}",
        t(Similarity.semanticDedup(eN, 0.95, nlist = 16 * factor, iters = 2)),
        "Σ cell², nlist ∝ n")),
      // r09 additions — linear ops; salted copies share no lines/grams,
      // so the duplicate/feature densities stay constant across scales
      ("lineDedup(3-word lines)", () => (s"$n1 docs", t(Dedup.lineDedup(lined(d1))),
        s"$nN docs", t(Dedup.lineDedup(lined(dN))), "hash agg + hash join, linear")),
      ("dsirWeights(512)", () => (s"$n1 docs",
        t(Dsir.importanceWeights(d1, d1.filter(col("doc_id") % 10 === 0), 512)),
        s"$nN docs",
        t(Dsir.importanceWeights(dN, dN.filter(col("doc_id") % 10 === 0), 512)),
        "broadcast ratio join, linear")),
      ("heavyHitters(25)", () => (s"$n1 docs", t(TextAnalysis.heavyHitters(d1, 25)),
        s"$nN docs", t(TextAnalysis.heavyHitters(dN, 25)),
        "MG candidates ≤ k·parts, linear")),
      // r10: steady-state line-dedup ingest — the BATCH is fixed while
      // the corpus scales; without the artifact the index rebuild is
      // linear in the corpus, WITH it the second call reads the parquet
      // index and should be ~flat across corpus scale (the measured
      // form of the "maintained artifact, not a recompute" claim)
      ("lineDedupAgainst(rebuild)", () => (s"$n1-doc corpus",
        t(Dedup.lineDedupAgainst(ingestBatch(d1), lined(d1))),
        s"$nN-doc corpus",
        t(Dedup.lineDedupAgainst(ingestBatch(d1), lined(dN))),
        "index build linear in corpus")),
      ("lineDedupAgainst(artifact READ)", () => (s"$n1-doc corpus",
        tArtifact(d1, s"$out/lha_1"),
        s"$nN-doc corpus",
        tArtifact(dN, s"$out/lha_N"),
        "batch-sized: ~flat across corpus scale")),
      ("lineDedupAgainst(low-overlap)", () => (s"$n1-doc corpus",
        tExactLow(d1, s"$out/lhx_1"),
        s"$nN-doc corpus",
        tExactLow(dN, s"$out/lhx_N"),
        "exact route: batch⋈index join per call")),
      // right-sized filter (2^17 ≈ the 1x line count, 2^21 ≈ 10x):
      // per-call cost = artifact read + literal transport + probe
      ("lineDedupAgainstBloom(low-overlap, right-sized)", () => (s"$n1-doc corpus",
        tBloomLow(d1, s"$out/lhb_1", 1L << 17),
        s"$nN-doc corpus",
        tBloomLow(dN, s"$out/lhb_N", 1L << 21),
        "bloom artifact read + size-proportional literal transport")),
      // deliberately oversized (2^23 both): isolates the literal
      // transport tax — the filter ships in the task binary, so an
      // overestimated expectedCorpusLines is paid on EVERY query
      ("lineDedupAgainstBloom(low-overlap, oversized 2^23)", () => (s"$n1-doc corpus",
        tBloomLow(d1, s"$out/lhc_1", 1L << 23),
        s"$nN-doc corpus",
        tBloomLow(dN, s"$out/lhc_N", 1L << 23),
        "same hits; ~7 MiB filter literal shipped per call")))

    println("| operator | 1x size | 1x sec | 10x size | 10x sec | ratio | bound |")
    println("|---|---|---|---|---|---|---|")
    val shown = only.fold(rows)(f => rows.filter(_._1.contains(f)))
    shown.foreach { case (op, thunk) =>
      val (s1, t1, s10, t10, bound) = thunk()
      println(f"| $op | $s1 | $t1%.2f | $s10 | $t10%.2f | ${t10 / t1}%.1fx | $bound |")
    }
    spark.stop()
  }
}
