package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.engine.SqlEngine
import graft.ops.{Similarity, TextAnalysis}
import graft.tables.Tables

/** Dev probe (VERDICT r11 #2): the recorded revisit conditions for the
  * x63/x103-class join reorder and lshTopK's cid-keyed candidate
  * exchange are both "the count/vocab/corpus table no longer
  * broadcasts" — invisible at gate scale, where everything sits under
  * the 10 MB autoBroadcastJoinThreshold. This probe synthesizes an N×
  * corpus (ScaleProbe's word-salting — near-dup density constant,
  * vocabulary grows linearly, so the count tables REALLY grow) and
  * reports, at 1× and N×:
  *
  *  - `bigramSurprisalTokens` (x63; x28/x103/x132 share the pattern):
  *    the AQE-final join strategies — does the doc×bigram INSTANCE
  *    table still cross zero shuffle-join exchanges? — and min-of-2
  *    noop timings for the shipped join order vs the vocab-first
  *    reorder recorded (as measured-slower-at-gate-scale) in
  *    TextAnalysis.scala, plus that reorder with a checkpoint barrier
  *    on the doc-bigram frame (the r11 failure mode was the planner
  *    re-deriving the doc-level aggregate inside the vocab branch).
  *    Both variants are result-checked against the shipped form with
  *    a two-way EXCEPT before their timings are trusted.
  *
  *  - `lshTopK` (x07/x07b): the corpus re-join's strategy — at gate
  *    scale the corpus side broadcasts and the cid-keyed dedup
  *    exchange (r11) is moot; past the threshold the claim is that
  *    the dedup's exchange IS the join's required partitioning
  *    (EnsureRequirements adds nothing on the candidate side).
  *
  * Run: sbt "runMain graft.tools.BroadcastProbe [sfDir] [factor]"
  */
object BroadcastProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(30)
    val out = "/tmp/graft_broadcastprobe"
    val spark = SqlEngine.jvmDefaults(SparkSession.builder())
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- N× corpus, ScaleProbe's salting (shared shingle-free copies)
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val emb = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    def salted(k: Int): DataFrame =
      if (k == 0) docs
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
    val d1 = spark.read.parquet(s"$out/docs_x1")
    val dN = spark.read.parquet(s"$out/docs_xN")
    val e1 = spark.read.parquet(s"$out/emb_x1")
    val eN = spark.read.parquet(s"$out/emb_xN")

    // ---- plan harvesting: AQE finalizes join strategies at runtime, so
    // execute THROUGH the dataset's own QueryExecution (collect), then
    // walk the finalized tree
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      p +: kids.flatMap(walk)
    }
    def finalNodes(df: DataFrame): Seq[String] = {
      df.collect()
      walk(df.queryExecution.executedPlan).map(_.nodeName)
    }
    def joinSummary(df: DataFrame): String = {
      val nodes = finalNodes(df)
      val joins = nodes.filter(_.contains("Join"))
        .groupBy(identity).view.mapValues(_.size).toMap
      val ex = nodes.count(n => n == "Exchange" || n.contains("ShuffleExchange"))
      s"joins=${joins.toSeq.sortBy(_._1).map { case (k, v) => s"$k×$v" }
        .mkString("[", ", ", "]")} shuffleExchanges=$ex"
    }
    def t(fn: => DataFrame): Double = {
      def once: Double = {
        val t0 = System.nanoTime()
        fn.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once; math.min(once, once)
    }

    // ---- x63 family: shipped order vs vocab-first reorder
    def toks(d: DataFrame): DataFrame =
      d.select(col("doc_id"), graft.ops.Text.tokens(col("text")).as("w"))
        .localCheckpoint(eager = false)
    def docBgOf(tk: DataFrame): DataFrame = tk.filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS a, w[i+1] AS b))"))
        .as("bg"))
      .select(col("doc_id"), col("bg.a").as("a"), col("bg.b").as("b"))
      .groupBy(col("doc_id"), col("a"), col("b")).agg(count(lit(1)).as("tf"))
    // the r11 reorder: attach c1a/c1b/total to the bigram VOCAB, join
    // the instance table once on (a, b); identical arithmetic order
    def vocabFirst(tk: DataFrame, lambda: Double, barrier: Boolean): DataFrame = {
      val docBg0 = docBgOf(tk)
      val docBg = if (barrier) docBg0.localCheckpoint(eager = false) else docBg0
      val bgCnt = docBg.groupBy(col("a"), col("b")).agg(sum(col("tf")).as("n2"))
      val uni = tk.select(col("doc_id"), explode(col("w")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("c1"))
      val total = uni.agg(sum(col("c1")).as("total"))
      val vocab = bgCnt
        .join(uni.select(col("token").as("a"), col("c1").as("c1a")), "a")
        .join(uni.select(col("token").as("b"), col("c1").as("c1b")), "b")
        .crossJoin(broadcast(total))
      val p = lit(lambda) * col("n2") / col("c1a") +
        lit(1.0 - lambda) * col("c1b") / col("total").cast("double")
      docBg.join(vocab, Seq("a", "b"))
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_bigrams"),
          // portableRound6 inlined (private in TextAnalysis)
          (floor((sum(round(col("tf") * round(log(lit(1.0) / p), 7), 9)
              .cast(DecimalType(28, 9))).cast("double") / sum(col("tf"))) *
            lit(1000000.0) + lit(0.5)) / lit(1000000.0))
            .as("avg_nll"))
        .orderBy(col("doc_id"))
    }
    // forcing the at-scale join shape: disabling broadcast joins makes
    // every count-table join take the shuffle form it would have past
    // the 10 MB threshold — the regime the revisit condition names —
    // without paying for a 100×+ fixture. Explicit broadcast() HINTS
    // (lshTopK's query side, bigram's one-row total) stay honored,
    // which is exactly the operator contract at 100 TB.
    val thresholdKeys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val savedThresholds = thresholdKeys.map(k => k -> spark.conf.getOption(k))
    def noBroadcast[T](fn: => T): T = {
      thresholdKeys.foreach(spark.conf.set(_, "-1"))
      try fn finally savedThresholds.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    for ((tag0, d) <- Seq("1x" -> d1, s"${factor}x" -> dN);
        (regime, wrap) <- Seq(
          "broadcast" -> ((f: () => Unit) => f()),
          "no-broadcast" -> ((f: () => Unit) => noBroadcast(f())))) {
      val tag = s"$tag0/$regime"
      val tk = toks(d)
      wrap { () =>
        val shipped = TextAnalysis.bigramSurprisalTokens(tk)
        val reorder = vocabFirst(tk, 0.75, barrier = false)
        val reorderB = vocabFirst(tk, 0.75, barrier = true)
        val diff = shipped.exceptAll(reorder).count() +
          reorder.exceptAll(shipped).count() +
          shipped.exceptAll(reorderB).count() +
          reorderB.exceptAll(shipped).count()
        println(s"bigramSurprisal[$tag] shipped: ${joinSummary(shipped)}")
        println(s"bigramSurprisal[$tag] reorder: ${joinSummary(reorder)}")
        println(f"bigramSurprisal[$tag] rows-diff(shipped vs reorders)=$diff " +
          f"t_shipped=${t(TextAnalysis.bigramSurprisalTokens(tk))}%.2f s " +
          f"t_reorder=${t(vocabFirst(tk, 0.75, barrier = false))}%.2f s " +
          f"t_reorder_barrier=${t(vocabFirst(tk, 0.75, barrier = true))}%.2f s")
      }
    }

    // ---- lshTopK: corpus re-join strategy at 1× and N× (x07 shape —
    // fixed small query set, corpus scales)
    for ((tag0, e) <- Seq("1x" -> e1, s"${factor}x" -> eN);
        (regime, wrap) <- Seq(
          "broadcast" -> ((f: () => Unit) => f()),
          "no-broadcast" -> ((f: () => Unit) => noBroadcast(f())))) {
      val tag = s"$tag0/$regime"
      wrap { () =>
        val q = Similarity.lshTopK(
          e.filter(col("vec_id") % 10000000L >= 5),
          e1.filter(col("vec_id") < 5), k = 3)
        println(s"lshTopK[$tag] ${joinSummary(q)}")
        println(f"lshTopK[$tag] t=${t(Similarity.lshTopK(
          e.filter(col("vec_id") % 10000000L >= 5),
          e1.filter(col("vec_id") < 5), k = 3))}%.2f s")
      }
    }
    spark.stop()
  }
}
