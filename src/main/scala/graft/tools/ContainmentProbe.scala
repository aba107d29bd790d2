package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.SqlEngine
import graft.tables.Tables

/** Dev probe (VERDICT r11 #7): measure the x118 rare-postings blocking's
  * ACTUAL volumes at a given SF — gram document-frequency histogram,
  * rare-gram count, candidate volume Σ df·(df−1)/2 before the distinct,
  * distinct candidates, verified output pairs — plus a coarse timing
  * attribution (gram pass vs candidate mining vs full operator). The
  * blocking predicate (pairs share ≥1 gram with df ∈ [2, maxDf]) is part
  * of the declared semantics, so this probe informs the IMPLEMENTATION
  * of the candidate step, never its contract.
  *
  * Run: sbt "runMain graft.tools.ContainmentProbe [sfDir] [maxDf]" */
object ContainmentProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val maxDf = args.lift(1).map(_.toInt).getOrElse(5)
    val spark = SqlEngine.jvmDefaults(SparkSession.builder()).master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // the exact x118 input: documents plus the +700000 planted supersets
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val tail = " qq ww ee rr tt yy uu ii oo pp aa ss dd ff gg hh jj kk ll" +
      " zz xx cc vv bb nn mm q1 w2 e3 r4"
    val planted = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 700000L).as("doc_id"),
        concat(col("text"), lit(tail)).as("text"))
    val u = docs.unionByName(planted)

    val grams = u.select(col("doc_id"),
      graft.functions.TextHashExprs.tokenTrigramHashes(spark, col("text"))
        .as("sh")).localCheckpoint(eager = false)
    val postings = grams.select(col("doc_id"), explode(col("sh")).as("gram"))
    val dfTab = postings.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .localCheckpoint(eager = false)

    // df histogram, bucketed; candidate volume = Σ df·(df−1)/2 per bucket
    val hist = dfTab
      .select(when(col("df") <= 10, col("df").cast("string"))
          .when(col("df") <= 100, lit("11-100"))
          .otherwise(lit(">100")).as("df_bucket"),
        col("df"))
      .groupBy(col("df_bucket"))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("df") * (col("df") - 1) / 2).cast("long").as("pair_volume"))
      .orderBy(length(col("df_bucket")), col("df_bucket"))
      .collect()
    println("| df bucket | n_grams | Σ df·(df−1)/2 |")
    println("|---|---|---|")
    hist.foreach(r => println(s"| ${r.get(0)} | ${r.get(1)} | ${r.get(2)} |"))

    val rare = dfTab.filter(col("df").between(2, maxDf))
    val rareN = rare.count()
    val rareVol = rare.agg(sum(col("df") * (col("df") - 1) / 2).cast("long"))
      .collect()(0).getLong(0)
    val distinctCand = postings.join(rare.select(col("gram")), "gram")
      .as("a").join(postings.join(rare.select("gram"), "gram").as("b"),
        col("a.gram") === col("b.gram") && col("b.doc_id") > col("a.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val outPairs = graft.ops.Dedup.containmentPairs(u, 0.9, maxDf).count()
    println(s"rare grams (df in [2,$maxDf]): $rareN; candidate volume " +
      s"(with multiplicity): $rareVol; distinct candidates: $distinctCand; " +
      s"verified output pairs: $outPairs")

    def t(fn: => Unit): Double = {
      val t0 = System.nanoTime(); fn; (System.nanoTime() - t0) / 1e9
    }
    def min2(fn: => Unit): Double = { t(fn); math.min(t(fn), t(fn)) }
    val tGrams = min2(grams.write.format("noop").mode("overwrite").save())
    val tDf = min2(dfTab.write.format("noop").mode("overwrite").save())
    val tFull = min2(graft.ops.Dedup.containmentPairs(u, 0.9, maxDf)
      .write.format("noop").mode("overwrite").save())
    println(f"timing (min of 2 after warmup): grams $tGrams%.2f s, " +
      f"df table $tDf%.2f s, full operator $tFull%.2f s")
    spark.stop()
  }
}
