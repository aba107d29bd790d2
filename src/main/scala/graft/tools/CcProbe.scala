package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.SqlEngine
import graft.ops.Dedup
import graft.tables.Tables

/** Dev probe (VERDICT r11 #4): attribute x66/x66b's ~2.3–2.5 s between
  * the minhashLsh pair mining and the connectedComponents label loop —
  * the PcaProbe pattern. The x66 input is
  * replicated exactly (documents + identical-text twins with boosted
  * score for every 20th doc).
  *
  * Run: sbt "runMain graft.tools.CcProbe [sfDir]" */
object CcProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = SqlEngine.jvmDefaults(SparkSession.builder()).master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "text", "n_chars")
    val planted = docs.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
        (col("n_chars") + 1000000L).as("n_chars"))
    val u = docs.unionByName(planted)

    def t(fn: => Unit): Double = {
      val t0 = System.nanoTime(); fn; (System.nanoTime() - t0) / 1e9
    }
    def min2(fn: => Unit): Double = { t(fn); math.min(t(fn), t(fn)) }

    // stage attribution (each timed from cold lineage, min-of-2 after
    // warmup): pair mining alone, CC over a pre-materialized pair set,
    // full operator
    val tPairs = min2(Dedup.minhashLsh(u, minJaccard = 0.9)
      .select(col("doc_a"), col("doc_b"))
      .write.format("noop").mode("overwrite").save())
    val pairsMat = Dedup.minhashLsh(u, minJaccard = 0.9)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    val nPairs = pairsMat.count()
    val tCc = min2(Dedup.connectedComponents(pairsMat)
      .write.format("noop").mode("overwrite").save())
    val tFull = min2(Dedup.dedupCorpusBy(u, "n_chars", minJaccard = 0.9)
      .write.format("noop").mode("overwrite").save())
    println(f"x66 attribution: pairs=$nPairs rows, t_pairs=$tPairs%.2f s, " +
      f"t_cc(pairs pre-materialized)=$tCc%.2f s, t_full=$tFull%.2f s")
    spark.stop()
  }
}
