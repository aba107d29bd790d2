package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.engine.SqlEngine
import graft.ops.Dedup
import graft.tables.Tables

/** Dev probe (VERDICT r11 #4): attribute x66/x66b's ~2.3–2.5 s between
  * the minhashLsh pair mining and the connectedComponents label loop,
  * and break the loop down per iteration (join+materialize vs the
  * convergence-count action) — the PcaProbe pattern. The x66 input is
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

    // per-iteration breakdown of the CC loop (replicated verbatim from
    // Dedup.connectedComponents, with a timer around each round's
    // materializing action)
    val edges = pairsMat
      .select(col("doc_a"), col("doc_b"))
      .union(pairsMat.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var pinned = edges.select(col("doc_a").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("label"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    println(f"  init labels: ${t(pinned.count())}%.2f s (${pinned.count()} members)")
    var labels = pinned
    var converged = false
    var iter = 0
    while (!converged && iter < 10) {
      val prop = edges
        .join(labels.select(col("doc_id").as("doc_b"), col("label").as("lbl")), "doc_b")
        .select(col("doc_a").as("doc_id"), col("lbl"), lit(false).as("own"))
      val joined = labels
        .select(col("doc_id"), col("label").as("lbl"), lit(true).as("own"))
        .unionByName(prop)
        .groupBy(col("doc_id"))
        .agg(min(col("lbl")).as("label"),
          min(when(col("own"), col("lbl"))).as("__old"))
        .select(col("doc_id"), col("label"),
          (col("label") < col("__old")).as("__chg"))
      val next =
        if ((iter + 1) % 3 == 0) joined.localCheckpoint(eager = false)
        else joined.persist(StorageLevel.MEMORY_AND_DISK)
      var changed = 0L
      val tIter = t { changed = next.filter(col("__chg")).count() }
      println(f"  iter $iter: $tIter%.2f s (changed=$changed)")
      pinned.unpersist(blocking = false)
      pinned = next
      labels = next.select(col("doc_id"), col("label"))
      converged = changed == 0
      iter += 1
    }
    spark.stop()
  }
}
