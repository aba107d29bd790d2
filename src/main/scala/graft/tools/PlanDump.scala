package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.engine.SqlEngine

/** Dev tool: dump EXPLAIN FORMATTED for the named queries, one file per
  * query, into an output directory — the per-round before/after plan
  * evidence (`plans/r11/<query>_before.txt` / `..._after.txt`).
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <name>...
  * (empty <name> list = every declared query). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanDump <sfDir> <outDir> <suffix> [queryName...]")
    val sfDir = args(0)
    val outDir = Paths.get(args(1))
    val suffix = args(2)
    val only = args.drop(3).toSet
    Files.createDirectories(outDir)
    val spark = SqlEngine.jvmDefaults(SparkSession.builder()).master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.SparkEntry.all.filter(q => only.isEmpty || only(q.name)).foreach { q =>
      try {
        val plan = q.run(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(outDir.resolve(s"${q.name}_$suffix.txt"), plan)
        println(s"[plandump] wrote ${q.name}_$suffix.txt")
      } catch {
        case e: Throwable =>
          println(s"[plandump] ${q.name} FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
