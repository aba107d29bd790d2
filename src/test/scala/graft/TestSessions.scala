package graft

import org.apache.spark.sql.SparkSession

import graft.engine.SqlEngine

/** One shared local session for the whole test run. */
object TestSessions {
  lazy val spark: SparkSession = SqlEngine.jvmDefaults(SparkSession.builder())
    .master("local[4]")
    .appName("graft-tests")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "true")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
