package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.engine.SqlEngine

/** Dev probe: attribute the stream-replay rows' wall time to micro-batches
  * (per-batch durationMs breakdown from StreamingQueryProgress) — guide §1
  * measurement for the x90/x94/x136 family.
  *
  * No args: sweep statePartitions 2/4/8 under the default (HDFS-backed)
  * state store. With provider-name args (`default` / `rocksdb`): sweep
  * PROVIDERS at the production cap (parts = 4) instead — the r11 round-2
  * state-store evaluation (the provider conf is session-global, read at
  * query start, so each run pins it explicitly). With `codec:<name>`
  * args (e.g. `codec:lz4 codec:zstd codec:uncompressed`): sweep the
  * state-store delta-file compression codec at parts = 4 under the
  * default provider — the r12 commit-path evaluation (VERDICT r11 #3;
  * same session-global-conf caveat). */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SqlEngine.jvmDefaults(SparkSession.builder()).master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val staged = s"${System.getProperty("java.io.tmpdir")}/graft_probe_stage"
    graft.tables.Tables.load(spark, dir, "events")
      .repartitionByRange(2, col("ts")).sortWithinPartitions(col("ts"))
      .write.mode("overwrite").parquet(staged)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val codecKey = "spark.sql.streaming.stateStore.compression.codec"
    val defaultProvider = spark.conf.get(providerKey)
    val codecSweep = args.toSeq.collect {
      case a if a.startsWith("codec:") => a.stripPrefix("codec:")
    }
    require(codecSweep.isEmpty || codecSweep.length == args.length,
      "provider args cannot be mixed with codec: args — the codec sweep " +
      "runs on the default provider only (one axis per invocation)")
    val providers: Seq[(String, String)] =
      if (args.isEmpty || codecSweep.nonEmpty) Seq("default" -> defaultProvider)
      else args.toSeq.map {
        case "rocksdb" => "rocksdb" -> ("org.apache.spark.sql.execution" +
          ".streaming.state.RocksDBStateStoreProvider")
        case "default" => "default" -> defaultProvider
        case other => throw new IllegalArgumentException(
          s"unknown provider '$other' (expected default|rocksdb|codec:<c>)")
      }
    val codecs = if (codecSweep.nonEmpty) codecSweep else Seq("lz4")
    val partSweep = if (args.isEmpty) Seq(2, 4, 8) else Seq(4)
    for (round <- 1 to 3; (pname, pclass) <- providers; codec <- codecs;
        parts <- partSweep) {
      spark.conf.set(providerKey, pclass)
      spark.conf.set(codecKey, codec)
      val t0 = System.nanoTime()
      val joined = graft.streaming.EventStream.correlate(
        graft.streaming.EventStream.readEvents(spark, staged, Some(1)),
        graft.streaming.EventStream.readEvents(spark, staged, Some(1)),
        "view", "click", maxGapMinutes = 720, joinType = "left_outer")
      val q = graft.streaming.EventStream.runToMemory(
        joined, "probe_sink", OutputMode.Append, statePartitions = parts)
      val total = (System.nanoTime() - t0) / 1e9
      println(f"ROUND $round provider=$pname codec=$codec parts=$parts " +
        f"total=$total%.2f s, batches=${q.recentProgress.length}")
      q.recentProgress.foreach { p =>
        println(s"  batch=${p.batchId} rows=${p.numInputRows} " +
          s"durationMs=${p.durationMs} stateRows=${p.stateOperators.map(_.numRowsTotal).mkString(",")} " +
          s"commitMs=${p.stateOperators.map(_.commitTimeMs).mkString(",")}")
      }
      q.stop()
    }
    spark.stop()
  }
}
