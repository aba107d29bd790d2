package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.SqlEngine

/** Dev probe: attribute the x98-family wall time (fit collect vs
  * projection scan vs final sort) — guide §1 measurement. */
object PcaProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SqlEngine.jvmDefaults(SparkSession.builder()).master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROBE $tag%-22s ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    (1 to 3).foreach { rnd =>
      println(s"ROUND $rnd")
      val e = time("Tables.load")(
        graft.tables.Tables.load(spark, dir, "embeddings"))
      time("bare count")(e.count())
      time("covariance collect") {
        graft.ops.Similarity.covariance(e, dims = 16).collect()
      }
      val m = time("pcaModel(16,16)") {
        graft.ops.Similarity.pcaModel(e, dims = 16, k = 16)
      }
      val m2 = time("pcaModel again") {
        graft.ops.Similarity.pcaModel(e, dims = 16, k = 16)
      }
      assert(m2.means.length == 16)
      val proj = graft.ops.Similarity.pcaProject(e, dims = 16, k = 16)
      time("project+norm noop") {
        proj.select(col("vec_id"),
          round(sqrt(aggregate(col("components"), lit(0.0),
            (acc, c) => acc + c * c)), 4).as("proj_norm"))
          .write.format("noop").mode("overwrite").save()
      }
      time("with orderBy") {
        proj.select(col("vec_id"),
          round(sqrt(aggregate(col("components"), lit(0.0),
            (acc, c) => acc + c * c)), 4).as("proj_norm"))
          .orderBy("vec_id")
          .write.format("noop").mode("overwrite").save()
      }
      assert(m.means.length == 16)
    }
    spark.stop()
  }
}
