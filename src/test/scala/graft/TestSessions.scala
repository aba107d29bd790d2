package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Spark jobs `body` starts on `s`'s context. One tagged job closes
    * the count: the listener bus is ordered, so once its job is seen
    * every earlier job has been too. */
  def jobsOf(s: SparkSession)(body: => Unit): Int = {
    val tag = "graft-tests-job-count"
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(js.properties.getProperty("spark.jobGroup.id")))
    }
    s.sparkContext.addSparkListener(listener)
    try {
      body
      s.sparkContext.setJobGroup(tag, "closes the job count")
      try s.sparkContext.parallelize(Seq(1), 1).count()
      finally s.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains(tag) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains(tag), "the closing job was never seen")
      groups.asScala.count(_ != tag)
    } finally s.sparkContext.removeSparkListener(listener)
  }
}
