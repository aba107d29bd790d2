package graft.tables

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSessions

class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSessions.spark

  /** What a fixture read returned before the footer path: Spark's schema
    * inference, then every NTZ column cast to a session-tz instant. */
  private def inferred(s: SparkSession, file: String): DataFrame = {
    val raw = s.read.parquet(file)
    raw.schema.fields.filter(_.dataType == TimestampNTZType).foldLeft(raw) {
      (d, f) => d.withColumn(f.name, col(f.name).cast(TimestampType))
    }
  }

  test("registerAll on a fresh session starts no Spark job") {
    val s = spark.newSession()
    val jobs = TestSessions.jobsOf(s)(Tables.registerAll(s, TestSessions.sf001))
    assert(jobs == 0, s"registerAll started $jobs job(s)")
  }

  test("footer schema equals the inferred one for every fixture table") {
    val sf01 = s"${new java.io.File(TestSessions.sf001).getParent}/sf0.1"
    for (dir <- Seq(TestSessions.sf0001, TestSessions.sf001, sf01);
         name <- Tables.names) {
      val file = s"$dir/$name.parquet"
      assert(Tables.load(spark, dir, name).schema == inferred(spark, file).schema, file)
    }
  }

  test("a TIMESTAMP(NANOS) file fails with the type named, and sets no conf") {
    val s = spark.newSession()
    val dir = Files.createTempDirectory("graft_nanos")
    val file = dir.resolve("events.parquet")
    try {
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
      val writer = ExampleParquetWriter.builder(new Path(file.toString)).withType(schema).build()
      try writer.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", 1L).append("ts", 1700000000123456789L))
      finally writer.close()
      val err = intercept[Exception](Tables.load(s, dir.toString, "events"))
      assert(err.getMessage.contains("TIMESTAMP(NANOS"), err.getMessage)
      assert(!s.conf.getAll.contains("spark.sql.legacy.parquet.nanosAsLong"))
    } finally {
      Files.list(dir).iterator().asScala.foreach(Files.delete)
      Files.delete(dir)
    }
  }
}
