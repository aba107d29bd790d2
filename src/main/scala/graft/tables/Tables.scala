package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

/**
 * Registry of the shared test-fixture tables (TESTDATA.md / FIXTURES.md) as
 * temp views, mirroring how the reference registers listing tables in its
 * catalog (reference: `src/core.rs:47-72` builds a `SessionContext` whose
 * tables are file-backed; ours are parquet-backed temp views).
 *
 * Each table is one parquet file whose schema, as in the reference, comes
 * from its footer, read on the driver with Spark's own converter: no
 * schema-inference job. A type Spark cannot read, such as TIMESTAMP(NANOS),
 * fails there with Spark's error. Naive TIMESTAMP(MICROS) columns read as
 * TIMESTAMP_NTZ and are cast to session-tz instants (graft sessions pin UTC,
 * so wall-clock values match DuckDB's naive reads).
 *
 * Scale notes (100 TB design): views are plain parquet scans — Catalyst
 * pushes filters and prunes columns into the scan. No caching here: at
 * 100 TB the tables do not fit in memory and the scan must stream.
 */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // temp views are session-global: track which dir each session's views
  // currently point at, and re-register whenever it changes (a keyed
  // "already done" set would silently leave views on the previous dir);
  // weak keys, so a session nobody else holds can be collected
  private val registeredDir = new java.util.WeakHashMap[SparkSession, String]()

  /** The Spark schema of one parquet file, from its footer (no job). */
  private def footerSchema(spark: SparkSession, file: String): StructType = {
    val path = new Path(file)
    val conf = spark.sessionState.newHadoopConf()
    val status = path.getFileSystem(conf).getFileStatus(path)
    val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(status, conf), NO_FILTER)
    ParquetFileFormat.readSchemaFromFooter(new Footer(path, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Read one fixture table from `dir` (no view registration). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val file = s"$dir/$name.parquet"
    val raw = spark.read.schema(footerSchema(spark, file)).parquet(file)
    raw.schema.fields.filter(_.dataType == TimestampNTZType).foldLeft(raw) {
      (d, f) => d.withColumn(f.name, col(f.name).cast(TimestampType))
    }
  }

  /** Register every fixture table as a temp view (idempotent while the
    * session keeps reading the same dir; re-registers on dir change).
    * The dir is recorded only AFTER every view registers — recording
    * first made a mid-loop failure (missing fixture file) permanently
    * skip the retry, serving stale or missing views (r04 review). */
  def registerAll(spark: SparkSession, dir: String): Unit = synchronized {
    if (registeredDir.get(spark) != dir) {
      names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
      registeredDir.put(spark, dir)
    }
  }
}
