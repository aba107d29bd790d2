package graft.engine

import org.apache.spark.sql.SparkSession

/**
 * `information_schema` emulation (reference enables it via
 * `with_information_schema(true)`, `src/core.rs:62`: virtual views
 * `tables`, `views`, `columns`, `df_settings`).
 *
 * Spark exposes the catalog through an API, not a virtual schema, so the
 * engine (a) refreshes temp views `information_schema__{tables,views,
 * columns,df_settings}` from `spark.catalog` before each statement that
 * mentions them, and (b) rewrites `information_schema.X` identifiers to
 * those view names pre-parse. `SHOW TABLES` / `SHOW COLUMNS` pass through
 * to Spark natively.
 *
 * Scale note: these are driver-side catalog listings (metadata, not
 * data) — identical cost profile to the reference's implementation.
 */
object InfoSchema {

  private val Ref = """(?i)information_schema\.(tables|views|columns|df_settings)""".r

  /** Left out of every listing, so a statement answers the same each call. */
  private val OwnViews = Set("tables", "views", "columns", "df_settings").map("information_schema__" + _)

  def mentionsInfoSchema(stmt: String): Boolean = Ref.findFirstIn(stmt).isDefined

  /** Rewrite `information_schema.x` → `information_schema__x`. */
  def rewrite(stmt: String): String =
    Ref.replaceAllIn(stmt, m => s"information_schema__${m.group(1).toLowerCase}")

  /** (Re)materialize the emulation views from the live catalog. */
  def refresh(spark: SparkSession): Unit = {
    import spark.implicits._

    val catalogName = "spark_catalog"
    val db = spark.catalog.currentDatabase
    val tables = spark.catalog.listTables().collect().filterNot(t => OwnViews(t.name))

    tables.map(t => (catalogName, Option(t.database).getOrElse(db),
        t.name, if (t.tableType == "VIEW" || t.isTemporary) "VIEW" else "BASE TABLE"))
      .toSeq.toDF("table_catalog", "table_schema", "table_name", "table_type")
      .createOrReplaceTempView("information_schema__tables")

    tables.filter(t => t.tableType == "VIEW" || t.isTemporary)
      .map(t => (catalogName, Option(t.database).getOrElse(db), t.name))
      .toSeq.toDF("table_catalog", "table_schema", "table_name")
      .createOrReplaceTempView("information_schema__views")

    val cols = tables.flatMap { t =>
      try {
        spark.catalog.listColumns(t.name).collect().zipWithIndex.map { case (c, i) =>
          (catalogName, Option(t.database).getOrElse(db), t.name, c.name,
            i + 1, if (c.nullable) "YES" else "NO", c.dataType)
        }
      } catch { case _: Throwable => Array.empty[(String, String, String, String, Int, String, String)] }
    }
    cols.toSeq
      .toDF("table_catalog", "table_schema", "table_name", "column_name",
        "ordinal_position", "is_nullable", "data_type")
      .createOrReplaceTempView("information_schema__columns")

    spark.conf.getAll.toSeq.sortBy(_._1).toDF("name", "value")
      .createOrReplaceTempView("information_schema__df_settings")
  }
}
