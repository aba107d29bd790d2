package graft.engine

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.catalyst.catalog.{CatalogTable, CatalogTableType}
import org.apache.spark.sql.connector.catalog.{Column, Identifier, SupportsRead, Table,
  TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.read.{LocalScan, ScanBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * `information_schema` (reference enables it via
 * `with_information_schema(true)`, `src/core.rs:62`: virtual views
 * `tables`, `views`, `columns`, `df_settings`).
 *
 * A read-only Spark catalog: [[SqlEngine]] registers this class as
 * `spark.sql.catalog.information_schema`, so Catalyst resolves
 * `information_schema.tables` like any other table, in `executeSql` and
 * in plain `spark.sql` alike. Each view is a `LocalScan` whose rows list
 * the session catalog when the query is planned — Spark plans a query
 * with its own session active, so a view lists that session's tables and
 * temp views, live on every call. Nothing is written into the session
 * and nothing is cached; listing reads catalog metadata only, no job.
 *
 * Spark matches catalog names case-sensitively while DataFusion folds
 * unquoted identifiers, so [[InfoSchema.foldPrefix]] lowercases the
 * `information_schema.` prefix before parsing; view names are matched
 * ignoring case here. `SHOW TABLES` / `SHOW COLUMNS` pass through to
 * Spark natively.
 */
class InfoSchema extends TableCatalog {
  private var catalogName = InfoSchema.Name

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  override def listTables(namespace: Array[String]): Array[Identifier] =
    InfoSchema.views.keys.toArray.sorted.map(Identifier.of(Array.empty, _))

  override def loadTable(ident: Identifier): Table =
    InfoSchema.views.get(ident.name.toLowerCase)
      .filter(_ => ident.namespace.isEmpty)
      .getOrElse(throw new NoSuchTableException(ident))

  private def readOnly = new UnsupportedOperationException(s"$catalogName is read-only")
  override def alterTable(ident: Identifier, changes: TableChange*): Table = throw readOnly
  override def dropTable(ident: Identifier): Boolean = throw readOnly
  override def renameTable(from: Identifier, to: Identifier): Unit = throw readOnly
}

object InfoSchema {

  /** The catalog name [[SqlEngine]] registers this class under. */
  val Name = "information_schema"

  private val Prefix = s"""(?i)\\b$Name(?=\\s*\\.)""".r

  /** `INFORMATION_SCHEMA.x` → `information_schema.x`: the catalog name
    * only, the way DataFusion reads an unquoted identifier. */
  def foldPrefix(stmt: String): String = Prefix.replaceAllIn(stmt, Name)

  private val SessionCatalog = "spark_catalog"

  /** One view: its schema and its rows, listed from a session. */
  private final case class View(name: String, ddl: String,
      list: SparkSession => Seq[Seq[Any]]) extends Table with SupportsRead {
    private val struct = StructType.fromDDL(ddl)
    override def columns(): Array[Column] =
      struct.fields.map(f => Column.create(f.name, f.dataType, f.nullable))
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () =>
      new LocalScan {
        override def readSchema(): StructType = struct
        override def rows(): Array[InternalRow] =
          list(SparkSession.active).map(r =>
            InternalRow.fromSeq(r.map(CatalystTypeConverters.convertToCatalyst))).toArray
      }
  }

  /** The current database's tables, then the temp views, as `SHOW TABLES`
    * lists them, each with its schema (temp views under the current
    * database) and catalog metadata. */
  private def listed(spark: SparkSession): Seq[(String, CatalogTable)] = {
    val catalog = spark.sessionState.catalog
    val db = catalog.getCurrentDatabase
    catalog.listTables(db).map(id =>
      (id.database.getOrElse(db), catalog.getTempViewOrPermanentTableMetadata(id)))
  }

  private def isView(t: CatalogTable) = t.tableType == CatalogTableType.VIEW

  private val views: Map[String, View] = Seq(
    View("tables", "table_catalog STRING, table_schema STRING, table_name STRING, table_type STRING",
      spark => listed(spark).map { case (db, t) =>
        Seq(SessionCatalog, db, t.identifier.table, if (isView(t)) "VIEW" else "BASE TABLE")
      }),
    View("views", "table_catalog STRING, table_schema STRING, table_name STRING",
      spark => listed(spark).collect { case (db, t) if isView(t) =>
        Seq(SessionCatalog, db, t.identifier.table)
      }),
    // data_type as `spark.catalog.listColumns` prints it: the stored type,
    // so a VARCHAR(5) column reads `string`
    View("columns", "table_catalog STRING, table_schema STRING, table_name STRING, " +
        "column_name STRING, ordinal_position INT NOT NULL, is_nullable STRING, data_type STRING",
      spark => listed(spark).flatMap { case (db, t) =>
        t.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
          Seq(SessionCatalog, db, t.identifier.table, f.name, i + 1, if (f.nullable) "YES" else "NO",
            f.dataType.simpleString)
        }
      }),
    View("df_settings", "name STRING, value STRING",
      spark => spark.conf.getAll.toSeq.sortBy(_._1).map { case (k, v) => Seq(k, v) })
  ).map(v => v.name -> v).toMap
}
