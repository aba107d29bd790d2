package graft.engine

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}

/**
 * The engine façade — a Spark-native replica of the reference's complete
 * public API, `DataFusionContext` with its five methods (reference:
 * `src/core.rs:34-99`):
 *
 * | reference                  | here               |
 * |----------------------------|--------------------|
 * | `greet()`                  | `SqlEngine.greet`  |
 * | `DataFusionContext::new()` | `SqlEngine(spark)` |
 * | `execute_sql(sql)`         | `executeSql(sql)`  |
 * | `set_s3_config(...)`       | `setS3Config(...)` |
 * | `set_result_format(fmt)`   | `setResultFormat`  |
 *
 * `executeSql` accepts multi-statement SQL, plans/executes each statement
 * through Catalyst (the reference's parse → plan → optimize → execute
 * pipeline, `src/core.rs:102-128`, with Spark as the engine instead of
 * DataFusion), formats each result, and joins them with `\n`.
 *
 * Deliberate deviations, documented per SURVEY.md:
 *  - `setResultFormat(Json)` is honored. The reference stores the format
 *    but `execute_inner` hard-codes the table path (`src/core.rs:120-122`)
 *    — Json is dead code there (SURVEY §3.4); we treat that as a bug.
 *  - No `target_partitions=1`: that is a WASM single-thread constraint,
 *    not a semantic (SURVEY §3.1). Execution parallelism follows the
 *    SparkSession.
 *  - Spill stays enabled (reference disables its disk manager,
 *    `src/core.rs:55`, because WASM has no disk) — a strict superset.
 *
 * Session setting: `new SqlEngine(spark)` sets
 * `spark.sql.catalog.information_schema` on the caller's session, which
 * registers [[InfoSchema]] as a catalog there (plain `spark.sql` sees it
 * too), and `information_schema.df_settings` lists that one extra row.
 * The GapFillers functions are registered into the session's function
 * registry once, and one table function, `generate_series`, into its
 * table function registry; plain `spark.sql` on the session resolves
 * them too. [[GroupsFrames]] adds one optimizer rule to
 * `spark.experimental.extraOptimizations` and one internal function,
 * `__graft_groups`, to the registry, also once. A second engine on the
 * same session finds all of them in place.
 *
 * JVM-wide defaults ([[SqlEngine.jvmDefaults]], applied by `newSession`):
 *  - `spark.sql.codegen.cache.maxEntries` = [[SqlEngine.CodegenCacheEntries]].
 *    Spark caches generated classes per (class loader, source) in one
 *    JVM-wide cache of 100 entries. Every class is cached twice (driver
 *    and executor class loader), so a single curation query fills most
 *    of it and a deck of statements evicts its own classes and
 *    recompiles them with Janino on every call. The cache is sized to
 *    the engine's working set instead, so each plan shape compiles once.
 *  - `spark.sql.ui.retainedExecutions`, `spark.ui.retainedJobs` and
 *    `spark.ui.retainedStages` = [[SqlEngine.RetainedStatus]]. With the
 *    UI off nothing reads this status, yet Spark keeps 1,000 of each,
 *    plan descriptions included, on the driver heap.
 * These are static settings: Spark reads them once, when the JVM's
 * first SparkContext (and first code generator) starts. The first
 * context wins — a caller that builds its own SparkContext before
 * `newSession` keeps Spark's 100-entry cache; apply
 * [[SqlEngine.jvmDefaults]] to that builder to get the same sizing.
 *
 * `jvmDefaults` also adds one session extension, [[ParamLiterals]]: a
 * physical-plan rule that keeps comparison literals out of the generated
 * source, so a statement that differs from an earlier one only in a
 * WHERE key reuses the compiled stage. The extension is not a static
 * conf: it belongs to the builder, and every session that builder
 * creates (and their `newSession()`s) carries it. A caller's own
 * session built without `jvmDefaults` gets identical results, but
 * compiles its stages once per literal value.
 *
 * Threads. One engine may serve several threads at once, and so may
 * several engines on one session or on one context: `executeSql` keeps
 * no per-call state on the engine, `resultFormat` is a volatile field,
 * and `s3Roots` is a concurrent map (`ConcurrentClientsSpec` runs every
 * dialect rewrite from several threads and compares each output with a
 * serial run). `setResultFormat` and `setS3Config` apply to the
 * statements that start after them, also within a running multi-statement
 * call. Known gaps:
 *  - `newSession` saves the caller's active and default sessions and
 *    restores (or clears) them after `create()`; the default session is
 *    JVM-wide and the save and restore are not atomic, so two threads in
 *    `newSession` at once may leave either session as the default;
 *  - two `new SqlEngine` on one session at once can both register a
 *    `GapFillers` name: the check and the registration are not atomic, so
 *    the second may replace the first with an equal builder (one more
 *    warning in the log, same results).
 */
class SqlEngine(val spark: SparkSession) {

  graft.functions.GapFillers.register(spark)
  GroupsFrames.register(spark)

  // information_schema.{tables,views,columns,df_settings} resolve through
  // this read-only catalog (reference: `with_information_schema(true)`,
  // src/core.rs:62)
  spark.conf.set(s"spark.sql.catalog.${InfoSchema.Name}", classOf[InfoSchema].getName)

  // http(s) parquet/CSV/JSON scans — reference resolves these URL schemes
  // in its object store (src/object_store.rs:57-71)
  locally {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setIfUnset("fs.http.impl", classOf[graft.sources.HttpFileSystem].getName)
    hc.setIfUnset("fs.https.impl", classOf[graft.sources.HttpsFileSystem].getName)
  }

  @volatile private var resultFormat: ResultFormat = ResultFormat.Table

  def setResultFormat(fmt: ResultFormat): Unit = { resultFormat = fmt }

  /**
   * Map the reference's S3 credential surface (`src/core.rs:78-94` →
   * `src/object_store.rs:38-56`) onto Hadoop s3a configuration. The
   * reference hard-codes the AWS endpoint and stores (root, bucket,
   * region, keys); s3a scopes credentials per-bucket so concurrent
   * buckets work (superset).
   *
   * DOCUMENTED DEVIATION (ADVICE r04): the root prefix binds at
   * `CREATE EXTERNAL TABLE` translation time — the table's resolved
   * LOCATION embeds the prefix — while the reference's opendal operator
   * re-reads its root on every object access (`src/object_store.rs:49`).
   * Calling `setS3Config` with a different root therefore affects only
   * tables created AFTER the call here; already-registered tables keep
   * the location they were created with (re-issue the DDL to rebind).
   * Spark's catalog has no per-read path indirection that could match
   * the reference's late binding without a custom FileSystem shim; the
   * create-time contract is deterministic and documented instead.
   */
  def setS3Config(root: String, bucket: String, region: String,
      accessKeyId: String, secretAccessKey: String): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set(s"fs.s3a.bucket.$bucket.access.key", accessKeyId)
    hc.set(s"fs.s3a.bucket.$bucket.secret.key", secretAccessKey)
    hc.set(s"fs.s3a.bucket.$bucket.endpoint.region", region)
    // the reference's opendal operator resolves every object path UNDER
    // `root` (`src/object_store.rs:49` `.root(&state.s3_config.root)`),
    // so s3://bucket/file with root 'data' reads bucket/data/file —
    // dropping root silently read a DIFFERENT object (r04 review).
    val r = root.stripPrefix("/").stripSuffix("/")
    if (r.nonEmpty) s3Roots(bucket) = r else s3Roots.remove(bucket)
  }

  private val s3Roots = scala.collection.concurrent.TrieMap[String, String]()

  /** s3/s3a URL with the bucket's configured root prefix spliced in
    * (reference parity); other URLs go through the default rewrite. */
  private[engine] def rewriteS3Url(url: String): String =
    if (url.startsWith("s3://") || url.startsWith("s3a://")) {
      val rest = url.stripPrefix("s3://").stripPrefix("s3a://")
      val (bucket, slashPath) = rest.span(_ != '/')
      val path = slashPath.stripPrefix("/")
      s3Roots.get(bucket) match {
        case Some(r) => s"s3a://$bucket/$r/$path"
        case None => s"s3a://$bucket/$path"
      }
    } else DdlTranslator.rewriteUrl(url)

  /** Execute one-or-many `;`-separated statements; returns the formatted
    * results joined by `\n` (reference: `src/core.rs:104,124,127`). */
  def executeSql(sql: String): String =
    StatementSplitter.split(sql)
      .map(stmt => Formatter.format(executeStatement(stmt), resultFormat))
      .mkString("\n")

  /** Execute a single statement to a DataFrame (no formatting). */
  def executeStatement(stmt: String): DataFrame = {
    // documented gaps (SURVEY §7.5): fail with a clear message instead of
    // a downstream parse error
    val masked = Dialect.maskLiterals(stmt)
    if ("""(?i)\bcurrent_time\s*\(""".r.findFirstIn(masked).isDefined)
      throw new UnsupportedOperationException(
        "current_time()/TIME type is not supported (Spark has no TIME type; see README non-goals)")
    // GROUPS frames become marked ROWS frames that the GroupsFrames
    // optimizer rule turns into RANGE frames over a dense_rank.
    // SIMILAR TO locates the keyword on a same-length literal mask (its
    // pattern IS a literal, but the keyword must sit outside one); the
    // information_schema case fold applies only outside string literals.
    val sparkText = Dialect.rewriteAggFirstLast(
      Dialect.rewriteSimilarTo(Dialect.markGroupsFrames(stmt)))
    val translated = Dialect.outsideLiterals(
      DdlTranslator.translate(sparkText, rewriteS3Url))(InfoSchema.foldPrefix)
    // One spark.sql per statement: it parses and analyzes the text, and
    // runs a command (DDL/DML) eagerly, exactly once. DataFusion's
    // function spellings (`to_hex`, `approx_distinct`, ...) and its
    // `generate_series` table function resolve here through the registry
    // entries `GapFillers.register` adds.
    // Then the plan-level percentile match: when the analyzed plan
    // carries MEDIAN/PERCENTILE_CONT anywhere (joins, CTEs, HAVING,
    // mixed lists, views), its Aggregates are rewritten onto the
    // sort-based rank selection (graft.ops.Percentiles) instead of
    // Spark's per-group-value-buffering aggregates — bit-identical
    // results, bounded memory at any group size (VERDICT r03 #1).
    // Commands come back as a `CommandResult` with no Aggregate, and
    // non-matching shapes keep this DataFrame, never an error.
    // SURFACE CONTRACT (ADVICE r05): planning a GLOBAL percentile (no
    // GROUP BY) may run one small Spark job HERE, at executeStatement
    // time, before the returned DataFrame is ever acted on — the range
    // mode's bounds probe over the value columns, memoized per plan
    // shape. A grouped percentile runs no job before it is acted on.
    val sparkDf = try spark.sql(translated) catch {
      // the GROUPS marker is a session function, which a permanent view
      // may not reference
      case e: AnalysisException if e.getCondition == "INVALID_TEMP_OBJ_REFERENCE" &&
          e.getMessage.contains(GroupsFrames.Marker) =>
        GroupsFrames.unsupported("a permanent view cannot hold a GROUPS frame; " +
          "use a temporary view")
    }
    val df = PercentilePlanner.rewrite(spark, sparkDf).getOrElse(sparkDf)
    // hive-style partition discovery parity: the reference's listing
    // tables see partition dirs immediately; Spark catalog tables must
    // register them (scans of a pre-partitioned LOCATION are empty
    // otherwise)
    DdlTranslator.externalTableName(sparkText).foreach { name =>
      val plain = name.replace("`", "").replace("\"", "")
      if (scala.util.Try(spark.catalog.listColumns(plain).collect()
            .exists(_.isPartition)).getOrElse(false)) {
        spark.sql(s"MSCK REPAIR TABLE $name")
      }
    }
    // header parity: Spark names an unaliased COUNT(*) column "count(1)";
    // the reference engine prints "count(*)" (SURVEY §7.5 watch item).
    // An unaliased GROUPS window column is named after its marked text.
    val countStar = """(?i)count\s*\(\s*\*\s*\)""".r.findFirstIn(masked).isDefined
    val marked = sparkText.contains(GroupsFrames.Marker)
    if (countStar || marked) {
      val names = df.columns.map { c =>
        if (countStar && c == "count(1)") "count(*)" else if (marked) GroupsFrames.header(c) else c
      }
      if (names.sameElements(df.columns)) df else df.toDF(names.toIndexedSeq: _*)
    } else df
  }
}

object SqlEngine {
  /** Reference parity: `DataFusionContext.greet()` (`src/core.rs:43-45`)
    * is a wiring smoke test; ours identifies this engine. */
  def greet(): String = "hello from graft-spark"

  /** Generated-class cache size: a curation deck fills 129 entries and a
    * façade deck 179 (perfbench's sf0.1 deck, counted with
    * `CodegenMetrics`). Each further façade deck adds up to 16, from
    * sources that still hold a value: RLIKE patterns and a writer's first
    * use of a format (outside the deck, a global percentile's range
    * bounds too). Guava splits the
    * bound across 4 segments, so the size leaves headroom. */
  val CodegenCacheEntries = 512

  /** SQL executions, jobs and stages the driver keeps status for. */
  val RetainedStatus = 50

  /** The JVM-wide settings every context this project builds carries,
    * plus the [[ParamLiterals]] extension for the sessions this builder
    * creates (see the class doc). Only static settings and the
    * extension live here: each builder keeps its own session semantics
    * (time zone, ANSI, partitions). */
  def jvmDefaults(builder: SparkSession.Builder): SparkSession.Builder =
    builder
      .withExtensions(_.injectColumnar(_ => ParamLiterals.columnar))
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.ui.retainedExecutions", RetainedStatus.toLong)
      .config("spark.ui.retainedJobs", RetainedStatus.toLong)
      .config("spark.ui.retainedStages", RetainedStatus.toLong)

  /** Session factory mirroring `DataFusionContext::new()` defaults the
    * engine relies on (UTC session, ANSI on, AQE on), plus the
    * [[jvmDefaults]]. Always a new session, on the running SparkContext
    * if there is one: `getOrCreate` would hand back a caller's active
    * session with these confs written over its own. The caller's active
    * and default sessions stay what they were, also when there were
    * none: `create()` sets both to the new session, and they are cleared
    * again. */
  def newSession(master: String = "local[*]"): SqlEngine = {
    val (active, default) = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    val spark = jvmDefaults(SparkSession.builder())
      .master(master)
      .appName("graft-sql-engine")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .create()
    active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    default.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
    new SqlEngine(spark)
  }
}
