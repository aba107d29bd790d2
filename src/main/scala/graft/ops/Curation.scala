package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * The end-to-end curation loop, composed from this library's own stages
 * into one call: exact dedup → benchmark decontamination → length
 * filter → deterministic split assignment. This is the minimal
 * "crawl in, training corpus out" pipeline; each stage is the same
 * operator the standalone queries verify, so the composition inherits
 * their oracles — and the x51 row verifies the COMPOSITION itself
 * against a single DuckDB restatement end to end.
 *
 * Requires `doc_id` unique (the dedup keep-set joins back by id),
 * `text`, and `n_chars` columns; `evalDocs` needs `text`.
 *
 * Scale shape (all inherited from the underlying operators):
 *  - exact dedup shuffles 8-byte xxhash64(text) keys, never text, and
 *    rejoins survivors by id ([[Dedup.exactByHash]]'s contract);
 *  - decontamination broadcasts the (tiny) eval gram set; the corpus
 *    never shuffles for the overlap join ([[Decontamination]]);
 *  - the length filter and split assignment are codegen'd projections
 *    ([[Sampling.deterministicSplit]] — portable md5 buckets, stable
 *    under re-runs/appends);
 *  - the corpus passes: one for the dedup hash aggregate, one for the
 *    decontamination gram explode, one for the final projection —
 *    no corpus-sized sort, window, or driver collect anywhere.
 */
object Curation {

  /** The curated corpus: rows of `docs` that survive exact dedup (the
    * smallest doc_id per identical text), share no word-trigram with
    * `evalDocs` (at `minHits` sensitivity), and fall inside
    * `[minChars, maxChars]` — each surviving row carrying its
    * deterministic `split` assignment. */
  def curate(docs: DataFrame, evalDocs: DataFrame,
      minChars: Long, maxChars: Long,
      splits: Seq[(String, Double)], seed: Int = 42,
      minHits: Int = 1): DataFrame = {
    require(minChars <= maxChars,
      s"empty length window: minChars $minChars > maxChars $maxChars")
    // NULL-text docs are never duplicates (the exactPairs contract —
    // hashing NULL would collapse them all onto the seed hash and keep
    // only one); they pass the dedup stage untouched
    val keepIds = docs.filter(col("text").isNotNull)
      .groupBy(xxhash64(col("text")).as("__cu_h"))
      .agg(min(col("doc_id")).as("__cu_keep"))
      .select(col("__cu_keep"))
    val deduped = docs
      .join(keepIds, col("doc_id") === col("__cu_keep"), "left")
      .filter(col("text").isNull || col("__cu_keep").isNotNull)
      .drop("__cu_keep")
    val contaminated = Decontamination
      .overlapHits(deduped, evalDocs, col("doc_id"), col("text"), minHits)
      .select("doc_id")
    val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
    val sized = clean.filter(
      col("n_chars").between(lit(minChars), lit(maxChars)))
    Sampling.deterministicSplit(sized, col("doc_id"), splits, seed)
  }

  /**
   * Per-group corpus datasheet — the summary table every dataset release
   * ships: document count, total/mean/median size per group, in ONE
   * pass over the corpus. The median rides the distributed
   * rank-selection percentile machinery and the count/sum/mean ride the
   * SAME melted pass as payload aggregates ([[Percentiles.exact]]'s
   * `extraAggs` — the q72 single-pass contract), so the plan scans the
   * corpus exactly once (spec-pinned) where the naive
   * `groupBy.agg(count, sum, avg) join median` shape scans it twice.
   *
   * Returns `(groupCol, n_docs, total_chars, avg_chars, median_chars)`
   * ordered by group. Null sizes count toward `n_docs` but are excluded
   * from sum/mean/median, matching SQL aggregate semantics.
   */
  /**
   * Per-column profile — the expectations/data-quality gate run before
   * a corpus enters training: row count, non-null count, exact distinct
   * count, and stringified min/max per requested column, one row per
   * column. Null-rate drift, a collapsed id column, or an out-of-range
   * value shows up here before it poisons a run.
   *
   * Scale: ONE aggregation pass; multiple exact distincts plan as
   * Spark's Expand (one scan, |cols|× row multiplication into the
   * aggregate) — the standard multi-distinct shape. For a quick 100 TB
   * profile run it over a hash sample, or swap `countDistinct` for
   * `approx_count_distinct` upstream; the exact form here is what makes
   * the x58 oracle row possible.
   */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column to profile")
    val aggs = Seq(count(lit(1)).as("__pr_rows")) ++ cols.flatMap { c =>
      Seq(count(col(c)).as(s"__pr_n_$c"),
        countDistinct(col(c)).as(s"__pr_d_$c"),
        min(col(c)).cast("string").as(s"__pr_min_$c"),
        max(col(c)).cast("string").as(s"__pr_max_$c"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"),
        col("__pr_rows").as("n_rows"),
        col(s"__pr_n_$c").as("n_nonnull"),
        col(s"__pr_d_$c").as("n_distinct"),
        col(s"__pr_min_$c").as("min_value"),
        col(s"__pr_max_$c").as("max_value"))): _*)).as("r"))
      .select(col("r.*"))
      .orderBy(col("col_name"))
  }

  def datasheet(docs: DataFrame, groupCol: String,
      sizeCol: String = "n_chars"): DataFrame = {
    val prepped = docs.select(col(groupCol), col(sizeCol),
      col(sizeCol).as("__ds_w"))
    // extraAggs contract: restrict to one melted copy per source row
    val one = col("__pct_c") === 0
    Percentiles.exact(prepped, Seq(groupCol),
        Seq(Percentiles.Spec(sizeCol, 0.5, "median_chars")),
        rowCountCol = Some("n_docs"),
        extraCols = Seq("__ds_w"),
        extraAggs = Seq(
          "total_chars" -> sum(when(one, col("__ds_w"))),
          "avg_chars" -> Portable.r9(
            sum(when(one, col("__ds_w"))).cast("double") /
              count(when(one, col("__ds_w"))))))
      .select(col(groupCol), col("n_docs"), col("total_chars"),
        col("avg_chars"), round(col("median_chars"), 9).as("median_chars"))
      .orderBy(col(groupCol))
  }

  /**
   * Attrition funnel — the "where did my data go" report behind any
   * filter pipeline: `stages` is the ORDERED list of (name,
   * keep-predicate) pairs, and every document is attributed to the
   * FIRST stage whose predicate it fails (sequential-filter semantics:
   * a row dropped at stage 2 is never tested by stage 3, so per-stage
   * counts sum to exactly the dropped total and the funnel reconciles
   * to the input count). A NULL predicate drops, exactly as a SQL
   * `WHERE` would. Emits one row per stage in pipeline order:
   * `(stage_idx, stage, n_in, n_dropped, n_out, drop_rate)` — the last
   * row's `n_out` is the surviving corpus size.
   *
   * Scale: the corpus is scanned ONCE — the first-failing-stage index
   * is a single codegen'd CaseWhen projection feeding a partial→final
   * count aggregate over ≤ |stages|+1 keys; the cumulative n_in math
   * runs on that |stages|-row frame (a single-partition window over a
   * dozen rows, not corpus data). Compare the naive form: one filter +
   * count ACTION per stage = |stages| full corpus scans.
   */
  def funnel(df: DataFrame, stages: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val firstFail = stages.zipWithIndex.reverse
      .foldLeft(lit(stages.size): org.apache.spark.sql.Column) {
        case (acc, ((_, keep), i)) =>
          when(!coalesce(keep, lit(false)), lit(i)).otherwise(acc)
      }
    val counts = df.select(firstFail.as("stage_idx"))
      .groupBy(col("stage_idx")).agg(count(lit(1)).as("n"))
    val dim = stages.zipWithIndex
      .map { case ((n, _), i) => (i, n) }.toDF("stage_idx", "stage")
    val w = Window.orderBy(col("stage_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    dim.join(counts, Seq("stage_idx"), "left")
      .withColumn("n_dropped", coalesce(col("n"), lit(0L)))
      // survivors (stage_idx = |stages|) ride the join as absent rows;
      // recover the input total from the full count frame instead
      // coalesce: sum() over the empty counts frame is NULL — an empty
      // input must read as an all-zero funnel, not NULL n_in/n_out
      .crossJoin(broadcast(counts.agg(
        coalesce(sum(col("n")), lit(0L)).as("__fu_total"))))
      .withColumn("n_in", col("__fu_total") - coalesce(sum(col("n_dropped")).over(w), lit(0L)))
      .withColumn("n_out", col("n_in") - col("n_dropped"))
      .withColumn("drop_rate", when(col("n_in") === 0, lit(null))
        .otherwise(Portable.r9(col("n_dropped").cast("double") / col("n_in"))))
      .select(col("stage_idx"), col("stage"), col("n_in"), col("n_dropped"),
        col("n_out"), col("drop_rate"))
      // the Window.orderBy above already single-partitioned and sorted
      // this |stages|-row frame; sortWithinPartitions keeps that order
      // WITHOUT a range exchange, whose boundary sampling would
      // re-execute the corpus-count lineage (the r07 AQE sort lesson)
      .sortWithinPartitions(col("stage_idx"))
  }

  /** Deterministic shard assignment for training-corpus output: pick
    * the shard COUNT from the data (`ceil(Σ bytes / targetBytes)` —
    * the "~N GB per output file" contract a dataloader wants) and
    * assign each row a stable `shard_id` from a portable md5 bucket of
    * its key. The assignment is a pure function of (key, total bytes,
    * target): re-running the pipeline reproduces the same sharding
    * bit-for-bit on any engine — unlike `repartition(n)`, whose
    * round-robin depends on input split boundaries and task order.
    *
    * Adds `num_shards` and `shard_id` to every row. md5 buckets are
    * uniform, so realized shard sizes concentrate around the target
    * (±a few document sizes per shard); [[shardManifest]] is the
    * audit. Feed `shard_id` to `.write.partitionBy("shard_id")` (or
    * `repartition($"shard_id")` first for one file per shard).
    *
    * Scale: the byte total is a 1-row broadcast stats table onto a
    * codegen'd projection — the [[Sampling.deterministicSplit]] md5
    * bucket, the same no-corpus-shuffle shape. */
  def shardAssign(df: DataFrame, key: Column, bytes: Column,
      targetBytes: Long): DataFrame = {
    require(targetBytes >= 1, s"targetBytes must be positive, got $targetBytes")
    val total = df.agg(sum(bytes.cast("long")).as("__sh_total"))
    df.crossJoin(broadcast(total))
      .withColumn("num_shards", greatest(lit(1L),
        ceil(col("__sh_total").cast("double") / targetBytes).cast("long")))
      .withColumn("shard_id", pmod(
        conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long"),
        col("num_shards")))
      .drop("__sh_total")
  }

  /** Per-shard audit of a [[shardAssign]] output: row and byte counts
    * plus each shard's deviation from the byte target — the table a
    * curator reads before trusting the shard layout (and the spec
    * gate for bucket uniformity). One partial→final aggregate keyed
    * on `shard_id`; the shuffle carries shards × partitions rows. */
  def shardManifest(sharded: DataFrame, bytes: Column,
      targetBytes: Long): DataFrame =
    sharded.groupBy(col("shard_id"), col("num_shards"))
      .agg(count(lit(1)).as("docs"), sum(bytes.cast("long")).as("bytes"))
      .select(col("shard_id"), col("num_shards"), col("docs"), col("bytes"),
        Portable.r9(col("bytes").cast("double") / targetBytes).as("fill_ratio"))
      .orderBy(col("shard_id"))
}
