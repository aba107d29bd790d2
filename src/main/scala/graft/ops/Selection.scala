package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Budget-capped selection for training pipelines: keep documents in
 * descending score order until a global weight budget (token count,
 * char count, byte count) is exhausted — "take the best N tokens", the
 * step after quality scoring and before packing.
 *
 * Scale: selection needs each row's GLOBAL rank-ordered running weight,
 * and a naive `SUM OVER (ORDER BY score)` window is a single-partition
 * corpus sort. Instead the score axis is cut into `buckets` contiguous
 * ranges by a cheap approx-quantile probe (score column only; boundary
 * placement shapes load balance, never results — the offsets lift is
 * exact for ANY boundary list, the same contract as the range
 * percentile mode), each bucket cumsum-s locally under the window's own
 * hash exchange, and a `buckets`-row totals table lifts local sums to
 * global ones — the same distributed prefix-sum shape as `Packing`,
 * but over a DATA-DEPENDENT order instead of a hash order. Equal
 * scores always land in one bucket (the bucket is a pure function of
 * the score), so the cross-bucket order is strict and the (score desc,
 * key) tiebreak stays total.
 */
object Selection {

  /** Rows of `df` whose inclusive running weight — accumulated in
    * (`score` desc, `key` asc) order — stays within `budget`, with the
    * running weight exposed as `cum_weight`. Null scores order last
    * (they are only taken if the budget survives every scored row);
    * null/negative weights count 0. `key` must be unique per row for a
    * total order. Deterministic: the kept set and every `cum_weight`
    * are pure functions of the data, independent of partitioning and
    * of where the probe places bucket boundaries. */
  def budgetSelect(df: DataFrame, score: Column, key: Column,
      weight: Column, budget: Long, buckets: Int = 256): DataFrame = {
    require(budget >= 1, s"budget must be positive, got $budget")
    require(buckets >= 1 && buckets <= 4096, s"buckets $buckets outside [1, 4096]")
    val keyed = df
      .withColumn("__bs_s", score.cast("double"))
      .withColumn("__bs_w", greatest(coalesce(weight.cast("long"), lit(0L)), lit(0L)))
    // probe: approx quantiles of the score column only (load balance,
    // not correctness — see scaladoc above)
    val qs = (1 until buckets).map(_.toDouble / buckets).toArray
    val bounds: Array[Double] =
      if (qs.isEmpty) Array.empty
      else keyed.select(col("__bs_s")).na.drop("any")
        .stat.approxQuantile("__bs_s", qs, 0.01).distinct.sorted
    // bucket = number of boundaries <= v (binary-search CaseWhen tree:
    // log2(b) codegen'd compares — the same literal-boundary shape as
    // the range percentile mode); null scores get bucket -1 (ordered
    // LAST under the descending bucket order below)
    def search(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi + 1) / 2
        when(col("__bs_s") >= lit(bounds(mid - 1)), search(mid, hi))
          .otherwise(search(lo, mid - 1))
      }
    val bucket =
      when(col("__bs_s").isNull, lit(-1))
        .otherwise(if (bounds.isEmpty) lit(0) else search(0, bounds.length))
    // TWO consumers below (local cumsum window + bucket totals) — the
    // barrier keeps the weight column to ONE evaluation per row, which
    // matters once callers pass a real BPE token count as the weight
    // (x121d; the x124 two-consumer rule, applied r10)
    val bucketed = keyed.withColumn("__bs_b", bucket)
      .localCheckpoint(eager = false)
    val wLocal = Window.partitionBy(col("__bs_b"))
      .orderBy(col("__bs_s").desc_nulls_last, key)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = bucketed.withColumn("__bs_cum", sum(col("__bs_w")).over(wLocal))
    val totals = bucketed.groupBy(col("__bs_b")).agg(sum(col("__bs_w")).as("__bs_t"))
    // <= buckets+1 rows: the single-partition window runs over the
    // TOTALS table, never the corpus (descending bucket = selection order)
    val wOff = Window.orderBy(col("__bs_b").desc)
    val offsets = totals
      .withColumn("__bs_off", sum(col("__bs_t")).over(wOff) - col("__bs_t"))
      .select(col("__bs_b"), col("__bs_off"))
    local.join(offsets, "__bs_b") // AQE broadcasts the tiny side
      .withColumn("cum_weight", col("__bs_cum") + col("__bs_off"))
      .filter(col("cum_weight") <= budget)
      .drop("__bs_b", "__bs_s", "__bs_w", "__bs_cum", "__bs_off")
  }

  /** Rows whose `value` falls outside the Tukey fences
    * `[q1 - k·IQR, q3 + k·IQR]` of their group — the length/score
    * outlier-trim step of corpus curation ("drop documents whose size is
    * anomalous for their source"). Quartiles are EXACT, computed by the
    * engine's rank-selection percentile machinery ([[Percentiles]] — the
    * plan that never buffers a group's values), so the fences are bit-for-bit
    * reproducible against a `percentile_cont` oracle.
    *
    * NULL contract (ADVICE r06): rows with a NULL group or NULL value are
    * never flagged — the fences join is an inner equi-join (NULL groups
    * match nothing) and NULL comparisons against the fences are UNKNOWN,
    * which the filter drops. This matches the audit's intent (an unknown
    * value cannot be CONFIRMED anomalous); pre-filter `isNull` rows
    * separately if they should be surfaced.
    *
    * Scale: the fences table is one row per group; the join back is left
    * to AQE, which broadcasts it while it fits and falls back to a hash
    * join for ultra-high-cardinality group domains — both correct, no
    * driver-side collect either way. */
  def iqrOutliers(df: DataFrame, group: String, value: String,
      k: Double = 1.5): DataFrame = {
    require(k >= 0, s"fence multiplier must be non-negative, got $k")
    val bounds = Percentiles.exact(df, Seq(group),
      Seq(Percentiles.Spec(value, 0.25, "__iqr_q1"),
        Percentiles.Spec(value, 0.75, "__iqr_q3")))
    // fence expressions mirror the oracle's `q1 - k*(q3-q1)` shape so the
    // double arithmetic rounds identically on both engines
    val iqr = col("__iqr_q3") - col("__iqr_q1")
    df.join(bounds, group)
      .filter(col(value) < col("__iqr_q1") - lit(k) * iqr ||
        col(value) > col("__iqr_q3") + lit(k) * iqr)
      .drop("__iqr_q1", "__iqr_q3")
  }

  /**
   * Per-group winsorization — the CLAMPING complement of
   * [[iqrOutliers]]' trim: values below the group's `pLo` percentile
   * or above its `pHi` percentile are replaced by the percentile
   * itself, everything else passes through. Keeps every row (a trim
   * changes corpus composition; a winsorize only tames the tails —
   * the usual prep before mean-based statistics or score
   * normalization). Adds `outName` (DOUBLE). Percentile fences are
   * EXACT and rounded @9 as the cross-engine contract — clamped rows
   * carry the fence VALUE into the output, so the fence itself must
   * hash identically. NULL contract mirrors [[iqrOutliers]]: NULL
   * group rows drop with the inner fences join, a NULL value yields a
   * NULL `outName` (explicitly guarded — Spark's `least`/`greatest`
   * skip NULLs, which would silently clamp a NULL to the low fence).
   *
   * Scale: identical shape to [[iqrOutliers]] — one rank-selection
   * pass for the two fences per group (never buffers a group), a
   * one-row-per-group fences table joined back under AQE (broadcast
   * while it fits), and a pure clamp projection. The corpus shuffles
   * once for the fences aggregate, never for the clamp. */
  def winsorize(df: DataFrame, group: String, value: String,
      pLo: Double = 0.05, pHi: Double = 0.95,
      outName: String = "winsorized"): DataFrame = {
    require(0 <= pLo && pLo <= pHi && pHi <= 1,
      s"need 0 <= pLo <= pHi <= 1, got ($pLo, $pHi)")
    val bounds = Percentiles.exact(df, Seq(group),
        Seq(Percentiles.Spec(value, pLo, "__wz_lo"),
          Percentiles.Spec(value, pHi, "__wz_hi")))
      .select(col(group), round(col("__wz_lo"), 9).as("__wz_lo"),
        round(col("__wz_hi"), 9).as("__wz_hi"))
    df.join(bounds, group)
      .withColumn(outName,
        when(col(value).isNull, lit(null))
          .otherwise(least(greatest(col(value).cast("double"),
            col("__wz_lo")), col("__wz_hi"))))
      .drop("__wz_lo", "__wz_hi")
  }

  /** Per-group TRIMMED mean — the mean of values strictly inside the
    * exact `[percentile(pLo), percentile(pHi)]` fences, rows outside
    * EXCLUDED (where [[winsorize]] clamps them) — the robust datasheet
    * location estimate. Emits `(group, n_kept, trimmed_mean)`; NULL
    * values never pass the fence predicate, so they are excluded like
    * outliers. Fences round @9 (the winsorize contract); the kept-set
    * mean accumulates round@9 terms in DECIMAL(28,9) and the divided
    * final reports @6 (the x28 contract).
    *
    * Scale: the fences ride ONE melted rank-selection pass
    * ([[Percentiles.exact]]); the filter+mean is a broadcast
    * join-back plus one partial→final aggregate — the corpus shuffles
    * only its group keys. Scoring the corpus against its own
    * statistics is two lineage passes by repo convention. */
  def trimmedMean(df: DataFrame, group: String, value: String,
      pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(0 <= pLo && pLo <= pHi && pHi <= 1,
      s"need 0 <= pLo <= pHi <= 1, got ($pLo, $pHi)")
    val bounds = Percentiles.exact(df, Seq(group),
        Seq(Percentiles.Spec(value, pLo, "__tm_lo"),
          Percentiles.Spec(value, pHi, "__tm_hi")))
      .select(col(group), round(col("__tm_lo"), 9).as("__tm_lo"),
        round(col("__tm_hi"), 9).as("__tm_hi"))
    df.join(broadcast(bounds), group)
      .filter(col(value).cast("double").between(col("__tm_lo"), col("__tm_hi")))
      .groupBy(col(group))
      // final @6 is FLOOR FORM, not round(): a sum/count quotient whose
      // shortest decimal repr terminates in a 5 at digit 7 reads as a
      // true tie to Spark's round but not DuckDB's binary-value round —
      // the x108 class the r11 skew probe measured (quotients of exact
      // 9-decimal sums by integer counts terminate often)
      .agg(count(lit(1)).as("n_kept"),
        (floor(sum(round(col(value).cast("double"), 9)
            .cast(org.apache.spark.sql.types.DecimalType(28, 9)))
          .cast("double") / count(lit(1)) * lit(1.0e6) + lit(0.5))
          / lit(1.0e6)).as("trimmed_mean"))
      .orderBy(col(group))
  }

  /**
   * Global quantile-bucket assignment — "which quarter/decile of the
   * corpus does this row's value sit in": curriculum phase by quality
   * score, difficulty bin by length, the binning step before
   * phase-ordered training. Adds `outName` (INT in [1, n]; NULL value →
   * NULL bucket): bucket i covers `b_{i-1} < value ≤ b_i` where `b_i`
   * is the exact `percentile_cont(i/n)` of `valueCol`.
   *
   * Scale: the naive form is `ntile(n) OVER (ORDER BY value)` — a
   * single-partition sort of the corpus. Here the n−1 boundaries come
   * from the engine's distributed rank-selection percentile machinery
   * ([[Percentiles]] — never buffers values, spreads the sort over all
   * reducers), and the assignment is a broadcast of that 1-row
   * boundary frame plus a log₂(n) binary-search CaseWhen per row: the
   * corpus itself never shuffles and nothing corpus-sized is sorted.
   * Everything stays in-plan (no driver collect between the two
   * stages). Boundary semantics vs ntile: equal values always share a
   * bucket (boundaries are value cuts), where ntile splits ties to
   * force equal counts — value cuts are the curriculum-correct choice.
   *
   * Boundaries are rounded to 9 digits before comparison as the
   * cross-engine contract (the interpolation arithmetic is IEEE-exact,
   * but the pin keeps the bucket map reproducible wherever the oracle
   * rounds too).
   */
  def quantileBuckets(df: DataFrame, valueCol: String, n: Int,
      outName: String = "bucket"): DataFrame = {
    require(n >= 2 && n <= 1024, s"bucket count $n outside [2, 1024]")
    val specs = (1 until n).map(i =>
      Percentiles.Spec(valueCol, i.toDouble / n, s"__qb_$i"))
    val bounds = Percentiles.exact(df, Nil, specs)
      .select((1 until n).map(i => round(col(s"__qb_$i"), 9).as(s"__qb_$i")): _*)
    val v = col(valueCol).cast("double")
    // bucket ids in [lo, hi]; descend on the boundary between the halves
    def tree(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi) / 2
        when(v <= col(s"__qb_$mid"), tree(lo, mid)).otherwise(tree(mid + 1, hi))
      }
    df.crossJoin(broadcast(bounds))
      .withColumn(outName,
        when(col(valueCol).isNull, lit(null)).otherwise(tree(1, n)).cast("int"))
      .drop((1 until n).map(i => s"__qb_$i"): _*)
  }

  /**
   * Multi-signal quality-rank ensemble — the blend step of modern
   * curation recipes: several imperfect quality signals (a length
   * proxy, a model score, a repetition metric) are each converted to a
   * GLOBAL quantile rank and combined as a weighted mean of bucket
   * ids, so signals with incomparable units and skews vote on a common
   * [1, n] scale. Adds one `<outName>_b<i>` INT bucket per signal
   * (order of `signals`) plus `outName` = `round(Σ wᵢ·bucketᵢ / Σ wᵢ,
   * 9)`. A NULL signal value yields a NULL bucket and a NULL blend —
   * an incomplete vote never silently counts as bucket 1; coalesce
   * upstream to assign a floor instead.
   *
   * Scale: ALL signals' `n−1` boundaries come from ONE
   * [[Percentiles.exact]] pass (the melted rank-selection plan
   * — one corpus scan however many signals), broadcast back as a
   * single 1-row frame; each bucket is the same log₂(n) CaseWhen
   * binary search as [[quantileBuckets]] and the blend is plain
   * projected arithmetic. The corpus never shuffles and nothing
   * corpus-sized is sorted — vs the naive k × `ntile` which would run
   * k single-partition corpus sorts. Boundaries and the blend round @9
   * as the cross-engine contract.
   */
  def rankBlend(df: DataFrame, signals: Seq[(String, Double)], n: Int = 10,
      outName: String = "blend"): DataFrame = {
    require(signals.nonEmpty, "rankBlend needs at least one signal")
    require(signals.forall(_._2 > 0), "signal weights must be positive")
    require(n >= 2 && n <= 1024, s"bucket count $n outside [2, 1024]")
    val specs = signals.zipWithIndex.flatMap { case ((c, _), s) =>
      (1 until n).map(i =>
        Percentiles.Spec(c, i.toDouble / n, s"__rb_${s}_$i")) }
    val bounds = Percentiles.exact(df, Nil, specs)
      .select(specs.map(sp => round(col(sp.outName), 9).as(sp.outName)): _*)
    def tree(s: Int, v: Column, lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi) / 2
        when(v <= col(s"__rb_${s}_$mid"), tree(s, v, lo, mid))
          .otherwise(tree(s, v, mid + 1, hi))
      }
    val bucketCols = signals.zipWithIndex.map { case ((c, _), s) =>
      when(col(c).isNull, lit(null))
        .otherwise(tree(s, col(c).cast("double"), 1, n))
        .cast("int").as(s"${outName}_b$s") }
    val wsum = signals.map(_._2).sum
    val blend = signals.zipWithIndex
      .map { case ((_, w), s) => lit(w) * col(s"${outName}_b$s") }
      .reduce(_ + _) / lit(wsum)
    df.crossJoin(broadcast(bounds))
      .select(df.columns.map(col) ++ bucketCols: _*)
      .withColumn(outName, Portable.r9(blend))
  }

  /** Keep the best `n` rows of every group ("best 5 docs per domain" —
    * the keep-best step of group-capped curation), exposing the rank as
    * `rk`. `order` must be a total order within a group (include a
    * unique tiebreak) for a deterministic kept set.
    *
    * Scale: the rank-filter shape is what Spark's WindowGroupLimit
    * optimization targets — each map task keeps a per-group top-n heap
    * BEFORE the exchange, so the shuffle carries at most n rows per
    * (task, group) instead of the corpus, and the post-shuffle sort
    * sees only survivors. PlanSpec pins the WindowGroupLimit node. */
  def topPerGroup(df: DataFrame, group: Column, order: Seq[Column],
      n: Int): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    df.withColumn("rk",
        row_number().over(Window.partitionBy(group).orderBy(order: _*)))
      .filter(col("rk") <= n)
  }

  /** Fixed-width histogram `(bin, lo, hi, n)` ordered by bin — the
    * distribution-datasheet primitive (length/score/quality
    * distributions at corpus scale in ONE aggregate). `bin` =
    * ⌊value/binWidth⌋ (floor semantics, so negatives bin correctly);
    * `[lo, hi)` are the bin edges as exact double products of the bin
    * index. NULL values are excluded (they have no bin — count them
    * upstream if the null rate matters; [[graft.ops]]' profile gate
    * does). The double floor-div is exact for |value| < 2^53.
    *
    * Scale: a codegen'd projection into a partial→final hash aggregate
    * keyed on the bin — shuffle carries bins × partitions rows,
    * nothing corpus-sized. Empty bins between occupied ones are absent
    * (a dense axis is the caller's presentation concern). */
  def histogram(df: DataFrame, value: Column, binWidth: Double): DataFrame = {
    require(binWidth > 0.0, s"binWidth must be positive, got $binWidth")
    df.filter(value.isNotNull)
      .select(floor(value.cast("double") / binWidth).cast("long").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
      .select(col("bin"),
        (col("bin") * binWidth).as("lo"),
        ((col("bin") + 1) * binWidth).as("hi"),
        col("n"))
      .orderBy(col("bin"))
  }

  /** Per-group retention-calibrated score cutoffs — the CCNet/FineWeb
    * calibration step: instead of one global threshold (which lets a
    * verbose language crowd out a terse one), each group keeps its own
    * top `targetRetention` fraction by score. The cutoff is the exact
    * interpolated `1 − targetRetention` percentile of `scoreCol`
    * within the group ([[Percentiles]] — percentile_cont semantics,
    * bit-identical to the SQL restatement), and the report counts how
    * many rows actually clear it: `observed_retention` differs from
    * the target exactly when scores tie at the cutoff, which is the
    * number a curator needs to see before trusting the knob.
    *
    * Returns one row per group:
    * `(group, cutoff, total, kept, observed_retention)`. Apply with
    * [[retentionFilter]].
    *
    * Scale: one rank-selection pass for the percentiles (no
    * per-group sort or buffering — the [[Percentiles.exact]]
    * machinery), then one partial→final count aggregate for `kept`
    * with the group-count-sized cutoff table broadcast onto the scan.
    * Nothing corpus-sized shuffles besides the percentile's own melt. */
  /** The group-count-sized (group, cutoff[, total]) table both
    * retention entry points share — one exact-percentile pass. */
  private def retentionCutoffs(df: DataFrame, groupCol: String,
      scoreCol: String, targetRetention: Double,
      withTotal: Boolean): DataFrame = {
    require(targetRetention > 0.0 && targetRetention < 1.0,
      s"targetRetention must be in (0, 1), got $targetRetention")
    Percentiles.exact(df, Seq(groupCol),
      Seq(Percentiles.Spec(scoreCol, 1.0 - targetRetention, "cutoff")),
      rowCountCol = if (withTotal) Some("total") else None)
  }

  def retentionThreshold(df: DataFrame, groupCol: String, scoreCol: String,
      targetRetention: Double): DataFrame = {
    // group-count-sized; materialized once behind a lazy localCheckpoint —
    // it feeds BOTH the kept-count branch and the final report join, and
    // the two subtrees don't canonicalize equal, so without the barrier
    // the whole percentile pass (probe included) would execute twice
    val cut = retentionCutoffs(df, groupCol, scoreCol, targetRetention,
      withTotal = true).localCheckpoint(eager = false)
    val kept = df.join(broadcast(cut.select(col(groupCol), col("cutoff"))), groupCol)
      .filter(col(scoreCol).cast("double") >= col("cutoff"))
      .groupBy(col(groupCol)).agg(count(lit(1)).as("kept"))
    cut.join(kept, Seq(groupCol), "left")
      .select(col(groupCol), round(col("cutoff"), 9).as("cutoff"), col("total"),
        coalesce(col("kept"), lit(0L)).as("kept"),
        Portable.r9(coalesce(col("kept"), lit(0L)).cast("double")
          / col("total").cast("double")).as("observed_retention"))
  }

  /** Rows of `df` that clear their group's [[retentionThreshold]]
    * cutoff (score ≥ cutoff; null scores never clear). A broadcast
    * join on the group-count-sized cutoff table — the filter runs as a
    * codegen'd projection over the scan, no corpus shuffle. Skips the
    * report's kept-count aggregate entirely: the filter needs only the
    * cutoffs, so the corpus sees one percentile pass + one scan. */
  def retentionFilter(df: DataFrame, groupCol: String, scoreCol: String,
      targetRetention: Double): DataFrame = {
    val cut = retentionCutoffs(df, groupCol, scoreCol, targetRetention,
      withTotal = false)
    df.join(broadcast(cut.select(col(groupCol), col("cutoff"))), groupCol)
      .filter(col(scoreCol).cast("double") >= col("cutoff"))
      .drop("cutoff")
  }
}
