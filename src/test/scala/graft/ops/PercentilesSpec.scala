package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSessions
import graft.tables.Tables

class PercentilesSpec extends AnyFunSuite {
  private lazy val spark = TestSessions.spark
  import spark.implicits._

  private lazy val li = Tables.load(spark, TestSessions.sf001, "lineitem")

  import Percentiles.Mode
  private val modes = Seq(Mode.Default, Mode.CollapseTies, Mode.Range)

  private def inMode(df: org.apache.spark.sql.DataFrame, groupCols: Seq[String],
      specs: Seq[Percentiles.Spec], mode: Mode) =
    Percentiles.exact(df, groupCols, specs, mode, None, Nil, Nil)

  /** Pinned RDD ids as a detached set (see OpsSpec's `pinnedIds`: building
    * from the iterator copies instead of keeping a view of the map). */
  @noinline
  private def pinnedIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keysIterator.toSet

  test("robustStats: median and MAD per group, interpolated like percentile_cont") {
    val df = Seq(("g", 1), ("g", 2), ("g", 4), ("g", 100),
      ("h", 1), ("h", 2), ("h", 3)).toDF("grp", "v")
    val got = Percentiles.robustStats(df, Seq("grp"), "v")
      .orderBy("grp").as[(String, Double, Double)].collect().toSeq
    // g: med (2+4)/2 = 3.0, deviations 2,1,1,97 -> mad (1+2)/2 = 1.5
    // h: med 2.0, deviations 1,0,1 -> mad 1.0
    assert(got == Seq(("g", 3.0, 1.5), ("h", 2.0, 1.0)))
  }

  test("robustStats works when the input already has a column named 'med' (ADVICE r06)") {
    val df = Seq(("g", 1, 9.9), ("g", 2, 9.9), ("g", 4, 9.9), ("g", 100, 9.9))
      .toDF("grp", "v", "med")
    val got = Percentiles.robustStats(df, Seq("grp"), "v")
      .as[(String, Double, Double)].collect().toSeq
    assert(got == Seq(("g", 3.0, 1.5)))
  }

  test("robustZScore: standardization arithmetic, mad=0 nulls out") {
    val df = Seq(("g", 1), ("g", 2), ("g", 4), ("g", 100),
      ("c", 7), ("c", 7), ("c", 7)).toDF("grp", "v")
    val got = Percentiles.robustZScore(df, Seq("grp"), "v")
      .as[(String, Int, Option[Double])].collect().toSeq.sorted
    def r9(d: Double) =
      BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val k = 1.4826022185056018
    // g: med 3.0, mad 1.5 -> z = (v - 3) / (k * 1.5)
    val zg = Seq(1, 2, 4, 100).map(v => ("g", v, Some(r9((v - 3.0) / (k * 1.5)))))
    // c: all equal -> mad 0 -> null score, never +-inf
    val zc = Seq(7, 7, 7).map(v => ("c", v, None))
    assert(got == (zc ++ zg).sorted)
  }

  test("sort-based selection matches Spark's buffered percentile exactly") {
    // same interpolation formula -> bit-identical doubles, incl. ties
    // (l_quantity has ~50 distinct values, heavy tie coverage); both the
    // raw row_number mode and the tie-collapsing mode must agree
    val ref = li.groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_extendedprice, 0.9)").as("p90"))
      .orderBy("l_returnflag")
      .as[(String, Double, Double, Double)].collect()
    for (mode <- modes) {
      val ours = inMode(li, Seq("l_returnflag"), Seq(
          Percentiles.Spec("l_quantity", 0.5, "p50"),
          Percentiles.Spec("l_quantity", 0.25, "p25"),
          Percentiles.Spec("l_extendedprice", 0.9, "p90")), mode)
        .orderBy("l_returnflag")
        .as[(String, Double, Double, Double)].collect()
      assert(ours.sameElements(ref), s"$mode diverged")
    }
  }

  test("NULL group keys survive every mode (range mode joined them away pre-r04-review)") {
    val df = Seq((Option.empty[String], Some(1.0)), (None, Some(3.0)),
      (Some("b"), Some(7.0))).toDF("g", "x")
    for (mode <- modes) {
      val r = inMode(df, Seq("g"), Seq(Percentiles.Spec("x", 0.5, "p50")), mode)
        .orderBy(col("g").asc_nulls_first)
        .as[(Option[String], Option[Double])].collect()
      assert(r.sameElements(Array((None, Some(2.0)), (Some("b"), Some(7.0)))),
        s"$mode: ${r.mkString}")
    }
  }

  test("edge percentiles, single-value groups, nulls, and the global form") {
    val df = Seq(("a", Some(1.0)), ("a", Some(3.0)), ("a", None),
      ("b", Some(7.0)), ("c", None)).toDF("g", "x")
    for (mode <- modes) {
      val r = inMode(df, Seq("g"), Seq(
          Percentiles.Spec("x", 0.0, "p0"),
          Percentiles.Spec("x", 0.5, "p50"),
          Percentiles.Spec("x", 1.0, "p100")), mode)
        .orderBy("g")
        .as[(String, Option[Double], Option[Double], Option[Double])].collect()
      // nulls excluded from ranks; p0/p100 are min/max; p50 of {1,3}
      // interpolates to 2; an ALL-null group still emits its row with
      // null percentiles, like percentile_cont GROUP BY (r04 self-review)
      assert(r.sameElements(Array(
        ("a", Some(1.0), Some(2.0), Some(3.0)),
        ("b", Some(7.0), Some(7.0), Some(7.0)),
        ("c", None, None, None))),
        s"$mode: ${r.mkString}")
    }
    val global = Percentiles.exact(df, Seq.empty, Seq(Percentiles.Spec("x", 0.5, "m")))
    assert(global.columns.toSeq == Seq("m"))
    assert(global.as[Double].head() == 3.0) // median of {1, 3, 7}
  }

  test("mode follows the call's shape, not a probe") {
    // no probe and no conf read decides the mode: 3 groups take the
    // default window sort and the global form the range plan (its bucket
    // column is the signature) at the test session's slices and at the
    // engine's 32 alike, each equal to the buffered reference bitwise;
    // one slice needs no bounds probe at all
    val specs = Seq(Percentiles.Spec("l_quantity", 0.5, "p50"))
    val fewRef = li.groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.5)").as("p50"))
      .orderBy("l_returnflag").as[(String, Double)].collect()
    val globalRef = li.agg(expr("percentile(l_quantity, 0.5)")).as[Double].head()
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try for (slices <- Seq("1", "4", "32")) {
      spark.conf.set("spark.sql.shuffle.partitions", slices)
      val few = Percentiles.exact(li, Seq("l_returnflag"), specs)
      assert(!few.queryExecution.executedPlan.toString.contains("__pct_b"),
        s"grouped call left the default sort at $slices slices")
      assert(few.orderBy("l_returnflag").as[(String, Double)].collect()
        .sameElements(fewRef))
      val global = Percentiles.exact(li, Nil, specs)
      assert(global.queryExecution.executedPlan.toString.contains("__pct_b"),
        s"global form did not take the range mode at $slices slices")
      assert(global.as[Double].head() == globalRef)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("range mode stays deterministic when its subtree is re-instantiated") {
    // the r04 cut pinned ONE materialization of a SAMPLED range exchange
    // via localCheckpoint (leaked storage, truncated lineage — ADVICE
    // r04); the r05 buckets are a pure expression, so ANY number of
    // independent instantiations agree — union the same plan against
    // itself and assert the pairs line up
    val pinnedBefore = pinnedIds()
    val a = inMode(li, Seq("l_returnflag"),
      Seq(Percentiles.Spec("l_extendedprice", 0.37, "p")), Mode.Range)
    val b = inMode(li, Seq("l_returnflag"),
      Seq(Percentiles.Spec("l_extendedprice", 0.37, "p")), Mode.Range)
    assert(a.join(b, Seq("l_returnflag")).where(a("p") =!= b("p")).count() == 0)
    // and no storage is pinned after execution (the checkpoint leak).
    // Compared with the pins held before the body: an earlier suite's
    // lazy checkpoint stays pinned until the ContextCleaner collects it.
    a.collect()
    val left = pinnedIds() -- pinnedBefore
    assert(left.isEmpty, s"range mode left cached/checkpointed RDDs $left behind")
  }

  test("weighted specs match the buffered frequency-weighted percentile bitwise") {
    val spec = Seq(Percentiles.Spec("l_extendedprice", 0.35, "p",
      weightCol = Some("l_linenumber")))
    val ref = li.groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.35, l_linenumber)").as("p"))
      .orderBy("l_returnflag").as[(String, Double)].collect()
    val ours = inMode(li, Seq("l_returnflag"), spec, Mode.Default)
      .orderBy("l_returnflag").as[(String, Double)].collect()
    assert(ours.sameElements(ref))
    // the tie-collapsing mode (where `exact` routes weighted specs)
    // agrees too — weights simply replace the tie counts there
    val tied = Percentiles.exact(li, Seq("l_returnflag"), spec)
      .orderBy("l_returnflag").as[(String, Double)].collect()
    assert(tied.sameElements(ref))
    // zero weights drop their rows; negative weights raise, like the
    // buffered form
    val df = Seq(("a", 1.0, 0L), ("a", 5.0, 1L)).toDF("g", "x", "w")
    val z = Percentiles.exact(df, Seq("g"),
        Seq(Percentiles.Spec("x", 0.0, "p", weightCol = Some("w"))))
      .as[(String, Double)].collect()
    assert(z.sameElements(Array(("a", 5.0))))
    intercept[Exception] {
      Percentiles.exact(Seq(("a", 1.0, -1L)).toDF("g", "x", "w"), Seq("g"),
        Seq(Percentiles.Spec("x", 0.5, "p", weightCol = Some("w")))).collect()
    }
    // ...but a NULL-valued row with a negative weight is ignored, not an
    // error — the buffered Percentile never evaluates its frequency
    // (r05 review)
    val nullNeg = Seq(("a", Option.empty[Double], -1L), ("a", Some(5.0), 1L))
      .toDF("g", "x", "w")
    val nn = Percentiles.exact(nullNeg, Seq("g"),
        Seq(Percentiles.Spec("x", 0.5, "p", weightCol = Some("w"))))
      .as[(String, Option[Double])].collect()
    assert(nn.sameElements(Array(("a", Some(5.0)))))
  }

  test("plan carries no buffered Percentile/Median aggregate") {
    // the whole point (VERDICT r03 #1): exact percentiles with no
    // per-group unbounded aggregation state anywhere in the plan
    val plan = Percentiles.exact(li, Seq("l_returnflag"), Seq(
        Percentiles.Spec("l_quantity", 0.5, "p50")))
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("percentile"), "buffered percentile in plan")
    assert(!plan.toLowerCase.contains("median"), "buffered median in plan")
    // ranks AND group sizes come out of ONE windowed pass over ONE scan:
    // no second scan of the input, no totals join (both existed in an
    // earlier cut of this operator)
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      "expected exactly one input scan in:\n" + plan)
    assert(!plan.contains("Join"), "expected no totals join in:\n" + plan)
    assert(plan.contains("l_returnflag") && plan.contains("Window"))
  }
}
