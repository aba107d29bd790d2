package graft.ops

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.TestSessions

/**
 * Property pin for the round's core claim: the sort-based rank
 * selection is BIT-IDENTICAL to Spark's buffered Percentile for random
 * data — groups, ties, nulls, arbitrary p, integral weights — in every
 * mode. (Raw scalacheck Gens sampled deterministically — the scalatest
 * bridge isn't on the offline classpath.)
 */
class PercentilesPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSessions.spark
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  // small domains force heavy ties; null values and weights included
  private val row: Gen[(String, Option[Double], Long)] = for {
    g <- Gen.oneOf("a", "b", "c")
    v <- Gen.frequency(
      8 -> Gen.chooseNum(-5, 20).map(i => Some(i.toDouble / 2)),
      1 -> Gen.const(Option.empty[Double]))
    w <- Gen.chooseNum(0L, 4L)
  } yield (g, v, w)
  private val dataset = Gen.chooseNum(1, 40)
    .flatMap(n => Gen.listOfN(n, row))
  private val pGen = Gen.oneOf(0.0, 0.1, 0.25, 1.0 / 3, 0.5, 0.65, 0.9, 1.0)

  import Percentiles.Mode
  private val modes = Seq(Mode.Default, Mode.CollapseTies, Mode.Range)

  test("property: every mode matches the buffered percentile bitwise") {
    samples(Gen.zip(dataset, pGen, pGen), 25).foreach { case (rows, p1, p2) =>
      val df = rows.toDF("g", "v", "w")
      val ref = df.groupBy("g")
        .agg(expr(s"percentile(v, $p1)").as("a"), expr(s"percentile(v, $p2)").as("b"))
        .orderBy("g").as[(String, Option[Double], Option[Double])].collect()
      val specs = Seq(Percentiles.Spec("v", p1, "a"), Percentiles.Spec("v", p2, "b"))
      for (mode <- modes) {
        val got = Percentiles.exact(df, Seq("g"), specs, mode, None, Nil, Nil)
          .orderBy("g").as[(String, Option[Double], Option[Double])].collect()
        assert(got.sameElements(ref),
          s"$mode p=($p1,$p2) got=${got.mkString} ref=${ref.mkString} rows=$rows")
      }
    }
  }

  test("property: global form matches the buffered percentile") {
    // every global call takes the range path, whose one-partition
    // buckets come from the bounds probe
    samples(Gen.zip(dataset, pGen, pGen), 25).foreach { case (rows, p1, p2) =>
      val df = rows.toDF("g", "v", "w")
      val ref = df.agg(expr(s"percentile(v, $p1)"), expr(s"percentile(v, $p2)"))
        .as[(Option[Double], Option[Double])].head()
      val specs = Seq(Percentiles.Spec("v", p1, "a"), Percentiles.Spec("v", p2, "b"))
      for (mode <- modes) {
        val got = Percentiles.exact(df, Nil, specs, mode, None, Nil, Nil)
          .as[(Option[Double], Option[Double])].collect()
        assert(got.sameElements(Array(ref)),
          s"$mode p=($p1,$p2) got=${got.mkString} ref=$ref rows=$rows")
      }
    }
  }

  test("property: weighted modes match the buffered frequency-weighted percentile") {
    samples(Gen.zip(dataset, pGen), 25).foreach { case (rows, p) =>
      val df = rows.toDF("g", "v", "w")
      val ref = df.groupBy("g")
        .agg(expr(s"percentile(v, $p, w)").as("a"))
        .orderBy("g").as[(String, Option[Double])].collect()
      val specs = Seq(Percentiles.Spec("v", p, "a", weightCol = Some("w")))
      for (mode <- Seq(Mode.Default, Mode.CollapseTies)) {
        val got = Percentiles.exact(df, Seq("g"), specs, mode, None, Nil, Nil)
          .orderBy("g").as[(String, Option[Double])].collect()
        assert(got.sameElements(ref),
          s"$mode p=$p got=${got.mkString} ref=${ref.mkString} rows=$rows")
      }
    }
  }

  test("property: desc specs mirror the buffered percentile over negated order") {
    samples(Gen.zip(dataset, pGen), 15).foreach { case (rows, p) =>
      val df = rows.toDF("g", "v", "w")
      // buffered PERCENTILE_CONT ... DESC == percentile over -v, negated
      // is NOT bitwise in general; compare against the SQL surface that
      // IS the parity target instead
      df.createOrReplaceTempView("pp_t")
      val ref = spark.sql(
        s"""SELECT g, PERCENTILE_CONT($p) WITHIN GROUP (ORDER BY v DESC) AS a
           |FROM pp_t GROUP BY g ORDER BY g""".stripMargin)
        .as[(String, Option[Double])].collect()
      val got = Percentiles.exact(df, Seq("g"),
          Seq(Percentiles.Spec("v", p, "a", desc = true)))
        .orderBy("g").as[(String, Option[Double])].collect()
      assert(got.sameElements(ref),
        s"p=$p got=${got.mkString} ref=${ref.mkString} rows=$rows")
    }
  }
}
