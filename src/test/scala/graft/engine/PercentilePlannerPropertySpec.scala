package graft.engine

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSessions

/**
 * Property pin for the r06 rider machinery: random mixed aggregate
 * lists (residual SUM/MIN/MAX/AVG/COUNT, FILTER and DISTINCT forms,
 * expression-nested percentiles) beside MEDIAN must match the buffered
 * plan exactly, grouped and global, over random data with ties and
 * nulls. Values are dyadic (k/2) and weights integral, so double
 * accumulation is order-exact and the comparison can be bitwise.
 * (Raw scalacheck Gens sampled deterministically — the scalatest
 * bridge isn't on the offline classpath.)
 */
class PercentilePlannerPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSessions.spark
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val row: Gen[(String, Option[Double], Long)] = for {
    g <- Gen.oneOf("a", "b", "c")
    v <- Gen.frequency(
      8 -> Gen.chooseNum(-5, 20).map(i => Some(i.toDouble / 2)),
      1 -> Gen.const(Option.empty[Double]))
    w <- Gen.chooseNum(0L, 4L)
  } yield (g, v, w)
  private val dataset = Gen.chooseNum(1, 40).flatMap(n => Gen.listOfN(n, row))

  private val residualPool = Seq(
    "SUM(w) AS r0",
    "MIN(v) AS r1",
    "MAX(v) AS r2",
    "AVG(w) AS r3",
    "AVG(v) AS r4",
    "COUNT(v) AS r5",
    "COUNT(*) AS r6",
    "COUNT(DISTINCT w) AS r7",
    "SUM(w) FILTER (WHERE v > 0) AS r8",
    "MEDIAN(v) + 1 AS r9")
  private val residuals: Gen[Seq[String]] =
    Gen.pick(3, residualPool).map(_.toSeq.sorted)

  test("property: ridden mixed aggregate lists match the buffered plan") {
    samples(Gen.zip(dataset, residuals, Gen.oneOf(true, false)), 18)
      .foreach { case (rows, res, grouped) =>
        rows.toDF("g", "v", "w").createOrReplaceTempView("pp_prop_t")
        try {
          val sql =
            if (grouped)
              s"""SELECT g, MEDIAN(v) AS m, ${res.mkString(", ")}
                 |FROM pp_prop_t GROUP BY g ORDER BY g""".stripMargin
            else
              s"SELECT MEDIAN(v) AS m, ${res.mkString(", ")} FROM pp_prop_t"
          val fast = PercentilePlanner.rewrite(spark, spark.sql(sql))
          assert(fast.isDefined, s"did not engage: $sql")
          val got = fast.get.collect()
          val ref = spark.sql(sql).collect()
          assert(got.sameElements(ref),
            s"got=${got.mkString("; ")} ref=${ref.mkString("; ")} " +
              s"sql=$sql rows=$rows")
        } finally spark.catalog.dropTempView("pp_prop_t")
      }
  }
}
