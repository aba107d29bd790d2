package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSessions}

class ClusterSizesSpec extends AnyFunSuite {
  private lazy val spark = TestSessions.spark
  import spark.implicits._

  test("chained pairs merge into one cluster; histogram counts clusters") {
    // {1,2,3} via a chain (multi-hop propagation) and {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.clusterSizes(pairs).as[(Int, Long)].collect().toSeq
    assert(got == Seq((2, 1L), (3, 1L)))
  }

  test("null texts never pair (SQL equality semantics)") {
    val docs = Seq((1L, null: String), (2L, null: String), (3L, "z"))
      .toDF("doc_id", "text")
    assert(Dedup.exactPairs(docs).count() == 0)
  }

  test("exactPairs mines all same-text pairs, a < b") {
    val docs = Seq(
      (1L, "x"), (2L, "x"), (3L, "x"), (4L, "y"), (5L, "y"), (6L, "z"))
      .toDF("doc_id", "text")
    val pairs = Dedup.exactPairs(docs).as[(Long, Long)].collect().toSeq.sorted
    assert(pairs == Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)))
    val hist = Dedup.clusterSizes(Dedup.exactPairs(docs))
      .as[(Int, Long)].collect().toSeq
    assert(hist == Seq((2, 1L), (3, 1L)))
  }

  /** Driver-side union-find: every pair member to its component minimum
    * (a root is always attached under the smaller root). */
  private def minLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    pairs.flatMap(p => Seq(p._1, p._2)).map(x => x -> find(x)).toMap
  }

  /** Paths of 1-8 hops with the minimum at one end (the far end needs
    * 8 rounds, then one round finds no change: 9 of the default 10),
    * random components over a small pool, and repeated and reversed
    * copies of some pairs. Ids reach past the Int range. */
  private def randomPairs(seed: Long): Seq[(Long, Long)] = {
    val rnd = new Random(seed)
    val drawn = mutable.LinkedHashSet[Long]()
    while (drawn.size < 44 + 40) drawn += rnd.between(0L, 1L << 40)
    val ids = drawn.iterator
    val paths = (1 to 8).flatMap { hops =>
      val nodes = Vector.fill(hops + 1)(ids.next()).sorted
      nodes.zip(nodes.tail)
    }
    val pool = Vector.fill(40)(ids.next())
    val random = Seq.fill(25)((pool(rnd.nextInt(40)), pool(rnd.nextInt(40))))
      .filter { case (a, b) => a != b }
    val base = paths ++ random
    val extra = base.filter(_ => rnd.nextInt(4) == 0)
      .map { case (a, b) => if (rnd.nextBoolean()) (a, b) else (b, a) }
    rnd.shuffle(base ++ extra)
  }

  test("connectedComponents matches a driver-side union-find on random pair sets") {
    for (seed <- 1L to 4L) {
      val pairs = randomPairs(seed)
      val got = Dedup.connectedComponents(pairs.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect()
      assert(got.length == got.map(_._1).distinct.length, s"seed $seed: a member twice")
      assert(got.toMap == minLabels(pairs), s"seed $seed")
    }
  }

  test("connectedComponents keeps Int-typed ids as IntegerType") {
    val pairs = Seq((2, 5), (5, 9), (30, 31), (7, 2), (9, 5)).toDF("doc_a", "doc_b")
    val out = Dedup.connectedComponents(pairs)
    assert(out.schema.map(f => f.name -> f.dataType) ==
      Seq("doc_id" -> IntegerType, "label" -> IntegerType))
    assert(out.as[(Int, Int)].collect().toMap ==
      Map(2 -> 2, 5 -> 2, 9 -> 2, 7 -> 2, 30 -> 30, 31 -> 30))
  }

  /** Pinned RDD ids as a detached set (see OpsSpec's `pinnedIds`: building
    * from the iterator copies instead of keeping a view of the map). */
  @noinline
  private def pinnedIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keysIterator.toSet

  test("connectedComponents releases every internal pin, converged or not") {
    val path = (0L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val baseline = pinnedIds()
    val err = intercept[IllegalStateException](Dedup.connectedComponents(path, maxIter = 3))
    assert(err.getMessage.contains(
      "label propagation did not converge within 3 iterations"), err.getMessage)
    assert(pinnedIds() -- baseline == Set.empty,
      "pins left behind by a run that did not converge")
    val out = Dedup.connectedComponents(path.filter($"doc_a" < 6))
    assert((pinnedIds() -- baseline).size == 1,
      "a converged run pins only its materialized result")
    assert(out.as[(Long, Long)].collect().toMap == (0L to 6L).map(_ -> 0L).toMap)
  }

  test("x71 on sf0.001 starts at most 9 Spark jobs") {
    val reference = "cluster-sizes-spec-reference"
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(js.properties.getProperty("spark.jobGroup.id")))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries("x71_cluster_sizes")(spark, TestSessions.sf0001).collect()
      // one tagged single-task job closes the count: the listener bus is
      // ordered, so once its job is seen every earlier job has been too
      spark.sparkContext.setJobGroup(reference, "closes the job count")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains(reference) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.asScala.toSeq.last == reference)
      val jobs = groups.size - 1
      info(s"x71 started $jobs Spark jobs")
      assert(jobs <= 9, s"x71 started $jobs Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
