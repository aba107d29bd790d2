package graft.engine

import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSessions
import graft.tables.Tables

/** The thread contract of [[SqlEngine]]: several clients at once, on one
  * shared engine or on one engine per session of one context, get exactly
  * the outputs a serial run gives. A seeded mix covers every dialect
  * rewrite, each call with its own literals, so concurrent statements
  * share generated classes that differ only in their references. A
  * differential check can miss a race but never fails on a correct
  * engine. */
class ConcurrentClientsSpec extends AnyFunSuite {
  private val Threads = 4
  private val Seed = 17L

  private def session(): SparkSession = {
    val s = TestSessions.spark.newSession()
    Tables.registerAll(s, TestSessions.sf0001)
    s
  }

  /** One `executeSql` text per call; call `i` owns the table `cc_ext_i`. */
  private def mix(seed: Long): IndexedSeq[String] = {
    val r = new Random(seed)
    val words = Seq("large", "hot", "blue", "old", "cold", "red", "green", "small")
    val templates: Seq[Int => String] = Seq(
      _ => s"SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey = ${r.nextInt(1500)}",
      _ => "SELECT count(*), approx_distinct(c_nationkey) AS nd, to_hex(max(c_custkey)) AS hx " +
        s"FROM customer WHERE c_acctbal > ${r.nextInt(9000) - 900}.5D",
      _ => {
        val Seq(a, b) = r.shuffle(words).take(2)
        s"SELECT p_type, COUNT(*) AS n FROM part WHERE p_name SIMILAR TO '($a|$b) %' " +
          s"AND p_size <= ${10 + r.nextInt(40)} GROUP BY p_type ORDER BY p_type"
      },
      _ => s"SELECT g.value AS size, COUNT(p_partkey) AS n FROM generate_series(1, ${5 + r.nextInt(45)}) g " +
        "JOIN part ON p_size = g.value GROUP BY g.value ORDER BY g.value",
      _ => "SELECT c_mktsegment, FIRST_VALUE(c_name ORDER BY c_acctbal DESC) AS top, " +
        "LAST_VALUE(c_custkey ORDER BY c_acctbal DESC) AS low " +
        s"FROM customer WHERE c_nationkey = ${r.nextInt(25)} GROUP BY c_mktsegment ORDER BY c_mktsegment",
      _ => "SELECT o_orderkey, COUNT(*) OVER (ORDER BY o_orderpriority GROUPS BETWEEN 1 PRECEDING " +
        s"AND CURRENT ROW) AS n_near FROM orders WHERE o_custkey <= ${r.nextInt(150)} ORDER BY o_orderkey",
      _ => "SELECT c_mktsegment, MEDIAN(c_acctbal) AS med, PERCENTILE_CONT(0.9) WITHIN GROUP " +
        s"(ORDER BY c_acctbal) AS p90 FROM customer WHERE c_nationkey = ${r.nextInt(25)} " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment",
      _ => "SELECT column_name, data_type FROM INFORMATION_SCHEMA.columns " +
        s"WHERE table_name = '${r.shuffle(Tables.names).head}' ORDER BY ordinal_position",
      i => s"CREATE EXTERNAL TABLE cc_ext_$i STORED AS PARQUET LOCATION '${TestSessions.sf0001}/nation.parquet'; " +
        s"SELECT count(*) AS n FROM cc_ext_$i WHERE n_regionkey = ${r.nextInt(5)}; DROP TABLE cc_ext_$i",
      _ => "SELECT c_mktsegment, c_custkey, c_acctbal FROM customer " +
        s"WHERE c_nationkey = ${r.nextInt(25)} ORDER BY c_acctbal DESC, c_custkey",
      _ => "SELECT current_time()")
    (0 until 3 * templates.size).map(i => templates(i % templates.size)(i))
  }

  /** The formatted output, or the error's class and message. */
  private def run(engine: SqlEngine, sql: String): String =
    try engine.executeSql(sql)
    catch { case e: Exception => s"${e.getClass.getName}: ${e.getMessage}" }

  /** `work(0)`, ..., `work(n - 1)` on `Threads` threads, in that order. */
  private def concurrently[T](n: Int)(work: Int => T): IndexedSeq[T] = {
    val pool = Executors.newFixedThreadPool(Threads)
    try {
      val futures = pool.invokeAll((0 until n).map(i => new Callable[T] {
        override def call(): T = work(i)
      }).asJava)
      futures.asScala.map(_.get()).toIndexedSeq
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  test(s"$Threads clients on one engine or one engine per session match the serial run") {
    val calls = mix(Seed)
    val shared = new SqlEngine(session())
    val serial = calls.map(run(shared, _))
    assert(!serial.exists(_.startsWith("org.apache.spark")), serial.mkString("\n"))
    assert(serial.last.contains("current_time()"), serial.last)

    val onShared = concurrently(calls.size)(i => run(shared, calls(i)))
    calls.indices.foreach(i => assert(onShared(i) == serial(i), s"shared engine, ${calls(i)}"))

    // each thread drives its own session's engine; the context is shared
    val engines = IndexedSeq.fill(Threads)(new SqlEngine(session()))
    val perSession = concurrently(Threads)(t =>
      calls.indices.filter(_ % Threads == t).map(i => i -> run(engines(t), calls(i)))).flatten.toMap
    calls.indices.foreach(i => assert(perSession(i) == serial(i), s"engine per session, ${calls(i)}"))
  }
}
