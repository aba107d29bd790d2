// Lives under org.apache.spark so it can drain the listener bus
// (`listenerBus.waitUntilEmpty` is private[spark]) before reading counts.
package org.apache.spark.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkEntry
import graft.engine.{Formatter, ResultFormat, SqlEngine, StatementSplitter}
import graft.tables.Tables

/**
 * JVM side of the benchmark: runs one plan written by `perfbench/run.py`
 * through the program's public entry points and records raw timings.
 *
 *   Harness <plan.json> <out dir>
 *
 * The plan names the workload, the fixture dir, `local[N]`, the set-up
 * statement and the operations grouped in decks. Operations run back to
 * back (one client, closed loop), in whole decks, for about the plan's
 * `seconds`. Everything derived — percentiles, correctness, span self
 * times, job attribution — is computed by the Python side from the files
 * written here:
 *
 *   setup.json        one record per set-up
 *   ops.jsonl         one record per operation (spans when traced)
 *   jobs.jsonl        Spark jobs with their stages' task metrics (traced)
 *   run.json          run-level facts (heap, decks run, N)
 *   out/<key>__<sha>  each distinct façade result string, once
 *   check/<query>     curation rows of the untimed check pass
 *   oracle.json       the DuckDB oracle text of each checked query
 */
object Harness {

  final case class Op(id: Int, kind: String, template: String, key: String,
      format: String, text: String, sizeDirs: Seq[String])

  // ---------------------------------------------------------------- clock
  // Spans use epoch milliseconds with sub-ms digits so they share a clock
  // with Spark's listener events (System.currentTimeMillis). The base is
  // taken on a millisecond tick, so the two clocks agree to within µs.
  private val (baseEpoch, baseNano) = {
    val t = System.currentTimeMillis()
    while (System.currentTimeMillis() == t) {}
    (System.currentTimeMillis().toDouble, System.nanoTime())
  }
  def nowMs: Double = baseEpoch + (System.nanoTime() - baseNano) / 1e6

  // ---------------------------------------------------------------- spans
  final class Tracer {
    val spans = ArrayBuffer[String]()
    private var nextId = 0
    private var stack = List.empty[Int]
    def span[T](op: Int, name: String)(body: => T): T = {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = nowMs
      try body
      finally {
        val end = nowMs
        stack = stack.tail
        spans += s"""{"op":$op,"id":$id,"parent":$parent,"name":"$name","start":$start,"end":$end}"""
      }
    }
    /** An interval measured elsewhere (a Catalyst phase); its parent is
      * resolved later by time, like a job's. */
    def interval(op: Int, name: String, start: Double, end: Double): Unit =
      spans += s"""{"op":$op,"id":-1,"parent":null,"name":"$name","start":$start,"end":$end}"""
  }

  // ------------------------------------------------------------- listener
  /** Jobs with the summed task metrics of their completed stages. */
  final class JobLog extends SparkListener {
    private val jobs = mutable.LinkedHashMap[Int, (Long, Long)]()
    private val stageJob = mutable.Map[Int, Int]()
    private val stageRows = ArrayBuffer[(Int, String)]()
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = (e.time, -1L)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { case (s, _) => jobs(e.jobId) = (s, e.time) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val row = if (m == null) s""""tasks":${i.numTasks}""" else
        s""""tasks":${i.numTasks},"run_ms":${m.executorRunTime},""" +
        s""""cpu_ms":${m.executorCpuTime / 1e6},"gc_ms":${m.jvmGCTime},""" +
        s""""shuffle_read":${m.shuffleReadMetrics.totalBytesRead},""" +
        s""""shuffle_write":${m.shuffleWriteMetrics.bytesWritten},""" +
        s""""spill":${m.memoryBytesSpilled + m.diskBytesSpilled}"""
      // a stage belongs to the job that ran it: the latest job listing
      // it when it completes (a later job may list it again, skipped)
      stageRows += ((stageJob.getOrElse(i.stageId, -1), row))
    }
    def dump(path: String): Unit = synchronized {
      val byJob = stageRows.groupBy(_._1)
      val lines = jobs.map { case (id, (s, e)) =>
        val stages = byJob.getOrElse(id, Nil).map(r => s"{${r._2}}").mkString("[", ",", "]")
        s"""{"job":$id,"start":$s,"end":$e,"stages":$stages}"""
      }
      write(path, lines.mkString("", "\n", "\n"))
    }
  }

  // ---------------------------------------------------------------- utils
  def write(path: String, s: String): Unit = Files.write(Paths.get(path), s.getBytes(UTF_8))

  def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .take(12).map("%02x".format(_)).mkString

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def dirStats(paths: Seq[String]): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = paths.map(new File(_)).filter(_.exists).flatMap(walk)
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
    (files.map(_.length).sum, files.size.toLong)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  // ----------------------------------------------------------------- main
  def main(args: Array[String]): Unit = {
    val Array(planPath, outDir) = args
    implicit val formats: Formats = DefaultFormats
    val plan = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(planPath)), UTF_8))
    def ops(j: JValue): Seq[Op] = j.extract[List[JValue]].map { o =>
      Op((o \ "id").extract[Int], (o \ "kind").extract[String],
        (o \ "template").extract[String], (o \ "key").extract[String],
        (o \ "format").extract[String], (o \ "text").extract[String],
        (o \ "size_dirs").extract[List[String]])
    }
    val workload = (plan \ "workload").extract[String]
    val fixtures = (plan \ "fixtures").extract[String]
    val cpus = (plan \ "cpus").extract[Int]
    val seconds = (plan \ "seconds").extract[Double]
    val traced = (plan \ "trace").extract[Int] == 1
    val setups = (plan \ "setups").extract[Int]
    val setupSql = (plan \ "setup_sql").extract[String]
    val warmup = ops(plan \ "warmup")
    val decks = (plan \ "decks").extract[List[JValue]].map(ops)
    new File(s"$outDir/out").mkdirs()

    // ------------------------------------------------------------ set-up
    // Set-up = session build (`SqlEngine.newSession`) + fixture
    // registration + the first statement. The first set-up counts from
    // JVM start and includes starting Spark; the others build a fresh
    // session on the running SparkContext, as a second engine in the same
    // process would. The last session serves the run.
    val setupRecs = ArrayBuffer[String]()
    var engine: SqlEngine = null
    System.setProperty("spark.sql.warehouse.dir", s"$outDir/warehouse")
    for (i <- 0 until setups) {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val t0 = if (i == 0) ManagementFactory.getRuntimeMXBean.getStartTime.toDouble else nowMs
      val tSession = nowMs
      engine = SqlEngine.newSession(s"local[$cpus]")
      val tRegister = nowMs
      Tables.registerAll(engine.spark, fixtures)
      val tFirst = nowMs
      val out = engine.executeSql(setupSql)
      val t1 = nowMs
      setupRecs += s"""{"setup":$i,"total_ms":${t1 - t0},"jvm_ms":${tSession - t0},""" +
        s""""session_ms":${tRegister - tSession},"register_ms":${tFirst - tRegister},""" +
        s""""first_ms":${t1 - tFirst},"sha":"${sha(out)}"}"""
      saveOutput(outDir, "setup", out)
    }
    write(s"$outDir/setup.json", setupRecs.mkString("[", ",\n", "]\n"))
    val spark = engine.spark
    (plan \ "session_conf").extract[Map[String, String]].foreach { case (k, v) => spark.conf.set(k, v) }
    val queries = SparkEntry.queries

    // -------------------------------------------------------- operations
    val tracer = new Tracer
    var tracing = false
    def runOp(op: Op): String = op.kind match {
      case "sql" =>
        val fmt = if (op.format == "json") ResultFormat.Json else ResultFormat.Table
        engine.setResultFormat(fmt)
        if (!tracing) engine.executeSql(op.text)
        else tracer.span(op.id, "op") {
          // executeSql's own composition, timed piece by piece
          val stmts = tracer.span(op.id, "engine.split")(StatementSplitter.split(op.text))
          stmts.map { s =>
            val df = tracer.span(op.id, "engine.statement")(engine.executeStatement(s))
            val str = tracer.span(op.id, "engine.format")(Formatter.format(df, fmt))
            catalystPhases(op.id, df)
            str
          }.mkString("\n")
        }
      case "check" => // untimed check pass: keep the rows for the oracle
        queries(op.text)(spark, fixtures).write.parquet(s"$outDir/check/${op.key}")
        ""
      case "query" =>
        val run = queries(op.text)
        if (!tracing) run(spark, fixtures).write.format("noop").mode("overwrite").save()
        else tracer.span(op.id, "op") {
          val df = tracer.span(op.id, "ops.build")(run(spark, fixtures))
          tracer.span(op.id, "ops.action")(df.write.format("noop").mode("overwrite").save())
          catalystPhases(op.id, df)
        }
        ""
    }
    def catalystPhases(op: Int, df: DataFrame): Unit =
      df.queryExecution.tracker.phases.foreach { case (phase, p) =>
        tracer.interval(op, s"catalyst.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }

    val opLines = ArrayBuffer[String]()
    var pendingDelete = Seq.empty[String]
    def timed(op: Op, phase: String): Double = {
      val nSpans = tracer.spans.size
      val t0 = nowMs
      val (out, err) =
        try (runOp(op), null: String)
        catch { case e: Throwable => ("", e.getClass.getName + ": " + String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")) }
      val t1 = nowMs
      val h = sha(out)
      if (err == null && op.kind == "sql") saveOutput(outDir, op.key, out)
      val (ioBytes, ioFiles) = dirStats(op.sizeDirs)
      // a write op drops its predecessor's tables; their files go now
      if (op.sizeDirs.nonEmpty) {
        pendingDelete.foreach(p => deleteTree(new File(p)))
        pendingDelete = op.sizeDirs
      }
      val spans = tracer.spans.drop(nSpans).mkString("[", ",", "]")
      opLines += s"""{"id":${op.id},"phase":"$phase","template":${jstr(op.template)},""" +
        s""""key":${jstr(op.key)},"start":$t0,"wall_ms":${t1 - t0},"traced":$tracing,""" +
        s""""error":${if (err == null) "null" else jstr(err)},"sha":"$h",""" +
        s""""bytes":${out.getBytes(UTF_8).length},"io_bytes":$ioBytes,"io_files":$ioFiles,""" +
        s""""spans":$spans}"""
      t1 - t0
    }

    // untimed warm-up; for curation it starts with the check pass, which
    // saves each query's rows (and its DuckDB oracle text, if it has one)
    val tWarm = nowMs
    warmup.foreach(op => timed(op, "warmup"))
    val warmupMs = nowMs - tWarm
    val oracles = warmup.filter(_.kind == "check").flatMap(op =>
      SparkEntry.oracleSql.get(op.text).map(sql => s"${jstr(op.text)}:${jstr(sql)}"))
    write(s"$outDir/oracle.json", oracles.mkString("{", ",\n", "}\n"))

    // An untraced run measures one stretch of `seconds`. A traced run
    // measures an untraced stretch and then a traced one of half the time
    // each; the difference of their medians is the tracing overhead. A
    // stretch runs whole decks, at least one, and stops when one more deck
    // as long as the last would end past its budget.
    val jobLog = new JobLog
    var deckIx = 0
    def stretch(budget: Double, phase: String): (Int, Double) = {
      val t0 = nowMs
      var n = 0
      var deckMs = 0.0
      while (deckIx < decks.size && (n == 0 || (nowMs - t0) + deckMs <= budget * 1000)) {
        val d0 = nowMs
        decks(deckIx).foreach(op => timed(op, phase))
        deckMs = nowMs - d0
        deckIx += 1; n += 1
      }
      (n, nowMs - t0)
    }
    val (decksPlain, plainMs) = stretch(if (traced) seconds / 2 else seconds, "timed")
    // Spark's ContextCleaner frees broadcasts and shuffles asynchronously
    // once a GC has found them unreachable, so collect, let it run, and
    // collect again
    val heapMb = {
      System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(300); System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    val (decksTraced, tracedMs) = if (!traced) (0, 0.0) else {
      spark.sparkContext.addSparkListener(jobLog)
      tracing = true
      val r = stretch(seconds / 2, "traced")
      tracing = false
      spark.sparkContext.listenerBus.waitUntilEmpty(60000)
      spark.sparkContext.removeSparkListener(jobLog)
      r
    }
    write(s"$outDir/ops.jsonl", opLines.mkString("", "\n", "\n"))
    if (traced) jobLog.dump(s"$outDir/jobs.jsonl")
    write(s"$outDir/run.json",
      s"""{"workload":"$workload","cpus":$cpus,"heap_retained_mb":$heapMb,"warmup_ms":$warmupMs,""" +
      s""""decks_timed":$decksPlain,"timed_ms":$plainMs,""" +
      s""""decks_traced":$decksTraced,"traced_ms":$tracedMs}""" + "\n")
    spark.stop()
    System.exit(0)
  }

  private val saved = mutable.Set[String]()
  def saveOutput(outDir: String, key: String, out: String): Unit = {
    val name = s"${key}__${sha(out)}"
    if (saved.add(name)) write(s"$outDir/out/$name", out)
  }
}
