package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Trace state of one benchmark JVM: spans and per-layer counters. The
  * listeners below attribute each event to the timed call that caused it
  * (the call's span id travels as a local property on its jobs), never to
  * setup or output checks, whenever the event is delivered. */
object Trace {
  /** One traced interval. `parent` is the span that caused it (-1: root);
    * all spans of a run share the run id run.py files them under. */
  final case class Span(id: Int, parent: Int, name: String, kind: String,
                        startNs: Long, endNs: Long)

  val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicInteger(0)
  val SpanProp = "perfbench.span"

  def newId(): Int = nextId.getAndIncrement()
  def add(parent: Int, name: String, kind: String, s: Long, e: Long): Int = {
    val id = newId()
    spans.add(Span(id, parent, name, kind, s, e))
    id
  }

  /** Wall-clock (epoch) nanos, the clock Spark's listener events use. */
  def nowNs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** Timed calls as (span id, start, end), end = Long.MaxValue while
    * running: planning phases and micro-batches are attributed to the call
    * they start in. */
  val calls = new ConcurrentHashMap[Int, (Long, Long)]()
  def callAt(ns: Long): Option[Int] =
    calls.asScala.collectFirst { case (id, (s, e)) if ns >= s && ns <= e => id }

  val jobs, stages, tasks = new AtomicLong
  val runMs, cpuNs, gcMs, shufW, shufR, spill = new AtomicLong
  val streamBatches, streamRows, addBatchMs, commitMs = new AtomicLong
  val planMs = new AtomicLong
  val planByCall = new ConcurrentHashMap[Int, java.lang.Long]()
}

/** Spark scheduler, executor and shuffle counters, plus job and stage
  * spans parented to the call that ran them. Only jobs whose local
  * properties carry a call's span id count, and only their stages and
  * tasks: the untimed result writes for the checks run without one. */
class JobTracer extends SparkListener {
  import Trace._
  // Spark job id -> (span id, parent span id, start); stage id -> job span id
  private val jobSpan = new ConcurrentHashMap[Int, (Int, Int, Long)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private def timed(stageId: Int): Boolean = stageJob.containsKey(stageId)
  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).foreach { call =>
      jobs.incrementAndGet()
      val id = newId()
      jobSpan.put(e.jobId, (id, call.toInt, e.time * 1000000L))
      e.stageIds.foreach(s => stageJob.put(s, id))
    }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (id, parent, s) =>
      spans.add(Span(id, parent, s"job ${e.jobId}", "job", s, e.time * 1000000L))
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    if (timed(si.stageId)) {
      stages.incrementAndGet()
      for (s <- si.submissionTime; f <- si.completionTime)
        add(stageJob.get(si.stageId), s"stage ${si.stageId} (${si.numTasks} tasks)", "stage",
          s * 1000000L, f * 1000000L)
    }
  }
  // a stage's task ends may be delivered after its completion, so stage
  // ids stay in `stageJob` for the whole run
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (timed(e.stageId)) {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** Catalyst analysis/optimization/planning time from each query's
  * `QueryPlanningTracker`. Registered through
  * `spark.sql.queryExecutionListeners`, so sessions the program clones
  * with `newSession()` report too. */
class PlanTracer extends QueryExecutionListener {
  import Trace._
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.isEmpty) return
    val ms = phases.map(_.durationMs).sum
    callAt(phases.map(_.startTimeMs).min * 1000000L).foreach { id =>
      planMs.addAndGet(ms)
      planByCall.merge(id, ms, (a, b) => a + b)
    }
  }
}

/** Micro-batch counters, for batches that start inside a timed call.
  * Registered through `spark.sql.streaming.streamingQueryListeners` for
  * the same reason. */
class StreamTracer extends StreamingQueryListener {
  import Trace._
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val t = java.time.Instant.parse(p.timestamp)
    if (callAt(t.getEpochSecond * 1000000000L + t.getNano).isDefined) {
      def get(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      streamBatches.incrementAndGet()
      streamRows.addAndGet(p.numInputRows)
      addBatchMs.addAndGet(get("addBatch"))
      commitMs.addAndGet(get("commitOffsets") + get("walCommit"))
    }
  }
}

/** The benchmark's JVM side: one SparkSession at local[cores], one client
  * in a closed loop calling the program's public entry points.
  *
  * After setup (JVM start until the session has run a trivial job) comes
  * the timed loop of the workload: converts (`DumpConverter.convert` with
  * DumpCli's defaults) or query calls (`SparkEntry.queries(name)`
  * materialized through the `noop` sink). The loop runs the first convert
  * or query pass, then warm ones until they add up to --seconds of timed
  * work, at least two. With --trace 1 listeners record spans and per-layer
  * counters, and the single-thread StatementReader and DumpParser passes
  * run after the loop.
  *
  * Everything it measures goes to the JSON file named by --out; run.py
  * checks the outputs and derives the metrics. */
object Runner {
  import Trace._

  // ------------------------------------------------------------- JSON

  private def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  private def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => js(k) + ":" + v }.mkString("{", ",", "}")
  private def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  private def err(e: Throwable): String = js(s"${e.getClass.getName}: ${e.getMessage}".take(500))

  // -------------------------------------------------------------- JVM

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val codegen = CodegenMetrics.METRIC_COMPILATION_TIME

  /** Process counters the loop reports: wall, CPU, GC, janino compiles and
    * their compile time. */
  private final case class Usage(wallNs: Long, cpuNs: Long, gcMs: Long,
                                 compiles: Long, compileNs: Long) {
    def -(o: Usage): Usage = Usage(wallNs - o.wallNs, cpuNs - o.cpuNs, gcMs - o.gcMs,
      compiles - o.compiles, compileNs - o.compileNs)
    def +(o: Usage): Usage = Usage(wallNs + o.wallNs, cpuNs + o.cpuNs, gcMs + o.gcMs,
      compiles + o.compiles, compileNs + o.compileNs)
  }
  private def usage(): Usage = Usage(System.nanoTime(), os.getProcessCpuTime,
    gcBeans.map(_.getCollectionTime).sum, codegen.getCount, CodeGenerator.compileTime)

  /** Work inside the loop that is not part of any timed call (writing a
    * query result for the checks): excluded from every loop counter. */
  private var excluded = Usage(0, 0, 0, 0, 0)
  private def untimed[A](body: => A): A = {
    val u0 = usage()
    try body finally excluded = excluded + (usage() - u0)
  }

  private def vmHwmMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble * 1024 / 1e6).getOrElse(Double.NaN)

  // ------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cores = a("cores").toInt
    val traced = a("trace") == "1"
    val workload = a("workload")
    val runDir = Paths.get(a("run-dir"))
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", a("local-dir"))
    // untraced runs attach no listener at all
    if (traced) b.config("spark.extraListeners", classOf[JobTracer].getName)
      .config("spark.sql.queryExecutionListeners", classOf[PlanTracer].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamTracer].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    // peak heap in use, sampled every 20 ms (traced runs only)
    val heapPeak = new AtomicLong
    val heapSampler = new Thread(() => {
      val mem = ManagementFactory.getMemoryMXBean
      try while (true) {
        heapPeak.accumulateAndGet(mem.getHeapMemoryUsage.getUsed, math.max)
        Thread.sleep(20)
      } catch { case _: InterruptedException => }
    }, "perfbench-heap")
    heapSampler.setDaemon(true)
    if (traced) heapSampler.start()

    val ops = mutable.ArrayBuffer[String]()
    var queryInfo = Seq.empty[(String, String)]
    var firstPassCompiles = 0L
    val u0 = usage()
    def elapsedS = (System.nanoTime() - u0.wallNs - excluded.wallNs) / 1e9
    // after `done` converts or passes: the first, then warm ones until they
    // add up to --seconds of timed work, at least two
    var firstS = 0.0
    def more(done: Int): Boolean = {
      if (done == 1) firstS = elapsedS
      done < 3 || elapsedS - firstS < a("seconds").toDouble
    }

    /** One timed call: its span, its wall time, and the error if it threw. */
    def timed(name: String)(body: => Unit): (Int, Long, Long, Option[Throwable]) = {
      val id = newId()
      val s0 = nowNs
      calls.put(id, (s0, Long.MaxValue))
      spark.sparkContext.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      val e = try { body; None } catch { case e: Throwable => Some(e) }
      val wallNs = System.nanoTime() - t0
      spark.sparkContext.setLocalProperty(SpanProp, null)
      val s1 = nowNs
      calls.put(id, (s0, s1))
      spans.add(Span(id, -1, name, "call", s0, s1))
      (id, s0, wallNs, e)
    }

    if (workload.startsWith("convert")) {
      var i = 0
      while (more(i)) {
        // each convert and each query pass starts from a collected heap, so
        // one call's garbage does not bill the next
        untimed(System.gc())
        val dir = runDir.resolve(s"out-$i")
        val phases = mutable.ArrayBuffer[(String, Double, Long)]()
        var diskOnly = false
        var res: graft.dump.DumpConverter.Result = null
        val (id, _, wallNs, e) = timed(s"convert $i") {
          res = graft.dump.DumpConverter.convert(spark, a("input"), dir.toString,
            saltsPerTable = 8, codec = "snappy", resume = false, progress = { line =>
              if (line.startsWith("[dump-phase] ")) {
                val Array(n, v) = line.stripPrefix("[dump-phase] ").split("=", 2)
                phases += ((n, v.toDouble, nowNs))
              } else if (line.contains("DISK_ONLY")) diskOnly = true
            })
        }
        if (traced) phases.foreach { case (n, secs, end) =>
          add(id, n, "phase", end - (secs * 1e9).toLong, end)
        }
        val fields = mutable.ArrayBuffer[(String, String)](
          "kind" -> js("convert"), "index" -> i.toString, "wall_s" -> num(wallNs / 1e9),
          "out" -> js(dir.toString), "disk_only" -> diskOnly.toString,
          "phases" -> arr(phases.map { case (n, s, _) => arr(Seq(js(n), num(s))) }))
        e match {
          case None =>
            fields += "rows" -> obj(res.rowsWritten.toSeq.sorted.map { case (k, v) => k -> v.toString })
            fields += "tables" -> arr(res.tables.map(js))
            fields += "dropped" -> res.droppedInserts.toString
          case Some(t) => fields += "error" -> err(t)
        }
        ops += obj(fields)
        // only the first and the latest output stay, for the digest checks
        if (i >= 2) untimed(deleteTree(runDir.resolve(s"out-${i - 1}")))
        i += 1
      }
    } else {
      val order = a("order").split(',').toSeq
      val entry = graft.SparkEntry.queries
      val modules = Seq("RelationalQueries" -> graft.ops.RelationalQueries.queries,
        "SimilarityOps" -> graft.ops.SimilarityOps.queries, "DedupOps" -> graft.ops.DedupOps.queries,
        "TextOps" -> graft.ops.TextOps.queries, "MultimodalOps" -> graft.ops.MultimodalOps.queries,
        "PipelineOps" -> graft.ops.PipelineOps.queries,
        "StreamingOps" -> graft.streaming.StreamingOps.queries)
      queryInfo = order.map { q =>
        q -> obj(Seq("module" -> js(modules.find(_._2.contains(q)).map(_._1).getOrElse("other")),
          "oracle" -> graft.SparkEntry.oracleSql.get(q).map(js).getOrElse("null")))
      }
      var pass = 0
      while (more(pass)) {
        if (pass == 1) firstPassCompiles = (usage() - u0 - excluded).compiles
        untimed(System.gc())
        order.foreach { name =>
          var eagerNs = -1L
          var df: DataFrame = null
          val (id, s0, wallNs, e) = timed(s"$name pass $pass") {
            val t0 = System.nanoTime()
            df = entry(name)(spark, a("input"))
            eagerNs = System.nanoTime() - t0
            df.write.mode("overwrite").format("noop").save()
          }
          if (traced && eagerNs >= 0) {
            add(id, "eager", "part", s0, s0 + eagerNs)
            add(id, "exec", "part", s0 + eagerNs, s0 + wallNs)
          }
          val fields = mutable.ArrayBuffer[(String, String)](
            "kind" -> js("query"), "name" -> js(name), "pass" -> pass.toString,
            "wall_s" -> num(wallNs / 1e9), "eager_s" -> num(eagerNs / 1e9), "span" -> id.toString)
          e.foreach(t => fields += "error" -> err(t))
          // every pass's result, for the checks
          if (e.isEmpty) untimed {
            val p = runDir.resolve(s"result-$pass").resolve(name)
            try {
              df.write.mode("overwrite").parquet(p.toString)
              fields += "result" -> js(p.toString)
            } catch { case t: Throwable => fields += "error" -> err(t) }
          }
          ops += obj(fields)
        }
        pass += 1
      }
    }
    val loop = usage() - u0 - excluded
    heapSampler.interrupt()
    val loopWall = loop.wallNs / 1e9
    try org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    catch { case scala.util.control.NonFatal(_) => }

    val layerPass: Seq[(String, String)] =
      if (traced && workload.startsWith("convert")) singleThreadPasses(a("input"))
      else Seq("StatementReader.busy_s", "StatementReader.mb_s", "StatementReader.stmts",
        "DumpParser.busy_s", "DumpParser.rows_s", "DumpParser.rows").map(_ -> "0")
    val layers = Seq(
      "spark.jobs" -> jobs.get.toString, "spark.stages" -> stages.get.toString,
      "spark.tasks" -> tasks.get.toString,
      "spark.task_run_s" -> num(runMs.get / 1000.0),
      "spark.task_cpu_s" -> num(cpuNs.get / 1e9),
      "spark.task_gc_s" -> num(gcMs.get / 1000.0),
      "spark.idle_core_s" -> num(cores * loopWall - runMs.get / 1000.0),
      "spark.shuffle_write_mb" -> num(shufW.get / 1e6),
      "spark.shuffle_read_mb" -> num(shufR.get / 1e6),
      "spark.spill_mb" -> num(spill.get / 1e6),
      "codegen.compiles" -> loop.compiles.toString,
      "codegen.compile_s" -> num(loop.compileNs / 1e9),
      "codegen.warm_compiles" -> (if (workload.startsWith("convert")) "0"
                                 else (loop.compiles - firstPassCompiles).toString),
      "streaming.batches" -> streamBatches.get.toString,
      "streaming.input_rows" -> streamRows.get.toString,
      "streaming.add_batch_s" -> num(addBatchMs.get / 1000.0),
      "streaming.commit_s" -> num(commitMs.get / 1000.0),
      "jvm.gc_s" -> num(loop.gcMs / 1000.0),
      "jvm.heap_peak_mb" -> num(heapPeak.get / 1e6),
      "cpu_util" -> num(loop.cpuNs / 1e9 / (loopWall * cores))) ++ layerPass

    // a job's local property names the call; its parent becomes the phase
    // or part of that call the job started in
    val all = spans.asScala.toSeq
    val inner = all.filter(s => s.kind == "phase" || s.kind == "part").groupBy(_.parent)
    val tree = all.map { s =>
      if (s.kind != "job") s
      else inner.getOrElse(s.parent, Nil).find(p => s.startNs >= p.startNs && s.startNs < p.endNs)
        .map(p => s.copy(parent = p.id)).getOrElse(s)
    }
    val spanJson = if (!traced) "[]" else arr(tree.sortBy(_.id).map { s =>
      obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> js(s.name),
        "kind" -> js(s.kind), "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString))
    })
    val result = obj(Seq(
      "setup_s" -> num(setupS),
      "max_heap_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> js(spark.version),
      "loop_wall_s" -> num(loopWall),
      "untimed_s" -> num(excluded.wallNs / 1e9),
      "peak_rss_mb" -> num(vmHwmMb),
      "ops" -> arr(ops),
      "queries" -> obj(queryInfo),
      "layers" -> obj(layers),
      "plan_ms_by_span" -> obj(planByCall.asScala.map { case (k, v) => k.toString -> v.toString }),
      "spans" -> spanJson))
    spark.stop()
    Files.writeString(Paths.get(a("out")), result)
  }

  /** StatementReader and DumpParser measured alone, single-threaded, over
    * the whole dump: StatementReader's time is the pass minus the time
    * spent inside the parser calls. */
  private def singleThreadPasses(input: String): Seq[(String, String)] = {
    import graft.dump.{DumpParser, StatementReader}
    var bytes = 0L
    val counting = new java.io.FilterInputStream(Files.newInputStream(Paths.get(input))) {
      override def read(): Int = { val r = super.read(); if (r >= 0) bytes += 1; r }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val r = super.read(b, off, len); if (r > 0) bytes += r; r
      }
    }
    val br = new java.io.BufferedReader(
      new java.io.InputStreamReader(counting, java.nio.charset.StandardCharsets.UTF_8), 1 << 16)
    val schemas = mutable.Map[String, org.apache.spark.sql.types.StructType]()
    var stmts = 0L; var rows = 0L; var parseNs = 0L
    val t0 = System.nanoTime()
    try {
      StatementReader.statements(Iterator.continually(br.readLine()).takeWhile(_ != null))
        .foreach { s =>
          stmts += 1
          val p0 = System.nanoTime()
          if (s.startsWith("CREATE TABLE")) {
            val ct = DumpParser.parseCreateTable(s)
            schemas(ct.table) = ct.schema
          } else if (s.startsWith("INSERT INTO")) {
            schemas.get(DumpParser.insertTarget(s)).foreach { schema =>
              val ins = DumpParser.parseInsert(s)
              val align = DumpParser.rowAligner(ins, schema)
              ins.rows.foreach { v => DumpParser.coerceRow(ins.table, schema, align(v)); rows += 1 }
            }
          }
          parseNs += System.nanoTime() - p0
        }
    } finally br.close()
    val readerS = (System.nanoTime() - t0 - parseNs) / 1e9
    val parseS = parseNs / 1e9
    Seq("StatementReader.busy_s" -> num(readerS),
      "StatementReader.mb_s" -> num(bytes / 1e6 / readerS),
      "StatementReader.stmts" -> stmts.toString,
      "DumpParser.busy_s" -> num(parseS),
      "DumpParser.rows_s" -> num(rows / parseS),
      "DumpParser.rows" -> rows.toString)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
}
