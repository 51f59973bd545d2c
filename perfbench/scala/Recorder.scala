package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchSql, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Collects what one benchmark run measures and writes it as one JSON
  * record at the end: op timings, setup timings, output checks, and — when
  * tracing — spans kept in memory until then.
  *
  * Span kinds, each tied to the op (`op` = op id) it ran under:
  *  - `op`: one timed operation of the workload (the root span);
  *  - `call`: a Delta-layer call timed around the harness's own invocation
  *    (`delta.write`, `delta.dml`, `delta.merge`, `delta.optimize`,
  *    `delta.snapshot`, `delta.read`);
  *  - `phase`: a Catalyst phase of a query execution (parsing, analysis,
  *    optimization, planning), from `QueryExecution.tracker`, keyed to the
  *    op by the job group its SQL execution ran under;
  *  - `job`: a Spark job with its task metrics summed, keyed to the op by
  *    the job group the harness sets around every op.
  * Times are epoch milliseconds; self time and per-layer sums are computed
  * from these spans by the Python side.
  */
final class Recorder(spark: SparkSession, val traceWanted: Boolean) {
  import Recorder._

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val nextOp = new AtomicLong(0)
  private val currentOp = new ThreadLocal[java.lang.Long]
  private val ops = new ConcurrentLinkedQueue[ObjectNode]()
  private val calls = new ConcurrentLinkedQueue[ObjectNode]()
  private val checks = new ConcurrentLinkedQueue[ObjectNode]()
  private val setupReps = new ConcurrentLinkedQueue[java.lang.Double]()
  val results: ObjectNode = mapper.createObjectNode()

  @volatile private var tracing = false
  @volatile private var persistedPeak = 0L
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, ObjectNode]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val execGroup = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val phases = new ConcurrentLinkedQueue[ObjectNode]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val j = mapper.createObjectNode()
      j.put("job", e.jobId).put("group", group).put("start_ms", e.time.toDouble)
      j.put("stages", e.stageIds.size).put("tasks", 0)
      Seq("task_run_ms", "task_cpu_ms", "gc_ms", "input_bytes", "shuffle_write_bytes",
        "shuffle_read_bytes", "fetch_wait_ms").foreach(k => j.put(k, 0.0))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobs.put(e.jobId, j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.put("end_ms", e.time.toDouble))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
      if (m != null) j.foreach { n =>
        def add(k: String, v: Double): Unit = n.put(k, n.get(k).asDouble + v)
        n.put("tasks", n.get("tasks").asInt + 1)
        add("task_run_ms", m.executorRunTime.toDouble)
        add("task_cpu_ms", m.executorCpuTime / 1e6)
        add("gc_ms", m.jvmGCTime.toDouble)
        add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
      case end: SparkListenerSQLExecutionEnd =>
        Option(PerfbenchSql.queryExecution(end)).foreach(_.tracker.phases.foreach { case (name, p) =>
          val n = mapper.createObjectNode()
          n.put("exec", end.executionId).put("name", s"catalyst.$name")
          n.put("start_ms", p.startTimeMs.toDouble).put("end_ms", p.endTimeMs.toDouble)
          phases.add(n)
        })
      case _ =>
    }
  }

  /** Start keeping spans: listeners attach here, so ops before this call
    * run exactly as in an untraced run. Events still in flight from those
    * ops carry no traced op id and are dropped. */
  private def startTracing(): Unit = synchronized { if (!tracing) {
    spark.sparkContext.addSparkListener(jobListener)
    tracing = true
  } }

  def setupRep(seconds: Double): Unit = setupReps.add(seconds)

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    val n = mapper.createObjectNode()
    n.put("name", name).put("ok", ok).put("detail", detail.take(400))
    checks.add(n)
  }

  /** Run `body` as one timed op of `client`; the op's Spark jobs carry the
    * job group `pb-<id>`. Returns the op's record (mutable until the run
    * ends, so callers can mark a wrong result) and the body's value. */
  def op[T](client: Int, seq: Int, kind: String, name: String)(body: => T): (ObjectNode, Option[T]) = {
    if (now() >= traceAt) startTracing()
    val id = nextOp.getAndIncrement()
    val sc = spark.sparkContext
    sc.setJobGroup(s"pb-$id", name, interruptOnCancel = false)
    currentOp.set(id)
    val start = now()
    val out = try Right(body) catch { case NonFatal(e) => Left(e) }
    val end = now()
    currentOp.remove()
    sc.clearJobGroup()
    val n = mapper.createObjectNode()
    n.put("id", id).put("client", client).put("seq", seq).put("kind", kind).put("name", name)
    n.put("start_ms", start).put("end_ms", end).put("traced", tracing)
    n.put("ok", out.isRight)
    out.left.foreach(e => n.put("error", s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)))
    if (tracing) {
      // persisted blocks are still held here: the op's caches are released
      // only after it returns
      val persisted = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      if (persisted > persistedPeak) persistedPeak = persisted
    }
    ops.add(n)
    (n, out.toOption)
  }

  def fail(opRecord: ObjectNode, why: String): Unit =
    opRecord.put("ok", false).put("error", why.take(400))

  /** Time a Delta-layer call made inside the current op. */
  def call[T](name: String)(body: => T): T = {
    val id = currentOp.get()
    if (!tracing || id == null) return body
    val start = now()
    try body finally {
      val n = mapper.createObjectNode()
      n.put("op", id.longValue).put("name", name).put("start_ms", start).put("end_ms", now())
      calls.add(n)
    }
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private var windowGcStart = 0L
  private var windowStart = 0.0
  @volatile private var traceAt = Double.MaxValue

  /** Open the measured window; returns its deadline. A traced run keeps
    * the plan's `untraced_share` of the window untraced, so the record
    * can compare op times with and without the listeners. */
  def windowBegin(plan: com.fasterxml.jackson.databind.JsonNode): Double = {
    val ms = plan.get("seconds").asDouble * 1000
    windowStart = now()
    windowGcStart = gcMs()
    if (traceWanted) traceAt = windowStart + ms * plan.get("untraced_share").asDouble
    windowStart + ms
  }

  /** Close the measured window: JVM GC time during it and the heap still
    * live after full collections. Spark's context cleaner frees shuffle and
    * broadcast state only after a collection has found it unreachable, so
    * the collections are spaced out and the smallest reading is kept. */
  def windowEnd(): Unit = {
    results.put("window_start_ms", windowStart).put("window_end_ms", now())
    results.put("gc_ms", (gcMs() - windowGcStart).toDouble)
    val mem = ManagementFactory.getMemoryMXBean
    val heaps = (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    results.put("heap_after_gc_mb", heaps.min)
  }

  def write(path: String, sessionSeconds: Double): Unit = {
    if (tracing) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val out = mapper.createObjectNode()
    out.put("session_s", sessionSeconds)
    val reps = out.putArray("setup_reps_s")
    setupReps.asScala.foreach(r => reps.add(r.doubleValue))
    out.set[ArrayNode]("ops", arr(ops.asScala))
    out.set[ArrayNode]("checks", arr(checks.asScala))
    out.set[ObjectNode]("results", results)
    if (tracing) {
      val t = out.putObject("trace")
      t.put("persisted_mb_peak", persistedPeak / 1048576.0)
      t.set[ArrayNode]("calls", arr(calls.asScala))
      t.set[ArrayNode]("jobs", arr(jobs.values.asScala))
      // a phase belongs to the op whose job group ran its execution
      val ph = phases.asScala.flatMap { p =>
        Option(execGroup.get(p.get("exec").asLong)).filter(_.startsWith("pb-")).map { g =>
          p.put("op", g.stripPrefix("pb-").toLong)
        }
      }
      t.set[ArrayNode]("phases", arr(ph))
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), out)
  }
}

object Recorder {
  val mapper = new ObjectMapper()
  def arr(nodes: Iterable[ObjectNode]): ArrayNode = {
    val a = mapper.createArrayNode()
    nodes.foreach(a.add)
    a
  }
}
