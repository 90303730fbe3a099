package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters read through listeners that ship with Spark: task and job
  * events, `QueryExecution.tracker` phases, the codegen compile counters and
  * streaming progress. Registered only for traced passes, so untraced passes
  * run with no listener of the benchmark's attached.
  */
final class Recorder(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val names = Seq("jobs", "tasks", "task_run_ms", "task_cpu_ns", "gc_ms",
    "fetch_wait_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "analysis_ms", "optimization_ms", "planning_ms")
  private val counters: Map[String, AtomicLong] =
    names.map(_ -> new AtomicLong(0L)).toMap
  private def add(k: String, v: Long): Unit = counters(k).addAndGet(v)

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** (start ms, end ms) of every finished job, in end order. */
  val jobIntervals = new java.util.concurrent.CopyOnWriteArrayList[(Long, Long)]()
  /** Every action's QueryExecution, in completion order. */
  val executions = new java.util.concurrent.CopyOnWriteArrayList[QueryExecution]()
  val progress = new java.util.concurrent.CopyOnWriteArrayList[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStarts.put(e.jobId, e.time)
      add("jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(s => jobIntervals.add((s, e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_run_ms", m.executorRunTime)
        add("task_cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("input_bytes", m.inputMetrics.bytesRead)
      }
    }
  }
  private val phases = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit = {
      executions.add(qe)
      val p = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { ph =>
        p.get(ph).foreach(s => add(s"${ph}_ms", s.durationMs))
      }
    }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(phases)
    spark.streams.addListener(streams)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(phases)
    spark.streams.removeListener(streams)
  }

  def drain(): Unit = ListenerBridge.drain(sc)

  /** Counter values after draining the listener bus. */
  def snapshot(): Snap = {
    drain()
    Snap(counters.map { case (k, v) => k -> v.get() } ++ Map(
      "codegen_compile_ns" -> CodeGenerator.compileTime,
      "codegen_classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount),
      executions.size, progress.size, System.currentTimeMillis())
  }
}

final case class Snap(values: Map[String, Long], nExec: Int, nProgress: Int,
                      wallMs: Long)

/** Physical-plan facts a span reports: file scans (root paths and bytes
  * listed) and broadcast sizes, read from the SQL metrics of every action
  * that completed inside the span.
  */
object Plans {
  final case class Scan(roots: Seq[String], bytes: Long)

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Distinct scan and broadcast nodes of `qes`; a cached plan reused by
    * several actions is counted once.
    */
  def facts(qes: Seq[QueryExecution]): (Seq[Scan], Long) = {
    val seen = mutable.Set[Int]()
    val all = qes.flatMap(qe => nodes(qe.executedPlan))
      .filter(n => seen.add(System.identityHashCode(n)))
    val scans = all.collect { case s: FileSourceScanExec =>
      Scan(s.relation.location.rootPaths.map(_.toUri.getPath), metric(s, "filesSize"))
    }
    val broadcast = all.collect { case b: BroadcastExchangeExec =>
      metric(b, "dataSize") }.sum
    (scans, broadcast)
  }
}

/** In-memory spans. A span has a name, start and end, its parent span, and
  * the op id every span of one op shares; a traced span also carries the
  * engine counters accumulated inside it. Written out when the run ends.
  */
final class Tracer(rec: Recorder) {
  private val t0 = System.nanoTime()
  private var stack = List.empty[Int]
  private var nextId = 0
  val spans = mutable.ArrayBuffer[ObjectNode]()
  var opId: Long = -1
  private var on = false

  def traced: Boolean = on

  /** Attach the listeners and record spans until [[stop]]. */
  def start(): Unit = { rec.attach(); on = true }

  def stop(): Unit = { rec.detach(); on = false }

  /** Run `body` as a span named `name`. */
  def span[T](name: String)(body: => T): T =
    spanWith[T](name, _ => Map.empty)(body)

  /** [[span]] whose `attrs` adds facts known only after the body ran. */
  def spanWith[T](name: String, attrs: T => Map[String, Any])(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val before = rec.snapshot()
      val start = System.nanoTime()
      stack = id :: stack
      val out = try body finally stack = stack.tail
      val end = System.nanoTime()
      val after = rec.snapshot()
      val node = Json.obj("op", opId, "span", id, "parent", parent, "name", name,
        "start_s", (start - t0) / 1e9, "end_s", (end - t0) / 1e9)
      val c = Json.mapper.createObjectNode()
      after.values.foreach { case (k, v) => c.put(k, v - before.values(k)) }
      c.put("job_covered_ms", covered(before.wallMs, after.wallMs))
      node.set[ObjectNode]("counters", c)
      val (scans, broadcast) =
        Plans.facts(rec.executions.asScala.slice(before.nExec, after.nExec).toSeq)
      val sc = node.putArray("scans")
      scans.foreach { s =>
        val o = sc.addObject()
        val roots = o.putArray("roots")
        s.roots.foreach(r => roots.add(r))
        o.put("bytes", s.bytes)
      }
      node.put("broadcast_bytes", broadcast)
      val progress = rec.progress.asScala.slice(before.nProgress, after.nProgress)
      if (progress.nonEmpty) node.set[ObjectNode]("streaming", streaming(progress.toSeq))
      attrs(out).foreach { case (k, v) => Json.put(node, k, v) }
      spans += node
      out
    }

  /** Milliseconds of [from, to] covered by at least one job. */
  private def covered(from: Long, to: Long): Long = {
    val iv = rec.jobIntervals.asScala
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total = 0L
    var end = Long.MinValue
    iv.foreach { case (s, e) =>
      val from = math.max(s, end)
      if (e > from) { total += e - from; end = e }
    }
    total
  }

  private def streaming(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): ObjectNode = {
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum
    val last = ps.last
    Json.obj("batches", ps.size,
      "query_planning_ms", dur("queryPlanning"), "get_batch_ms", dur("getBatch"),
      "add_batch_ms", dur("addBatch"), "wal_commit_ms", dur("walCommit"),
      "state_rows", last.stateOperators.map(_.numRowsTotal).sum,
      "state_mem_bytes", last.stateOperators.map(_.memoryUsedBytes).sum,
      "input_rows", ps.map(_.numInputRows).sum)
  }
}

object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def put(o: ObjectNode, k: String, v: Any): Unit = v match {
    case x: Int => o.put(k, x)
    case x: Long => o.put(k, x)
    case x: Double => o.put(k, x)
    case x: Boolean => o.put(k, x)
    case x: String => o.put(k, x)
    case x: com.fasterxml.jackson.databind.JsonNode => o.set[ObjectNode](k, x)
    case null => o.putNull(k)
    case x => o.put(k, x.toString)
  }

  def obj(kvs: Any*): ObjectNode = {
    val o = mapper.createObjectNode()
    kvs.grouped(2).foreach { case Seq(k, v) => put(o, k.toString, v) }
    o
  }
}
