package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .config(Sessions.localFileSystem)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Every regular file under `dir` by relative path, with its bytes; empty
    * when `dir` does not exist.
    */
  def files(dir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => root.relativize(p).toString ->
          java.nio.file.Files.readAllBytes(p).toSeq).toMap
      finally walk.close()
    }
  }

  /** What Spark started while a body ran: jobs, SQL executions, and the
    * root paths of the file relations the queries that completed read.
    */
  final case class Activity(jobs: Int, executions: Int, scanned: Seq[String])

  /** Run `body` and record the [[Activity]] it started. */
  def activity[A](body: => A): (A, Activity) = {
    val jobs = new AtomicInteger()
    val executions = new AtomicInteger()
    val scanned = new ConcurrentLinkedQueue[String]()
    val events = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => executions.incrementAndGet()
        case _ =>
      }
    }
    val queries = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.analyzed.collect { case r: LogicalRelation => r.relation }.foreach {
          case fs: HadoopFsRelation => fs.location.rootPaths.foreach(p => scanned.add(p.toString))
          case _ =>
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    ListenerBridge.drain(sc)
    sc.addSparkListener(events)
    spark.listenerManager.register(queries)
    try {
      val out = body
      ListenerBridge.drain(sc)
      (out, Activity(jobs.get(), executions.get(), scanned.asScala.toSeq))
    } finally {
      spark.listenerManager.unregister(queries)
      sc.removeSparkListener(events)
    }
  }

  /** Run `body` with `kvs` set on the shared session, restoring each key's
    * previous setting afterwards.
    */
  def withConfs[A](kvs: Seq[(String, String)])(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
