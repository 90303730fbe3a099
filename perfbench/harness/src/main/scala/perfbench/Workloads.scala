package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.enrich.Enrich
import graft.idempotent.Idempotent
import graft.ingest.Ingest
import graft.normalize.Normalize
import graft.pipeline.MunicipioPipeline
import graft.streaming.Streaming

/** One timed operation of a pass. `prepare` and `verify` run untimed around
  * the timed `run`; `verify` returns an error message when the op's output
  * is wrong, and `attrs` adds facts to the op's record.
  */
final case class Op(name: String, records: Long, inputBytes: Long,
                    run: Tracer => Any,
                    prepare: Tracer => Unit = _ => (),
                    verify: Any => Option[String] = _ => None,
                    attrs: () => Map[String, Any] = () => Map.empty)

/** A workload: a warm-up (JIT, codegen caches), the untimed state built by
  * `prepare` (called once per set-up repetition, each in a fresh directory;
  * the last one is measured), the ops of each pass, and the outputs the
  * checks read, reported by `finish`.
  */
trait Workload {
  def prepare(dir: String): Unit
  def pass(p: Int): Seq[Op]
  def endPass(p: Int, last: Boolean): Unit
  def finish(out: ObjectNode): Unit

  /** State in `dir`, then one untimed pass (numbered -1) over the measured
    * inputs. The caller deletes `dir`.
    */
  def warmUp(dir: String, tr: Tracer): Unit = {
    prepare(dir)
    pass(-1).foreach { op => op.prepare(tr); op.run(tr) }
    endPass(-1, last = false)
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, plan: JsonNode): Workload = name match {
    case "etl_backfill" => new EtlBackfill(spark, plan)
    case "etl_redelivery" => new EtlRedelivery(spark, plan)
    case "query_headline" => new QueryHeadline(spark, plan)
    case "stream_landing" => new StreamLanding(spark, plan)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

object Parallel {
  /** `f` over `xs` on four threads, results in order. */
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(xs.map(x => Future(f(x)))), Duration.Inf)
    finally pool.shutdown()
  }
}

object Dirs {
  def delete(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(c => delete(c.getPath))
    f.delete()
  }

  /** Every regular file under `dir` with its size. */
  def listing(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
  }

  /** Copy of the tree under `from` at `to`. */
  def copyDir(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  /** Bytes and count of files in `after` that are new or changed. */
  def written(before: Map[String, Long], after: Map[String, Long]): (Long, Long) = {
    val w = after.filter { case (p, n) => !before.get(p).contains(n) }
    (w.values.sum, w.size.toLong)
  }
}

/** A monthly extractor document as the generator's manifest describes it. */
final case class Doc(name: String, path: String, dimPath: String, ano: Int,
                     mes: Int, records: Long, bytes: Long, resend: Boolean,
                     history: Boolean)

object Doc {
  def all(plan: JsonNode): Seq[Doc] =
    plan.get("inputs").get("docs").elements().asScala.map { d =>
      Doc(d.get("name").asText, d.get("path").asText, d.get("dim_path").asText,
        d.get("ano").asInt, d.get("mes").asInt, d.get("records").asLong,
        d.get("bytes").asLong, !d.get("resend_of").isNull,
        Option(d.get("history")).exists(_.asBoolean))
    }.toSeq
}

/** The paper's ETL spine (`MunicipioPipeline`). Untraced ops call the
  * pipeline's entry points. Traced ops spell `MunicipioPipeline.transform`
  * out from the same public calls so each module's call is its own span,
  * and first materialize each prefix of the spine to the `noop` sink: the
  * layers fuse into one stage, so a layer's execution cost is the
  * difference between consecutive prefixes.
  */
abstract class Etl(spark: SparkSession) extends Workload {
  protected val keys: Seq[String] = Seq("municipio", "ano_ref", "mes_ref")

  /** The spine's prefixes: ingest, rename (normalize), enrich, conform
    * (normalize). Each public call is a span of its own.
    */
  protected def spine(d: Doc, tr: Tracer): Seq[(String, DataFrame)] = {
    val raw = tr.span("ingest.call")(Ingest.sanitizedJson(spark, d.path))
    val renamed = tr.span("normalize.call")(Normalize.renamePresent(
      Normalize.dropIfPresent(raw, "undefined"), Normalize.renameMap))
    val dim = tr.span("ingest.call")(Ingest.csvWithDelimiterFallback(spark, d.dimPath))
    val enriched = tr.span("enrich.call")(Enrich.withCodigoIbge(renamed, dim,
      col("municipio"),
      Normalize.columnOrPosition(dim, "NOME", dim.columns.length - 1),
      Normalize.columnOrPosition(dim, "COD", 1)))
    val out = tr.span("normalize.call")(Normalize.conform(
      Normalize.withReferencePeriod(enriched, d.ano, d.mes), Normalize.municipioSchema))
    Seq("ingest" -> raw, "normalize_rename" -> renamed, "enrich" -> enriched,
      "normalize_conform" -> out)
  }

  protected def probe(d: Doc, tr: Tracer): Unit = if (tr.traced) {
    val prefixes = tr.span("probe.build")(spine(d, tr))
    prefixes.foreach { case (name, df) =>
      tr.span(s"probe.$name")(df.write.format("noop").mode("overwrite").save())
    }
  }

  protected def transform(d: Doc, tr: Tracer): DataFrame =
    if (tr.traced) spine(d, tr).last._2
    else MunicipioPipeline.transform(spark, d.path, Some(d.dimPath), d.ano, d.mes)
}

/** EP2 backfill: a cold lake receives the sequence of monthly documents
  * through `runLocalLake` (dynamic partition overwrite); re-sends replace
  * their month's partition.
  */
final class EtlBackfill(spark: SparkSession, plan: JsonNode) extends Etl(spark) {
  private val docs = Doc.all(plan)
  private var dir = ""
  private def lake(p: Int) = s"$dir/lake_$p"

  private def load(d: Doc, lakePath: String, tr: Tracer): Long =
    if (!tr.traced)
      MunicipioPipeline.runLocalLake(spark, d.path, Some(d.dimPath), d.ano, d.mes, lakePath)
    else {
      val df = transform(d, tr)
      tr.spanWith("idempotent.call", (_: Unit) => Map("received" -> d.records,
        "delivery" -> d.path, "lake" -> lakePath))(
        Idempotent.overwritePartitions(df, lakePath, Seq("ano_ref", "mes_ref")))
      tr.spanWith("pipeline.readback", (n: Long) => Map("loaded" -> n))(
        spark.read.parquet(lakePath)
          .filter(col("ano_ref") === d.ano && col("mes_ref") === d.mes).count())
    }

  def prepare(d: String): Unit = dir = d

  def pass(p: Int): Seq[Op] = docs.map { d =>
    var before = Map.empty[String, Long]
    Op(d.name, d.records, d.bytes, tr => load(d, lake(p), tr),
      prepare = tr => { probe(d, tr); before = Dirs.listing(lake(p)) },
      verify = {
        case n: Long if n == d.records => None
        case n => Some(s"partition ${d.ano}-${d.mes} holds $n rows, delivered ${d.records}")
      },
      attrs = () => {
        val (bytes, files) = Dirs.written(before, Dirs.listing(lake(p)))
        Map("bytes_written" -> bytes, "files_written" -> files)
      })
  }

  private var lastPass = 0

  def endPass(p: Int, last: Boolean): Unit =
    if (last) lastPass = p else Dirs.delete(lake(p))

  def finish(out: ObjectNode): Unit = out.put("lake", lake(lastPass))
}

/** EP1 redelivery: `runIncremental` (anti-join against history) over a lake
  * holding 12 months loaded in set-up. Re-sends of loaded months must load
  * 0 rows and leave the lake's files untouched; new months load every row.
  * Each pass starts from the same history: files a pass appended are
  * removed after it, untimed.
  */
final class EtlRedelivery(spark: SparkSession, plan: JsonNode) extends Etl(spark) {
  private val docs = Doc.all(plan)
  private var dir = ""
  private def lake = s"$dir/lake"
  private var history = Map.empty[String, Long]

  private def load(d: Doc, lakePath: String, tr: Tracer): Idempotent.LoadStats =
    if (!tr.traced)
      MunicipioPipeline.runIncremental(spark, d.path, Some(d.dimPath), d.ano, d.mes, lakePath)
    else {
      val df = transform(d, tr)
      tr.spanWith("idempotent.call", (s: Idempotent.LoadStats) =>
        Map("received" -> s.received, "loaded" -> s.loaded, "delivery" -> d.path,
          "lake" -> lakePath))(
        Idempotent.incrementalAppend(spark, df, lakePath, keys))
    }

  /** The history lake every set-up copies. */
  private val pristine = plan.get("run_dir").asText + "/history"

  /** Writes the history once: the transform of every history month, planned
    * on four threads (each samples its document's schema before planning).
    */
  override def warmUp(d: String, tr: Tracer): Unit = {
    val hist = Parallel.map(docs.filter(_.history))(h =>
      MunicipioPipeline.transform(spark, h.path, Some(h.dimPath), h.ano, h.mes))
    hist.reduce(_ unionByName _).write.parquet(pristine)
    super.warmUp(d, tr)
  }

  def prepare(d: String): Unit = {
    dir = d
    Dirs.copyDir(pristine, lake)
    history = Dirs.listing(lake)
  }

  def pass(p: Int): Seq[Op] = docs.filterNot(_.history).map { d =>
    var before = Map.empty[String, Long]
    Op(d.name, d.records, d.bytes, tr => load(d, lake, tr),
      prepare = tr => { probe(d, tr); before = Dirs.listing(lake) },
      verify = {
        case s: Idempotent.LoadStats =>
          val after = Dirs.listing(lake)
          val expect = if (d.resend) 0L else d.records
          if (s.received != d.records || s.loaded != expect)
            Some(s"received ${s.received} loaded ${s.loaded}, expected ${d.records} / $expect")
          else if (d.resend && after != before)
            Some(s"a re-send changed the lake: ${before.size} -> ${after.size} files, " +
              s"${before.values.sum} -> ${after.values.sum} bytes")
          else None
        case other => Some(s"unexpected result $other")
      },
      attrs = () => {
        val (bytes, files) = Dirs.written(before, Dirs.listing(lake))
        Map("bytes_written" -> bytes, "files_written" -> files, "resend" -> d.resend)
      })
  }

  def endPass(p: Int, last: Boolean): Unit = if (!last) {
    Dirs.listing(lake).keys.filterNot(history.contains).foreach(f => new File(f).delete())
  }

  def finish(out: ObjectNode): Unit = out.put("lake", lake)
}

/** The 14 `Bench.headline` queries, each result collected in full; the pass
  * order is a seeded permutation. The first result of each query is saved
  * for the DuckDB check, and every later result must hash the same.
  */
final class QueryHeadline(spark: SparkSession, plan: JsonNode) extends Workload {
  private val inputs = plan.get("inputs")
  private val tables = inputs.get("tables_dir").asText
  private val outDir = plan.get("run_dir").asText + "/results"
  private val seed = plan.get("seed").asLong
  private val names = graft.Bench.headline
  private val hashes = scala.collection.mutable.Map[String, String]()

  /** Rows of the tables a query reads, from its oracle SQL. */
  private def inputRecords(name: String): Long = {
    val sql = graft.SparkEntry.oracleSql(name)
    inputs.get("tables").properties().asScala.collect {
      case e if s"\\b${e.getKey}\\b".r.findFirstIn(sql).isDefined =>
        e.getValue.get("records").asLong
    }.sum
  }
  private val records = names.map(n => n -> inputRecords(n)).toMap

  private def clear(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    graft.GraftConf.releaseCaches()
  }

  /** Each query once, four at a time: the cost is mostly planning and code
    * generation, which the timed passes then reuse.
    */
  override def warmUp(dir: String, tr: Tracer): Unit = {
    Parallel.map(names)(n => graft.SparkEntry.queries(n)(spark, tables).collect())
    clear()
  }

  def prepare(d: String): Unit = ()

  def pass(p: Int): Seq[Op] = {
    val order = new scala.util.Random(seed * 7919 + p).shuffle(names)
    order.map { n =>
      var df: DataFrame = null
      Op(n, records(n), 0L,
        tr => tr.span(s"query.$n") {
          df = graft.SparkEntry.queries(n)(spark, tables)
          df.collect()
        },
        prepare = _ => clear(),
        verify = { rows => verify(n, df.schema, rows.asInstanceOf[Array[Row]]) })
    }
  }

  private def verify(n: String, schema: StructType, rows: Array[Row]): Option[String] = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    val h = md.digest().map("%02x".format(_)).mkString
    hashes.get(n) match {
      case None =>
        hashes(n) = h
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.parquet(s"$outDir/$n")
        None
      case Some(first) if first == h => None
      case Some(first) => Some(s"result hash $h differs from the first pass's $first")
    }
  }

  def endPass(p: Int, last: Boolean): Unit = ()

  def finish(out: ObjectNode): Unit = {
    out.put("results", outDir)
    val o = out.putObject("oracle_sql")
    names.foreach(n => o.put(n, graft.SparkEntry.oracleSql(n)))
  }
}

/** Parquet `events` deliveries, each landed by one `incrementalFileLoad`
  * AvailableNow trigger (dedup on event id and event time, 1 hour
  * watermark). Each pass lands into a fresh source, target and checkpoint.
  */
final class StreamLanding(spark: SparkSession, plan: JsonNode) extends Workload {
  private val deliveries = plan.get("inputs").get("deliveries").elements().asScala.toSeq
  private var dir = ""
  private def passDir(p: Int) = s"$dir/pass_$p"
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private def land(root: String, tr: Tracer): Unit = tr.span("streaming.call")(
    Streaming.incrementalFileLoad(spark, s"$root/source", schema, Seq("event_id"),
      "ts", "1 hour", s"$root/target", s"$root/checkpoint"))

  private def deliver(file: String, root: String): Unit = {
    val src = Paths.get(file)
    Files.createDirectories(Paths.get(s"$root/source"))
    Files.copy(src, Paths.get(s"$root/source/${src.getFileName}"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  def prepare(d: String): Unit = dir = d

  def pass(p: Int): Seq[Op] = deliveries.map { d =>
    val file = d.get("path").asText
    val target = s"${passDir(p)}/target"
    var before = Map.empty[String, Long]
    Op(new File(file).getName, d.get("records").asLong, d.get("bytes").asLong,
      tr => land(passDir(p), tr),
      prepare = _ => { deliver(file, passDir(p)); before = Dirs.listing(target) },
      attrs = () => {
        val (bytes, files) = Dirs.written(before, Dirs.listing(target))
        Map("bytes_written" -> bytes, "files_written" -> files)
      })
  }

  private var lastPass = 0

  def endPass(p: Int, last: Boolean): Unit =
    if (last) lastPass = p else Dirs.delete(passDir(p))

  def finish(out: ObjectNode): Unit = {
    out.put("target", s"${passDir(lastPass)}/target")
    out.put("source", s"${passDir(lastPass)}/source")
  }
}
