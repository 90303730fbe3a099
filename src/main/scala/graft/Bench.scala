package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.util.concurrent.atomic.AtomicLong

/** Sums task-level execution metrics between [[reset]] calls — the
  * observable that wall-time can't see: a plan change that doubles shuffle
  * volume while staying fast at sf0.1 becomes a 100 TB regression, and a
  * loaded host inflates seconds but NOT bytes, so these columns also tell
  * noise from plan drift. Callers must drain the listener bus (async
  * delivery) before reading.
  */
private final class TaskMetricsListener extends SparkListener {
  val shuffleRead, shuffleWrite, spill, peakMem = new AtomicLong(0L)
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakMem.getAndAccumulate(m.peakExecutionMemory, math.max)
    }
  }
  def reset(): Unit =
    Seq(shuffleRead, shuffleWrite, spill, peakMem).foreach(_.set(0L))
  def snapshot: Bench.QueryMetrics = Bench.QueryMetrics(
    shuffleRead.get(), shuffleWrite.get(), spill.get(), peakMem.get())
}

/** Benchmark main — runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line with per-query wall-clock seconds.
  *
  * Headline set: the registry's `Headline` tier, one representative per
  * operator family (scan+agg, star join, anti join, window, top-k, period
  * rollup, minhash, jaccard pairs, cosine pairs, ANN, text quality,
  * sessionize) — the queries whose cost profile matters at scale.
  */
object Bench {
  final case class QueryMetrics(shuffleRd: Long, shuffleWr: Long,
                                spill: Long, peakMem: Long)

  /** 1-minute load average from /proc/loadavg — recorded before and after
    * the run so a bench number can prove (or indict) its own conditions:
    * round 4's 6.6× q52 outlier was unadjudicable because the JSON carried
    * no load evidence.
    */
  private def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+").head.toDouble
    catch { case _: Throwable => -1.0 }

  private def tier(t: SparkEntry.Tier): Seq[String] =
    SparkEntry.registry.filter(_.tier == t).map(_.name)

  val headline: Seq[String] = tier(SparkEntry.Tier.Headline)

  /** Secondary set (`Extra` tier): operators added after the headline
    * series started, timed the same way but reported under "extra".
    */
  val extra: Seq[String] = tier(SparkEntry.Tier.Extra)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // r13 (measured, OPTIMIZATION_r13.md): the 100-entry default codegen
      // cache cannot hold one bench round's generated classes, so EVERY
      // timed query recompiled all its whole-stage code despite the sf0.001
      // warmup (QProf: KeyLock-on-CodeGenerator + doCompile ≈ 3-4 s/query).
      // Sized to hold the full query registry's code; driver-memory cost is
      // bounded (generated classes are KBs). Scale-independent: compilation
      // is per-plan driver work, identical on a cluster.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config(Sessions.localFileSystem)
    // same A/B hook as Sessions.builder: extra confs as "k=v;k2=v2"
    val spark = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .foldLeft(builder) { (bb, kv) =>
        val Array(k, v) = kv.split("=", 2)
        bb.config(k.trim, v.trim)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // cluster-profile A/B: SPARK_GRAFT_PAIR_HINT=merge benches the
    // spill-safe SMJ profile against the default shuffle_hash pins
    sys.env.get("SPARK_GRAFT_PAIR_HINT")
      .foreach(v => spark.conf.set(GraftConf.PairJoinHintKey, v))
    // regime-pinned scale probes: "-1" disables broadcast joins so a
    // 10× byte ratio is measured within ONE join regime instead of
    // across AQE's broadcast→shuffle transition (whose byte jump at
    // tiny absolutes reads as superlinear when the algorithm is linear)
    sys.env.get("SPARK_GRAFT_BROADCAST_THRESHOLD")
      .foreach(v => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v))
    val qs = SparkEntry.queries
    // local-iteration subset (comma-separated names) — the q52-adjudication
    // workflow; driver leaves it unset. Misspelled names must fail loudly.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      // validate against the BENCHED set (headline ++ extra), not the full
      // registry: a registered-but-unbenched name would pass a registry
      // check yet silently bench nothing
      val benched = (headline ++ extra).toSet
      val unknown = names -- benched
      require(names.nonEmpty && unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names must be benched queries " +
          s"(not benched: ${unknown.mkString(",")})")
    }
    def selected(names: Seq[String]): Seq[String] =
      names.filter(n => only.forall(_.contains(n)))
    val metrics = new TaskMetricsListener
    spark.sparkContext.addSparkListener(metrics)
    val loadBefore = loadAvg()
    // Untimed warmup at the smallest scale factor: query plans share shapes
    // across scale factors, so this pre-compiles the generated code (janino)
    // and the measured runs below reflect data-proportional cost, not
    // one-time JVM/codegen startup.
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") == "1") {
      val warmDir = "/root/testdata/sf0.001"
      selected(headline ++ extra).foreach { name =>
        try qs(name)(spark, warmDir).count()
        catch { case _: Throwable => () }
      }
      spark.sharedState.cacheManager.clearCache()
      GraftConf.releaseCaches()
    }
    // Two timed rounds per query, report the min: the host shows
    // intermittent load spikes and a single sample can be 2-3x off; min-of-2
    // measures the query, not the interference. Caches are cleared between
    // rounds so each round pays the query's full cost.
    val rounds = sys.env.getOrElse("SPARK_GRAFT_ROUNDS", "2").toInt
    // A failing query must fail the bench, not record a near-zero "timing"
    // that makes the total look BETTER: each query reports either its
    // min-of-rounds seconds or an error (emitted as "err" in the JSON, full
    // message on stderr, nonzero exit).
    val queryMetrics = scala.collection.mutable.LinkedHashMap[String, QueryMetrics]()
    def time(names: Seq[String]): Seq[(String, Either[String, Double])] =
      selected(names).map { name =>
        val runs: Seq[Either[String, (Double, QueryMetrics)]] = (1 to rounds).map { _ =>
          spark.sharedState.cacheManager.clearCache()
          GraftConf.releaseCaches()
          metrics.reset()
          val t0 = System.nanoTime()
          try {
            qs(name)(spark, sfDir).count()
            val secs = (System.nanoTime() - t0) / 1e9
            // drain BEFORE snapshotting: task-end events arrive async and a
            // query's tail tasks would otherwise bill to the next round
            org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
            Right((secs, metrics.snapshot))
          }
          catch { case e: Throwable => Left(e.toString) }
        }
        val errs = runs.collect { case Left(m) => m }
        name -> (if (errs.nonEmpty) Left(errs.head)
                 else {
                   // metrics from the min-secs round: byte counts are
                   // deterministic per plan, so any round's are the query's;
                   // the min round's pairing keeps secs and bytes coherent
                   val (secs, m) = runs.collect { case Right(r) => r }.minBy(_._1)
                   queryMetrics(name) = m
                   Right(secs)
                 })
      }
    def json(rs: Seq[(String, Either[String, Double])]): String = rs.map {
      case (k, Right(v)) => "\"" + k + f"""":$v%.3f"""
      case (k, Left(_)) => "\"" + k + "\":\"err\""
    }.mkString("{", ",", "}")
    val results = time(headline)
    val extras = time(extra)
    val total = results.collect { case (_, Right(v)) => v }.sum
    val loadAfter = loadAvg()
    // "queries"/"extra" stay plain name→seconds (the driver's documented
    // contract); the per-query execution metrics ride in a sibling object.
    val metricsJson = queryMetrics.map { case (k, m) =>
      "\"" + k + s"""":{"shuffle_rd":${m.shuffleRd},"shuffle_wr":${m.shuffleWr},"spill":${m.spill},"peak_mem":${m.peakMem}}"""
    }.mkString("{", ",", "}")
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${json(results)},"extra":${json(extras)},"exec_metrics":$metricsJson,"load_before":$loadBefore%.2f,"load_after":$loadAfter%.2f,"rounds":$rounds,"sf":"$sfDir"}"""
    println(line)
    // The driver's stdout capture keeps only a ~2 KB tail, which truncated
    // round 5's per-query seconds out of BENCH_r05.json — persist the FULL
    // line too (SPARK_GRAFT_BENCH_OUT overrides; commit as bench_out/rNN.json)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench_out/latest.json")
    try {
      val p = java.nio.file.Paths.get(outPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, line + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: $e")
    }
    (results ++ extras).foreach {
      case (k, Left(m)) => System.err.println(s"BENCH FAIL $k: $m")
      case _ => () }
    spark.stop()
    if ((results ++ extras).exists(_._2.isLeft)) sys.exit(1)
  }
}
