package graft

import org.apache.spark.scheduler._

/** Per-JOB and per-STAGE profile of one declared query — the measurement
  * tool the optimization guide's §1 loop needs for COMPOSITE queries,
  * where building a frame once and counting it repeatedly misses the
  * construction-time jobs (localCheckpoints, gate collects, staging
  * writes, streaming micro-batches). Runs the query exactly as Bench
  * does (fresh construction + count per round, caches cleared, sf0.001
  * warmup) and prints:
  *   - the wall / summed-job-wall / driver-gap split (a dominant gap =
  *     driver-bound: planning, commits, collects);
  *   - stages grouped by CALL SITE (stage name), with total stage wall,
  *     task count, task time and its composition (executor run, GC,
  *     (de)serialization, shuffle fetch wait) — the table that says
  *     WHICH code line's stages the seconds belong to.
  *
  * Usage: runMain graft.QProf <query> [sfDir] [rounds]
  */
object QProf {
  private final class StageAgg {
    var stages = 0
    var wall = 0L // sum of per-stage (completion - submission)
    var tasks = 0
    var run = 0L // executorRunTime
    var gc = 0L
    var deser = 0L // task deserialization
    var resSer = 0L // result serialization
    var fetchWait = 0L
    var cpu = 0L // executorCpuTime (ns)
  }

  /** In-process wall-clock sampler: every ~150 ms, record each live
    * thread's topmost "interesting" frame (spark/graft/hadoop/parquet —
    * else the top frame) for RUNNABLE threads, and the main thread's
    * frame regardless of state. Prints the hottest frames per round —
    * the §7.3 thread-dump loop, automated.
    */
  private final class Sampler {
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    @volatile var on = false
    private def bump(k: String): Unit =
      counts.merge(k, 1, (a: Int, b: Int) => a + b)
    val t = new Thread(() => {
      while (true) {
        if (on) {
          val all = Thread.getAllStackTraces()
          all.forEach { (th, frames) =>
            if (frames.nonEmpty) {
              val app = frames.find { f =>
                val c = f.getClassName
                (c.startsWith("org.apache.spark") || c.startsWith("graft") ||
                  c.startsWith("org.apache.hadoop") ||
                  c.startsWith("org.apache.parquet")) &&
                  !c.contains("UninterruptibleThread")
              }
              def ctx(f: StackTraceElement): String = {
                // for lock/util frames, append the nearest caller that
                // says WHOSE lock/util it is
                val i = frames.indexOf(f)
                val caller = frames.drop(i + 1).find { g =>
                  val c = g.getClassName
                  (c.startsWith("org.apache.spark") || c.startsWith("graft")) &&
                    !c.startsWith("org.apache.spark.util")
                }
                f.toString + caller.map(" <= " + _.toString).getOrElse("")
              }
              if (th.getName == "main")
                bump("MAIN: " + app.map(ctx).getOrElse(frames.head.toString))
              else if (th.getState == Thread.State.RUNNABLE && app.isDefined)
                bump("RUN : " + ctx(app.get))
            }
          }
        }
        Thread.sleep(150)
      }
    })
    t.setDaemon(true)
    t.start()
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val rounds = if (args.length > 2) args(2).toInt else 2
    val spark = Sessions.local()
    val sampler = new Sampler
    val jobWindows =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val byName = scala.collection.concurrent.TrieMap[String, StageAgg]()
    val t0s = scala.collection.concurrent.TrieMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        t0s(e.jobId) = e.time
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        t0s.remove(e.jobId).foreach(t0 => jobWindows.add((t0, e.time)))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val agg = byName.getOrElseUpdate(si.name, new StageAgg)
        agg.synchronized {
          agg.stages += 1
          for (s <- si.submissionTime; c <- si.completionTime)
            agg.wall += c - s
          agg.tasks += si.numTasks
          val m = si.taskMetrics
          if (m != null) {
            agg.run += m.executorRunTime
            agg.gc += m.jvmGCTime
            agg.deser += m.executorDeserializeTime
            agg.resSer += m.resultSerializationTime
            agg.fetchWait += m.shuffleReadMetrics.fetchWaitTime
            agg.cpu += m.executorCpuTime
          }
        }
      }
    })
    val qs = SparkEntry.queries
    require(qs.contains(name), s"unknown query $name")
    try qs(name)(spark, "/root/testdata/sf0.001").count()
    catch { case t: Throwable => println(s"[qprof] warmup threw: $t") }
    (1 to rounds).foreach { r =>
      spark.sharedState.cacheManager.clearCache()
      GraftConf.releaseCaches()
      org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
      jobWindows.clear(); byName.clear(); t0s.clear()
      sampler.counts.clear(); sampler.on = true
      val w0 = System.nanoTime()
      qs(name)(spark, sfDir).count()
      val wall = (System.nanoTime() - w0) / 1e9
      sampler.on = false
      org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
      // merge overlapping job windows so concurrent jobs count once
      import scala.jdk.CollectionConverters._
      val ws = jobWindows.asScala.toSeq.sortBy(_._1)
      var cov = 0L
      var curS = Long.MinValue; var curE = Long.MinValue
      ws.foreach { case (s0, e0) =>
        if (s0 > curE) { cov += math.max(0L, curE - curS); curS = s0; curE = e0 }
        else curE = math.max(curE, e0)
      }
      cov += math.max(0L, curE - curS)
      println(f"[qprof] $name round$r wall=$wall%.3fs jobs=${ws.size} " +
        f"jobCover=${cov / 1e3}%.3fs driverGap=${wall - cov / 1e3}%.3fs")
      val rows = byName.toSeq.sortBy(-_._2.wall)
      println("[qprof]   stageWall  #st #task   runTime      cpu       gc" +
        "    deser fetchWait  callSite")
      rows.take(28).foreach { case (n, a) =>
        println(f"[qprof]   ${a.wall / 1e3}%8.3fs ${a.stages}%4d ${a.tasks}%5d " +
          f"${a.run / 1e3}%8.1fs ${a.cpu / 1e9}%8.1fs ${a.gc / 1e3}%7.2fs " +
          f"${a.deser / 1e3}%7.2fs ${a.fetchWait / 1e3}%8.2fs  ${n.take(70)}")
      }
      import scala.jdk.CollectionConverters._
      val hot = sampler.counts.asScala.toSeq.sortBy(-_._2)
      println("[qprof]   hottest sampled frames (150ms ticks):")
      hot.take(22).foreach { case (k, v) =>
        println(f"[qprof]   $v%5d  ${k.take(130)}")
      }
    }
    spark.stop()
  }
}
