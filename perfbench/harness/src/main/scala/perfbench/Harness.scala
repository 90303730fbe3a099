package perfbench

import java.io.{File, PrintWriter}

import scala.util.{Failure, Success, Try}

/** Benchmark process: one workload, closed loop, one client.
  *
  * Usage: `Harness <plan.json> <result.json>`. The plan (written by
  * `perfbench/run.py`) names the workload, seed, measured seconds, trace
  * flag, core count, run directory and the generated inputs. The process
  *  1. starts a `local[N]` session, warms up with one untimed pass over
  *     throwaway state, then builds the workload's state `setup_reps`
  *     times, each in a fresh directory (the last one is measured);
  *  2. runs whole passes of the workload's ops until `seconds` have passed
  *     (and, untraced, at least 12 ops ran), timing each op alone; with tracing on, odd passes are traced and even
  *     passes are not (at least untraced, traced, untraced), so one run
  *     gives both walls;
  *  3. snapshots the session conf around every op and fails an op that
  *     changed it;
  *  4. writes op records, pass walls and hygiene to the result file and the
  *     spans to `spans.jsonl` next to it.
  */
object Harness {
  private def loadAvg(): Double =
    Try(scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+").head.toDouble)
      .getOrElse(-1.0)

  private def peakRssMb(): Double =
    Try(scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(-1.0)

  def main(args: Array[String]): Unit = {
    val plan = Json.mapper.readTree(new File(args(0)))
    val resultPath = args(1)
    val out = Json.mapper.createObjectNode()
    val runDir = plan.get("run_dir").asText
    val cores = plan.get("cores").asInt
    val spark = graft.Sessions.local(cores.toString)
    spark.sparkContext.setLogLevel("ERROR")
    out.put("session_ready_ms", System.currentTimeMillis())
    out.put("spark_version", spark.version)
    out.put("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576.0)
    out.put("cores", cores)
    val headline = out.putArray("headline")
    graft.Bench.headline.foreach(n => headline.add(n))

    val workload = Workload(plan.get("workload").asText, spark, plan)
    val tracer = new Tracer(new Recorder(spark))
    val t0 = System.nanoTime()
    workload.warmUp(s"$runDir/warmup", tracer)
    Dirs.delete(s"$runDir/warmup")
    out.put("warmup_s", (System.nanoTime() - t0) / 1e9)
    val prep = out.putArray("prep_s")
    val reps = plan.get("setup_reps").asInt
    (1 to reps).foreach { r =>
      val t1 = System.nanoTime()
      workload.prepare(s"$runDir/state$r")
      prep.add((System.nanoTime() - t1) / 1e9)
      if (r > 1) Dirs.delete(s"$runDir/state${r - 1}")
    }

    val seconds = plan.get("seconds").asDouble
    val trace = plan.get("trace").asBoolean
    // traced runs alternate untraced and traced passes, starting and ending
    // untraced, so the traced pass is bracketed by the walls it is compared to
    val minPasses = if (trace) 3 else 1
    // the end-to-end medians need samples: at least 12 ops, whatever the
    // host speed (traced runs report means over their traced pass instead)
    val minOps = if (trace) 0 else 12
    val ops = out.putArray("ops")
    val passes = out.putArray("passes")
    out.put("load_before", loadAvg())
    val start = System.nanoTime()
    var p = 0
    var opId = 0L
    var done = false
    while (!done) {
      val traced = trace && p % 2 == 1
      if (traced) tracer.start()
      var wall = 0.0
      workload.pass(p).foreach { op =>
        tracer.opId = opId
        val rec = Json.obj("op", opId, "pass", p, "traced", traced, "name", op.name,
          "records", op.records, "input_bytes", op.inputBytes)
        opId += 1
        val outcome = Try(op.prepare(tracer)).flatMap { _ =>
          val conf0 = spark.conf.getAll
          val t0 = System.nanoTime()
          val res = Try(tracer.span("op")(op.run(tracer)))
          val secs = (System.nanoTime() - t0) / 1e9
          wall += secs
          rec.put("latency_s", secs)
          val conf1 = spark.conf.getAll
          res.map[Option[String]] { v =>
            if (conf0 != conf1) {
              val changed = (conf0.keySet ++ conf1.keySet)
                .filter(k => conf0.get(k) != conf1.get(k))
              Some(s"session conf changed: ${changed.mkString(", ")}")
            } else op.verify(v)
          }
        }
        outcome match {
          case Success(None) => ()
          case Success(Some(err)) => rec.put("error", err)
          case Failure(e) => rec.put("error", e.toString)
        }
        Try(op.attrs()).foreach(_.foreach { case (k, v) => Json.put(rec, k, v) })
        if (rec.has("error")) System.err.println(s"[perfbench] op ${op.name} failed: ${rec.get("error").asText}")
        ops.add(rec)
      }
      if (traced) tracer.stop()
      passes.add(Json.obj("pass", p, "traced", traced, "wall_s", wall))
      val elapsed = (System.nanoTime() - start) / 1e9
      done = p + 1 >= minPasses && elapsed >= seconds && ops.size >= minOps &&
        (!trace || !traced)
      workload.endPass(p, done)
      p += 1
    }
    out.put("measured_s", (System.nanoTime() - start) / 1e9)
    out.put("load_after", loadAvg())
    out.put("peak_rss_mb", peakRssMb())
    workload.finish(out.putObject("outputs"))
    spark.stop()

    val spans = new PrintWriter(new File(new File(resultPath).getParentFile, "spans.jsonl"))
    try tracer.spans.foreach(s => spans.println(s.toString)) finally spans.close()
    Json.mapper.writeValue(new File(resultPath), out)
  }
}
