package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streaming

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val eventRows = Seq(
    (1L, ts("2024-01-01 00:05:00"), 7L, "click", 1.0),
    (2L, ts("2024-01-01 00:20:00"), 7L, "click", 2.0),
    (3L, ts("2024-01-01 01:10:00"), 8L, "view", 3.0),
    (3L, ts("2024-01-01 01:10:00"), 8L, "view", 3.0)) // duplicate record
    .toDF("event_id", "ts", "user_id", "event_type", "value")

  test("foreachBatch partition sink absorbs full redelivery (exactly-once table)") {
    val src = TestSpark.tmpDir("fb-src")
    val table = TestSpark.tmpDir("fb-dst") + "/table"
    eventRows.write.mode("append").parquet(src)
    def run(): Unit = Streaming.partitionedSink(
      spark.readStream.schema(eventRows.schema).parquet(src),
      table, Seq("event_type"), TestSpark.tmpDir("fb-ckpt"))
    run()
    def snapshot(): Seq[String] = spark.read.parquet(table)
      .select($"event_id", $"user_id", $"event_type", $"value")
      .collect().map(_.toString).sorted.toSeq
    val first = snapshot()
    assert(first.nonEmpty)
    // fresh checkpoint = the ENTIRE input replays (worst-case redelivery):
    // partition overwrite must converge, not append duplicates
    run()
    assert(snapshot() === first,
      "replaying every batch must leave the table byte-identical")
  }

  test("dedupWithinWatermark drops near repeats, passes late re-occurrences") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val q = Streaming.dedupWithinWatermark(
        input.toDF().toDF("k", "ts"), Seq("k"), "ts", "10 minutes")
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("dedup_ww").start()
    try {
      // batch 1: a key and its immediate redelivery -> one survivor
      input.addData((1L, ts("2024-01-01 00:00:00")),
        (1L, ts("2024-01-01 00:01:00")), (2L, ts("2024-01-01 00:02:00")))
      q.processAllAvailable()
      // batch 2 advances the watermark hours past key 1's state horizon
      input.addData((3L, ts("2024-01-01 03:00:00")))
      q.processAllAvailable()
      // batch 3: key 1 again — its state was evicted, so it is NEW by
      // contract (the bounded-state trade, vs dropDuplicates' forever-state)
      input.addData((1L, ts("2024-01-01 03:01:00")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("dedup_ww").select("k")
      .as[Long].collect().sorted.toSeq
    assert(rows === Seq(1L, 1L, 2L, 3L),
      "near-duplicate dropped once; beyond-horizon re-occurrence passes")
  }

  test("partition sink: incremental batches never clobber earlier landings") {
    val src = TestSpark.tmpDir("fb-inc-src")
    val table = TestSpark.tmpDir("fb-inc-dst") + "/table"
    val ck = TestSpark.tmpDir("fb-inc-ckpt") // SAME checkpoint across runs
    def run(): Unit = Streaming.partitionedSink(
      spark.readStream.schema(eventRows.schema).parquet(src),
      table, Seq("event_type"), ck)
    eventRows.filter($"event_id" <= 2).coalesce(1)
      .write.mode("append").parquet(src)
    run()
    // a later delivery carrying a SUBSET of the click partition must not
    // delete the clicks already landed (the naive overwrite-by-user-key
    // sink fails exactly here)
    eventRows.filter($"event_id" === 3).limit(1).coalesce(1)
      .write.mode("append").parquet(src)
    run()
    val ids = spark.read.parquet(table)
      .select("event_id").distinct().as[Long].collect().sorted.toSeq
    assert(ids === Seq(1L, 2L, 3L), "incremental delivery lost landed rows")
  }

  test("partition sink: a partition value spanning multiple batches survives") {
    val src = TestSpark.tmpDir("fb-mb-src")
    val table = TestSpark.tmpDir("fb-mb-dst") + "/table"
    // two files, BOTH carrying the click partition, forced into separate
    // micro-batches: batch 1's subset overwrite must not erase batch 0's
    eventRows.filter($"event_id" === 1).coalesce(1)
      .write.mode("append").parquet(src)
    eventRows.filter($"event_id" === 2).coalesce(1)
      .write.mode("append").parquet(src)
    Streaming.partitionedSink(
      spark.readStream.schema(eventRows.schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
      table, Seq("event_type"), TestSpark.tmpDir("fb-mb-ckpt"))
    val ids = spark.read.parquet(table)
      .select("event_id").distinct().as[Long].collect().sorted.toSeq
    assert(ids === Seq(1L, 2L), "multi-batch run lost a batch's rows")
  }

  test("funnelLanding: exactly-once completions across batches and replay") {
    val funnelRows = Seq(
      (1L, ts("2024-01-01 00:00:00"), 7L, "view", 0.0),
      (2L, ts("2024-01-01 00:01:00"), 7L, "click", 0.0),
      (3L, ts("2024-01-01 00:02:00"), 7L, "purchase", 0.0),
      (4L, ts("2024-01-01 00:00:30"), 8L, "view", 0.0)) // never completes
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    // ---- incremental: the three stages arrive in SEPARATE micro-batches,
    // so the completion is emitted from state spanning batches
    val src = TestSpark.tmpDir("fl-src")
    val table = TestSpark.tmpDir("fl-dst") + "/table"
    val ck = TestSpark.tmpDir("fl-ck")
    Seq(1L, 2L, 3L, 4L).foreach { id =>
      funnelRows.filter($"event_id" === id)
        .coalesce(1).write.mode("append").parquet(src)
    }
    def land(checkpoint: String): Unit = Streaming.funnelLanding(
      spark.readStream.schema(funnelRows.schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
      table, checkpoint)
    land(ck)
    def completions(): Seq[(Long, Long)] = spark.read.parquet(table)
      .select($"user_id", $"t_purchase_us").as[(Long, Long)]
      .collect().sorted.toSeq
    val first = completions()
    assert(first.map(_._1) === Seq(7L),
      "exactly one completion row for the one user who finished the funnel")
    // rerun on the SAME checkpoint with no new data: nothing changes
    land(ck)
    assert(completions() === first)
    // ---- full redelivery from a fresh checkpoint, single-batch drain
    // (the documented convergence case): kill-and-rerun converges
    val table2 = TestSpark.tmpDir("fl-dst2") + "/table"
    def landAll(run: Int): Unit = Streaming.funnelLanding(
      spark.readStream.schema(funnelRows.schema).parquet(src),
      table2, TestSpark.tmpDir(s"fl-ck2-$run"))
    landAll(0)
    val once = spark.read.parquet(table2)
      .select($"user_id", $"t_purchase_us").as[(Long, Long)]
      .collect().sorted.toSeq
    landAll(1)
    val twice = spark.read.parquet(table2)
      .select($"user_id", $"t_purchase_us").as[(Long, Long)]
      .collect().sorted.toSeq
    assert(once === first && twice === once,
      "full redelivery must converge to the same completion table")
  }

  test("incrementalFileLoad processes each file exactly once across restarts") {
    val src = TestSpark.tmpDir("stream-src")
    val dst = TestSpark.tmpDir("stream-dst") + "/out"
    val ckpt = TestSpark.tmpDir("stream-ckpt")
    eventRows.limit(2).write.mode("append").parquet(src)
    val schema = eventRows.schema
    Streaming.incrementalFileLoad(spark, src, schema,
      Seq("event_id"), "ts", "1 hour", dst, ckpt)
    assert(spark.read.parquet(dst).count() === 2)
    // restart with one new file: only the new rows land, old file not re-read
    eventRows.filter($"event_id" === 3L).write.mode("append").parquet(src)
    Streaming.incrementalFileLoad(spark, src, schema,
      Seq("event_id"), "ts", "1 hour", dst, ckpt)
    val out = spark.read.parquet(dst)
    assert(out.count() === 3) // 2 + 1 (duplicate event_id 3 dropped)
    assert(out.select("event_id").distinct().count() === 3)
  }

  /** Four one-file deliveries of keys for the CMS maintainer. */
  private def cmsBatches = (0 until 4).map(i =>
    ((0 until 6).map(j => s"k$j") ++ Seq.fill(i + 1)("hot")).toDF("key"))

  test("cmsMaintain: versioned fold keeps 2 versions and replays exactly once") {
    // CMS counters add, so a replayed batch folded onto the wrong base
    // version would show up as a double count
    val files = cmsBatches
    val src = TestSpark.tmpDir("cms-src")
    files.foreach(_.coalesce(1).write.mode("append").parquet(src))
    val state = TestSpark.tmpDir("cms-state") + "/state"
    val ckpt = TestSpark.tmpDir("cms-ckpt")
    def run(): Unit = Streaming.cmsMaintain(spark, src, files.head.schema,
      "key", depth = 3, width = 16, state, ckpt)
    def cells(df: org.apache.spark.sql.DataFrame): Seq[(Int, Long, Long)] =
      df.select("r", "c", "cnt").as[(Int, Long, Long)].collect().sorted.toSeq
    val expected = cells(graft.ops.Sketch.cmsState(
      files.reduce(_ unionByName _), $"key", 3, 16))

    run()
    def versions(): Seq[String] =
      new java.io.File(state).list().filter(_.startsWith("v")).sorted.toSeq
    assert(versions() === Seq("v2", "v3"),
      "4 one-file micro-batches must leave exactly the newest 2 versions")
    assert(cells(Streaming.latestCmsState(spark, state)) === expected)

    // redelivery: drop the last batch's commit so the restart re-runs
    // batch 3 from its logged offsets; it must rebuild v3 from v2, not
    // fold onto v3 again
    Seq("3", ".3.crc").foreach(f =>
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(ckpt, "commits", f)))
    run()
    assert(versions() === Seq("v2", "v3"))
    assert(cells(Streaming.latestCmsState(spark, state)) === expected,
      "a replayed batch must not double count")

    val empty = Streaming.latestCmsState(spark,
      TestSpark.tmpDir("cms-none") + "/state")
    assert(empty.schema.fieldNames.toSeq === Seq("r", "c", "cnt"))
    assert(empty.count() === 0L)
  }

  test("cmsMaintain: a fresh checkpoint over existing state fails and keeps it") {
    val files = cmsBatches
    val src = TestSpark.tmpDir("cms-src")
    files.foreach(_.coalesce(1).write.mode("append").parquet(src))
    val state = TestSpark.tmpDir("cms-state") + "/state"
    def run(ckpt: String): Unit = Streaming.cmsMaintain(spark, src,
      files.head.schema, "key", depth = 3, width = 16, state, ckpt)
    run(TestSpark.tmpDir("cms-ckpt"))
    val before = TestSpark.files(state)
    assert(before.keySet.map(_.takeWhile(_ != '/')) === Set("v2", "v3"))

    // batch ids restart at 0 under a new checkpoint: folding on would prune
    // the new versions at once and drop batches, so the call must fail
    val err = intercept[Exception](run(TestSpark.tmpDir("cms-ckpt2")))
    val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
    val refusal = causes.collectFirst { case e: IllegalStateException => e }
    assert(refusal.isDefined, s"expected an IllegalStateException in $err")
    assert(Seq(state, "v3", "v0").forall(refusal.get.getMessage.contains),
      refusal.get.getMessage)
    assert(TestSpark.files(state) === before, "v2/v3 must be left as they were")
  }

  test("windowedCounts aggregates per tumbling window with a watermark") {
    val src = TestSpark.tmpDir("wstream-src")
    eventRows.write.mode("append").parquet(src)
    val stream = spark.readStream.schema(eventRows.schema).parquet(src)
    val agg = Streaming.windowedCounts(stream, windowLen = "1 hour")
    val result = Streaming.runToMemory(agg, "wc_test",
      org.apache.spark.sql.streaming.OutputMode.Complete)
    val byType = result.select(col("event_type"), col("n_events"))
      .as[(String, Long)].collect().toMap
    assert(byType("click") === 2L)
    assert(byType("view") === 2L)
  }

  private val sfDir = "/root/testdata/sf0.001"

  /** Run the approx-distinct stream over the real events table and return
    * per-user estimates (max across Update-mode emissions — estimates are
    * monotone as values arrive).
    */
  private def approxByUser(queryName: String): Map[Long, Long] = {
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(sfDir)
    Streaming.runToMemory(Streaming.distinctTypesApprox(stream), queryName,
      org.apache.spark.sql.streaming.OutputMode.Update)
      .groupBy("user_id").agg(max("n_types_approx").as("n"))
      .as[(Long, Long)].collect().toMap
  }

  private lazy val exactByUser: Map[Long, Long] =
    spark.read.parquet(s"$sfDir/events.parquet")
      .groupBy("user_id").agg(countDistinct("event_type").as("n"))
      .as[(Long, Long)].collect().toMap

  test("Update-mode approx distinct stays within the HLL error envelope") {
    val approx = approxByUser("approx_distinct_test")
    assert(approx.keySet === exactByUser.keySet)
    approx.foreach { case (u, est) =>
      val ex = exactByUser(u)
      assert(math.abs(est - ex) <= math.max(1L, math.ceil(ex * 0.15).toLong),
        s"user $u: approx $est vs exact $ex exceeds the envelope")
    }
  }

  test("approx distinct runs unchanged on the RocksDB state store") {
    val default = approxByUser("approx_distinct_default_provider")
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // HLL sketches are deterministic: provider choice must not change
      // results, only where state lives (disk vs executor heap)
      assert(approxByUser("approx_distinct_rocksdb_provider") === default)
    } finally spark.conf.unset(key)
  }

  test("runningUserTotals keeps per-user state via mapGroupsWithState") {
    val out = Streaming.runningUserTotals(eventRows)
      .orderBy("user_id")
      .select("user_id", "n", "total").as[(Long, Long, Double)].collect()
    assert(out.toSeq === Seq((7L, 2L, 3.0), (8L, 2L, 6.0)))
  }

  test("funnelStream: multi-batch completion, at-most-once, order rules") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val q = Streaming.funnelStream(
        input.toDF().toDF("user_id", "ts", "event_type"))
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("funnel_ms").start()
    try {
      // batch 1: user 1 views+clicks (clicks BEFORE the view are ignored
      // even when the batch delivers them first); user 2 completes whole
      // funnel in one batch, delivered out of order
      input.addData(
        (1L, ts("2024-01-01 00:00:30"), "click"), // pre-view click: ignored
        (1L, ts("2024-01-01 00:01:00"), "view"),
        (1L, ts("2024-01-01 00:02:00"), "click"),
        (2L, ts("2024-01-01 00:03:00"), "purchase"),
        (2L, ts("2024-01-01 00:01:00"), "view"),
        (2L, ts("2024-01-01 00:02:00"), "click"))
      q.processAllAvailable()
      // batch 2: user 1's purchase arrives -> completes across batches;
      // user 2 purchases AGAIN -> no second emission (state was dropped)
      input.addData(
        (1L, ts("2024-01-01 00:05:00"), "purchase"),
        (2L, ts("2024-01-01 00:06:00"), "purchase"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("funnel_ms")
      .select("user_id", "t_view_us", "t_click_us", "t_purchase_us")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    def us(s: String) = ts(s).getTime * 1000L
    assert(rows === Seq(
      (1L, us("2024-01-01 00:01:00"), us("2024-01-01 00:02:00"),
        us("2024-01-01 00:05:00")),
      (2L, us("2024-01-01 00:01:00"), us("2024-01-01 00:02:00"),
        us("2024-01-01 00:03:00"))))
  }
}
