package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Lake, Manifest}

/** Round-13 additions, pinned as laws:
  *  - CONCURRENT-COMMIT SAFETY: the HEAD pointer is a versioned
  *    create-exclusive log with compare-and-swap; two racing landings
  *    BOTH end up visible at the final head (round-12 verdict: the
  *    mutable-HEAD swap silently dropped the loser), and an erase
  *    racing a landing re-runs over the landed files instead of
  *    publishing a post-erase version that omits them;
  *  - NTZ stats canonicalize tz-free (wall-clock on both sides): a
  *    non-UTC session zone must not shift min/max and wrongly prune a
  *    matching file;
  *  - `col <=> NULL` matches all-NULL-column files (the comparison
  *    path's all-NULL prune must not fire for null-safe-equality with
  *    a NULL literal).
  */
class Round13OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def inParallel[A](bodies: (() => A)*): Seq[Either[Throwable, A]] = {
    val results = new Array[Either[Throwable, A]](bodies.size)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = bodies.zipWithIndex.map { case (b, i) =>
      new Thread(() => {
        gate.await()
        results(i) =
          try Right(b())
          catch { case t: Throwable => Left(t) }
      })
    }
    threads.foreach(_.start())
    gate.countDown()
    threads.foreach(_.join())
    results.toSeq
  }

  // ——— versioned HEAD + CAS ———————————————————————————————————————————

  test("tryCasHead: stale expected version loses; winner's value holds") {
    val table = TestSpark.tmpDir("graft_cas") + "/t"
    Lake.land(spark, table, (0L until 10L).toDF("id"), "gen-1")
    val (v, names) = Manifest.headState(table)
    assert(names.contains(Set("gen-1")))
    assert(Manifest.tryCasHead(table, v, Set("gen-1")),
      "fresh CAS must succeed")
    assert(!Manifest.tryCasHead(table, v, Set("bogus")),
      "stale-expect CAS must fail")
    assert(Manifest.headOf(table) === Some(Set("gen-1")),
      "loser must not have moved the pointer")
  }

  test("two concurrent landings: BOTH generations' rows visible at " +
      "final HEAD (the round-12 lost-update window)") {
    val table = TestSpark.tmpDir("graft_race_land") + "/t"
    // sequential first land fixes the schema; the race is on the pointer
    Lake.land(spark, table, (0L until 100L).toDF("id"), "gen-0")
    val r = inParallel(
      () => Lake.land(spark, table,
        (100L until 200L).toDF("id"), "gen-a"),
      () => Lake.land(spark, table,
        (200L until 300L).toDF("id"), "gen-b"))
    val errs = r.collect { case Left(t) => t }
    assert(errs.isEmpty, s"landing threw: ${errs.map(_.getMessage)}")
    val ids = Lake.read(spark, table).select($"id")
      .as[Long].collect().sorted
    assert(ids.toSeq == (0L until 300L).toSeq,
      s"final head lost rows: ${ids.length} of 300 " +
        s"(head=${Manifest.headOf(table)})")
  }

  test("erase racing a landing: final table = all landed rows minus " +
      "erased keys, regardless of interleaving") {
    val table = TestSpark.tmpDir("graft_race_erase") + "/t"
    Lake.land(spark, table,
      (0L until 100L).toDF("id").repartitionByRange(4, $"id"), "gen-0")
    val r = inParallel(
      () => Lake.land(spark, table,
        (1000L until 1100L).toDF("id"), "gen-land"): Any,
      () => Lake.eraseKeys(spark, table, "id",
        (50L to 59L), "gen-erase"): Any)
    val errs = r.collect { case Left(t) => t }
    assert(errs.isEmpty, s"racing commit threw: ${errs.map(_.getMessage)}")
    val ids = Lake.read(spark, table).select($"id")
      .as[Long].collect().sorted.toSeq
    val expected =
      ((0L until 100L) ++ (1000L until 1100L)).filterNot(i =>
        i >= 50L && i <= 59L)
    // the erase may serialize before OR after the landing — but the
    // landing's rows must never vanish, and the erased keys are gone
    // in either serialization (the landed ids are disjoint from the
    // key set, so both orders agree on the final table)
    assert(ids == expected,
      s"racing land+erase lost rows: ${ids.length} of ${expected.length}")
  }

  test("writeHead survives concurrent advanceHead: no lost union") {
    val table = TestSpark.tmpDir("graft_race_advance") + "/t"
    Manifest.publish(table, "m-0", Seq.empty)
    (1 to 8).foreach(i => Manifest.publish(table, s"m-$i", Seq.empty))
    inParallel((1 to 8).map(i =>
      () => Manifest.advanceHead(table, s"m-$i")): _*)
    Manifest.advanceHead(table, "m-0")
    val head = Manifest.headOf(table).get
    assert((0 to 8).forall(i => head.contains(s"m-$i")),
      s"concurrent advances lost names: $head")
  }

  test("legacy HEAD file still resolves; first CAS migrates to the " +
      "versioned log") {
    val table = TestSpark.tmpDir("graft_legacy_head") + "/t"
    Manifest.publish(table, "m-1", Seq.empty)
    // simulate a pre-round-13 table: single mutable HEAD file, no heads/
    val f = Manifest.fs(table)
    val out = f.create(new org.apache.hadoop.fs.Path(table, "HEAD"), true)
    out.write("m-1\n".getBytes("UTF-8")); out.close()
    val (v0, names0) = Manifest.headState(table)
    assert(v0 == 0L && names0 === Some(Set("m-1")), "legacy read failed")
    Manifest.publish(table, "m-2", Seq.empty)
    Manifest.advanceHead(table, "m-2")
    val (v1, names1) = Manifest.headState(table)
    assert(v1 == 1L && names1 === Some(Set("m-1", "m-2")),
      s"migration to versioned log failed: v=$v1 names=$names1")
  }

  // ——— NTZ + null-safe-equality pruning ———————————————————————————————

  test("NTZ stats prune tz-free: non-UTC session zone neither loses " +
      "rows nor goes vacuous") {
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      val table = TestSpark.tmpDir("graft_ntz") + "/t"
      val rows = (0 until 96).map { i =>
        (i.toLong, java.time.LocalDateTime.of(2024, 3, 1, 0, 0)
          .plusHours(i.toLong)) // spans a DST boundary month start
      }.toDF("id", "ts")
      Lake.land(spark, table, rows.repartitionByRange(4, $"ts"), "gen-1")
      val cut = java.time.LocalDateTime.of(2024, 3, 2, 12, 0)
      val pred = col("ts") >= lit(cut)
      val (sel, skipped) = Lake.planFiles(table, None, Some(pred))
      assert(skipped.nonEmpty && sel.nonEmpty,
        s"NTZ pruning vacuous: sel=${sel.size} skipped=${skipped.size}")
      val pruned = Lake.read(spark, table, None, Some(pred))
        .select($"id").as[Long].collect().sorted.toSeq
      val expected = rows.filter(pred).select($"id")
        .as[Long].collect().sorted.toSeq
      assert(pruned == expected,
        s"NTZ pruning lost rows under non-UTC zone: " +
          s"${pruned.length} vs ${expected.length}")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("col <=> NULL selects all-NULL-column files (inclusive " +
      "pruning invariant)") {
    val table = TestSpark.tmpDir("graft_nseq") + "/t"
    // file grain = repartition slices: ids 0-49 carry NULL tag, 50-99
    // a value — range partitioning on id gives an all-NULL tag file
    val df = (0L until 100L).toDF("id")
      .withColumn("tag", when($"id" < 50L, lit(null).cast("string"))
        .otherwise(concat(lit("t"), $"id")))
    Lake.land(spark, table, df.repartitionByRange(4, $"id"), "gen-1")
    val pred = col("tag") <=> lit(null).cast("string")
    val got = Lake.read(spark, table, None, Some(pred))
      .select($"id").as[Long].collect().sorted.toSeq
    assert(got == (0L until 50L).toSeq,
      s"<=> NULL lost rows from all-NULL files: got ${got.length} of 50")
    // and the comparison path still prunes: an equality on tag skips
    // the all-NULL files
    val (sel, skipped) = Lake.planFiles(table, None,
      Some(col("tag") === "t75"))
    assert(skipped.nonEmpty && sel.nonEmpty,
      s"equality pruning vacuous: sel=${sel.size} skipped=${skipped.size}")
  }
}
