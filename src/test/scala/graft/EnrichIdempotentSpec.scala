package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.enrich.Enrich
import graft.idempotent.Idempotent

class EnrichIdempotentSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("withCodigoIbge joins on normalized key and falls back to 0") {
    val facts = Seq("  BOTUCATU ", "São Paulo", "Nowhere").toDF("municipio")
    val dim = Seq(("botucatu", 3507506L), ("são paulo", 3550308L))
      .toDF("nome", "cod")
    val out = Enrich.withCodigoIbge(facts, dim, $"municipio", $"nome", $"cod")
      .orderBy("municipio").collect()
    val byName = out.map(r => r.getString(0).trim.toLowerCase -> r.getAs[Long]("codigo_ibge")).toMap
    assert(byName("botucatu") === 3507506L)
    assert(byName("são paulo") === 3550308L)
    assert(byName("nowhere") === 0L) // graceful degradation (O5)
  }

  test("incrementalAppend is idempotent: re-running loads zero new rows") {
    val dir = TestSpark.tmpDir("incr") + "/table"
    val batch = Seq(("a", 2024L, 1L, 10.0), ("b", 2024L, 1L, 20.0))
      .toDF("municipio", "ano_ref", "mes_ref", "valor")
    val keys = Seq("municipio", "ano_ref", "mes_ref")
    val first = Idempotent.incrementalAppend(spark, batch, dir, keys)
    assert(first === Idempotent.LoadStats(2, 0, 2))
    val second = Idempotent.incrementalAppend(spark, batch, dir, keys)
    assert(second === Idempotent.LoadStats(2, 2, 0))
    assert(spark.read.parquet(dir).count() === 2)
    // a mixed batch loads only the genuinely new key
    val third = Idempotent.incrementalAppend(spark,
      Seq(("a", 2024L, 1L, 99.0), ("c", 2024L, 2L, 30.0))
        .toDF("municipio", "ano_ref", "mes_ref", "valor"), dir, keys)
    assert(third === Idempotent.LoadStats(2, 1, 1))
    assert(spark.read.parquet(dir).count() === 3)
  }

  private val keys = Seq("municipio", "ano_ref", "mes_ref")
  private def delivery(rows: (String, Long, Long, Double)*) =
    rows.toDF("municipio", "ano_ref", "mes_ref", "valor")

  test("incrementalAppend: a zero-row re-send leaves every lake file as it was") {
    val dir = TestSpark.tmpDir("incr-resend") + "/table"
    val batch = delivery(("a", 2024L, 1L, 10.0), ("b", 2024L, 1L, 20.0))
    Idempotent.incrementalAppend(spark, batch, dir, keys)
    val before = TestSpark.files(dir)
    assert(Idempotent.incrementalAppend(spark, batch, dir, keys) ===
      Idempotent.LoadStats(2, 2, 0))
    assert(TestSpark.files(dir) === before)
  }

  test("incrementalAppend: an empty delivery writes nothing; a first load creates the table") {
    val missing = TestSpark.tmpDir("incr-first") + "/table"
    val empty = delivery()
    assert(Idempotent.incrementalAppend(spark, empty, missing, keys) ===
      Idempotent.LoadStats(0, 0, 0))
    assert(!new java.io.File(missing).exists(), "an empty delivery created the table")
    val batch = delivery(("a", 2024L, 1L, 10.0), ("b", 2024L, 2L, 20.0))
    assert(Idempotent.incrementalAppend(spark, batch, missing, keys) ===
      Idempotent.LoadStats(2, 0, 2))
    assert(spark.read.parquet(missing).count() === 2L)
    val loaded = TestSpark.files(missing)
    assert(Idempotent.incrementalAppend(spark, empty, missing, keys) ===
      Idempotent.LoadStats(0, 0, 0))
    assert(TestSpark.files(missing) === loaded)
    // an empty directory, as an aborted first write leaves it, holds no table
    val bare = TestSpark.tmpDir("incr-bare")
    assert(Idempotent.incrementalAppend(spark, batch, bare, keys) ===
      Idempotent.LoadStats(2, 0, 2))
  }

  test("incrementalAppend: an unreadable lake fails the load instead of re-appending") {
    val dir = TestSpark.tmpDir("incr-corrupt")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part-00000.snappy.parquet"), "not parquet")
    val before = TestSpark.files(dir)
    intercept[Exception](Idempotent.incrementalAppend(spark,
      delivery(("a", 2024L, 1L, 10.0)), dir, keys))
    assert(TestSpark.files(dir) === before, "a failed history read must not append")
  }

  test("incrementalAppend scans the delivery once") {
    val scanned = spark.sparkContext.longAccumulator("incr-scanned")
    // a filter, so no column pruning skips it; over a range, not a local
    // relation, so the optimizer does not evaluate it itself
    val seen = udf { (_: Long) => scanned.add(1); true }.asNondeterministic()
    val dir = TestSpark.tmpDir("incr-scans") + "/table"
    Idempotent.incrementalAppend(spark,
      delivery(("a", 2024L, 1L, 10.0)), dir, keys)
    val batch = spark.range(2).filter(seen($"id")).select(
      when($"id" === 0, "a").otherwise("b").as("municipio"),
      lit(2024L).as("ano_ref"), lit(1L).as("mes_ref"), ($"id" * 10.0).as("valor"))
    assert(Idempotent.incrementalAppend(spark, batch, dir, keys) ===
      Idempotent.LoadStats(2, 1, 1))
    assert(scanned.value === 2L, "each delivered row must be read once")
  }

  test("incrementalAppend: a re-send over an int-keyed lake loads nothing (the V22 fix)") {
    // the lake's keys are int, in the data and in partition directory names;
    // the delivery's are bigint
    val lake = Seq(("a", 2024, 1, 10.0), ("b", 2024, 1, 20.0))
      .toDF("municipio", "ano_ref", "mes_ref", "valor")
    val resend = delivery(("a", 2024L, 1L, 10.0), ("b", 2024L, 1L, 20.0))
    val flat = TestSpark.tmpDir("incr-int") + "/table"
    val partitioned = TestSpark.tmpDir("incr-int-part") + "/table"
    lake.write.parquet(flat)
    lake.write.partitionBy("ano_ref", "mes_ref").parquet(partitioned)
    Seq(flat, partitioned).foreach { dir =>
      val (stats, run) = TestSpark.activity(
        Idempotent.incrementalAppend(spark, resend, dir, keys))
      assert(stats === Idempotent.LoadStats(2, 2, 0), dir)
      // the history broadcast, the delta's cache and the noop write over it;
      // the lake's schema comes from a footer read on the driver, not a job
      assert(run.jobs === 3, dir)
    }
  }

  test("newRows aligns mismatched key types (the V22 fix)") {
    val incoming = Seq(("a", 2024L)).toDF("k", "ano")
    val history = Seq(("a", "2024"), ("b", "2023")).toDF("k", "ano") // string keys
    assert(Idempotent.newRows(incoming, history, Seq("k", "ano")).count() === 0)
  }

  test("overwritePartitions replaces only the partitions present in the batch") {
    // the session pinned to static: dynamic overwrite must come from the
    // write itself, and the session's own mode must survive the call
    val mode = "spark.sql.sources.partitionOverwriteMode"
    TestSpark.withConfs(Seq(mode -> "static")) {
      val dir = TestSpark.tmpDir("dpo") + "/table"
      val jan = Seq(("a", 1L, 1.0), ("b", 1L, 2.0)).toDF("m", "mes_ref", "v")
      val feb = Seq(("c", 2L, 3.0)).toDF("m", "mes_ref", "v")
      Idempotent.overwritePartitions(jan, dir, Seq("mes_ref"))
      Idempotent.overwritePartitions(feb, dir, Seq("mes_ref"))
      // re-run january with different content: february must survive
      val jan2 = Seq(("a", 1L, 9.0)).toDF("m", "mes_ref", "v")
      Idempotent.overwritePartitions(jan2, dir, Seq("mes_ref"))
      val out = spark.read.parquet(dir)
      assert(out.count() === 2)
      assert(out.filter($"mes_ref" === 2).count() === 1)
      assert(out.filter($"mes_ref" === 1).select("v").as[Double].head() === 9.0)
      assert(spark.conf.get(mode) === "static")
    }
  }

  test("latestPerKey keeps the newest row per key") {
    val df = Seq(("u1", 1L, "old"), ("u1", 5L, "new"), ("u2", 3L, "only"))
      .toDF("user", "ts", "tag")
    val out = Idempotent.latestPerKey(df, Seq("user"), Seq("ts"))
      .orderBy("user").select("tag").as[String].collect()
    assert(out.toSeq === Seq("new", "only"))
  }

  test("scd2Merge treats null attrs null-safely and covers all four cases") {
    import graft.enrich.Enrich
    val cur = Seq(
      (1L, Some("a")),   // unchanged
      (2L, Some("b")),   // changed b -> b2
      (3L, None),        // unchanged with NULL attr (null <=> null)
      (4L, Some("d")))   // deleted
      .toDF("k", "attr")
    val nxt = Seq(
      (1L, Some("a")),
      (2L, Some("b2")),
      (3L, None),
      (5L, Some("e")))   // inserted
      .toDF("k", "attr")
    val out = Enrich.scd2Merge(cur, nxt, Seq("k"), Seq("attr"), "2024-02-01")
      .orderBy("k", "valid_from")
      .select("k", "attr", "valid_to", "is_current")
      .as[(Long, Option[String], String, Boolean)].collect().toSeq
    assert(out === Seq(
      (1L, Some("a"), "9999-12-31", true),          // unchanged stays open
      (2L, Some("b"), "2024-02-01", false),         // old version closed
      (2L, Some("b2"), "9999-12-31", true),         // new version open
      (3L, None, "9999-12-31", true),               // null attr: NOT a change
      (4L, Some("d"), "2024-02-01", false),         // delete closes
      (5L, Some("e"), "9999-12-31", true)))         // insert opens
  }

  test("scd2Merge chains: valid_from propagates through iterative merges") {
    import graft.enrich.Enrich
    val day0 = Seq((1L, "a"), (2L, "b")).toDF("k", "attr")
    val day1 = Seq((1L, "a"), (2L, "b2")).toDF("k", "attr") // 2 changes
    val day2 = Seq((1L, "a"), (2L, "b2")).toDF("k", "attr") // nothing changes
    val h1 = Enrich.scd2Merge(day0, day1, Seq("k"), Seq("attr"), "2024-02-01")
    // feed the open rows back as `current`, propagating their real dates
    val h2 = Enrich.scd2Merge(h1.filter($"is_current"), day2,
      Seq("k"), Seq("attr"), "2024-03-01",
      validFromCol = Some("valid_from"))
    val out = h2.orderBy("k")
      .select("k", "attr", "valid_from", "valid_to", "is_current")
      .as[(Long, String, String, String, Boolean)].collect().toSeq
    assert(out === Seq(
      (1L, "a", "1900-01-01", "9999-12-31", true),  // never changed
      (2L, "b2", "2024-02-01", "9999-12-31", true)), // keeps day-1 date
      "a chained merge must keep each version's REAL effective date")
    // without validFromCol the default stays the documented one-shot diff
    val oneShot = Enrich.scd2Merge(h1.filter($"is_current"), day2,
      Seq("k"), Seq("attr"), "2024-03-01")
    assert(oneShot.filter($"k" === 2L).select("valid_from")
      .as[String].head() === "1900-01-01")
  }

  test("mergeAggState folds any split of deltas to the direct aggregation") {
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    def partials(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"value".cast("decimal(18,2)")).as("sv"))
    def asMap(df: org.apache.spark.sql.DataFrame): Map[String, (Long, String)] =
      df.select($"event_type", $"n", $"sv".cast("string"))
        .as[(String, Long, String)].collect()
        .map { case (t, n, sv) => t -> (n, sv) }.toMap
    val direct = asMap(partials(ev))
    // split three ways by user bucket, merge pairwise (associativity)
    val parts = (0 until 3).map(i => partials(ev.filter($"user_id" % 3 === i)))
    val merged = asMap(parts.reduce((a, b) =>
      Idempotent.mergeAggState(a, b, Seq("event_type"), Seq("n", "sv"))))
    assert(merged === direct,
      "incremental merge must equal the full recompute exactly")
  }

  test("profile's approx path keeps the shape and lands near exact distincts") {
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val exact = graft.ops.Profile.profile(docs, Seq("lang", "source"))
      .select("column", "n_distinct").as[(String, Long)].collect().toMap
    val approx = graft.ops.Profile.profile(docs, Seq("lang", "source"),
      exact = false)
      .select("column", "n_distinct").as[(String, Long)].collect().toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (c, n) =>
      assert(math.abs(approx(c) - n) <= math.max(1L, (n * 0.1).toLong),
        s"$c approx ${approx(c)} too far from exact $n")
    }
  }
}
