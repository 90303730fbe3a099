package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
// DuckDB-exact rounding shadow for every round() call site (Readout)
import graft.Readout.round

import graft.functions._
import graft.enrich.Enrich
import graft.idempotent.Idempotent
import graft.normalize.Normalize
import graft.ops.{Dedup, Multimodal, Sampling, Similarity, Skew, TemporalJoin, TextAnalysis}

/** Driver contract — one named query per operator in SURVEY.md §2 plus the
  * training-data extension ops. Each query is declared once, as a [[Q]]
  * entry of [[registry]] (at the bottom of this object): its name, its
  * Spark body, its bench [[Tier]] and its DuckDB oracle SQL. [[queries]],
  * [[oracleSql]] and Bench's headline/extra lists are derived from it, so
  * adding a query means adding one `Q` entry.
  *
  * Determinism rules (the driver hash-compares Spark vs DuckDB output):
  *  - every query ends in a total ORDER BY (oracle uses NULLS FIRST to match
  *    Spark's asc default);
  *  - double SUMs go through DECIMAL (exact, partition-order-independent)
  *    and are cast back to DOUBLE, identically on both sides;
  *  - column names and types are aliased identically on both sides.
  */
object SparkEntry {

  /** Where Bench times a query: `Headline` (one representative per operator
    * family, summed into the headline total), `Extra` (timed identically but
    * reported apart, so round-over-round headline totals stay comparable) or
    * `Unbenched` (oracle-gated only).
    */
  sealed trait Tier
  object Tier {
    case object Headline extends Tier
    case object Extra extends Tier
    case object Unbenched extends Tier
  }
  import Tier._

  /** One registered query: `build(spark, sfDir)` and the DuckDB SQL whose
    * result it must equal over the same tables.
    */
  final case class Q(name: String, build: (SparkSession, String) => DataFrame,
                     tier: Tier, oracleSql: String)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracleSql).toMap

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Exact, order-independent sum of a double column: accumulate in decimal,
    * present as double. Oracle side: CAST(sum(CAST(x AS DECIMAL(18,s))) AS DOUBLE).
    *
    * CAVEAT (found at sf0.001, q99): once the SCALED decimal sum needs more
    * than 53 mantissa bits, DuckDB's direct decimal→double cast (int128 →
    * double, then /10^scale — two roundings) can land 1 ulp away from
    * Spark's correctly-rounded BigDecimal cast. Oracles whose scaled sums
    * can exceed 2^53 must hop through VARCHAR —
    * CAST(CAST(sum(...) AS VARCHAR) AS DOUBLE) — which parses
    * correctly-rounded in both engines (q99/q101/q01/q03 do).
    */
  private def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  private def davg(c: Column, scale: Int = 4): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double") / count(lit(1))

  /** [[graft.Readout.rdz]]: round + IEEE negative-zero normalization for
    * possibly-negative double readouts (oracle side pairs `round(x,k)+0.0`).
    */
  private def rdz(c: Column, k: Int): Column = Readout.rdz(c, k)

  // ————————————————————————————————————————————————————————————— flagship

  /** Flagship (EP1 restatement, SURVEY.md §3): normalize → derive reference
    * period → broadcast-enrich with a dim → anti-join already-loaded keys →
    * hierarchical rollup. Driver smoke-checks rows > 0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val rawFacts = t(spark, dir, "lineitem")
    // normalize: conditional renames over a messy-header source (P2/P3)
    val facts = Normalize.renamePresent(rawFacts, Map(
      "l_quantity" -> "quantidade", "l_extendedprice" -> "preco"))
    val withPeriod = Normalize.withDerivedPeriod(facts, col("l_shipdate"))
    // enrich: broadcast left join against a small dimension (J1)
    val dim = t(spark, dir, "part")
    val enriched = Enrich.broadcastLeftJoin(withPeriod, dim,
      col("l_partkey").cast("string"), col("p_partkey").cast("string"),
      Map("marca" -> col("p_brand")))
    // idempotency: drop keys already in "history" (J2) — here, months < 1996
    val history = withPeriod.filter(col("ano_ref") < 1996)
      .select("ano_ref", "mes_ref").distinct()
    val fresh = Idempotent.newRows(enriched, history, Seq("ano_ref", "mes_ref"))
    // hierarchical rollup (A3): measures at every prefix of period → brand
    fresh.rollup(col("ano_ref"), col("mes_ref"), col("marca"))
      .agg(dsum(col("quantidade")).as("sum_qtd"),
        dsum(col("preco")).as("sum_preco"),
        count(lit(1)).as("n"))
      .orderBy(col("ano_ref").asc_nulls_first, col("mes_ref").asc_nulls_first,
        col("marca").asc_nulls_first)
  }

  // ——————————————————————————————————————————————— core relational queries

  /** A: filtered groupBy aggregate (TPC-H Q1 shape). */
  private def q01(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0d) - col("l_discount")), 6)
          .as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** P: predicate + projection pushed to the parquet scan. */
  private def q02(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("1995-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1996-01-01")) &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount")
      .orderBy("l_orderkey", "l_linenumber")

  /** J: star join — facts join two small broadcast dims + mid-size orders. */
  private def q03(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    // orders is a fact, not a dimension: at scale it can't broadcast, and
    // even here the driver-side broadcast build costs more than a parallel
    // shuffled hash build (the other three joins broadcast true dims).
    // Strategy is config-gated (GraftConf) so cluster profiles can pick SMJ.
    li.join(GraftConf.hintPairJoin(o), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0d) - col("l_discount")), 6)
          .as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"))
      .orderBy("r_name", "n_name")
  }

  /** J1+F5: left-join enrichment with Indefinido fill (pipeline.py:96-111). */
  private def q04(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"), "left")
      .select(col("o_orderkey"), col("o_totalprice"),
        coalesce(col("c_name"), lit("Indefinido")).as("cust_name"),
        coalesce(col("c_mktsegment"), lit("Indefinido")).as("mktsegment"))
      .orderBy("o_orderkey")

  /** J2: anti join — orders with no lineitems. */
  private def q05(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "lineitem").select(col("l_orderkey").as("o_orderkey")),
        Seq("o_orderkey"), "left_anti")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")

  /** J3: semi join — suppliers with at least one large-quantity lineitem. */
  private def q06(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier")
      .join(t(s, dir, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_suppkey").as("s_suppkey")), Seq("s_suppkey"), "left_semi")
      .select("s_suppkey", "s_name")
      .orderBy("s_suppkey")

  /** A1: distinct projection. */
  private def q07(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select("c_nationkey", "c_mktsegment").distinct()
      .orderBy("c_nationkey", "c_mktsegment")

  /** A3: rollup with grouping_id — the hierarchy shape of the reference's
    * consolidado CSV (SURVEY.md §1.4).
    */
  private def q08(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .rollup(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"),
        dsum(col("c_acctbal")).as("sum_acctbal"),
        grouping_id().cast("long").as("gid"))
      .select(coalesce(col("c_mktsegment"), lit("(all)")).as("mktsegment"),
        coalesce(col("c_nationkey"), lit(-1)).as("nationkey"),
        col("n_cust"), col("sum_acctbal"), col("gid"))
      .orderBy("gid", "mktsegment", "nationkey")

  /** A3: cube. */
  private def q09(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_total"))
      .select(coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        col("n_orders"), col("sum_total"))
      .orderBy("priority", "status")

  /** §2.6: dedup-to-latest — newest event per user (window row_number). */
  private def q10(s: SparkSession, dir: String): DataFrame =
    Idempotent.latestPerKey(t(s, dir, "events"),
      Seq("user_id"), Seq("ts", "event_id"))
      .select("user_id", "event_id", "event_type", "value")
      .orderBy("user_id")

  /** Window: running per-user totals + row numbering. */
  private def q11(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("running_value",
        sum(col("value").cast("decimal(18,2)"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("double"))
      .select("user_id", "event_id", "rn", "running_value")
      .orderBy("user_id", "rn")
  }

  /** Set op: distinct union. */
  private def q12(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .union(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
      .distinct()
      .orderBy("nationkey")

  /** Set op: except (distinct) — orderkeys never shipped. */
  private def q13(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(col("o_orderkey").as("orderkey"))
      .except(t(s, dir, "lineitem").select(col("l_orderkey").as("orderkey")))
      .orderBy("orderkey")

  /** Top-k: global order + limit. */
  private def q14(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(100)

  /** S1+F11+F3: sanitize (scrub quoted INF/NaN) → extract → cast-or-null →
    * fill — the "Leitura Blindada" semantics over the events props column.
    */
  private def q15(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("clean",
        regexp_replace(col("props"), "\"(-?INF|NaN)\"", "null"))
      .select(col("event_id"),
        coalesce(
          regexp_extract(col("clean"), "\"k\":\\s*(-?\\d+)", 1).try_cast("long"),
          lit(-1L)).as("k_val"))
      .orderBy("event_id")

  /** P6+F9: reference-period derivation from event time + period aggregate. */
  private def q16(s: SparkSession, dir: String): DataFrame =
    Normalize.withDerivedPeriod(t(s, dir, "lineitem"), col("l_shipdate"))
      // serialize the date as ISO text so the oracle compare is
      // representation-independent (DATE readers disagree on unit)
      .withColumn("data_competencia",
        date_format(col("data_competencia"), "yyyy-MM-dd"))
      .groupBy(col("ano_ref"), col("mes_ref"), col("data_competencia"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_items"))
      .orderBy("ano_ref", "mes_ref")

  /** A3 generalization: explicit grouping sets (SQL surface). */
  private def q17(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql("""
      SELECT coalesce(r_name, '(all)') AS region_name,
             coalesce(n_name, '(all)') AS nation_name,
             count(*) AS n_cust,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_acctbal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
      ORDER BY region_name, nation_name""")
  }

  /** J2+O4 end-to-end: incremental anti-join — events after the cutoff whose
    * (user, type) key never appeared before it (dags/etl_municipios.py:138-142).
    */
  private def q18(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val cutoff = to_timestamp(lit("2024-01-10"))
    val history = ev.filter(col("ts") < cutoff)
      .select("user_id", "event_type").distinct()
    Idempotent.newRows(ev.filter(col("ts") >= cutoff), history,
      Seq("user_id", "event_type"))
      .select("event_id", "user_id", "event_type")
      .orderBy("event_id")
  }

  /** Schema conform (§1.3): coerce to a fixed target StructType — missing
    * cols as typed defaults, try_cast + fill on the rest.
    */
  private def q19(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val target = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("missing_col", LongType)))
    Normalize.conform(t(s, dir, "events"), target).orderBy("event_id")
  }

  // ———————————————————————————————————————————— training-data extension ops

  /** Dedup 1: exact content-hash dedup. */
  private def q20(s: SparkSession, dir: String): DataFrame =
    Dedup.exactByHash(t(s, dir, "documents"), col("text"), col("doc_id"))
      .orderBy("keep_id")

  /** Dedup 2: MinHash + LSH near-dup pairs with exact-Jaccard verification.
    * Portable md5 minhash family (min over md5("seed|shingle")) so the
    * DuckDB oracle computes the identical signature.
    */
  private def q21(s: SparkSession, dir: String): DataFrame =
    q21Pairs(s, dir).orderBy("id_a", "id_b")

  /** q21's pair set without the final sort — shared with q52 (components).
    * Single-entry memo: the pipeline ends in a `.cache()` of the signature
    * dataset shared by q21 and q52, but holding every (session, dir) ever
    * seen would pin cached frames (and stopped sessions) for the driver
    * lifetime — so a dir or session switch evicts and unpersists the
    * previous entry before building the new one.
    */
  private var q21PairsEntry:
    Option[((SparkSession, String), (DataFrame, DataFrame, DataFrame))] = None
  private def q21Parts(s: SparkSession, dir: String):
      (DataFrame, DataFrame, DataFrame) = synchronized {
    val key = (s, dir)
    q21PairsEntry match {
      case Some((k, built @ (sig, _, _))) if k == key =>
        // idempotent re-registration: the bench harness clears the cache
        // between rounds, and an unregistered sig would be recomputed by
        // every scan below
        sig.cache()
        built
      case prev =>
        prev.foreach { case (_, (oldSig, _, _)) =>
          // a stopped session throws here — its cache died with it
          try oldSig.unpersist() catch { case _: Exception => () }
        }
        q21PairsEntry = None
        val built = q21PairsBuild(s, dir)
        q21PairsEntry = Some((key, built))
        built
    }
  }
  private def q21Pairs(s: SparkSession, dir: String): DataFrame =
    q21Parts(s, dir)._3

  /** Returns (cached signature frame, unverified banding candidates,
    * verified pair frame reading the signature twice). */
  private def q21PairsBuild(s: SparkSession, dir: String):
      (DataFrame, DataFrame, DataFrame) = {
    val bands = 4; val rows = 4
    // cached: shared by the signature pipeline and both verify joins
    // (measured faster than recomputing or semi-join-pruning at sf0.1 —
    // extra plan stages cost more in codegen than the cache write)
    // String shingles are never materialized: explode them once, and one
    // aggregation produces BOTH the 16-wide md5 minhash signature AND the
    // xxhash64'd shingle set used for exact-Jaccard verification — so the
    // only cached dataset is all-long and cheap to encode. The 16 chunk
    // minima come from just TWO seed-prefixed md5 digests per shingle
    // (8 chunks of 4 hex chars ≈ 16 bits each; lexicographic min ≡ numeric
    // min on fixed-width hex): md5 dominates the signature cost, and 16
    // bits per chunk is ample minhash range for documents with 10²-10³
    // shingles.
    val digests = 2; val chunksPer = 8
    val exploded = t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode(wordShingles(col("text"))).as("x"))
    val hashed = exploded.select(
      (col("doc_id") +: xxhash64(col("x")).as("hx") +:
        (0 until digests).map(sd =>
          md5(concat(lit(s"$sd|"), col("x"))).as(s"m$sd"))): _*)
    val minCols = (for { sd <- 0 until digests; j <- 0 until chunksPer }
      yield min(substring(col(s"m$sd"), j * 4 + 1, 4)).as(s"s${sd * chunksPer + j}")) :+
      collect_set(col("hx")).as("hset")
    val sig = hashed.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
      .cache() // (doc_id, 16 chunk-minima, hashed shingle set) — all longs
    val banded = sig.select(col("doc_id"),
      explode(array((0 until bands).map(b => struct(lit(b).as("band"),
        md5(concat_ws("|", (b * rows until (b + 1) * rows)
          .map(k => col(s"s$k")): _*)).as("bucket"))): _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
    val candidates = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // verify on the hashed sets (equal to string-set jaccard modulo 64-bit
    // collisions). `candidates` (two longs/row) broadcasts; `withA` carries
    // the wide hashed-shingle arrays per candidate pair, and on a dup-heavy
    // corpus the pair list scales with the dup rate — so it builds via the
    // config-gated shuffle-hash, never a driver-side broadcast.
    val withA = sig.select(col("doc_id").as("id_a"), col("hset").as("sh_a"))
      .join(broadcast(candidates), Seq("id_a"))
    val pairs = sig.select(col("doc_id").as("id_b"), col("hset").as("sh_b"))
      .join(graft.GraftConf.hintPairJoin(withA), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("sh_a"), col("sh_b")), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
    (sig, candidates, pairs)
  }

  /** Dedup 3: exact n-gram Jaccard top-100 pairs, blocked by (lang, source).
    * Dense blocked join (arrays + one-pass jaccard): with ~50-doc blocks the
    * pair space is small and this beats the inverted-index formulation
    * ([[Dedup.ngramJaccardPairsInverted]]), which wins on large blocks.
    */
  private def q22(s: SparkSession, dir: String): DataFrame = {
    // hashed shingle sets built relationally (explode + codegen'd xxhash64 +
    // collect_set — nested HOF lambdas are interpreted and slow) and
    // materialized once so the self-join legs read blocks
    val base = t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("lang"), col("source"), col("doc_id"),
        explode(wordShingles(col("text"))).as("x"))
      .groupBy(col("lang"), col("source"), col("doc_id"))
      .agg(collect_set(xxhash64(col("x"))).as("sh"))
      .localCheckpoint()
    val a = base.select(col("lang"), col("source"),
      col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = base.select(col("lang"), col("source"),
      col("doc_id").as("id_b"), col("sh").as("sh_b"))
    // shuffle-hash (config-gated, GraftConf), not broadcast: the build side
    // carries hashed-shingle arrays; driver-side broadcast builds of wide
    // arrays are slow and GC-sensitive (same lesson as q24 / minhash verify)
    a.join(GraftConf.hintPairJoin(b), Seq("lang", "source"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("j"))
      .orderBy(col("j").desc, col("id_a"), col("id_b"))
      .limit(100)
      .select(col("id_a"), col("id_b"), round(col("j"), 4).as("jaccard"))
  }

  /** Dedup 4: portable 64-bit SimHash (md5-chunk bits, oracle-checkable;
    * the xxhash64 variant [[Dedup.simhash]] stays for in-engine use).
    */
  private def q23(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPortable(t(s, dir, "documents"), col("doc_id"), col("text"))
      .orderBy("doc_id")

  /** Dedup 5: embedding-cosine top-100 pairs within label blocks. */
  private def q24(s: SparkSession, dir: String): DataFrame =
    Dedup.cosineNearDupPairs(t(s, dir, "embeddings"), col("vec_id"),
      col("embedding"), Seq(col("label")), minCosine = -1.0)
      .orderBy(round(col("cosine"), 6).desc, col("id_a"), col("id_b"))
      .limit(100)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))

  /** Similarity 1: brute-force cosine top-5 per query vector. */
  private def q25(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(
      e, col("vec_id"), col("embedding"),
      e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"), k = 5)
      .select(col("query_id"), col("item_id"), col("rank").cast("long").as("rank"),
        round(col("cosine"), 4).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Similarity 2: LSH-bucketed ANN (sign-bit hyperplanes) with
    * Hamming-distance-≤2 multi-probe — the scale path. On the near-random
    * test embeddings single-probe recall@5 is only 0.04 (true neighbors sit
    * at 60-75°, so sign bits flip often); probing the 15 buckets within two
    * flipped bits lifts it to 0.80 at ~half-corpus candidate volume, still
    * as a pure equi-join on the bucket key. AnnRecallSpec pins the ladder.
    */
  private def q26(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.lshTopK(
      e, col("vec_id"), col("embedding"),
      e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"), k = 5,
      probeHamming = 2)
      .select(col("query_id"), col("item_id"), col("rank").cast("long").as("rank"),
        round(col("cosine"), 4).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Similarity 2b: the Hamming-distance-1 rung of the multi-probe ladder —
    * each query probes its own bucket plus the five single-flipped-bit
    * neighbors (recall 0.44 vs 0.04 single-probe and 0.80 for q26's
    * distance-2 probing, at ~19% candidate volume vs 3%/50%). Same output
    * contract as q26; the recall/cost ladder is pinned by AnnRecallSpec.
    */
  private def q62(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.lshTopK(
      e, col("vec_id"), col("embedding"),
      e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"), k = 5,
      probeHamming = 1)
      .select(col("query_id"), col("item_id"), col("rank").cast("long").as("rank"),
        round(col("cosine"), 4).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Sampling: deterministic stratified sample — ~25% of documents per
    * language, drawn by md5(stratum|id) threshold. Pure function of the
    * row: reproducible across engines/retries/partitionings, nests across
    * fractions, and the filter pushes to the scan (no shuffle, no
    * per-stratum counting pass).
    */
  private def q63(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(t(s, dir, "documents"),
      col("lang"), col("doc_id"), fraction = 0.25)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")

  /** Sampling 2: hot-domain cap — every source capped at 10 documents,
    * survivors picked by deterministic md5 rank within the stratum. The
    * training-mix primitive that keeps one mega-crawl from drowning the
    * rest of the corpus.
    */
  private def q65(s: SparkSession, dir: String): DataFrame =
    Sampling.capPerStratum(t(s, dir, "documents"),
      col("source"), col("doc_id"), maxRows = 10)
      .select("doc_id", "source", "lang")
      .orderBy("doc_id")

  /** Dedup 7: benchmark decontamination — corpus docs (source != src0)
    * sharing ≥ 3 distinct word trigrams with any benchmark doc (source =
    * src0), each flagged with its worst-overlap benchmark doc. The posting
    * equi-join shape: only actually-overlapping pairs materialize.
    */
  private def q66(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.contaminationFlags(
      docs.filter(col("source") =!= "src0"), col("doc_id"), col("text"),
      docs.filter(col("source") === "src0"), col("doc_id"), col("text"),
      n = 3, minShared = 3)
      .orderBy("doc_id")
  }

  /** Packing: contiguous token-budget sequence packing — per-language
    * streams cut into 2048-token bins by running offset. Deterministic
    * layout (same corpus → same bins), one shuffle + one window pass.
    */
  private def q67(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    graft.ops.Packing.packByTokenBudget(
      toks, col("lang"), col("doc_id"), col("n_tokens"), budget = 2048L)
      .select("doc_id", "lang", "n_tokens", "cum_tokens", "bin_id", "spans_bins")
      .orderBy("doc_id")
  }

  /** Skew: two-phase salted aggregation in the oracle gate — identical
    * result to the direct GROUP BY (the law ScaleOpsSpec pins), here
    * hash-checked against the oracle's plain aggregation. The salt spreads
    * a hot event_type over 16 reducers before the tiny merge shuffle.
    */
  private def q68(s: SparkSession, dir: String): DataFrame =
    Skew.saltedAgg(t(s, dir, "events"),
      Seq(col("event_type")), Skew.saltOf(col("event_id"), 16),
      Seq(count(lit(1)).as("pn"),
        sum(col("value").cast("decimal(18,2)")).as("pv")),
      Seq(sum(col("pn")).as("n_events"),
        sum(col("pv")).cast("double").as("sum_value")))
      .orderBy("event_type")

  /** Dedup 8: pipeline closer — near-dup GROUPS (q52's connected
    * components) each reduced to the best-quality representative (q28's
    * composite score, ties to the lowest doc id). The full "dedup and keep
    * the good copy" flow as one declarative query.
    */
  private def q69(s: SparkSession, dir: String): DataFrame = {
    val comp = Dedup.connectedComponents(q21Pairs(s, dir))
    val quality = t(s, dir, "documents").select(
      col("doc_id").as("id"),
      round(TextAnalysis.qualityScore(col("text")), 4).as("quality"))
    // r14: the per-component best-row pick is a MIN over
    // (null-rank, −quality, id) structs — lexicographic struct MIN ≡
    // (quality DESC NULLS LAST, id ASC): the leading 0/1 null flag
    // reproduces desc's nulls-last (a bare null field would sort FIRST
    // in a struct min). A DeclarativeAggregate with map-side partials
    // in the SAME aggregation that counts the group, replacing the
    // row_number window's full per-component sort; the winner row's
    // quality rides back as −nq, a bitwise identity.
    comp.join(quality, Seq("id"))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"),
        min(struct(col("quality").isNull.cast("int").as("z"),
          (-col("quality")).as("nq"), col("id").as("i"))).as("__b"))
      .select(col("component"), col("__b").getField("i").as("keep_id"),
        col("n_docs"), (-col("__b").getField("nq")).as("best_quality"))
      .orderBy("component")
  }

  /** Similarity 5: TWO full k-means refinement iterations (assign →
    * decimal-exact per-dim means → rebuild → reassign → recompute) — the
    * iterative-algorithm surface beyond q49's single step. Oracle is the
    * same construction unrolled twice in SQL. Reported per final cell:
    * member count + new-centroid L2 norm.
    */
  private def q64(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val seeds = Similarity.minIdSeeds(
      e, col("vec_id"), col("embedding"), col("label"))
    val (assigned, perDim) = Similarity.kmeansIterations(
      e, col("vec_id"), col("embedding"), seeds, col("cell"), col("cvec"),
      iters = 2)
    val norms = perDim.groupBy(col("cell"))
      .agg(sqrt(sum((col("avg_val") * col("avg_val")).cast("decimal(27,12)"))
        .cast("double")).as("centroid_norm"))
    assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_members"))
      .join(norms, Seq("cell"))
      .select(col("cell"), col("n_members"),
        round(col("centroid_norm"), 6).as("centroid_norm"))
      .orderBy("cell")
  }

  /** Streaming 4: stream-stream range join executed as a real Structured
    * Streaming job — purchases and clicks as two watermarked file-source
    * streams over the same events parquet, inner-joined on user with each
    * click constrained to the hour up to the purchase (inclusive both
    * ends). Append-mode memory sink; the final table equals the batch range
    * join the oracle states. Unlike a Complete-mode aggregate, per-side
    * state is bounded by watermark + lookback — the shape that holds on an
    * unbounded stream.
    */
  private def q70(s: SparkSession, dir: String): DataFrame = {
    def eventStream(): DataFrame = Tables.stream(s, dir, "events")
    val purchases = eventStream().filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
    val clicks = eventStream().filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val joined = graft.streaming.Streaming.streamStreamRangeJoin(
      purchases, "user_id", "ts", clicks, "c_user", "c_ts",
      lookback = "1 hour", watermark = "10 minutes")
    graft.streaming.Streaming.runToMemory(joined, "q70_mem",
      org.apache.spark.sql.streaming.OutputMode.Append)
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        (unix_micros(col("ts")) - unix_micros(col("c_ts"))).as("gap_us"))
      .orderBy("purchase_id", "click_id")
  }

  /** Skew 2: salted equi-join in the oracle gate — orders (fact side)
    * salted into 8 deterministic buckets against the customer dim
    * replicated once per salt, then the plain segment rollup. Law-equal to
    * the unsalted join (ScaleOpsSpec pins the law); here the whole path is
    * hash-checked against the oracle's direct join. This is the shape that
    * holds when one customer owns 10% of all orders and AQE's skew split
    * can't help (e.g. a pinned shuffle-hash build).
    */
  private def q71(s: SparkSession, dir: String): DataFrame =
    Skew.saltedJoin(t(s, dir, "orders"), col("o_custkey"),
      Skew.saltOf(col("o_orderkey"), 8),
      t(s, dir, "customer"), col("c_custkey"), buckets = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"))
      .orderBy("c_mktsegment")

  /** Text 8: PII detection + redaction. Deterministic synthetic PII
    * (an email, a dotted-quad IP, a phone number derived from doc_id) is
    * appended to every document on BOTH engines, then counted per class
    * and redacted in table order; the gate hashes the redacted text. The
    * patterns are Java-regex/RE2-common (no lookarounds) so one pattern
    * table serves both. One codegen'd map stage — no shuffle, no UDF.
    */
  private def q72(s: SparkSession, dir: String): DataFrame = {
    val injected = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com from host 10.0."),
      (col("doc_id") % 256).cast("string"), lit(".7 or call +1415555"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    val counts = TextAnalysis.piiPatterns.map { case (cls, pat, _) =>
      TextAnalysis.piiCount(injected, pat).cast("long").as(s"n_${cls}s")
    }
    t(s, dir, "documents")
      .select(col("doc_id") +: counts :+
        md5(TextAnalysis.redactPii(injected)).as("redacted_hash"): _*)
      .orderBy("doc_id")
  }

  /** Text 9: n-gram repetition profile — the Gopher-style "top trigram
    * share" boilerplate signal, per document. Aggregates shuffle on doc_id
    * only; a corpus-wide hot trigram cannot skew a reducer.
    */
  private def q73(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionStats(
      t(s, dir, "documents"), col("doc_id"), col("text"), n = 3)
      .orderBy("doc_id")

  /** Dedup 9: incremental near-dup check of an incoming batch (source
    * src18, "today's crawl") against the existing corpus (every other
    * source) — day-2 dedup without re-clustering the world. Every batch
    * doc is emitted with its best corpus match (or -1 / false when clean).
    */
  private def q74(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val batch = docs.filter(col("source") === "src18")
    val matches = Dedup.incrementalNearDups(
      batch, col("doc_id"), col("text"),
      docs.filter(col("source") =!= "src18"), col("doc_id"), col("text"))
    batch.select(col("doc_id").as("new_id"))
      .join(matches, Seq("new_id"), "left")
      .select(col("new_id"),
        coalesce(col("match_id"), lit(-1L)).as("match_id"),
        coalesce(col("hamming"), lit(-1L)).as("hamming"),
        col("match_id").isNotNull.as("is_dup"))
      .orderBy("new_id")
  }

  /** Sampling 3: per-language quality-quantile filter — drop every
    * document below its language's 25th quality percentile. The exact
    * interpolated quantile makes the cut reproducible across engines (see
    * [[Sampling.keepTopQuantile]] for why 1-ulp interpolation differences
    * cannot flip membership).
    */
  private def q75(s: SparkSession, dir: String): DataFrame = {
    val scored = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      round(TextAnalysis.qualityScore(col("text")), 4).as("quality"))
    Sampling.keepTopQuantile(scored, col("lang"), col("quality"), q = 0.25)
      .select("doc_id", "lang", "quality")
      .orderBy("doc_id")
  }

  /** Sampling 4: deterministic corpus shuffle + shard assignment — global
    * rank under md5 order and near-equal shard sizes, computed without a
    * one-partition global sort (range partition + per-partition offsets).
    */
  private def q76(s: SparkSession, dir: String): DataFrame =
    Sampling.deterministicShards(
      t(s, dir, "documents").select("doc_id"), col("doc_id"), shards = 8)
      .select(col("doc_id"), col("rn"), col("shard"))
      .orderBy("doc_id")

  /** Sampling 5: weighted training mix — en upsampled 2.5×, fr 1.5×, de
    * passed through, es quartered, zh dropped. Exercises every regime of
    * [[Sampling.weightedMix]] (integer repeat, fractional extra copy,
    * subsample, drop) in one deterministic map-side pass.
    */
  private def q77(s: SparkSession, dir: String): DataFrame = {
    val wt = when(col("lang") === "en", 2.5d)
      .when(col("lang") === "fr", 1.5d)
      .when(col("lang") === "de", 1.0d)
      .when(col("lang") === "es", 0.25d)
      .otherwise(0.0d)
    Sampling.weightedMix(t(s, dir, "documents"), col("lang"), col("doc_id"), wt)
      .select("doc_id", "lang", "copy")
      .orderBy("doc_id", "copy")
  }

  /** Text 10: Unicode NFC normalization via the native codegen'd
    * [[graft.functions.NfcNormalize]] expression. Decomposed characters
    * ("e"+U+0301, "A"+U+030A) are appended identically on both engines;
    * the gate checks byte lengths before/after, the changed flag, and the
    * hash of the composed text against DuckDB's nfc_normalize.
    */
  private def q78(s: SparkSession, dir: String): DataFrame = {
    val injected = concat(col("text"), lit(" café Å"))
    val norm = graft.functions.nfcNormalize(injected)
    t(s, dir, "documents").select(
      col("doc_id"),
      octet_length(encode(injected, "UTF-8")).cast("long").as("raw_bytes"),
      octet_length(encode(norm, "UTF-8")).cast("long").as("norm_bytes"),
      (norm =!= injected).as("changed"),
      md5(norm).as("norm_hash"))
      .orderBy("doc_id")
  }

  /** Packing 2: materialized training sequences — q67's bin layout joined
    * with the text and concatenated in pack order ("\n\n"-separated), one
    * row per (lang, bin). The gate hashes each bin's sequence, pinning
    * both the layout AND the in-bin order against the oracle's
    * string_agg(ORDER BY).
    */
  private def q79(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents").select(
      col("doc_id"), col("lang"), col("text"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    val packed = graft.ops.Packing.packByTokenBudget(
      toks, col("lang"), col("doc_id"), col("n_tokens"), budget = 2048L)
    graft.ops.Packing.materializeBins(
      packed, col("lang"), col("doc_id"), col("n_tokens"), col("text"))
      .select(col("stream").as("lang"), col("bin_id"), col("n_docs"),
        col("bin_tokens"), md5(col("sequence")).as("seq_hash"))
      .orderBy("lang", "bin_id")
  }

  /** Similarity 6: int8 embedding quantization — per-vector max-abs
    * scaling, gated on the rounded scale, the exact integer norm of the
    * quantized vector, and a hash of the full int sequence.
    */
  private def q80(s: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(
      t(s, dir, "embeddings"), col("vec_id"), col("embedding"))
      .select(col("vec_id"),
        round(col("scale"), 6).as("scale"),
        aggregate(col("qvec"), lit(0L), (acc, x) => acc + x * x).as("q_norm2"),
        md5(concat_ws(",", transform(col("qvec"), _.cast("string"))))
          .as("q_hash"))
      .orderBy("vec_id")

  /** Profiling: per-column corpus statistics in one aggregation pass over
    * the table (row/non-null/exact-distinct counts, min/max) — the
    * analyze-before-training step. One scan regardless of column count.
    */
  private def q81(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.profile(
      t(s, dir, "documents"), Seq("lang", "source", "n_chars"))
      .orderBy("column")

  /** Dedup 10: passage-level duplication fraction — the share of each
    * document's 8-token windows that appear verbatim in another document
    * (exact-substring duplication: boilerplate, licenses, syndication).
    */
  private def q82(s: SparkSession, dir: String): DataFrame =
    Dedup.passageDupStats(t(s, dir, "documents"), col("doc_id"), col("text"),
      window = 8)
      .orderBy("doc_id")

  /** Incremental 3: aggregate-state maintenance — the running totals table
    * refreshed by folding in ONE day's partial aggregates instead of
    * recomputing history. The oracle is the direct aggregation over all
    * events, so the gate IS the merge-equals-recompute law (exact, thanks
    * to decimal accumulators).
    */
  private def q83(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val cutoff = lit("2024-01-25 00:00:00").cast("timestamp")
    def partials(df: DataFrame): DataFrame = df.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("sum_value"))
    val state = partials(ev.filter(col("ts") < cutoff)) // "yesterday's table"
    // null-ts rows must land in exactly one partition (here: the delta) —
    // ts >= cutoff alone is NULL-false on both sides and would drop them
    val delta = partials(ev.filter(col("ts") >= cutoff || col("ts").isNull))
    Idempotent.mergeAggState(state, delta,
      Seq("event_type"), Seq("n_events", "sum_value"))
      .select(col("event_type"), col("n_events"),
        col("sum_value").cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** Enrich 3: SCD Type-2 dimension versioning — the customer dimension
    * diffed against a deterministic new snapshot (every 10th key changes
    * segment, every 97th is deleted, every 101st spawns an insert under a
    * shifted key). Changed keys get a closed old version + an open new
    * one; the oracle restates the diff with a FULL OUTER JOIN.
    */
  /** q84's (current, incoming) frames — shared with q191 so the
    * reconstruction law is tested against the IDENTICAL merge input.
    */
  private def q84Frames(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val cur = t(s, dir, "customer")
      .select("c_custkey", "c_mktsegment", "c_nationkey")
    val upd = cur.filter(col("c_custkey") % 97 =!= 0)
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 10 === 0, lit("MACHINERY"))
          .otherwise(col("c_mktsegment")))
    val ins = cur.filter(col("c_custkey") % 101 === 0)
      .select((col("c_custkey") + 1000000L).as("c_custkey"),
        lit("BUILDING").as("c_mktsegment"), col("c_nationkey"))
    (cur, upd.unionByName(ins))
  }

  private def q84(s: SparkSession, dir: String): DataFrame = {
    val (cur, incoming) = q84Frames(s, dir)
    Enrich.scd2Merge(cur, incoming,
      Seq("c_custkey"), Seq("c_mktsegment", "c_nationkey"),
      effective = "2024-02-01")
      .orderBy(col("c_custkey"), col("valid_from"))
  }

  /** Text 11: vocabulary encoding — documents encoded against the
    * corpus's top-100 token vocabulary (ids in frequency order, OOV → 0),
    * gated on token/OOV counts and the hash of the full id sequence.
    */
  private def q85(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = TextAnalysis.buildVocab(docs, col("text"), size = 100)
    TextAnalysis.encodeWithVocab(docs, col("doc_id"), col("text"), vocab)
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        md5(concat_ws(",", transform(col("ids"), _.cast("string"))))
          .as("ids_hash"))
      .orderBy("doc_id")
  }

  /** Text 12: overlapping context-window chunking (64-token windows every
    * 32) — every chunk hashed, so both the cut points and chunk contents
    * are pinned.
    */
  private def q86(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkWithStride(
      t(s, dir, "documents"), col("doc_id"), col("text"),
      window = 64, stride = 32)
      .select(col("doc_id"), col("chunk_id"), col("n_chunk_tokens"),
        md5(col("chunk")).as("chunk_hash"))
      .orderBy("doc_id", "chunk_id")

  /** Pipeline capstone: corpus preparation end-to-end in ONE declarative
    * chain — per-language quality-quantile filter (drop the worst
    * quartile) → per-source hot-domain cap (20 docs) → 2048-token
    * sequence packing — reported as per-bin statistics with an exact
    * decimal quality sum. Every stage is an operator gated on its own
    * query (q75/q65/q67); this gate pins their COMPOSITION.
    */
  private def q87(s: SparkSession, dir: String): DataFrame = {
    val scored = t(s, dir, "documents").select(
      col("doc_id"), col("lang"), col("source"),
      round(TextAnalysis.qualityScore(col("text")), 4).as("quality"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    val kept = Sampling.keepTopQuantile(scored, col("lang"), col("quality"), 0.25)
    val capped = Sampling.capPerStratum(kept, col("source"), col("doc_id"), 20)
    val packed = graft.ops.Packing.packByTokenBudget(
      capped, col("lang"), col("doc_id"), col("n_tokens"), budget = 2048L)
    packed.groupBy(col("lang"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("bin_tokens"),
        dsum(col("quality"), 4).as("quality_sum"))
      .orderBy("lang", "bin_id")
  }

  /** Similarity 7: hard-negative mining — per query, the 5 most similar
    * vectors with a different label (contrastive-training negatives); the
    * label predicate applies before ranking so same-label near neighbors
    * cannot crowd out the candidates.
    */
  private def q88(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.hardNegatives(
      e, col("vec_id"), col("embedding"), col("label"),
      e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
      col("label"), k = 5)
      .select(col("query_id"), col("item_id"),
        col("rank").cast("long").as("rank"),
        round(col("cosine"), 4).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Streaming 5: the exactly-once landing pattern INSIDE the oracle
    * gate — the events stream is written to a partitioned parquet table
    * via foreachBatch + partition overwrite, then the ENTIRE stream is
    * replayed against a fresh checkpoint (worst-case redelivery), and the
    * landed table's aggregate is hash-checked against DuckDB's direct
    * aggregation over the source. Duplicates from the replay would shift
    * every count and fail the gate.
    */
  private def q89(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft-q89")
    val table = s"$base/t"
    def land(run: Int): Unit = graft.streaming.Streaming.partitionedSink(
      Tables.stream(s, dir, "events"), table, Seq("event_type"), s"$base/ck$run")
    land(0)
    land(1) // full redelivery (fresh checkpoint): must converge, not append
    val agg = s.read.parquet(table)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value"), 2).as("sum_value"))
      .orderBy("event_type")
    // materialize the group-count-sized result so the temp table +
    // checkpoints can be removed before returning (the one deliberate
    // collect in this file: a handful of grouped rows, harness-side)
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(agg.collect(): _*)
    val out = s.createDataFrame(rows, agg.schema)
    deleteTree(base)
    out.orderBy("event_type")
  }

  /** Similarity 3: IVF-style partitioned search. Centroids are the
    * min-vec_id vector per label (deterministic, model-free); every vector
    * is assigned to its nearest centroid once (broadcast + argmax), and
    * each query probes only its own cell.
    */
  private def q37(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val centroids = Similarity.minIdSeeds(
      e, col("vec_id"), col("embedding"), col("label"))
    val assigned = Similarity.assignToCentroids(
      e, col("vec_id"), col("embedding"), centroids, col("cell"), col("cvec"))
    val queries = assigned.filter(col("item_id") < 10)
      .select(col("item_id").as("query_id"), col("vec") as "qvec", col("cell"))
    val scored = assigned.join(broadcast(queries), Seq("cell"))
      .filter(col("item_id") =!= col("query_id"))
      .select(col("query_id"), col("item_id"),
        cosine(col("qvec"), col("vec")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(round(col("cos"), 6).desc, col("item_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("item_id"), col("rank"),
        round(col("cos"), 4).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Similarity 4: IVF with nprobe=2 — each query probes its TWO nearest
    * cells, recovering neighbors that sit just across a cell boundary (the
    * dominant IVF miss mode). On clustered corpora this is the
    * candidate-volume-efficient recall lever: AnnRecallSpec measures the
    * (recall, candidate-fraction) ladder and BASELINE.md pins it.
    */
  private def q103(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val centroids = Similarity.minIdSeeds(
      e, col("vec_id"), col("embedding"), col("label"))
    Similarity.ivfTopK(e, col("vec_id"), col("embedding"),
        centroids, col("cell"), col("cvec"),
        e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
        k = 5, nprobe = 2)
      .select(col("query_id"), col("item_id"),
        col("rank").cast("long").as("rank"),
        round(col("cosine"), 4).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Sampling 8: temperature-based source mixing (alpha = 0.5 via sqrt —
    * correctly rounded by IEEE mandate, so every emitted double is
    * bit-exact cross-engine; see [[Sampling.temperatureMix]]). Weights are
    * max-normalized: no float accumulation anywhere.
    */
  private def q105(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureMix(t(s, dir, "documents"), col("source"), 0.5)
      .orderBy("source")

  /** Text 9: BM25 term relevance with the rational (log-free) Robertson
    * idf — top-5 documents per query term. The saturation term is BM25's
    * hallmark; the missing log is monotone so per-term ranking matches
    * true BM25 exactly (see [[TextAnalysis.bm25Terms]] for the measured
    * libm-divergence rationale).
    */
  private def q106(s: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.bm25Terms(t(s, dir, "documents"),
      col("doc_id"), col("text"), Seq("data", "query", "stream"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("term"), col("rank"), col("doc_id"), col("tf"),
        round(col("bm25"), 4).as("bm25"))
      .orderBy("term", "rank")
  }

  /** Dedup 10: one-sided containment pairs — the doc-embedded-in-doc
    * detector symmetric Jaccard misses. df-capped postings (cap 50 here:
    * sf-scaled stopword-shingle guard), exact integer ratio.
    */
  private def q107(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(t(s, dir, "documents"), col("doc_id"),
        col("text"), n = 3, minContain = 0.5, maxDf = 50)
      .select(col("id_a"), col("id_b"), col("n_shared"), col("size_a"),
        round(col("containment"), 4).as("containment"))
      .orderBy("id_a", "id_b")

  /** Text 10: Gopher-style composite quality rules — all-integer-ratio
    * flags, bit-exact booleans.
    */
  private def q108(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherFlags(t(s, dir, "documents"), col("doc_id"),
        col("text"), minWords = 20, maxWords = 100000)
      .select(col("doc_id"), col("n_words"),
        round(col("mean_word_len"), 4).as("mean_word_len"),
        round(col("alpha_frac"), 4).as("alpha_frac"),
        round(col("symbol_ratio"), 4).as("symbol_ratio"),
        col("stop_hits"), col("words_ok"), col("word_len_ok"),
        col("alpha_ok"), col("symbol_ok"), col("stop_ok"), col("keep"))
      .orderBy("doc_id")

  /** Dedup 11: bloom-prefiltered decontamination — output IDENTICAL to
    * q66 by construction (false positives die in the exact join), so it
    * shares q66's oracle verbatim: the gate proves the bloom pruned
    * nothing it shouldn't have.
    */
  private def q109(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.contaminationFlagsBloom(
        docs.filter(col("source") =!= "src0"), col("doc_id"), col("text"),
        docs.filter(col("source") === "src0"), col("doc_id"), col("text"),
        n = 3, minShared = 3,
        expectedBenchShingles = 100000L, fpp = 0.01)
      .orderBy("doc_id")
  }

  /** Sampling 9: leakage-free train/val/test split — q52's near-dup
    * components are the split GROUPS, so a document and its near-dups land
    * on the same side of the train/eval boundary by construction. Docs
    * without near-dups fall back to singleton groups (their own id).
    */
  private def q110(s: SparkSession, dir: String): DataFrame =
    Sampling.leakageFreeSplit(
        t(s, dir, "documents"), col("doc_id"),
        Dedup.connectedComponents(q21Pairs(s, dir)), "id", "component",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("group_key"), col("split"))
      .orderBy("doc_id")

  /** Dedup 12 (capstone): SEMANTIC dedup over the embedding space —
    * label-blocked cosine near-dup pairs → connected components → one
    * representative (min id) per component. The embedding-side
    * counterpart of q69's lexical keep-best flow.
    *
    * Threshold safety (the 1-ulp-proof membership rule): at 0.25 the
    * nearest pair cosine sits 7e-6 away at sf0.1 (2.1e-4 / 2.6e-4 at
    * sf0.001/0.01, measured) — ten orders above any engine's summation
    * divergence, so membership cannot flip cross-engine on this data.
    */
  private def q111(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val pairs = Dedup.cosineNearDupPairs(e, col("vec_id"), col("embedding"),
      Seq(col("label")), minCosine = 0.25)
    Dedup.connectedComponents(pairs)
      .groupBy(col("component"))
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("n_members"))
      .orderBy("component")
  }

  /** Sampling 10 (capstone): temperature rebalancing applied end-to-end —
    * q105's alpha=0.5 mix weights (scaled so the head source draws 2
    * copies; ×2.0 is exact, a power of two) drive [[Sampling.weightedMix]]
    * to materialize the rebalanced corpus. Joins the source-count-sized
    * weight frame broadcast, then the mix is a map-side explode.
    */
  private def q112(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val wt = Sampling.temperatureMix(d, col("source"), 0.5)
      .select(col("source"), (col("mix_weight") * 2.0d).as("__w"))
    Sampling.weightedMix(d.join(broadcast(wt), "source"),
        col("source"), col("doc_id"), col("__w"))
      .select("doc_id", "source", "copy")
      .orderBy("doc_id", "copy")
  }

  /** Streaming 9: at-least-once redelivery collapsed by stateful dedup —
    * the events file is staged TWICE (every event redelivered once) and
    * streamed one file per micro-batch, so the duplicates arrive in a
    * LATER batch and only `dropDuplicatesWithinWatermark` state can drop
    * them. The hash gate proves the output is exactly the batch table:
    * nothing duplicated, nothing lost. The 30-day horizon covers the
    * fixture's whole time range; at scale the horizon is the state-size
    * knob (see [[graft.streaming.Streaming.dedupWithinWatermark]]).
    */
  private def q113(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q113_stage")
    // Stage the redelivery with Spark (layout-agnostic: works whether the
    // source table is a bare file or a parquet directory): two appends of
    // one file each = every event delivered twice, in separate files.
    // repartition(1) is staging-harness-only, like Verify's single-file
    // dumps — the dedup operator under test never sees it.
    val raw = Tables.normalizeTs(s.read.parquet(s"$dir/events.parquet"))
    raw.repartition(1).write.mode("append").parquet(stage.toString)
    raw.repartition(1).write.mode("append").parquet(stage.toString)
    try {
      val rawSchema = s.read.parquet(stage.toString).schema
      val stream = Tables.normalizeTs(s.readStream.schema(rawSchema)
        .option("maxFilesPerTrigger", 1).parquet(stage.toString))
      val dd = graft.streaming.Streaming.dedupWithinWatermark(
        stream, Seq("event_id"), "ts", "30 days")
      graft.streaming.Streaming.runToMemory(
          dd.select(col("event_id"), col("user_id"), col("event_type"),
            col("value")),
          "q113_mem", org.apache.spark.sql.streaming.OutputMode.Append)
        .orderBy("event_id")
    } finally {
      // the memory sink holds the rows; the staged copies can go at once
      org.apache.spark.network.util.JavaUtils.deleteRecursively(stage.toFile)
    }
  }

  /** Similarity 9: quantized-shortlist ANN — int8 candidate sweep scored
    * by the codegen'd EXACT integer dot product (4× less memory traffic;
    * the RAM-bandwidth knob at 10^9+ vectors), full-precision cosine
    * re-rank of the 50-deep shortlist only. Cross-engine exact because
    * both engines quantize identically and the shortlist boundary is
    * decided by 64-bit integers, never floats.
    */
  private def q114(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.quantizedTopK(e, col("vec_id"), col("embedding"),
        e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
        k = 5, shortlist = 50)
      .select(col("query_id"), col("item_id"),
        col("rank").cast("long").as("rank"), col("qdot"),
        round(col("cosine"), 4).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Round-4 capstone: curation pipeline v2 — the new operators composed
    * end-to-end, every stage individually gated elsewhere:
    *  1. Gopher-rule quality filter (q108) keeps structurally-sound docs;
    *  2. containment dedup (q107): drop any survivor ≥80%-contained in a
    *     LARGER survivor (host wins; ties to the smaller id) — the
    *     doc-embedded-in-doc pass symmetric near-dup misses;
    *  3. leakage-free split (q110's operator) grouped by SOURCE — docs
    *     from one source (near-dups' usual home) never straddle
    *     train/eval.
    * The gate pins the COMPOSITION: each stage's filter must see exactly
    * the previous stage's survivors.
    */
  private def q115(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    // cached (tracked — GraftConf.releaseCaches() drops it after the
    // caller materializes): the regex-heavy Gopher chain otherwise re-runs
    // for the containment postings, the anti-join, and both split-side reads
    val keptRaw = TextAnalysis.gopherFlags(d, col("doc_id"), col("text"),
        minWords = 20, maxWords = 100000,
        stopwords = Seq("the", "a", "data", "table", "row", "key",
          "value", "join"))
      .filter(col("keep")).select(col("doc_id"))
      .join(d, "doc_id")
    val kept = GraftConf.trackCache(keptRaw)
    val pairs = Dedup.containmentPairs(kept, col("doc_id"), col("text"),
      n = 3, minContain = 0.8, maxDf = 50)
    // drop id_a when the host is strictly larger, or equal-sized with a
    // smaller id — exactly one side of every mutual-containment pair goes,
    // deterministically; hosts are stage-1 survivors (greedy one-pass,
    // not iterated to a fixed point)
    val drops = pairs
      .filter(col("size_b") > col("size_a") ||
        (col("size_b") === col("size_a") && col("id_b") < col("id_a")))
      .select(col("id_a").as("doc_id")).distinct()
    val surviving = kept.join(drops, Seq("doc_id"), "left_anti")
    Sampling.leakageFreeSplit(surviving, col("doc_id"),
        surviving.select(col("doc_id").as("gid"), col("source").as("grp")),
        "gid", "grp", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("source"), col("split"))
      .orderBy("doc_id")
  }

  /** Layout 3: compaction round-trip — events staged as many small files,
    * rewritten by [[graft.ops.Layout.compactTo]] (byte-targeted file
    * count + Z-order re-cluster), then read back and hash-matched against
    * the ORIGINAL table: the rewrite must lose nothing, duplicate
    * nothing, and change no value. The layout effects themselves
    * (file sizing, row-group skipping) are LayoutSpec's job; this gate
    * pins content preservation, the property a compactor must never
    * break.
    */
  private def q116(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q116").toString
    val src = s"$stage/src"
    val dest = s"$stage/dest"
    t(s, dir, "events").repartition(8).write.parquet(src)
    graft.ops.Layout.compactTo(s, src, dest, targetBytes = 1L << 20,
      clusterBy = Seq(col("user_id"), col("event_id")))
    materializeDropping(s, s.read.parquet(dest)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value")),
      java.nio.file.Paths.get(stage))
      .orderBy("event_id")
  }

  /** Sink/source 11: versioned-CSV round-trip — K6's timestamped sink
    * writes the frame, S8's newest-file pick finds it, S5's `;`-CSV
    * reader loads it back (untyped, as CSV is), and the casts restore the
    * schema. The gate proves the full export→discover→import loop is
    * lossless including double formatting (shortest-repr write, exact
    * parse).
    */
  private def q117(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_q117").toString
    graft.sinks.Sinks.versionedCsv(
      t(s, dir, "events").select(col("event_id"), col("user_id"),
        col("event_type"), col("value")),
      base, prefix = "events")
    val newest = graft.ingest.Ingest.newestFile(s, s"$base/events_*")
      .getOrElse(sys.error("versioned sink left no version behind"))
    materializeDropping(s, graft.ingest.Ingest.csv(s, newest)
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"),
          col("event_type"),
          col("value").cast("double").as("value")),
      java.nio.file.Paths.get(base))
      .orderBy("event_id")
  }

  /** Sink/source 12: JDBC round-trip against a REAL database (embedded
    * Derby, no network) — K1's append writes the frame, S6's query
    * pushdown reads it back with the projection and ORDER BY executing
    * database-side. Shares the identity oracle: the export→import loop
    * through a warehouse must be lossless, including doubles (JDBC binds
    * them as typed DOUBLEs — no string formatting anywhere).
    */
  private def q118(s: SparkSession, dir: String): DataFrame = {
    val db = java.nio.file.Files.createTempDirectory("graft_q118").toString
    val url = s"jdbc:derby:$db/rt;create=true"
    graft.sinks.Sinks.jdbcAppend(
      t(s, dir, "events").select(col("event_id"), col("user_id"),
        col("event_type"), col("value")),
      url, "events_rt")
    // Spark's JDBC writer quotes COLUMN identifiers in Derby (so they stay
    // lowercase and need quoting here) but not the table name (Derby
    // upcases it; an unquoted reference matches)
    val landed = graft.ingest.Ingest.jdbcQuery(s, url,
      """SELECT "event_id", "user_id", "event_type", "value" FROM events_rt""")
    // order matters: collect FIRST (the read boots Derby), then a clean
    // shutdown releases the database, then the directory can go
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(landed.collect(): _*)
    try java.sql.DriverManager.getConnection(s"jdbc:derby:$db/rt;shutdown=true")
    catch { case _: java.sql.SQLException => () } // success throws 08006
    deleteTree(java.nio.file.Paths.get(db))
    s.createDataFrame(rows, landed.schema).orderBy("event_id")
  }

  /** Streaming 10: flatMapGroupsWithState sessionization gated against the
    * exact batch sessions — events stream in batch 1, then a per-user
    * FLUSH event at global-max + 2h (its own never-emitted open session)
    * streams in batch 2 and closes every user's last real session, so the
    * memory table must equal the batch lag/sum sessionization row for
    * row. The flush sits at the GLOBAL max so no flush singleton can
    * out-time the watermark and leak into the output; real sessions close
    * deterministically by fold or timeout — both paths emit the identical
    * (start, end, n) tuple. Cross-batch state is forced by one file per
    * micro-batch with explicitly ordered modification times.
    */
  private def q119(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q119")
    val in = stage.resolve("in").toString
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"))
    ev.repartition(1).write.mode("append").parquet(in)
    def parts = new java.io.File(in).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSet
    val first = parts
    val flush = ev.select(col("user_id")).distinct()
      .crossJoin(broadcast(ev.agg(max(col("ts")).as("__gm"))))
      .select(col("user_id"),
        (col("__gm") + expr("INTERVAL 2 HOURS")).as("ts"),
        lit(Long.MaxValue).as("event_id"))
    flush.repartition(1).write.mode("append").parquet(in)
    val baseTime = new java.io.File(first.head).lastModified
    (parts -- first).foreach(p => forceMtime(p, baseTime + 120000L))
    val stream = s.readStream.schema(s.read.parquet(in).schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val sess = graft.streaming.Streaming.sessionizeStream(
      stream, gapMinutes = 30, watermark = "10 minutes")
    val mem = graft.streaming.Streaming.runToMemory(sess, "q119_mem",
      org.apache.spark.sql.streaming.OutputMode.Append)
    // the memory sink holds the rows; the staged files can go now
    deleteTree(stage)
    mem.orderBy("user_id", "start_us")
  }

  /** Streaming 11: the O2 batch-cron replacement end-to-end —
    * [[graft.streaming.Streaming.incrementalFileLoad]] drains the source
    * dir exactly-once (checkpoint-tracked), then runs TWICE more: once
    * with nothing new (the checkpoint must skip everything) and once
    * after a full redelivery file lands (watermark lateness drops the old
    * keys, dedup state drops the recent ones). The landed lake table must
    * still equal the source exactly — the identity oracle's fifth
    * consumer, and the strongest: three runs, one truth.
    */
  private def q120(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q120")
    val src = stage.resolve("src").toString
    val target = stage.resolve("lake").toString
    val ckpt = stage.resolve("ckpt").toString
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
    ev.repartition(1).write.mode("append").parquet(src)
    val schema = s.read.parquet(src).schema
    def load(): Unit = graft.streaming.Streaming.incrementalFileLoad(
      s, src, schema, Seq("event_id"), "ts", "10 minutes", target, ckpt)
    load()
    load() // nothing new: checkpoint must skip every file
    ev.repartition(1).write.mode("append").parquet(src) // full redelivery
    load() // late rows die on the watermark, recent ones on dedup state
    materializeDropping(s, s.read.parquet(target)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value")),
      stage)
      .orderBy("event_id")
  }

  /** Graph 3: PERSONALIZED PageRank — teleport concentrated on the first
    * four suppliers (s_suppkey <= 3; a fixed "trusted" set that exists at
    * every scale factor) over the part↔supplier bipartite graph:
    * importance relative to a seed set (RWR), dangling mass restarting at
    * the seeds. Ranks at 12 decimals for the same tie-round reason as
    * q101.
    */
  private def q121(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p = concat(lit("p"), col("l_partkey").cast("string"))
    val sup = concat(lit("s"), col("l_suppkey").cast("string"))
    val edges = li.select(p.as("a"), sup.as("b"))
      .union(li.select(sup.as("a"), p.as("b")))
    val seeds = t(s, dir, "supplier").filter(col("s_suppkey") <= 3)
      .select(concat(lit("s"), col("s_suppkey").cast("string")).as("node"))
    graft.ops.Graph.personalizedPageRank(edges, col("a"), col("b"),
        seeds, col("node"), iters = 2)
      .select(col("node"), round(col("rank"), 12).as("rank"))
      .orderBy("node")
  }

  /** Behavior 1: weekly cohort retention matrix over the event log —
    * first-active-week cohorts × week offset, with the exact integer
    * counts and the IEEE-exact retention quotient
    * ([[graft.ops.Funnel.cohortRetention]]).
    */
  private def q122(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.cohortRetention(t(s, dir, "events"),
        col("user_id"), col("ts"))
      .withColumn("cohort_week",
        date_format(col("cohort_week"), "yyyy-MM-dd"))
      .orderBy("cohort_week", "week_offset")

  /** Timeseries 1: daily resample + forward fill per user — gap days are
    * synthesized from the per-user span and carry the last observed daily
    * max forward ([[graft.ops.Timeseries.resampleDailyFfill]]). Both
    * aggregates (count, max) are order-independent, so the doubles are
    * bit-stable across partitionings.
    */
  private def q123(s: SparkSession, dir: String): DataFrame =
    graft.ops.Timeseries.resampleDailyFfill(t(s, dir, "events"),
        col("user_id"), col("ts"), col("value"))
      .withColumnRenamed("key", "user_id")
      .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
      .orderBy("user_id", "day")

  /** Text 10: BM25 document search — top-25 documents for a three-term
    * query, the per-term q106 scores combined by fixed-order addition so
    * the float sum is engine-deterministic
    * ([[TextAnalysis.bm25Search]]).
    */
  private def q124(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25Search(t(s, dir, "documents"), col("doc_id"),
        col("text"), Seq("data", "query", "stream"), k = 25)
      .select(col("doc_id"), col("n_terms"),
        round(col("score"), 4).as("score"))

  /** Behavior 2: first-order event-type transition matrix — per-user
    * consecutive (from → to) pairs with exact counts and the IEEE-exact
    * row-normalized probability ([[graft.ops.Funnel.transitions]]).
    */
  private def q125(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.transitions(t(s, dir, "events"), col("user_id"),
        col("event_type"), Seq(col("ts"), col("event_id")))
      .orderBy("from_type", "to_type")

  /** Timeseries 2: rolling 7-day event counts over the gap-filled daily
    * grid — the resample makes a ROWS window the exact trailing date
    * range ([[graft.ops.Timeseries.rollingDailyCounts]]).
    */
  private def q126(s: SparkSession, dir: String): DataFrame =
    graft.ops.Timeseries.rollingDailyCounts(t(s, dir, "events"),
        col("user_id"), col("ts"), windowDays = 7)
      .withColumnRenamed("key", "user_id")
      .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
      .orderBy("user_id", "day")

  /** Profile 4: ordered top-3 exemplars per (lang, source) bucket as a
    * deterministic comma-joined list ([[graft.ops.Profile.topKList]] —
    * collect_list made hash-gateable by rank-filter + array_sort).
    */
  private def q127(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.topKList(t(s, dir, "documents"),
        Seq(col("lang"), col("source")), col("doc_id"), col("n_chars"),
        k = 3)
      .withColumnRenamed("__g0", "lang")
      .withColumnRenamed("__g1", "source")
      .orderBy("lang", "source")

  /** Timeseries 3: sliding 2-hour windows each hour via Spark's built-in
    * `window()` generator — the batch twin of the q31 streaming window
    * ([[graft.ops.Timeseries.slidingWindowAgg]]).
    */
  private def q128(s: SparkSession, dir: String): DataFrame =
    graft.ops.Timeseries.slidingWindowAgg(t(s, dir, "events"),
        col("ts"), col("event_type"), col("value"),
        widthSec = 7200L, slideSec = 3600L)
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("grp").as("event_type"), col("n_events"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** Timeseries 4: 3-sigma outlier days per user — decimal-exact daily
    * sums and moment sums, IEEE threshold algebra
    * ([[graft.ops.Timeseries.outlierDays]], q99's determinism idiom).
    */
  private def q129(s: SparkSession, dir: String): DataFrame =
    graft.ops.Timeseries.outlierDays(t(s, dir, "events"),
        col("user_id"), col("ts"), col("value"), nSigmas = 3.0)
      .withColumnRenamed("key", "user_id")
      .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
      .orderBy("user_id", "day")

  /** Ingest 10: semi-structured field extraction + aggregation — the
    * engine-level restatement of the reference's JSON-tree navigation
    * (S9/diagnostico.py): pull a typed field out of a JSON string column
    * with the codegen'd `get_json_object` path and aggregate it like any
    * other column. All integer stats.
    */
  private def q130(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"),
        // try_cast mirrors the oracle's TRY_CAST: a non-numeric $.k must
        // yield null on both sides, not throw under ANSI on this side only.
        get_json_object(col("props"), "$.k").try_cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), count(col("k")).as("n_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        sum(col("k")).as("sum_k"),
        count_distinct(col("k")).as("k_distinct"))
      .orderBy("event_type")

  /** Timeseries 5: per-(user, day) time-weighted average of the step-
    * function value — decimal-exact value×duration integral, one IEEE
    * quotient at the end ([[graft.ops.Timeseries.timeWeightedAvg]]).
    */
  private def q131(s: SparkSession, dir: String): DataFrame =
    graft.ops.Timeseries.timeWeightedAvg(t(s, dir, "events"),
        col("user_id"), col("ts"), col("value"),
        Seq(col("ts"), col("event_id")))
      .withColumnRenamed("key", "user_id")
      .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
      .orderBy("user_id", "day")

  /** Timeseries 6: inter-event gap histogram (whole minutes, capped tail
    * bucket) — pure integers ([[graft.ops.Timeseries.gapHistogram]]).
    */
  private def q132(s: SparkSession, dir: String): DataFrame =
    graft.ops.Timeseries.gapHistogram(t(s, dir, "events"),
        col("user_id"), col("ts"), Seq(col("ts"), col("event_id")),
        capMinutes = 60)
      .orderBy("gap_minutes")

  /** Profile 5: Gini concentration of document length per source — the
    * corpus-balance inequality readout; all-integer rank×measure sums,
    * one final IEEE division ([[graft.ops.Profile.giniIndex]]).
    */
  private def q133(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.giniIndex(t(s, dir, "documents"), col("source"),
        col("n_chars"), col("doc_id"))
      .withColumnRenamed("__g", "source")
      .withColumn("gini", round(col("gini"), 6))
      .orderBy("source")

  /** Behavior 3: funnel time-to-convert statistics — q95's three-stage
    * frontier aggregated to per-stage conversion latency (integer
    * microsecond sums, exact quotients). The composition stays
    * oracle-gated because every intermediate is the q95 frontier.
    */
  private def q134(s: SparkSession, dir: String): DataFrame = {
    val f = graft.ops.Funnel.funnel(t(s, dir, "events"), col("user_id"),
      col("ts"), col("event_type"), Seq("view", "click", "purchase"))
    val vc = unix_micros(col("t_click")) - unix_micros(col("t_view"))
    val cp = unix_micros(col("t_purchase")) - unix_micros(col("t_click"))
    f.agg(count(lit(1)).as("n_converted"),
        sum(vc).as("__vc_us"), max(vc).as("__vc_max_us"),
        sum(cp).as("__cp_us"), max(cp).as("__cp_max_us"))
      .select(col("n_converted"),
        round(col("__vc_us").cast("double") /
          col("n_converted").cast("double") / lit(1000000.0d), 6)
          .as("avg_view_click_sec"),
        round(col("__vc_max_us").cast("double") / lit(1000000.0d), 6)
          .as("max_view_click_sec"),
        round(col("__cp_us").cast("double") /
          col("n_converted").cast("double") / lit(1000000.0d), 6)
          .as("avg_click_purchase_sec"),
        round(col("__cp_max_us").cast("double") / lit(1000000.0d), 6)
          .as("max_click_purchase_sec"))
  }

  /** Behavior 4: market-basket co-purchase affinity — part pairs
    * co-occurring in ≥2 orders with popularity-corrected lift
    * ([[graft.ops.Funnel.coOccurrence]]); the pair space is a basket-key
    * self equi-join, never a cartesian.
    */
  private def q135(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.coOccurrence(t(s, dir, "lineitem"),
        col("l_orderkey"), col("l_partkey"), minSupport = 2L)
      .withColumn("lift", round(col("lift"), 6))
      .orderBy("item_a", "item_b")

  /** Streaming 9: SLIDING-window streaming aggregation — the same
    * `window(2h, 1h)` generator as batch q128, run as a watermarked
    * stream and hash-gated against q128's oracle VERBATIM: the streamed
    * overlapping windows must equal the batch ones bit-for-bit.
    */
  private def q136(s: SparkSession, dir: String): DataFrame = {
    val agg = graft.streaming.Streaming.windowedCounts(
      Tables.stream(s, dir, "events"), "ts", "10 minutes",
      "7200 seconds", Some("3600 seconds"))
    graft.streaming.Streaming.runToMemory(agg, "q136_mem")
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("window_start", "event_type")
  }

  /** Similarity 7: corpus k-NN graph — every vector's top-3 in-block
    * neighbors ([[Similarity.knnGraph]]): blocked pairwise cosine scored
    * once, symmetrized, per-node rank window.
    */
  private def q137(s: SparkSession, dir: String): DataFrame =
    Similarity.knnGraph(t(s, dir, "embeddings"), col("vec_id"),
        col("embedding"), Seq(col("label")), k = 3)
      .select(col("node"), col("rank"), col("nbr"),
        round(col("cosine"), 4).as("cosine"))
      .orderBy("node", "rank")

  /** Graph 4: label-propagation communities over the part↔supplier
    * bipartite graph, two synchronous rounds with the deterministic
    * min-label tie-break ([[graft.ops.Graph.labelPropagation]]) —
    * all-integer, no floats anywhere.
    */
  private def q138(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p = concat(lit("p"), col("l_partkey").cast("string"))
    val sup = concat(lit("s"), col("l_suppkey").cast("string"))
    val edges = li.select(p.as("a"), sup.as("b"))
      .union(li.select(sup.as("a"), p.as("b")))
    graft.ops.Graph.labelPropagation(edges, col("a"), col("b"), iters = 2)
      .orderBy("node")
  }

  /** Similarity 8: one message-passing layer — element-wise neighbor-mean
    * embeddings over the q137 k-NN graph, first 8 dims, decimal-exact
    * sums ([[Similarity.neighborMeanFeatures]]).
    */
  private def q139(s: SparkSession, dir: String): DataFrame =
    Similarity.neighborMeanFeatures(t(s, dir, "embeddings"),
        col("vec_id"), col("embedding"), Seq(col("label")), k = 3,
        dims = 8)
      .withColumn("mean_v", rdz(col("mean_v"), 6))
      .orderBy("node", "dim")

  /** Streaming-adjacent 10: Spark's NATIVE `session_window` (the built-in
    * gap-session operator) hash-gated against q32's hand-rolled lag/sum
    * sessionization oracle VERBATIM — the two formulations must produce
    * identical per-user session rollups. (Boundary semantics differ only
    * for a gap of exactly 30:00.000000 — session_window's half-open end
    * vs q32's `>` test; verified absent at all three SFs, so the gate is
    * exact on this data.)
    */
  private def q140(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("session_events"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("session_events")).cast("long").as("n_events"),
        max(col("session_events")).as("max_session_events"))
      .orderBy("user_id")

  /** Profile 6: equal-frequency (quartile) binning of document length per
    * language — `ntile` with a full tie-break is deterministic in both
    * engines; per-bin counts and length ranges, all integers.
    */
  private def q141(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars").asc, col("doc_id").asc)
    t(s, dir, "documents")
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .groupBy("lang", "quartile")
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("lang", "quartile")
  }

  /** Similarity 9: INCREMENTAL k-NN graph maintenance — vectors with
    * vec_id < 40 arrive as the "new batch" against the rest as corpus;
    * only batch×corpus and batch×batch pairs are scored and merged with
    * the corpus graph's edges ([[Similarity.knnGraphIncremental]]). The
    * oracle is q137's FULL-recompute SQL verbatim: the merge law itself
    * is the gate.
    */
  private def q142(s: SparkSession, dir: String): DataFrame = {
    val all = t(s, dir, "embeddings")
    val corpus = all.filter(col("vec_id") >= 40)
    val batch = all.filter(col("vec_id") < 40)
    val existing = Similarity.knnGraph(corpus, col("vec_id"),
      col("embedding"), Seq(col("label")), k = 3)
    Similarity.knnGraphIncremental(existing, corpus, batch, col("vec_id"),
        col("embedding"), Seq(col("label")), k = 3)
      .select(col("node"), col("rank"), col("nbr"),
        round(col("cosine"), 4).as("cosine"))
      .orderBy("node", "rank")
  }

  /** Profile 7: exact percentile ranks — `percent_rank` and `cume_dist`
    * of document length within each language. Both are exact rationals
    * of integer rank statistics ((rank−1)/(n−1), rank_with_ties/n), so
    * the doubles are engine-identical; sampled to every 25th doc to keep
    * the gated output narrow while still spanning the distribution.
    */
  private def q143(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars").asc, col("doc_id").asc)
    t(s, dir, "documents")
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
      .filter(col("doc_id") % 25 === 0)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        col("pct_rank"), col("cume"))
      .orderBy("lang", "doc_id")
  }

  /** Round-5 curation policy: source → priority, deliberately NON-monotone
    * in the source name ((i·7) mod 20 is a permutation of 0..19) so the
    * q145 gate proves the policy JOIN is load-bearing — a lexical-order
    * shortcut would produce different canonicals. Shared by the Spark side
    * and the oracle's VALUES list (single source of truth, q110's
    * splitBounds pattern).
    */
  private val sourcePriority: Seq[(String, Int)] =
    (0 until 20).map(i => (s"src$i", (i * 7) % 20))

  /** Dedup 12 (round-5): canonical-document selection by POLICY TABLE —
    * within each near-dup component (q52's groups), keep the doc whose
    * SOURCE has the best (lowest) priority in an explicit curation-policy
    * dimension, ties to the smallest doc_id. The q69 keep-best shape with
    * the score replaced by a broadcast policy join — "prefer the licensed
    * mirror over the scrape" is a table a curator edits, not a computed
    * quality score. One rank window per component (bounded by component
    * size), policy dim broadcast.
    */
  private def q145(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val comp = Dedup.connectedComponents(q21Pairs(s, dir))
    val pri = sourcePriority.toDF("source", "priority")
    // r14: per-component canonical pick as min(struct(priority, id, …))
    // — ≡ (priority ASC, id ASC) row_number()=1, partial-aggregatable,
    // fused into the counting aggregation (no window sort; q69's device)
    comp.join(t(s, dir, "documents").select(col("doc_id").as("id"),
        col("source")), Seq("id"))
      .join(broadcast(pri), "source")
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"),
        min(struct(col("priority").as("p"), col("id").as("i"),
          col("source").as("s"))).as("__b"))
      .select(col("component"), col("n_docs"),
        col("__b").getField("i").as("keep_id"),
        col("__b").getField("s").as("keep_source"),
        col("__b").getField("p").cast("long").as("keep_priority"))
      .orderBy("component")
  }

  /** Profile 8 (round-5): distribution-drift monitor — the events table's
    * `value` histogram, first half of the month (reference) vs second
    * half (current), per event_type: triangular-discrimination statistic
    * over 20 fixed-width bins ([[graft.ops.Profile.histogramDrift]]).
    * Histogram counts are the sufficient statistic — shuffle is
    * groups × bins, not rows.
    */
  private def q147(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.histogramDrift(t(s, dir, "events"),
        col("event_type"), col("value"),
        col("ts") >= lit("2024-01-16").cast("timestamp"),
        binWidth = 25.0, nBins = 20)
      .withColumnRenamed("group_key", "event_type")
      .orderBy("event_type")

  /** Similarity 8 (round-5): retrieval-quality metrics IN THE ENGINE —
    * recall@5 and reciprocal rank of the IVF nprobe=1 search (q37's
    * operator) against brute-force ground truth (q25's), per query. The
    * evaluation loop a retrieval pipeline runs after every index rebuild,
    * as one relational job: both searches compose, one equi-join marks
    * relevant hits, the metrics are exact rationals (hits/|truth|,
    * 1/first-relevant-rank — no logarithm-bearing nDCG by determinism
    * contract; rank-weighted metrics beyond RR belong to an external
    * evaluator). Oracle restates BOTH pipelines + the metric SQL.
    */
  private def q146(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val qs = e.filter(col("vec_id") < 10)
    val truth = Similarity.bruteForceTopK(e, col("vec_id"), col("embedding"),
        qs, col("vec_id"), col("embedding"), k = 5)
      .select(col("query_id"), col("item_id"), lit(1L).as("__rel"))
    val cent = Similarity.minIdSeeds(e, col("vec_id"), col("embedding"),
      col("label"))
    val approx = Similarity.ivfTopK(e, col("vec_id"), col("embedding"),
        cent, col("cell"), col("cvec"),
        qs, col("vec_id"), col("embedding"), k = 5, nprobe = 1)
      .select(col("query_id"), col("item_id"), col("rank"))
    approx.join(truth, Seq("query_id", "item_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_returned"),
        sum(coalesce(col("__rel"), lit(0L))).as("hits"),
        min(when(col("__rel") === 1L, col("rank"))).as("__first"))
      .select(col("query_id"), col("n_returned"), col("hits"),
        round(col("hits").cast("double") / lit(5.0d), 6).as("recall_at_5"),
        round(coalesce(lit(1.0d) / col("__first").cast("double"), lit(0.0d)),
          6).as("reciprocal_rank"))
      .orderBy("query_id")
  }

  /** Profile 10 (round-5): drift TIMELINE — q147's statistic between
    * every pair of consecutive days per event_type
    * ([[graft.ops.Profile.driftSeries]]): the "which day did the
    * distribution move" monitor. One row-grain aggregation; everything
    * after operates on the histogram frame.
    */
  private def q153(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.driftSeries(t(s, dir, "events"),
        col("event_type"), col("value"), col("ts"),
        binWidth = 25.0, nBins = 20)
      .withColumnRenamed("group_key", "event_type")
      .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
      .orderBy("event_type", "day")

  /** Profile 11 (round-5): winsorize with ONE global stratum — the
    * mega-stratum shape the round-5 banded rewrite exists for (the whole
    * table is the stratum; the legacy plan serialized it through a single
    * rank-window task). Tighter quantiles than q98 so both gates differ.
    */
  private def q154(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.winsorize(
        t(s, dir, "events").select("event_id", "value"),
        lit("all"), col("value"), col("event_id"), loQ = 0.01, hiQ = 0.99)
      .select(col("event_id"), col("value"), col("clamped"))
      .orderBy("event_id")

  /** Profile 12 (round-5): per-label Gram matrix of the embedding corpus
    * ([[graft.ops.Profile.gramMatrix]]) — the exact uncentered
    * second-moment sums PCA/whitening starts from, computed with
    * map-side cell generation (no join, shuffle carries only
    * labels × 2 080 partial sums). 20 800 exact cells at 10 labels.
    */
  private def q155(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.gramMatrix(t(s, dir, "embeddings"),
        col("label"), col("embedding"))
      .withColumnRenamed("group_key", "label")
      .orderBy("label", "i", "j")

  /** Profile 17 (round-8): DIM-TILED Gram matrix
    * ([[graft.ops.Profile.gramMatrixTiled]], tile = 16 over d = 64 so
    * the tiling genuinely fans: 4 tiles → 10 tile pairs per row) —
    * the production variant for modern embedding widths, where q155's
    * flat generator would materialize an 8.4M-struct array per row at
    * d = 4096. Identical cell set and DECIMAL sums by construction;
    * gated against q155's oracle VERBATIM, so any tile-boundary slip
    * (lost diagonal, double-counted edge cell, descending-sequence
    * wraparound) fails the hash.
    */
  private def q285(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.gramMatrixTiled(t(s, dir, "embeddings"),
        col("label"), col("embedding"), tile = 16)
      .withColumnRenamed("group_key", "label")
      .orderBy("label", "i", "j")

  /** Text 14 (round-5): shingle novelty per ingest batch
    * ([[graft.ops.TextAnalysis.shingleNovelty]]) — the fixture's
    * `src<N>` sources read as ingest generations (batch = N, numeric so
    * src10 follows src9, not src1): what fraction of each batch's
    * distinct 3-gram shingles is NEW relative to all earlier batches,
    * the marginal-value-of-ingest curve.
    */
  private def q156(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.shingleNovelty(t(s, dir, "documents"),
        substring(col("source"), 4, 10).cast("int"), col("text"), n = 3)
      .orderBy("batch")

  /** Dedup 17 (round-5): component-size histogram — q52's near-dup
    * components folded to the readout a dedup run is judged by (how much
    * is duplicated, in clusters of what size). Sizes come off the
    * component frame (one count per component), the histogram off the
    * sizes (result-grain), and the singleton row closes the accounting:
    * Σ n_docs equals the corpus row count, so the gate doubles as a
    * conservation check over the whole CC pipeline.
    */
  private def q157(s: SparkSession, dir: String): DataFrame = {
    val sizes = Dedup.connectedComponents(q21Pairs(s, dir))
      .groupBy(col("component")).agg(count(lit(1)).as("__sz"))
    val hist = sizes.groupBy(col("__sz").as("component_size"))
      .agg(count(lit(1)).as("n_components"), sum(col("__sz")).as("n_docs"))
    val grouped = sizes.agg(coalesce(sum(col("__sz")), lit(0L)).as("__g"))
    val singleton = t(s, dir, "documents").agg(count(lit(1)).as("__n"))
      .crossJoin(broadcast(grouped))
      .select(lit(1L).as("component_size"),
        (col("__n") - col("__g")).as("n_components"),
        (col("__n") - col("__g")).as("n_docs"))
      .filter(col("n_components") > 0)
    hist.unionByName(singleton).orderBy("component_size")
  }

  /** Streaming 14 (round-5): the skew monitor IN-FLIGHT — q152's
    * per-key counts as a complete-mode streaming aggregation, finished
    * through the same top-k/share fold
    * ([[graft.streaming.Streaming.skewReportStream]]), gated against
    * q152's batch oracle verbatim (integer counts → bit-identical, the
    * q150/q147 shared-oracle pattern).
    */
  private def q158(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q158")
    val src = stage.resolve("src").toString
    t(s, dir, "events").select(col("user_id"))
      .repartition(2).write.mode("overwrite").parquet(src)
    val schema = s.read.parquet(src).schema
    val out = graft.streaming.Streaming.skewReportStream(
      s.readStream.schema(schema).parquet(src),
      col("user_id"), k = 5, name = "q158_counts")
    materializeDropping(s, out.withColumnRenamed("key_value", "user_id"),
      stage)
      .orderBy("rank")
  }

  /** Graph 8 (round-5): triangle counts + local clustering coefficient
    * over q137's within-label kNN graph ([[Graph.triangleCounts]]) —
    * the cohesion readout of the semantic neighborhood graph (how
    * clique-ish each document's neighborhood is; low clustering at high
    * degree flags hub vectors that glue unrelated regions together).
    * Degree-ordered wedge join inside the operator (out-degree bounded
    * by O(√m) — hub-proof); the oracle recomputes the same triangle set
    * with plain id-order joins, which the orientation provably equals.
    */
  private def q159(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.triangleCounts(
        Similarity.knnGraph(t(s, dir, "embeddings"), col("vec_id"),
          col("embedding"), Seq(col("label")), k = 3),
        col("node"), col("nbr"))
      .select(col("node"), col("degree"), col("n_triangles"),
        round(col("clustering"), 6).as("clustering"))
      .orderBy("node")

  /** Text 15 (round-5): token co-occurrence PMI
    * ([[TextAnalysis.tokenPmi]]) — the document-cooccurrence statistic
    * word-embedding training consumes (PMI matrix ≈ what word2vec
    * factorizes). Pairs generated map-side (no doc_id self-join); PMI is
    * ln of the q135 DECIMAL-ratio idiom, so round-6 matches the oracle.
    * High support floor keeps the listing at result grain.
    */
  private def q160(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenPmi(t(s, dir, "documents"), col("doc_id"),
        col("text"), minSupport = 20L)
      .withColumn("pmi", round(col("pmi"), 6))
      .orderBy("token_a", "token_b")

  /** Dedup 18 (round-5): LSH estimator calibration — for every UNVERIFIED
    * banding candidate pair of q21's pipeline, the signature-agreement
    * estimate (matching minima / 16) against the exact Jaccard, folded by
    * agreement level: n_pairs, mean true Jaccard (q149's round-9 →
    * DECIMAL-sum idiom), and how many would pass the 0.5 dedup threshold.
    * This is the "is my banding config honest" readout — a calibrated
    * estimator shows mean_jaccard tracking est_jaccard; mass at low
    * agreement levels is bucket-collision noise the verify join pays for.
    * Reuses the memoized q21 signature cache and candidate plan; one
    * extra pair-grain pass, result grain 17 rows max.
    */
  private def q161(s: SparkSession, dir: String): DataFrame = {
    val (sig, candidates, _) = q21Parts(s, dir)
    val sigArr = array((0 until 16).map(k => col(s"s$k")): _*)
    val withA = sig.select(col("doc_id").as("id_a"), sigArr.as("__sga"),
        col("hset").as("sh_a"))
      .join(broadcast(candidates), Seq("id_a"))
    val perPair = sig.select(col("doc_id").as("id_b"), sigArr.as("__sgb"),
        col("hset").as("sh_b"))
      .join(graft.GraftConf.hintPairJoin(withA), Seq("id_b"))
      .select(
        aggregate(zip_with(col("__sga"), col("__sgb"),
            (a, b) => when(a === b, 1L).otherwise(0L)),
          lit(0L), (acc, x) => acc + x).as("n_match"),
        jaccard(col("sh_a"), col("sh_b")).as("__j"))
    perPair.groupBy(col("n_match"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(round(col("__j"), 9).cast("decimal(28,12)")).as("__sj"),
        sum(when(col("__j") >= 0.5, 1L).otherwise(0L)).as("n_pass"))
      .select(col("n_match"),
        round(col("n_match").cast("double") / lit(16.0), 6).as("est_jaccard"),
        col("n_pairs"),
        round(col("__sj").cast("double") /
          col("n_pairs").cast("double"), 6).as("mean_jaccard"),
        col("n_pass"))
      .orderBy("n_match")
  }

  /** Profile 13 (round-5): per-label POPULATION covariance matrix
    * ([[graft.ops.Profile.covarianceMatrix]]) — q155's gram second
    * moment centered by the mean outer product, the exact input PCA /
    * whitening consumes. Centering adds no shuffle: the per-dim mean
    * frame (labels × 64 rows) broadcasts onto the gram cells.
    */
  private def q162(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.covarianceMatrix(t(s, dir, "embeddings"),
        col("label"), col("embedding"))
      .withColumnRenamed("group_key", "label")
      .withColumn("cov", rdz(col("cov"), 6))
      .orderBy("label", "i", "j")

  /** Profile 14 (round-5): top principal direction per label by TWO
    * unrolled power-iteration rounds over q155's published round-6 gram
    * matrix ([[graft.ops.Profile.powerIteration]]) — PCA's first step as
    * joins + aggregates. After the one gram pass the corpus never
    * re-enters: each matvec is d² cells × a broadcast d-row vector.
    * Matvec/norm sums ride the round-9 → DECIMAL idiom, so the unrolled
    * oracle replays the identical arithmetic.
    */
  private def q163(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.powerIteration(t(s, dir, "embeddings"),
        col("label"), col("embedding"), iters = 2)
      .withColumnRenamed("group_key", "label")
      .select(col("label"), col("dim"),
        rdz(col("component"), 6).as("component"),
        rdz(col("eigenvalue"), 6).as("eigenvalue"))
      .orderBy("label", "dim")

  /** Graph 9 (round-5): degree assortativity of q137's kNN graph
    * ([[graft.ops.Graph.degreeAssortativity]]) — does the semantic graph
    * wire hubs to hubs (positive) or hubs to periphery (negative)? One
    * scalar row; all moment sums integer-exact (the q99 correlation
    * idiom with the decimal-noise concerns removed).
    */
  private def q164(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.degreeAssortativity(
        Similarity.knnGraph(t(s, dir, "embeddings"), col("vec_id"),
          col("embedding"), Seq(col("label")), k = 3),
        col("node"), col("nbr"))
      .select(col("n_edges"),
        rdz(col("assortativity"), 6).as("assortativity"))

  /** Text 16 (round-5): skip-gram PMI, window ±2
    * ([[TextAnalysis.skipgramPmi]]) — q160's POSITIONAL sibling and the
    * literal word2vec signal (pair/unigram probabilities over windows
    * and occurrences, not document sets). Map-side slice zip_with pair
    * generation, no positional self-join.
    */
  private def q165(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.skipgramPmi(t(s, dir, "documents"), col("text"),
        window = 2, minSupport = 20L)
      .withColumn("pmi", rdz(col("pmi"), 6))
      .orderBy("token_a", "token_b")

  /** Text 17 (round-5): the curation YIELD FUNNEL — q108's Gopher rules
    * applied cumulatively in their documented order, one row per stage
    * with survivors and pass rate: the "where does my corpus die"
    * report every data-curation run is judged by. One pass, one scalar
    * aggregation, unpivoted to result grain.
    */
  private def q166(s: SparkSession, dir: String): DataFrame = {
    val gf = TextAnalysis.gopherFlags(t(s, dir, "documents"),
      col("doc_id"), col("text"), minWords = 20)
    val c1 = col("words_ok")
    val c2 = c1 && col("word_len_ok")
    val c3 = c2 && col("alpha_ok")
    val c4 = c3 && col("symbol_ok")
    val c5 = c4 && col("stop_ok")
    def surv(c: Column) = sum(when(c, 1L).otherwise(0L))
    gf.agg(count(lit(1)).as("n0"), surv(c1).as("n1"), surv(c2).as("n2"),
        surv(c3).as("n3"), surv(c4).as("n4"), surv(c5).as("n5"))
      .select(col("n0"), explode(array(
        struct(lit(0L).as("stage"), lit("total").as("rule"),
          col("n0").as("n_docs")),
        struct(lit(1L).as("stage"), lit("words_ok").as("rule"),
          col("n1").as("n_docs")),
        struct(lit(2L).as("stage"), lit("word_len_ok").as("rule"),
          col("n2").as("n_docs")),
        struct(lit(3L).as("stage"), lit("alpha_ok").as("rule"),
          col("n3").as("n_docs")),
        struct(lit(4L).as("stage"), lit("symbol_ok").as("rule"),
          col("n4").as("n_docs")),
        struct(lit(5L).as("stage"), lit("stop_ok").as("rule"),
          col("n5").as("n_docs")))).as("r"))
      .select(col("r.stage"), col("r.rule"), col("r.n_docs"),
        round(col("r.n_docs").cast("double") / col("n0").cast("double"), 6)
          .as("pass_rate"))
      .orderBy("stage")
  }

  /** Sampling 9 (round-5): curriculum interleave
    * ([[Sampling.curriculumInterleave]]) — quality tiers (fixed
    * thresholds on q28's score, NOT ntile) alternating round-robin in a
    * global training order: steady quality mixture in every batch
    * prefix, no global sort by score.
    */
  private def q167(s: SparkSession, dir: String): DataFrame =
    Sampling.curriculumInterleave(t(s, dir, "documents"), col("doc_id"),
        TextAnalysis.qualityScore(col("text")), tiers = 4)
      .orderBy("position")

  /** Sampling 10 (round-5): largest-remainder token-budget allocation
    * ([[Sampling.allocateBudget]]) over q105's temperature weights —
    * the integer sampling plan between mixture weights and an
    * executable per-source budget. Σ alloc == 1,000,000 exactly (the
    * conservation law IS the gate).
    */
  private def q168(s: SparkSession, dir: String): DataFrame =
    Sampling.allocateBudget(
        Sampling.temperatureMix(t(s, dir, "documents"), col("source"), 0.5),
        col("source"), col("mix_weight"), total = 1000000L)
      .withColumnRenamed("key", "source")
      .select(col("source"), round(col("weight"), 6).as("weight"),
        round(col("ideal"), 6).as("ideal"), col("alloc"))
      .orderBy("source")

  /** Graph 10 (round-5): 75-core of the co-purchase graph
    * ([[graft.ops.Graph.kCore]]) — parts are linked when they share an
    * order (q135's basket pairs), and the k-core peel isolates the
    * mutually-dense cluster with degrees measured inside the core. A kNN
    * graph is k-regular by construction (its cores are all-or-nothing —
    * measured, not guessed), so the peel runs on the natural-degree
    * basket graph where it does real multi-round work (5 rounds at
    * sf0.01/sf0.1). The peel stops at the fixpoint (count-equality per
    * round); the oracle unrolls a fixed 16 rounds, the identity past the
    * fixpoint — the q52/q138 early-stop-vs-unroll gate pattern.
    */
  private def q169(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("__b"), col("l_partkey").as("__i"))
      .distinct()
    val edges = li.select(col("__b"), col("__i").as("pa"))
      .join(li.select(col("__b"), col("__i").as("pb")), Seq("__b"))
      .filter(col("pa") < col("pb"))
    graft.ops.Graph.kCore(edges, col("pa"), col("pb"), k = 75,
        maxRounds = 16)
      .orderBy("node")
  }

  /** Dedup 19 (round-5): blocked fuzzy entity match
    * ([[graft.ops.Dedup.fuzzyMatchBlocked]]) — record linkage over part
    * names: distinct-name grain, first-token blocking, Levenshtein ≤ 3
    * verify inside the join. The entity-resolution step exact dedup
    * can't express; candidate volume Σ block² at distinct-key grain.
    */
  private def q170(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.fuzzyMatchBlocked(t(s, dir, "part"), col("p_name"),
        split(col("p_name"), " ").getItem(0), maxDist = 3)
      .withColumnRenamed("key_a", "name_a")
      .withColumnRenamed("key_b", "name_b")
      .orderBy("name_a", "name_b")

  /** Similarity 12 (round-5): kNN label-disagreement audit
    * ([[Similarity.labelDisagreement]]) — Confident-Learning-style
    * label-error detection: for a 50-query audit sample, the fraction of
    * exact nearest neighbors voting against the assigned label.
    * Deliberately UNBLOCKED (q137's graph blocks by label and can never
    * see a cross-label neighbor); brute-force over the sample is the
    * honest 100 TB shape — you audit a slice, linearly in corpus size.
    */
  private def q171(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.labelDisagreement(e, col("vec_id"), col("embedding"),
        col("label"), e.filter(col("vec_id") < 50), k = 5)
      .orderBy("query_id")
  }

  /** Profile 15 (round-5): MAD robust outliers
    * ([[graft.ops.Profile.madOutliers]]) per event type — q129's z-score
    * flag with the robust center/spread (median, median absolute
    * deviation) the outliers can't drag. Exact interpolated medians
    * (the q46 parity idiom); swap percentile_approx at 100 TB.
    */
  private def q172(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.madOutliers(t(s, dir, "events"), col("event_type"),
        col("value"), nSigma = 3.0)
      .withColumnRenamed("group_key", "event_type")
      .withColumn("med", round(col("med"), 4))
      .withColumn("mad", round(col("mad"), 4))
      .orderBy("event_type")

  /** Profile 16 (round-5): Cohen's kappa
    * ([[graft.ops.Profile.cohensKappa]]) between two rule-based document
    * labelings (char-length gate vs token-count gate) — chance-corrected
    * inter-annotator agreement, the labeling-pipeline acceptance metric.
    * All-integer inputs, one IEEE expression tree.
    */
  private def q173(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.tokens
    graft.ops.Profile.cohensKappa(t(s, dir, "documents"),
      when(col("n_chars") >= 150, lit("good")).otherwise(lit("bad")),
      when(size(tokens(col("text"))) >= 30, lit("good")).otherwise(lit("bad")))
  }

  /** Text 18 (round-5): rare-token scoring
    * ([[TextAnalysis.rareTokenRatio]]) — the unigram-LM-proxy curation
    * filter: per-doc fraction of token occurrences whose corpus share is
    * below 1/64. The perplexity-filter shape with an integer rarity test
    * instead of a float log-prob, so the gate is exact.
    */
  private def q174(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.rareTokenRatio(t(s, dir, "documents"), col("doc_id"),
        col("text"), shareDenom = 64L)
      .orderBy("doc_id")

  /** Similarity 13 (round-5): reciprocal-rank fusion
    * ([[Similarity.rrfFuse]]) of the exact-cosine top-50
    * ([[Similarity.bruteForceTopK]]) with the int8 integer-dot top-50
    * ([[Similarity.int8Ranking]]) — the standard hybrid-retrieval
    * combiner: rank positions only, no score normalization, items
    * missing from one list contribute 0. Final top-10 per query.
    */
  private def q175(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 10)
    Similarity.rrfFuse(
        Similarity.bruteForceTopK(e, col("vec_id"), col("embedding"),
          queries, col("vec_id"), col("embedding"), k = 50),
        Similarity.int8Ranking(e, col("vec_id"), col("embedding"),
          queries, col("vec_id"), col("embedding"), k = 50),
        k = 10)
      .orderBy("query_id", "rank")
  }

  /** Text 19 (round-5): pairwise source-overlap matrix
    * ([[TextAnalysis.sourceOverlap]]) — shared distinct 3-gram shingles
    * and Jaccard between every source pair: q156's novelty curve
    * resolved to pairs, the "which sources duplicate each other"
    * procurement readout. Posting join fanout bounded by |sources|.
    */
  private def q176(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.sourceOverlap(t(s, dir, "documents"), col("source"),
        col("text"), n = 3)
      .withColumnRenamed("group_a", "source_a")
      .withColumnRenamed("group_b", "source_b")
      .orderBy("source_a", "source_b")

  /** Behavior 4 (round-5): top-20 event-type path trigrams
    * ([[graft.ops.Funnel.pathNgrams]]) — q125's transition matrix at
    * motif grain: which whole three-step corridors carry the traffic.
    * One window pass (two `lead`s), map-side counts, TakeOrdered.
    */
  private def q177(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.pathNgrams(t(s, dir, "events"), col("user_id"),
        col("event_type"), Seq(col("ts"), col("event_id")), n = 3, k = 20)

  /** Text 20 (round-5): per-document token entropy
    * ([[TextAnalysis.tokenEntropy]]) — the repetitiveness readout
    * (H = ln n − Σ c·ln c / n, nats): near 0 = one token dominates,
    * near ln(distinct) = flat. Round-9 → decimal-sum idiom keeps the
    * only float reduction order-independent.
    */
  private def q178(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenEntropy(t(s, dir, "documents"), col("doc_id"),
        col("text"))
      .orderBy("doc_id")

  /** Quality 1 (round-5): referential-integrity audit
    * ([[graft.ops.Profile.referentialAudit]]) over the star schema's
    * four FK relations, both directions — orphan children AND
    * unreferenced parents (the coverage readout; the fixture is
    * orphan-clean, so coverage is where the signal lives). One
    * anti-join per direction per relation.
    */
  private def q179(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Profile.referentialAudit
    val li = t(s, dir, "lineitem")
    referentialAudit("lineitem->orders", li, col("l_orderkey"),
        t(s, dir, "orders"), col("o_orderkey"))
      .unionByName(referentialAudit("lineitem->part", li, col("l_partkey"),
        t(s, dir, "part"), col("p_partkey")))
      .unionByName(referentialAudit("lineitem->supplier", li,
        col("l_suppkey"), t(s, dir, "supplier"), col("s_suppkey")))
      .unionByName(referentialAudit("orders->customer", t(s, dir, "orders"),
        col("o_custkey"), t(s, dir, "customer"), col("c_custkey")))
      .orderBy("relation")
  }

  /** Quality 2 (round-5): Benford first-digit audit
    * ([[graft.ops.Profile.benfordDigits]]) of event values per type —
    * the fabricated-numbers smell test. First digit extracted
    * INTEGER-side (cents → string) so no runtime log10 sits on the
    * gate; Benford expectations are Scala literals injected into both
    * engines.
    */
  private def q180(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.benfordDigits(t(s, dir, "events"),
        col("event_type"), col("value"))
      .withColumnRenamed("group_key", "event_type")
      .orderBy("event_type", "digit")

  /** Quality 3 (round-5): snapshot diff
    * ([[graft.enrich.Enrich.snapshotDiff]]) between two deterministic
    * versions of the orders table (drop-by-mod-7 vs drop-by-mod-5 with a
    * price bump on mod-3) — the lakehouse "what changed between
    * versions" audit: added/removed/changed keys with the differing
    * column list, delta-sized output.
    */
  private def q181(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val oldV = orders.filter(col("o_orderkey") % 7 =!= 0)
    val newV = orders.filter(col("o_orderkey") % 5 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1.0d)
          .otherwise(col("o_totalprice")))
    graft.enrich.Enrich.snapshotDiff(oldV, newV, "o_orderkey",
        Seq("o_totalprice", "o_orderstatus", "o_orderpriority"))
      .orderBy("o_orderkey")
  }

  /** Text 21 (round-5): Zipf rank–frequency fit
    * ([[TextAnalysis.zipfFit]]) — least-squares slope of ln(freq) on
    * ln(rank) over the unigram distribution, the one-number corpus
    * health check (natural text ≈ −1). Regression sums ride the
    * round-9 → decimal idiom; the rank window runs over the vocab, not
    * the corpus.
    */
  private def q182(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.zipfFit(t(s, dir, "documents"), col("text"))

  /** Profile 17 (round-5): per-type hour-of-day trend
    * ([[graft.ops.Profile.groupOls]]) — OLS slope/intercept of event
    * value on hour, the drift-with-time detector as one aggregation
    * pass. Integer x and fixed-point y keep every moment sum
    * DECIMAL-exact.
    */
  private def q183(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.groupOls(t(s, dir, "events"), col("event_type"),
        hour(col("ts")), col("value"), scale = 4)
      .withColumnRenamed("group_key", "event_type")
      .orderBy("event_type")

  /** Graph 11 (round-5): weighted PageRank
    * ([[graft.ops.Graph.weightedPageRank]]) over the part↔supplier
    * shipment graph with Σ l_quantity edge weights — q101's walk where
    * link VOLUME steers the mass. Integer weights keep the out-weight
    * sums order-independent; two unrolled iterations, q101's
    * decimal-sum + VARCHAR-hop oracle device.
    */
  private def q184(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p = concat(lit("p"), col("l_partkey").cast("string"))
    val sup = concat(lit("s"), col("l_suppkey").cast("string"))
    val edges = li.select(p.as("a"), sup.as("b"), col("l_quantity").as("q"))
      .union(li.select(sup.as("a"), p.as("b"), col("l_quantity").as("q")))
    graft.ops.Graph.weightedPageRank(edges, col("a"), col("b"), col("q"),
        iters = 2)
      .select(col("node"), round(col("rank"), 12).as("rank"))
      .orderBy("node")
  }

  /** Behavior 5 (round-5): top-100 frequent item triples
    * ([[graft.ops.Funnel.frequentItemTriples]]) — the apriori level-3
    * step above q135's pairs: which three parts travel together in an
    * order. Candidate volume Σ C(basket,3), basket-bounded.
    */
  private def q185(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.frequentItemTriples(t(s, dir, "lineitem"),
        col("l_orderkey"), col("l_partkey"), k = 100)

  /** Behavior 6 (round-5): RFM segmentation
    * ([[graft.ops.Funnel.rfmScores]]) — recency/frequency/monetary
    * quintiles per user with the metric-then-id total order making the
    * ntile boundaries engine-reproducible; the classic behavioral
    * segmentation as one user-grain pass.
    */
  private def q186(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.rfmScores(t(s, dir, "events"), col("user_id"),
        col("ts"), col("value"))
      .withColumn("monetary", round(col("monetary"), 4))
      .orderBy("user_id")

  /** Behavior 7 (round-5): view→purchase survival curve
    * ([[graft.ops.Funnel.survivalCurve]]) — per day-offset 0..14, the
    * cohort fraction not yet converted: q134's timing stats unrolled to
    * the full curve, all-integer until the final ratio.
    */
  private def q187(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.survivalCurve(t(s, dir, "events"), col("user_id"),
        col("event_type"), col("ts"), startType = "view",
        convType = "purchase", horizonDays = 14)

  /** Quality 4 (round-5): survivorship merge
    * ([[graft.enrich.Enrich.goldenRecord]]) — the step after q170's
    * match: duplicate part rows per name collapse to one canonical
    * record (min key as id, max price, modal brand with smallest-value
    * tie-break). Count/order decisions only — no floats.
    */
  private def q188(s: SparkSession, dir: String): DataFrame =
    graft.enrich.Enrich.goldenRecord(t(s, dir, "part"), col("p_name"),
        minCols = Seq("p_partkey"), maxCols = Seq("p_retailprice"),
        modalCols = Seq("p_brand"))
      .withColumnRenamed("key", "p_name")
      .withColumn("max_p_retailprice", round(col("max_p_retailprice"), 2))
      .orderBy("p_name")

  /** Timeseries 7 (round-5): merged activity intervals
    * ([[graft.ops.Timeseries.mergeIntervals]]) — each event opens a
    * 5-minute hold window; overlapping windows per user coalesce into
    * islands (running-max boundary, not lag — an earlier event can
    * cover a later one). Session stitching / coverage as two windows +
    * one island-grain aggregation.
    */
  private def q189(s: SparkSession, dir: String): DataFrame =
    graft.ops.Timeseries.mergeIntervals(t(s, dir, "events"),
        col("user_id"), col("ts"), Seq(col("ts"), col("event_id")),
        holdSeconds = 300L)
      .withColumnRenamed("key", "user_id")
      .orderBy("user_id", "island")

  /** Timeseries 8 (round-5): debounce
    * ([[graft.ops.Timeseries.debounce]]) — keep an event only ≥ 60 s
    * after the last KEPT one: the decision depends on prior decisions,
    * so no window expresses it — the repo's one batch `mapGroups`
    * (in-task per-user fold, q32's memory bound). The oracle restates
    * the sequential walk as a linear recursive CTE.
    */
  private def q190(s: SparkSession, dir: String): DataFrame =
    graft.ops.Timeseries.debounce(t(s, dir, "events"), col("user_id"),
        col("ts"), col("event_id"), minGapSeconds = 60L)
      .withColumnRenamed("key", "user_id")
      .withColumnRenamed("id", "event_id")
      .orderBy("user_id", "event_id")

  /** Quality 5 (round-5): SCD2 point-in-time reconstruction
    * ([[graft.enrich.Enrich.scd2SnapshotAt]]) over q84's merge — the
    * reconstruction LAW as the gate: as-of before the effective date
    * equals the pre-merge table verbatim, as-of after equals the
    * post-merge table verbatim; the oracle is the source frames with a
    * state tag, zero re-derivation.
    */
  private def q191(s: SparkSession, dir: String): DataFrame = {
    val (cur, incoming) = q84Frames(s, dir)
    val hist = Enrich.scd2Merge(cur, incoming,
      Seq("c_custkey"), Seq("c_mktsegment", "c_nationkey"),
      effective = "2024-02-01")
    Enrich.scd2SnapshotAt(hist, "2024-01-15")
      .withColumn("state", lit("before"))
      .unionByName(Enrich.scd2SnapshotAt(hist, "2024-03-01")
        .withColumn("state", lit("after")))
      .orderBy("state", "c_custkey")
  }

  /** Profile 18 (round-5): 2-D Pareto frontier
    * ([[graft.ops.Profile.paretoFrontier2D]]) over (quality score,
    * token entropy) — the multi-objective curation cut: documents no
    * other document strictly dominates on both axes, no weighted-score
    * collapse. Skyline via distinct-x running max, score grain.
    */
  private def q192(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val q = docs.select(col("doc_id"),
      round(TextAnalysis.qualityScore(col("text")), 6).as("quality"))
    val e = TextAnalysis.tokenEntropy(docs, col("doc_id"), col("text"))
      .select(col("doc_id"), col("entropy"))
    graft.ops.Profile.paretoFrontier2D(q.join(e, Seq("doc_id")),
        col("doc_id"), col("quality"), col("entropy"))
      .withColumnRenamed("id", "doc_id")
      .withColumnRenamed("x", "quality")
      .withColumnRenamed("y", "entropy")
      .orderBy("doc_id")
  }

  /** Eval 1 (round-5): calibration bins
    * ([[graft.ops.Eval.reliabilityBins]]) — q28's quality score vs the
    * is-English outcome in 10 equal-count bins: does the scorer's
    * number MEAN anything. Round-9 decimal mean, integer rates.
    */
  private def q193(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.reliabilityBins(t(s, dir, "documents"), col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")), 6),
        col("lang") === "en", bins = 10)
      .orderBy("bin")

  /** Eval 2 (round-5): ROC-AUC ([[graft.ops.Eval.binaryAuc]]) of the
    * quality score against the is-English label — Mann–Whitney rank
    * sum with PROPER tied-rank averaging (half-integers in DECIMAL),
    * not the row_number shortcut that biases toward tie-break order.
    */
  private def q194(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.binaryAuc(t(s, dir, "documents"),
      round(TextAnalysis.qualityScore(col("text")), 6),
      col("lang") === "en")

  /** Eval 3 (round-5): per-class precision/recall/F1
    * ([[graft.ops.Eval.classifierMetrics]]) of q27's language detector
    * against the true lang label — the classifier report card built on
    * the confusion-matrix sufficient statistic.
    */
  private def q195(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.classifierMetrics(t(s, dir, "documents"), col("lang"),
        TextAnalysis.detectLanguage(col("text")))
      .withColumnRenamed("label", "lang")
      .orderBy("lang")

  /** Streaming 15 (round-5): debounce IN-FLIGHT
    * ([[graft.streaming.Streaming.debounceStream]]) — q190's sequential
    * keep/drop with the last-kept clock in per-user GroupState. The
    * staging harness time-splits events into two micro-batches (forced
    * file order, q119's device) satisfying the event-time-monotone
    * boundary precondition; the gate is q190's recursive-CTE oracle
    * VERBATIM — only correctly carried state can match the batch fold.
    */
  private def q196(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q196")
    val in = stage.resolve("in").toString
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"))
    val us = unix_micros(col("ts").cast("timestamp"))
    // empty-input law: min/max over zero rows are NULL — split at 0 and
    // let two empty staged files flow through the (empty) stream
    val b = ev.agg(min(us).as("a"), max(us).as("b")).first()
    val mid = if (b.isNullAt(0)) 0L else (b.getLong(0) + b.getLong(1)) / 2L
    ev.filter(us < mid).repartition(1).write.mode("append").parquet(in)
    def parts = new java.io.File(in).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSet
    val first = parts
    ev.filter(us >= mid).repartition(1).write.mode("append").parquet(in)
    val baseTime = new java.io.File(first.head).lastModified
    (parts -- first).foreach(p => forceMtime(p, baseTime + 120000L))
    val stream = s.readStream.schema(s.read.parquet(in).schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val kept = graft.streaming.Streaming.debounceStream(stream,
      minGapSeconds = 60L)
    val mem = graft.streaming.Streaming.runToMemory(kept, "q196_mem",
      org.apache.spark.sql.streaming.OutputMode.Append)
    deleteTree(stage)
    mem.orderBy("user_id", "event_id")
  }

  /** Behavior 8 (round-5): multi-touch linear attribution
    * ([[graft.ops.Funnel.linearAttribution]]) — each purchase's value
    * splits equally across the user's clicks in the prior 7 days,
    * rolled to (user, touch-day) grain; q41's last-touch as-of join is
    * the winner-takes-all sibling. v/n credits round-9 decimal-summed.
    */
  private def q197(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.linearAttribution(t(s, dir, "events"), col("user_id"),
        col("event_type"), col("ts"), col("event_id"), col("value"),
        touchType = "click", convType = "purchase", windowDays = 7)
      .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
      .orderBy("user_id", "day")

  /** Profile 19 (round-5): hierarchical contribution
    * ([[graft.ops.Profile.contributionShares]]) — region→nation revenue
    * with share-of-parent, parent share of total, and rank within
    * parent: the drill-down readout as one (parent, child) aggregation
    * plus group-grain windows. DECIMAL-exact three-level sums.
    */
  private def q198(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.contributionShares(
        t(s, dir, "lineitem")
          .join(t(s, dir, "supplier"),
            col("l_suppkey") === col("s_suppkey"))
          .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
          .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey")),
        col("r_name"), col("n_name"), col("l_extendedprice"), scale = 4)
      .withColumnRenamed("parent", "region")
      .withColumnRenamed("child", "nation")
      .withColumn("measure", round(col("measure"), 4))
      .orderBy("region", "nation")

  /** Behavior 9 (round-5): session quality report — q32's session build
    * folded to the one-row readout product teams actually watch:
    * session count, bounce rate (single-event sessions), events per
    * session, mean duration. Integer counts + DECIMAL-exact duration
    * sums; composition over the same expressions q32 gates.
    */
  private def q199(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sessions = t(s, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("__n"),
        (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
          .as("__dur_us"))
    sessions.agg(
        count(lit(1)).as("n_sessions"),
        sum(when(col("__n") === 1L, 1L).otherwise(0L)).as("n_bounces"),
        sum(col("__n")).as("__ev"),
        sum(col("__dur_us").cast("decimal(38,0)")).as("__dur"))
      .select(col("n_sessions"), col("n_bounces"),
        round(col("n_bounces").cast("double") /
          col("n_sessions").cast("double"), 6).as("bounce_rate"),
        round(col("__ev").cast("double") /
          col("n_sessions").cast("double"), 6).as("events_per_session"),
        round(col("__dur").cast("double") / lit(1000000.0d) /
          col("n_sessions").cast("double"), 6).as("mean_duration_s"))
  }

  /** Round-5 capstone: the evaluation REPORT — q193's calibration,
    * q194's AUC and q195's per-class metrics composed into one
    * long-form (metric, key, value) frame; each arm is individually
    * gated and the composition itself is oracle-gated (q87/q115's
    * device), with every arm's oracle embedded verbatim as a subquery.
    */
  private def q200(s: SparkSession, dir: String): DataFrame = {
    // r14: ONE documents scan + materialization feeds all three arms
    // (guide §2.3/§5) — each arm previously re-scanned the corpus and
    // re-evaluated the regex-heavy qualityScore/detectLanguage trees
    // (~3 single-purpose passes for one report). The precomputed
    // columns are the identical deterministic expressions the arms
    // passed inline, so every readout is bit-identical.
    val base = t(s, dir, "documents")
      .select(col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")), 6).as("__qs"),
        (col("lang") === "en").as("__is_en"), col("lang"),
        TextAnalysis.detectLanguage(col("text")).as("__pred"))
      .localCheckpoint()
    val auc = graft.ops.Eval.binaryAuc(base, col("__qs"), col("__is_en"))
      .select(lit("auc").as("metric"),
        lit(null).cast("string").as("key"), col("auc").as("value"))
    val cal = graft.ops.Eval.reliabilityBins(base, col("doc_id"),
        col("__qs"), col("__is_en"), bins = 10)
      .select(lit("bin_pos_rate").as("metric"),
        col("bin").cast("string").as("key"), col("pos_rate").as("value"))
    val cls = graft.ops.Eval.classifierMetrics(base, col("lang"),
        col("__pred"))
      .withColumnRenamed("label", "lang")
      .select(col("lang"), col("precision"),
        col("recall"), col("f1"))
      .select(explode(array(
        struct(lit("precision").as("metric"), col("lang").as("key"),
          col("precision").as("value")),
        struct(lit("recall").as("metric"), col("lang").as("key"),
          col("recall").as("value")),
        struct(lit("f1").as("metric"), col("lang").as("key"),
          col("f1").as("value")))).as("r"))
      .select(col("r.metric"), col("r.key"), col("r.value"))
    auc.unionByName(cal).unionByName(cls)
      .orderBy("metric", "key")
  }

  /** Window 5 (round-5): RANGE-frame windows — the §2.6 frame family the
    * suite had not yet exercised: per event type ordered BY VALUE, the
    * count and DECIMAL-exact sum of events within a 100-unit value band
    * preceding each row (RANGE frames include ALL peers of a tied value,
    * so the result is tie-order-independent by construction — the reason
    * to use RANGE, and what makes it gate-exact).
    */
  private def q201(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"),
        expr("""count(*) OVER (PARTITION BY event_type ORDER BY value
          RANGE BETWEEN 100.0 PRECEDING AND CURRENT ROW)""").cast("long")
          .as("n_in_band"),
        round(expr("""sum(CAST(value AS DECIMAL(18,4))) OVER (
          PARTITION BY event_type ORDER BY value
          RANGE BETWEEN 100.0 PRECEDING AND CURRENT ROW)""").cast("double"),
          4).as("sum_in_band"))
      .orderBy("event_id")

  /** Temporal 5 (round-5): as-of join with TOLERANCE
    * ([[graft.ops.TemporalJoin.asOfJoinTolerance]]) — q41's click
    * attribution where a click more than one hour stale no longer
    * attributes (pandas merge_asof `tolerance` semantics): matches
    * outside the window come back NULL, same one-shuffle plan.
    */
  private def q202(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    // the composed as-of picks the LAST right row at equal times, so the
    // right side must be unique per (key, time) — q41's precondition,
    // collapsed here with max_by (arg_max in the oracle)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("cid"),
        expr("max_by(value, event_id)").as("cval"))
    val others = ev.filter(col("event_type") =!= "click")
    graft.ops.TemporalJoin.asOfJoinTolerance(
        others, Seq("user_id"), col("ts"),
        clicks, Seq("user_id"), col("ts"),
        Map("click_id" -> col("cid"), "click_value" -> col("cval")),
        toleranceSeconds = 3600L)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("click_id"), round(col("click_value"), 4).as("click_value"))
      .orderBy("event_id")
  }

  /** Profile 20 (round-5): equi-depth histogram
    * ([[graft.ops.Profile.equiDepthHistogram]]) — 10 equal-count value
    * bands per event type with exact interpolated boundaries: the
    * planner-statistics profile where heavy tails can't empty the top
    * bands (q39's equi-width complement).
    */
  private def q203(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.equiDepthHistogram(t(s, dir, "events"),
        col("event_type"), col("value"), buckets = 10)
      .withColumnRenamed("group_key", "event_type")
      .orderBy("event_type", "bucket")

  /** Packing 3 (round-5): packing-efficiency report — q67's greedy
    * token-budget bins folded to the readout a pretraining batch
    * pipeline is judged by: bins used, fill ratio, waste. Composition
    * over the gated packing op; all-integer until the final ratios.
    */
  private def q204(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    graft.ops.Packing.packByTokenBudget(
        toks, col("lang"), col("doc_id"), col("n_tokens"), budget = 2048L)
      .groupBy(col("lang"))
      .agg(countDistinct(col("bin_id")).as("n_bins"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(when(col("spans_bins"), 1L).otherwise(0L)).as("n_spanning"))
      .select(col("lang"), col("n_bins"), col("total_tokens"),
        col("n_spanning"),
        round(col("total_tokens").cast("double") /
          (col("n_bins") * lit(2048L)).cast("double"), 6).as("fill_ratio"))
      .orderBy("lang")
  }

  /** Quality 6 (round-5): CDC apply
    * ([[graft.idempotent.Idempotent.applyCdc]]) — a Debezium-style
    * I/U/D log (synthesized deterministically from orders: insert at
    * seq 1, price-bump update at seq 2 for mod-3 keys, delete at seq 3
    * for mod-5 keys) resolved to final table state: last op per key
    * wins, final deletes drop the key. Completes the lakehouse family
    * (SCD2 q84, snapshot diff q181, as-of q191).
    */
  /** The deterministic CDC log q205 and q208 both consume. */
  private def q205Log(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    val ins = o.select(col("o_orderkey"), lit(1L).as("seq"),
      lit("I").as("op"), col("o_totalprice"), col("o_orderstatus"))
    val upd = o.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), lit(2L).as("seq"), lit("U").as("op"),
        (col("o_totalprice") + 10.0d).as("o_totalprice"),
        col("o_orderstatus"))
    val del = o.filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), lit(3L).as("seq"), lit("D").as("op"),
        lit(null).cast("double").as("o_totalprice"),
        lit(null).cast("string").as("o_orderstatus"))
    ins.unionByName(upd).unionByName(del)
  }

  private def q205(s: SparkSession, dir: String): DataFrame =
    graft.idempotent.Idempotent.applyCdc(q205Log(s, dir),
        Seq("o_orderkey"), col("seq"), col("op"),
        Seq("o_totalprice", "o_orderstatus"))
      .withColumn("o_totalprice", round(col("o_totalprice"), 2))
      .orderBy("o_orderkey")

  /** Streaming 16 (round-5): CDC apply IN-FLIGHT
    * ([[graft.streaming.Streaming.cdcApplyStream]]) — q205's log
    * streamed in two micro-batches with per-key frontier state (emit
    * only when the sequence advances). No batch-boundary precondition:
    * max-by-seq is order-insensitive, so ANY partitioning converges —
    * and the gate is q205's oracle verbatim. The landed frontier rows
    * collapse via latestPerKey + JSON decode (the landing step every
    * exactly-once sink performs).
    */
  private def q208(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q208")
    val in = stage.resolve("in").toString
    val log = q205Log(s, dir)
    log.filter(col("seq") === 1L).repartition(1)
      .write.mode("append").parquet(in)
    def parts = new java.io.File(in).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSet
    val first = parts
    log.filter(col("seq") > 1L).repartition(1)
      .write.mode("append").parquet(in)
    val baseTime = new java.io.File(first.head).lastModified
    (parts -- first).foreach(p => forceMtime(p, baseTime + 120000L))
    val stream = s.readStream.schema(s.read.parquet(in).schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val frontier = graft.streaming.Streaming.cdcApplyStream(stream,
      "o_orderkey", "seq", "op", Seq("o_totalprice", "o_orderstatus"))
    val mem = graft.streaming.Streaming.runToMemory(frontier, "q208_mem",
      org.apache.spark.sql.streaming.OutputMode.Append)
    deleteTree(stage)
    val payloadSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_totalprice",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("o_orderstatus",
        org.apache.spark.sql.types.StringType)))
    graft.idempotent.Idempotent.latestPerKey(mem, Seq("key"), Seq("seq"))
      .filter(col("op") =!= "D")
      .select(col("key").as("o_orderkey"),
        from_json(col("js"), payloadSchema).as("__p"))
      .select(col("o_orderkey"),
        round(col("__p.o_totalprice"), 2).as("o_totalprice"),
        col("__p.o_orderstatus").as("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** Graph 12 (round-5): exact 2-hop reach
    * ([[graft.ops.Graph.twoHopReach]]) over q137's kNN graph — direct
    * and distance-2 neighborhood sizes with the harmonic-within-2
    * numerator kept integer (reach_x2 = 2·n1 + n2): the bounded-radius
    * closeness readout, float-free by construction.
    */
  private def q206(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.twoHopReach(
        Similarity.knnGraph(t(s, dir, "embeddings"), col("vec_id"),
          col("embedding"), Seq(col("label")), k = 3),
        col("node"), col("nbr"))
      .orderBy("node")

  /** Text 22 (round-5): the BPE TRAINING LOOP — two full merge rounds
    * (q151 mines the first decision; this executes it and the next):
    * per round, mine the top adjacent pair, rewrite every document with
    * [[TextAnalysis.bpeMergeOnce]]'s left-to-right non-overlapping
    * fold, report (pair, merges, corpus size after). The top pair rides
    * a one-row driver read per round (the CC-convergence pattern); the
    * oracle unrolls both rounds with the fold replayed as per-document
    * linear recursive walks and the top pair as a scalar subquery.
    */
  private def q207(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.tokens
    import s.implicits._
    var toks = t(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .localCheckpoint()
    def stats(df: DataFrame) = df.select(explode(col("tk")).as("__t"))
      .agg(count(lit(1)).as("n"), countDistinct(col("__t")).as("d"))
      .first()
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long, Long, Long)]
    var r = 1
    var done = false
    while (r <= 2 && !done) {
      val before = stats(toks)
      val n = size(col("tk"))
      val top = toks.filter(n >= 2)
        .select(explode(zip_with(
          slice(col("tk"), lit(1), n - 1), slice(col("tk"), lit(2), n - 1),
          (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty) done = true // empty corpus: nothing to merge
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        toks = TextAnalysis.bpeMergeOnce(toks, a, b).localCheckpoint()
        val after = stats(toks)
        out += ((r.toLong, a, b, before.getLong(0) - after.getLong(0),
          after.getLong(0), after.getLong(1)))
        r += 1
      }
    }
    out.toSeq.toDF("round", "pair_a", "pair_b", "n_merges",
        "n_tokens_after", "n_distinct_after")
      .orderBy("round")
  }

  /** Profile 21 (round-5): per-type feature scaling
    * ([[graft.ops.Profile.featureScale]]) — min-max and z-score
    * normalization of event values in one pass, statistics
    * DECIMAL-exact, constant groups null out rather than fake a zero.
    */
  private def q209(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.featureScale(t(s, dir, "events"), col("event_type"),
        col("event_id"), col("value"), scale = 4)
      .withColumnRenamed("group_key", "event_type")
      .withColumnRenamed("id", "event_id")
      .orderBy("event_id")

  /** Timeseries 9 (round-5): lag-1 autocorrelation of the daily event
    * count series per type ([[graft.ops.Profile.lag1Autocorr]]) — the
    * seasonality probe as pure integer moments (q164's idiom on a time
    * series); consecutive-day pairs only.
    */
  private def q210(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.lag1Autocorr(t(s, dir, "events"), col("event_type"),
        col("ts"))
      .withColumnRenamed("group_key", "event_type")
      .orderBy("event_type")

  /** Similarity 13 (round-6): BOUNDED-BLOCK kNN graph
    * ([[Similarity.knnGraphCells]]) — the r5 verdict's production lever
    * as a gated path, with the block-size CAP live in the query: the
    * cluster count is `max(10, min(128, n DIV 200))` — one cluster per
    * ~200 vectors, so cell population stays ~200 as the corpus grows and
    * pair volume Σ cell² scales LINEARLY (sf0.1 → sf1: 10 → 100 cells;
    * BASELINE.md carries the measured 10× wall, replacing the r5 n^1.1).
    *
    * The corpus is made clustered IN SQL so the oracle replays it: each
    * derived cluster `vec_id % n_clusters` gets a ±one-hot beacon
    * direction (pairwise cosine ≤ 0 across beacons — the 128-capacity
    * separated family) plus 0.35× the original embedding as intra-
    * cluster noise (ClusteredAnnRecallSpec's mixture geometry; cosine is
    * scale-invariant so no normalization enters the gate). Per-cluster
    * min-id seeds stand in for the coarse quantizer and the kNN graph
    * blocks on the GEOMETRIC cell assignment — the cluster key never
    * reaches the pairwise join. The oracle computes the cluster-blocked
    * TRUTH: the hash gate passes iff cell blocking loses no edge on
    * clustered data, i.e. recall 1.0 measured end-to-end at all three
    * SFs.
    */
  private def q211(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    // the per-block size cap: one cell per ~200 vectors (128 max — the
    // ±one-hot beacon family's separated capacity; lift with a 2-hot
    // family when a fixture needs more clusters)
    val cFrame = e.agg(expr("greatest(10L, least(128L, count(1) DIV 200))")
      .as("__C"))
    val cl = e.crossJoin(broadcast(cFrame))
      .withColumn("__cl", expr("vec_id % __C"))
      .select(col("vec_id"), col("__cl"), expr(
        "transform(sequence(0, 63), i -> " +
          "(CASE WHEN i = CAST(__cl % 64 AS INT) THEN " +
          "(CASE WHEN (__cl DIV 64) % 2 = 0 THEN 1.0D ELSE -1.0D END) " +
          "ELSE 0.0D END) " +
          "+ 0.35D * CAST(element_at(embedding, i + 1) AS DOUBLE))")
        .as("cvec"))
    val seeds = Similarity.minIdSeeds(cl, col("vec_id"), col("cvec"),
      col("__cl"))
    Similarity.knnGraphCells(cl, col("vec_id"), col("cvec"),
        seeds, col("cell"), col("cvec"), k = 3)
      .select(col("node"), col("rank"), col("nbr"),
        rdz(col("cosine"), 4).as("cosine"))
      .orderBy("node", "rank")
  }

  /** Multimodal 4 (round-6): the REAL `javax.imageio` codec on the gate
    * path ([[graft.ops.Multimodal.ImageIoCodec]], r5 directive #8). Each
    * document id becomes a genuine PNG encoded IN the query at
    * closed-form dimensions (w = 16 + 7·id mod 120, h = 16 + 13·id mod
    * 90, RGB), the asset then rides the production decode →
    * [[graft.ops.Multimodal.imageStats]] → [[graft.ops.Multimodal.resize]]
    * pipeline with the REAL decoder — no FakeCodec anywhere. The oracle
    * recomputes the stats from the dimension RULE, so the hash gate
    * passes iff ImageIoCodec decoded every PNG back to exactly the
    * dimensions it was encoded with: an encode→decode round-trip proof,
    * which is precisely the part of the stage DuckDB cannot replay (the
    * q94 landed-file pattern inverted — here the closed form, not the
    * landed bytes, is the shared ground truth).
    */
  private def q212(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("id"))
      .filter(col("id") < 200)
      .repartition(s.sparkContext.defaultParallelism) // spread before the codec boundary
      .as[Long]
    val assets = ids.mapPartitions { it =>
      it.map { id =>
        val w = 16 + (id * 7 % 120).toInt
        val h = 16 + (id * 13 % 90).toInt
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        val g = img.createGraphics()
        g.setColor(new java.awt.Color((id % 255).toInt, 64, 128))
        g.fillRect(0, 0, w, h)
        g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (id, "image", bos.toByteArray)
      }
    }.toDF("asset_id", "modality", "payload")
    val decoded = Multimodal.decode(assets, Multimodal.ImageIoCodec)
    Multimodal.resize(Multimodal.imageStats(decoded), maxSide = 64)
      .select(col("asset_id"), col("width"), col("height"), col("channels"),
        col("aspect"), col("needs_resize"), col("pixels"),
        col("out_width"), col("out_height"))
      .orderBy("asset_id")
  }

  /** Similarity 14 (round-6): INCREMENTAL bounded-block kNN — q142's
    * day-2 merge law composed with q211's cell blocking: the pre-batch
    * corpus graph is built cell-blocked, the new batch (every 7th
    * vector) scores only batch×(corpus ∪ batch) pairs WITHIN CELLS
    * (assignment by the same full-corpus seeds — the production "frozen
    * quantizer" contract), and the merged graph must equal the full
    * cell-blocked recompute, which on the clustered fixture is the
    * cluster-blocked truth — so the oracle is q211's VERBATIM. At 100 TB
    * this is the bounded-block economics on ingest: Σ batch·cell, never
    * Σ cell², and never a fixed key's growing blocks.
    */
  private def q214(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val cFrame = e.agg(expr("greatest(10L, least(128L, count(1) DIV 200))")
      .as("__C"))
    val cl = e.crossJoin(broadcast(cFrame))
      .withColumn("__cl", expr("vec_id % __C"))
      .select(col("vec_id"), col("__cl"), expr(
        "transform(sequence(0, 63), i -> " +
          "(CASE WHEN i = CAST(__cl % 64 AS INT) THEN " +
          "(CASE WHEN (__cl DIV 64) % 2 = 0 THEN 1.0D ELSE -1.0D END) " +
          "ELSE 0.0D END) " +
          "+ 0.35D * CAST(element_at(embedding, i + 1) AS DOUBLE))")
        .as("cvec"))
    val seeds = Similarity.minIdSeeds(cl, col("vec_id"), col("cvec"),
      col("__cl"))
    val assigned = Similarity.assignToCentroids(cl, col("vec_id"),
        col("cvec"), seeds, col("cell"), col("cvec"))
      .localCheckpoint() // both runs read the same frozen assignment
    val corpus = assigned.filter(col("item_id") % 7 =!= 0)
    val batch = assigned.filter(col("item_id") % 7 === 0)
    val existing = Similarity.knnGraph(corpus, col("item_id"), col("vec"),
      Seq(col("cell")), k = 3)
    Similarity.knnGraphIncremental(existing, corpus, batch,
        col("item_id"), col("vec"), Seq(col("cell")), k = 3)
      .select(col("node"), col("rank"), col("nbr"),
        rdz(col("cosine"), 4).as("cosine"))
      .orderBy("node", "rank")
  }

  /** Similarity 14 (round-6): DBSCAN within label blocks
    * ([[Similarity.dbscanBlocks]], ε-cosine 0.25 — q111's measured-margin
    * threshold — minPts 3): density-based semantic clustering with the
    * core/border/noise triage — boilerplate clusters vs their periphery
    * vs the diverse tail. Deterministic by construction (integer
    * neighbor counts, min-id cluster labels, min-cluster border
    * adoption); oracle = the same pair predicate + recursive-CTE
    * components over the core subgraph + a min-fold for borders.
    */
  private def q220(s: SparkSession, dir: String): DataFrame =
    Similarity.dbscanBlocks(t(s, dir, "embeddings"), col("vec_id"),
        col("embedding"), Seq(col("label")), minCosine = 0.25, minPts = 3)
      .withColumnRenamed("node", "vec_id")
      .orderBy("vec_id")

  /** Multimodal 4 (round-6): audio decode → frame energy
    * ([[Multimodal.decodeAudio]] + [[Multimodal.frameEnergy]]) — the
    * PCM-frame pipeline over audio-modality assets: per-partition codec
    * init, frame fan-out inside the partition iterator, then
    * expression-only integer features (Σ|s|, max|s| per frame) rolled to
    * asset grain. The codec is the deterministic md5-PCM stand-in
    * ([[Multimodal.FakePcmCodec]] — this container has no audio libs),
    * which is exactly what lets DuckDB replay every sample and the gate
    * hash the decode→feature path end-to-end (q33's device, arrays
    * instead of scalars).
    */
  private def q221(s: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.fromText(
      t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism), // spread before decode
      "doc_id", "text", "source", modality = "audio")
    Multimodal.frameEnergy(Multimodal.decodeAudio(assets))
      .groupBy(col("asset_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(col("energy")).as("total_energy"),
        max(col("peak")).cast("long").as("peak"))
      .orderBy("asset_id")
  }

  /** Streaming 16 (round-6): the EWMA rate monitor IN-FLIGHT
    * ([[graft.streaming.Streaming.ewmaStream]]) — q218's smoothed daily
    * rate with the (n_obs, recent-counts) fold carried in per-key
    * GroupState. The staging harness splits events at a DAY boundary
    * into two ordered micro-batch files (q119's forced-mod-time device),
    * satisfying the day-monotone precondition the operator enforces; the
    * gate is q218's generated-chain oracle VERBATIM — only correctly
    * carried state can reproduce the batch fold across the batch seam.
    */
  private def q222(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q222")
    val in = stage.resolve("in").toString
    val ev = t(s, dir, "events").select(col("event_type"), col("ts"))
    val dayNum =
      expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000")
    // split at the middle DAY so no day straddles the batch seam
    val b = ev.agg(min(dayNum).as("a"), max(dayNum).as("b")).first()
    val midDay = if (b.isNullAt(0)) 0L else (b.getLong(0) + b.getLong(1)) / 2L
    ev.filter(dayNum < midDay).repartition(1).write.mode("append").parquet(in)
    def parts = new java.io.File(in).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSet
    val first = parts
    ev.filter(dayNum >= midDay).repartition(1).write.mode("append").parquet(in)
    val baseTime = new java.io.File(first.head).lastModified
    (parts -- first).foreach(p => forceMtime(p, baseTime + 120000L))
    val stream = s.readStream.schema(s.read.parquet(in).schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val out = graft.streaming.Streaming.ewmaStream(stream, taps = 8)
    val mem = graft.streaming.Streaming.runToMemory(out, "q222_mem",
      org.apache.spark.sql.streaming.OutputMode.Append)
    deleteTree(stage)
    mem.select(col("key").as("event_type"), col("day"), col("cnt"),
        col("n_obs"), round(col("ewma_raw"), 6).as("ewma"))
      .orderBy("event_type", "day")
  }

  /** Streaming 17 (round-6): the exact KS drift test IN-FLIGHT
    * ([[graft.streaming.Streaming.ksDriftStream]]) — `Eval.ksCounts` as
    * a Complete-mode streaming aggregation finished through the SAME
    * `ksFinish` fold as batch q225, whose oracle this gate shares
    * verbatim (q150's sufficient-statistic device, rank flavor). Two
    * forced micro-batches prove the statistic accumulates across the
    * seam.
    */
  private def q234(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q234")
    val src = stage.resolve("src").toString
    t(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), col("value"))
      .repartition(2).write.mode("overwrite").parquet(src)
    val schema = s.read.parquet(src).schema
    val out = graft.streaming.Streaming.ksDriftStream(
      s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src),
      col("value"), col("event_type") === "purchase", name = "q234_ks")
    materializeDropping(s,
      out.select(col("n_a"), col("n_b"), col("ks")), stage)
  }

  /** Sink/source 14 (round-6): manifest TIME TRAVEL — because manifests
    * are immutable-once-published and data files append-only, any
    * captured set of manifest names IS a consistent snapshot
    * (`option("snapshot", ...)` on the V2 read). The gate lands the odd
    * half, captures the version, lands the even half, then reads AT the
    * captured version — the result must equal the odd half alone, while
    * an unpinned read of the same table sees everything (asserted
    * in-query). Iceberg-lite snapshot isolation with zero log replay.
    */
  private def q233(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft-q233")
    val table = s"$base/t"
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"))
    def land(odd: Boolean): Unit = ev
      .filter((col("event_id") % 2 === 1) === odd)
      .select(concat_ws("|", col("event_id"), col("event_type")).as("value"))
      .write.format("graft-manifest").option("path", table)
      .mode("append").save()
    land(odd = true)
    val v1 = graft.sources.Manifest.manifestNames(table)
    land(odd = false)
    require(graft.sources.Manifest.manifestNames(table).size > v1.size,
      "second landing published no manifest — the snapshot gate is vacuous")
    val back = s.read.format("graft-manifest").option("path", table)
      .option("snapshot", v1.mkString(",")).load()
      .select(split(col("value"), "\\|").as("p"))
      .select(col("p").getItem(0).cast("long").as("event_id"),
        col("p").getItem(1).as("event_type"))
    val agg = back.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy("event_type")
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(agg.collect(): _*)
    // the unpinned read must see BOTH halves (time travel, not data loss)
    val total = s.read.format("graft-manifest").option("path", table)
      .load().count()
    val expected = ev.count()
    require(total == expected,
      s"unpinned manifest read saw $total of $expected rows")
    val out = s.createDataFrame(rows, agg.schema)
    deleteTree(base)
    out.orderBy("event_type")
  }

  /** Sink/source 13 (round-6): ORC round-trip — the lake-format matrix
    * gains Spark's second native columnar format
    * ([[graft.sinks.Sinks.orcWrite]] → [[graft.ingest.Ingest.orc]]),
    * identity-oracle-gated like the parquet-compaction (q116), CSV
    * (q117) and JDBC (q118) loops: the export→import cycle must be
    * lossless, doubles included.
    */
  private def q230(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q230")
    graft.sinks.Sinks.orcWrite(
      t(s, dir, "events").select(col("event_id"), col("user_id"),
        col("event_type"), col("value")),
      s"$stage/t")
    materializeDropping(s, graft.ingest.Ingest.orc(s, s"$stage/t"), stage)
      .orderBy("event_id")
  }

  /** Profile 23 (round-6): Spearman rank correlation
    * ([[graft.ops.Profile.spearmanCorr]]) between document length and
    * token count per language — the monotone-association complement to
    * q99's Pearson. Doubled average tied ranks keep every moment sum in
    * exact integer arithmetic; rank windows partitioned by group.
    */
  private def q231(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.tokens
    graft.ops.Profile.spearmanCorr(
        t(s, dir, "documents")
          .select(col("lang"), col("n_chars"),
            size(tokens(col("text"))).cast("long").as("__tc")),
        col("lang"), col("n_chars"), col("__tc"))
      .withColumnRenamed("group_key", "lang")
      .orderBy("lang")
  }

  /** Eval 9 (round-6): binary-classifier report card
    * ([[graft.ops.Eval.binaryCard]]) for "is this document English" as
    * predicted by q27's language detector — accuracy, balanced accuracy,
    * Youden's J and Matthews correlation from one confusion-matrix
    * aggregation; the imbalance-honest summary beside q195's per-class
    * table.
    */
  private def q232(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.binaryCard(t(s, dir, "documents"),
      TextAnalysis.detectLanguage(col("text")) === "en",
      col("lang") === "en")

  /** Similarity 15 (round-6): MMR diversification
    * ([[Similarity.mmrDiversify]], k = 3, λ = 0.5) of each query's
    * brute-force top-20 shortlist — the greedy rerank that stops
    * retrieved context collapsing into near-duplicates. The argmax
    * orders by the rdz-rounded score (a λ·rel ≈ (1−λ)·ms cancellation
    * can land on ±0.0); the oracle unrolls all three greedy steps from
    * one generated template with `greatest` as the selected-set max.
    */
  private def q226(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val qs = e.filter(col("vec_id") < 10)
    val shortlist = Similarity.bruteForceTopK(e, col("vec_id"),
        col("embedding"), qs, col("vec_id"), col("embedding"), k = 20)
      .join(e.select(col("vec_id").as("item_id"),
        col("embedding").as("vec")), Seq("item_id"))
      .select(col("query_id"), col("item_id"), col("cosine").as("rel"),
        col("vec"))
    Similarity.mmrDiversify(shortlist, k = 3, lambda = 0.5)
      .orderBy("query_id", "rank")
  }

  /** Streaming 18 (round-6, RESTATED round-7): seasonality-aware anomaly
    * screen IN-FLIGHT ([[graft.streaming.Streaming.seasonalAnomalyStream]])
    * — live daily counts as a WATERMARKED Append-mode aggregation
    * (closed days emit once and EVICT; the r6 Complete-mode form grew
    * state and per-trigger output with stream age), screened against
    * q228's FROZEN day-of-week baseline (a Monday spike judged against
    * Mondays): the online drift alarm composed from gated parts. Three
    * forced micro-batches: two data halves plus the FLUSH file — one
    * sentinel row 35 days past the corpus max whose arrival pushes the
    * watermark past every real day's end, so every real window emits
    * before the memory sink is read (Append mode never emits a window
    * the final watermark hasn't closed). The sentinel's key never joins
    * the profile and its own still-open window is the only state left.
    * The gate is the batch restatement embedding q228's profile
    * arithmetic verbatim — unchanged across the r7 restatement, which is
    * the point: same answer, bounded state.
    */
  private def q236(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q236")
    val src = stage.resolve("src").toString
    val ev = t(s, dir, "events").select(col("event_type"), col("ts"))
    ev.repartition(2).write.mode("overwrite").parquet(src)
    def parts = new java.io.File(src).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSet
    val real = parts
    ev.agg(max(col("ts")).cast("timestamp").as("ts"))
      .select(lit("__flush").as("event_type"),
        (col("ts") + expr("INTERVAL 35 DAYS")).as("ts"))
      .coalesce(1).write.mode("append").parquet(src)
    // the flush file MUST be the last micro-batch: if it arrived first,
    // its watermark would mark every real row late and drop it
    val baseTime = real.map(p => new java.io.File(p).lastModified).max
    (parts -- real).foreach(p => forceMtime(p, baseTime + 120000L))
    val profile = graft.ops.Timeseries.seasonalProfile(
        t(s, dir, "events"), col("event_type"), col("ts"))
      .withColumnRenamed("key", "key")
    val schema = s.read.parquet(src).schema
    val out = graft.streaming.Streaming.seasonalAnomalyStream(
      s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src),
      col("event_type"), col("ts"), profile, factor = 1.05,
      name = "q236_anom")
    materializeDropping(s, out
        .select(col("key").as("event_type"), col("day"),
          col("dow"), col("cnt"), col("mean_daily")), stage)
      .orderBy("event_type", "day")
  }

  /** Eval 10 (round-6 capstone): the COST of diversification, measured —
    * q226's MMR picks scored by [[graft.ops.Eval.rankingMetrics]]
    * against the brute-force top-5 truth: how much AP/NDCG does the
    * near-dup-killing rerank trade away. Operator COMPOSITION gate
    * (q87/q200's pattern): the oracle stitches q226's generated greedy
    * template to q213's metric arithmetic, so neither constituent can
    * drift from its own gate.
    */
  private def q235(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val qs = e.filter(col("vec_id") < 10)
    val shortlist = Similarity.bruteForceTopK(e, col("vec_id"),
        col("embedding"), qs, col("vec_id"), col("embedding"), k = 20)
      .join(e.select(col("vec_id").as("item_id"),
        col("embedding").as("vec")), Seq("item_id"))
      .select(col("query_id"), col("item_id"), col("cosine").as("rel"),
        col("vec"))
    val picks = Similarity.mmrDiversify(shortlist, k = 3, lambda = 0.5)
      .select(col("query_id"), col("item_id"), col("rank"))
    val truth = Similarity.bruteForceTopK(e, col("vec_id"),
        col("embedding"), qs, col("vec_id"), col("embedding"), k = 5)
      .select(col("query_id"), col("item_id"))
    graft.ops.Eval.rankingMetrics(picks, truth, k = 3)
      .orderBy("query_id")
  }

  /** Similarity 16 (round-7): BOUNDED-CELL DBSCAN
    * ([[Similarity.dbscanCells]]) — the r6 verdict's one remaining
    * Σ block² operator re-blocked on q211's capped-cell device: points
    * assign to their 2 nearest centroids (multi-probe), ε-pairs generate
    * inside cells only, and the triage is q220's verbatim
    * (`dbscanTriage`, shared code). Fixture = q211's SQL-derived
    * clustered vectors with the cap live (cells ∝ n, ~200/cell); ε = 0.55
    * sits in the measured mixture gap (intra ≥ 0.83, inter ≤ 0.27 at all
    * three SFs — margin ≥ 0.28 both sides, so probe-added cross-cell
    * candidates MUST die on the threshold). The oracle computes the
    * CLUSTER-blocked DBSCAN truth, so hash equality proves the capped
    * cells + probes lose no ε-pair and invent none — recall 1.0 measured
    * end-to-end, with per-node ε-degrees making any pair drift visible.
    */
  /** The clustered-embedding construction q237 and q254 share (one
    * definition so the two cell-device gates cannot drift): C =
    * clamp(n/200, [10, 128]) synthetic clusters, each vector pulled
    * toward its cluster's signed axis with a 0.35 noise mix of the
    * original embedding — clustered enough that capped multi-probe
    * cells recover the true clusters exactly (the equality both gates
    * pin). Returns (vec_id, __cl, cvec).
    */
  private def clusteredVecs(e: DataFrame): DataFrame = {
    val cFrame = e.agg(expr("greatest(10L, least(128L, count(1) DIV 200))")
      .as("__C"))
    e.crossJoin(broadcast(cFrame))
      .withColumn("__cl", expr("vec_id % __C"))
      .select(col("vec_id"), col("__cl"), expr(
        "transform(sequence(0, 63), i -> " +
          "(CASE WHEN i = CAST(__cl % 64 AS INT) THEN " +
          "(CASE WHEN (__cl DIV 64) % 2 = 0 THEN 1.0D ELSE -1.0D END) " +
          "ELSE 0.0D END) " +
          "+ 0.35D * CAST(element_at(embedding, i + 1) AS DOUBLE))")
        .as("cvec"))
  }

  private def q237(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val cl = clusteredVecs(e)
    val seeds = Similarity.minIdSeeds(cl, col("vec_id"), col("cvec"),
      col("__cl"))
    Similarity.dbscanCells(cl, col("vec_id"), col("cvec"),
        seeds, col("cell"), col("cvec"),
        minCosine = 0.55, minPts = 3, nprobe = 2)
      .withColumnRenamed("node", "vec_id")
      .orderBy("vec_id")
  }

  /** Multimodal 5 (round-7): the REAL `javax.sound.sampled` WAV codec on
    * the gate path ([[graft.ops.Multimodal.WavPcmCodec]], r6 directive
    * #7 — q221 gates only the md5 stand-in). Each document id becomes a
    * GENUINE RIFF/WAV asset encoded IN the query from closed-form
    * signed-16 samples (s(id, i) = (id·131 + i·7919) mod 2¹⁶ − 2¹⁵,
    * n = 11 + id mod 50 — partial last frames included on purpose), then
    * rides the production decodeAudio → frameEnergy pipeline with the
    * REAL decoder. The oracle recomputes energy/peak from the sample
    * RULE, so the hash passes iff AudioSystem decoded every sample back
    * to exactly the value it encoded — the encode→decode round-trip
    * proof, q212's real-image device extended to PCM.
    */
  private def q238(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("id"))
      .filter(col("id") < 200)
      .repartition(s.sparkContext.defaultParallelism) // spread before the codec boundary
      .as[Long]
    val assets = ids.mapPartitions { it =>
      it.map { id =>
        val n = (11 + id % 50).toInt
        val pcm = new Array[Byte](2 * n)
        var i = 0
        while (i < n) {
          val v = (((id * 131 + i.toLong * 7919) % 65536) - 32768).toInt
          pcm(2 * i) = (v & 0xff).toByte
          pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1,
          /* signed = */ true, /* bigEndian = */ false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        (id, bos.toByteArray)
      }
    }.toDF("asset_id", "payload")
    Multimodal.frameEnergy(
        Multimodal.decodeAudio(assets, Multimodal.WavPcmCodec))
      .groupBy(col("asset_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(col("energy")).as("total_energy"),
        max(col("peak")).cast("long").as("peak"))
      .orderBy("asset_id")
  }

  /** Similarity 17 (round-7): simplified silhouette
    * ([[Similarity.silhouetteSimplified]]) — cluster-quality readout for
    * the label clustering against its own min-id seed centroids: per
    * point a = distance to the ASSIGNED label's seed, b = nearest other
    * seed, s = (b−a)/max(a,b); negative s = misfit (the point's label
    * seed is not its nearest — diagnostic, since near-random embeddings
    * under arbitrary labels SHOULD misfit heavily, and the gate pins
    * exactly how heavily). Map-side scoring against the broadcast seed
    * frame; one (point, cell) fold; rdz-rounded cosines before every
    * compare so both engines branch together.
    */
  private def q239(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val seeds = Similarity.minIdSeeds(e, col("vec_id"), col("embedding"),
      col("label"))
    Similarity.silhouetteSimplified(e, col("vec_id"), col("embedding"),
        col("label"), seeds, col("cell"), col("cvec"))
      .orderBy("cell")
  }

  /** Sketch 1 (round-7): KMV distinct-count estimate
    * ([[graft.ops.Sketch.kmvDistinct]], k = 256) of lineitem's part-key
    * cardinality — the engine-portable alternative to HLL (whose
    * register layout no external engine can replay): the k smallest
    * distinct md5 positions are exact integers, so the estimator is
    * deterministic and the oracle replays it verbatim. One distinct
    * aggregation + a TakeOrdered top-k, never a global sort.
    */
  private def q240(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sketch.kmvDistinct(t(s, dir, "lineitem"), col("l_partkey"),
      k = 256)

  /** Text 18 (round-7): content-defined chunking
    * ([[TextAnalysis.contentChunks]], window 16, modulus 64) — per-doc
    * chunk stats at the rsync/LBFS sub-document dedup grain: boundaries
    * fall where the windowed md5 draw lands on 0 mod 64, so an edit
    * shifts offsets but the chunk stream re-synchronizes right after it.
    * The oracle recomputes every boundary from the same substring hash —
    * the whole chunk stream is differentially pinned, not just counts.
    */
  private def q241(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.contentChunks(t(s, dir, "documents"), col("doc_id"),
        col("text"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("chunk_len")).as("total_len"),
        max(col("chunk_len")).as("max_chunk_len"),
        min(col("chunk_hash")).as("min_chunk_hash"))
      .orderBy("doc_id")

  /** Text 19 (round-7): chunk-grain duplication summary — q241's chunk
    * stream folded to the corpus readout chunk-level dedup acts on: how
    * many chunk INSTANCES exist, how many distinct contents, how many
    * contents recur (shared boilerplate exact doc-dedup misses), and the
    * duplicated-instance ratio. All integer counts off one md5-keyed
    * aggregation; the ratio is the only division.
    */
  private def q242(s: SparkSession, dir: String): DataFrame = {
    val perHash = TextAnalysis.contentChunks(t(s, dir, "documents"),
        col("doc_id"), col("text"))
      .groupBy(col("chunk_hash")).agg(count(lit(1)).as("__n"))
    perHash.agg(sum(col("__n")).as("n_instances"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("__n") > 1L, 1L).otherwise(0L)).as("n_shared"),
        sum(when(col("__n") > 1L, col("__n")).otherwise(0L))
          .as("n_dup_instances"))
      .select(col("n_instances"), col("n_distinct"), col("n_shared"),
        col("n_dup_instances"),
        round(col("n_dup_instances").cast("double") /
          col("n_instances").cast("double"), 6).as("dup_ratio"))
  }

  /** Sketch 2 (round-7): STREAMED KMV maintenance
    * ([[graft.streaming.Streaming.kmvMaintain]]) — the part-key sketch
    * folded batch-by-batch over three forced micro-batches; the merge
    * law (commutative, associative, duplicate-insensitive) makes the
    * landed sketch equal the batch one EXACTLY, so the gate is q240's
    * oracle VERBATIM (q144's stream-equals-batch device for sketches).
    * No mtime forcing needed: file order cannot matter, which is itself
    * part of the law under test.
    */
  private def q243(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q243")
    val src = stage.resolve("src").toString
    t(s, dir, "lineitem").select(col("l_partkey"))
      .repartition(3).write.mode("overwrite").parquet(src)
    val schema = s.read.parquet(src).schema
    graft.streaming.Streaming.kmvMaintain(s, src, schema, "l_partkey",
      k = 256, statePath = stage.resolve("state").toString,
      checkpointDir = stage.resolve("ckpt").toString)
    val out = graft.ops.Sketch.kmvEstimate(
      graft.streaming.Streaming.latestKmvState(s,
        stage.resolve("state").toString).localCheckpoint(), 256)
    materializeDropping(s, out, stage)
  }

  /** Dedup 12 (round-7): chunk-overlap near-dup pairs
    * ([[graft.ops.Dedup.chunkOverlapPairs]]) — q241's CDC chunk stream
    * turned into a document-similarity relation: pairs sharing >= 2
    * distinct chunk contents, Jaccard over df-capped chunk sets. The
    * boilerplate-assembly detector at a posting universe of len/64 per
    * doc (vs len word-shingles); devices and their reasons inherit from
    * containmentPairs (df-cap before pairing, aggregate-not-window,
    * pinned shuffle-hash self-join).
    */
  private def q244(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.chunkOverlapPairs(t(s, dir, "documents"),
        col("doc_id"), col("text"))
      .orderBy("id_a", "id_b")

  /** OLAP 1 (round-7): the TPC-H Q5 shape — six-table regional-revenue
    * join with the LOCAL-SUPPLY cycle (c_nationkey = s_nationkey closes
    * a cycle between the customer and supplier arms, the classic
    * join-graph stress the star queries q03/q04 don't have). Region and
    * date predicates sit on the inputs so Catalyst pushes them to the
    * scans; the lineitem⋈orders fact-fact edge is config-pinned
    * shuffle-hash (q03's reasoning), every true dimension broadcasts.
    * Revenue rides the q03 decimal idiom.
    */
  private def q245(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val c = t(s, dir, "customer")
    val su = t(s, dir, "supplier")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
    li.join(GraftConf.hintPairJoin(o), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0d) - col("l_discount")), 6)
          .as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"))
      .orderBy("n_name")
  }

  /** Sampling 12 (round-7): token-budget epoch plan
    * ([[graft.ops.Sampling.epochPlan]], α=0.5, budget 500k tokens) — the
    * mixture-planning readout: exact per-source token counts →
    * temperature weights over TOKEN shares → largest-remainder token
    * allocation → epochs (alloc/tokens: >1 repeats the boosted tail,
    * <1 subsamples the damped head). Composition of gated parts (q38
    * token counting, q105's damping, q168's integer allocation) whose
    * oracle stitches their arithmetic into one chain.
    */
  private def q246(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.epochPlan(t(s, dir, "documents"), col("source"),
        col("text"), tokenBudget = 500000L)
      .orderBy("source")

  /** Streaming 19 (round-7): chunk-store maintenance
    * ([[graft.streaming.Streaming.chunkStoreMaintain]]) — the CDC chunk
    * store folded over three forced micro-batches; set-union's
    * commutativity/associativity/idempotence makes the landed store
    * equal the batch chunk set EXACTLY, so the gate reads the store
    * row-for-row against the chunk CTE (q243's merge-law device at the
    * sub-document grain; no mtime forcing — order independence is part
    * of the law). The day-2 economics for chunk dedup: novelty of a new
    * batch is one anti-join against this store, never a corpus rechunk.
    */
  private def q247(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q247")
    val src = stage.resolve("src").toString
    t(s, dir, "documents").select(col("doc_id"), col("text"))
      .repartition(3).write.mode("overwrite").parquet(src)
    val schema = s.read.parquet(src).schema
    graft.streaming.Streaming.chunkStoreMaintain(s, src, schema,
      "doc_id", "text", statePath = stage.resolve("state").toString,
      checkpointDir = stage.resolve("ckpt").toString)
    val out = graft.streaming.Streaming.latestChunkStore(s,
        stage.resolve("state").toString).localCheckpoint()
      .orderBy("chunk_hash")
    materializeDropping(s, out, stage)
  }

  /** Dedup 13 (round-7): chunk-overlap dup GROUPS — q244's pair
    * relation (jaccard ≥ 0.5, compared on the rounded value both
    * engines share) resolved to connected components: the end-to-end
    * sub-document dedup story (CDC chunks → overlap pairs → dup groups
    * with min-id labels), q52's group device at the boilerplate grain.
    * Pointer-jumping CC, O(log) rounds; the oracle walks the same pair
    * graph with the recursive reach CTE.
    */
  private def q248(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.ops.Dedup.chunkOverlapPairs(t(s, dir, "documents"),
        col("doc_id"), col("text"))
      .filter(col("jaccard") >= 0.5)
    graft.ops.Dedup.connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("component").as("dup_group"))
      .orderBy("doc_id")
  }

  /** Sketch 3 (round-7): Count-Min frequency sketch
    * ([[graft.ops.Sketch.cmsState]], depth 4, width 64) over lineitem's
    * part keys — the frequency complement of q240's KMV: "how often does
    * this key occur" in depth·width exact counters, no full-cardinality
    * groupBy. Engine-portable because each hash row is the repo's md5
    * position draw (salted `cms0..cms3`) mod width, so the oracle
    * rebuilds every cell bit-for-bit. Scale shape: the groupBy key space
    * is ≤ 256 cells, so map-side combine bounds the shuffle at 256 rows
    * per partition at ANY corpus size.
    */
  private def q249(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sketch.cmsState(t(s, dir, "lineitem"), col("l_partkey"),
        depth = 4, width = 64)
      .orderBy("r", "c")

  /** Sketch 4 (round-7): CMS point estimates vs exact truth
    * ([[graft.ops.Sketch.cmsEstimate]]) — a supplier-key sketch probed
    * with every supplier, joined to the exact per-key counts: the
    * one-sided error contract (est ≥ exact always; excess ≤ collisions)
    * made visible per key, which is the calibration readout that says
    * whether depth/width fit the corpus. The probe explodes the keys
    * frame 4-wide and hash-joins the ≤ 256-row broadcast state — the
    * corpus is touched only by the sketch build, never at query time.
    */
  private def q250(s: SparkSession, dir: String): DataFrame = {
    val state = graft.ops.Sketch.cmsState(t(s, dir, "lineitem"),
      col("l_suppkey"), depth = 4, width = 64)
    val est = graft.ops.Sketch.cmsEstimate(t(s, dir, "supplier"),
      col("s_suppkey"), state, depth = 4, width = 64)
    val exact = t(s, dir, "lineitem").groupBy(col("l_suppkey").as("key"))
      .agg(count(lit(1)).as("exact_count"))
    est.join(exact, Seq("key"), "left")
      .select(col("key"), col("est_count"),
        coalesce(col("exact_count"), lit(0L)).as("exact_count"),
        (col("est_count") - coalesce(col("exact_count"), lit(0L)))
          .as("overcount"))
      .orderBy("key")
  }

  /** Sketch 5 (round-7): STREAMED Count-Min maintenance
    * ([[graft.streaming.Streaming.cmsMaintain]]) — the part-key sketch
    * folded cell-wise over three forced micro-batches; vector addition
    * commutes, so the landed sketch equals the batch one EXACTLY and the
    * gate is q249's oracle VERBATIM (q243's stream-equals-batch device
    * for counters). Unlike KMV the fold is not duplicate-insensitive —
    * idempotent replay rides the versioned-overwrite protocol instead,
    * which is the property this gate exercises end-to-end.
    */
  private def q251(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q251")
    val src = stage.resolve("src").toString
    t(s, dir, "lineitem").select(col("l_partkey"))
      .repartition(3).write.mode("overwrite").parquet(src)
    val schema = s.read.parquet(src).schema
    graft.streaming.Streaming.cmsMaintain(s, src, schema, "l_partkey",
      depth = 4, width = 64, statePath = stage.resolve("state").toString,
      checkpointDir = stage.resolve("ckpt").toString)
    val out = graft.streaming.Streaming.latestCmsState(s,
        stage.resolve("state").toString).localCheckpoint()
      .orderBy("r", "c")
    materializeDropping(s, out, stage)
  }

  /** The q252/q253 probe configuration — label: lang = 'en'; features:
    * bias, n_chars, whitespace count (integer-valued string ops only, no
    * regex dialects); 3 GD iterations at rate 1e-5. One definition so
    * the weights gate and the fit-readout gate train the SAME model.
    */
  private val probeFeatures: Seq[(String, Column)] = Seq(
    "bias" -> lit(1.0d),
    "chars" -> col("n_chars"),
    "spaces" -> (length(col("text")) -
      length(regexp_replace(col("text"), lit(" "), lit("")))))
  // when/otherwise, not a bare boolean cast: a NULL lang must land in
  // the ELSE branch exactly like the oracle's CASE WHEN
  private val probeLabel: Column =
    when(col("lang") === lit("en"), lit(1.0d)).otherwise(lit(0.0d))

  /** Train 1 (round-7): in-engine linear-probe training
    * ([[graft.ops.Train.linearProbe]]) — a quality-classifier fit (label:
    * lang = 'en'; features: bias, n_chars, whitespace count) by three
    * full-batch gradient-descent rounds entirely inside the engine. The
    * link is the ELLIOTT sigmoid ½(1+z/(1+|z|)) — rational arithmetic
    * only, because exp/log are banned from gate paths (q106's libm
    * measurement); gradient sums ride the decimal(28,18) order-free
    * device and every update rounds with the DuckDB-exact readout, so the
    * unrolled 3-iteration oracle lands on the SAME weight bits. Per
    * round: one codegen'd map-side pass, a one-row aggregate — the
    * iterative-driver scalar pattern at any corpus size.
    */
  private def q252(s: SparkSession, dir: String): DataFrame =
    graft.ops.Train.linearProbe(t(s, dir, "documents"), probeLabel,
      probeFeatures, iters = 3, rate = 1e-5)

  /** Train 2 (round-7): the fitted probe's training-fit readout
    * ([[graft.ops.Train.linearProbeEval]]) — n, correct@½, accuracy and
    * mean |residual| of q252's exact weights, scored by the SAME
    * z/σ expression tree the trainer used (train/serve drift is
    * structurally impossible). The oracle re-trains through the shared
    * unrolled chain and scores identically.
    */
  private def q253(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val w = graft.ops.Train.linearProbeWeights(docs, probeLabel,
      probeFeatures, iters = 3, rate = 1e-5)
    graft.ops.Train.linearProbeEval(docs, probeLabel, probeFeatures, w)
  }

  /** Dedup 14 (round-7): SemDeDup semantic dedup keep-list
    * ([[Similarity.semanticDedup]]) — q237's clustered corpus resolved
    * to embedding-space dup GROUPS: capped multi-probe cells bound the
    * candidate volume (linear in n), cosine ≥ 0.55 pairs → connected
    * components → keep the min-id representative per group. The
    * Abbas-et-al. recipe as a first-class keep-list (q248's chunk-grain
    * story at the EMBEDDING grain); oracle = pairs within the TRUE
    * clusters + recursive reach, the q237 equality argument (cross-cell
    * candidates must die on the threshold for the hash to match).
    */
  private def q254(s: SparkSession, dir: String): DataFrame = {
    val cl = clusteredVecs(t(s, dir, "embeddings"))
    val seeds = Similarity.minIdSeeds(cl, col("vec_id"), col("cvec"),
      col("__cl"))
    Similarity.semanticDedup(cl, col("vec_id"), col("cvec"),
        seeds, col("cell"), col("cvec"), minCosine = 0.55, nprobe = 2)
      .orderBy("id")
  }

  /** Text 20 (round-7): DSIR-style importance weights
    * ([[TextAnalysis.importanceWeights]], target = lang 'en') — the
    * data-selection readout: per doc, the mean smoothed unigram-
    * probability RATIO target-vs-corpus (rational form; log is banned
    * from gate paths), top 50 by importance. One vocab-grain pass
    * carries both counts; the token join is co-partitioned —
    * unigramLmScore's plan with a second payload column.
    */
  private def q255(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.importanceWeights(t(s, dir, "documents"), col("doc_id"),
        col("text"), col("lang") === lit("en"))
      .orderBy(col("importance").desc, col("doc_id").asc)
      .limit(50)

  /** Sampling 13 (round-7): deterministic bounded uniform sample WITH
    * payload ([[graft.ops.Sampling.uniformTopKSample]], k = 64) — the
    * reservoir-sample answer without sequential-order dependence: the
    * 64 smallest salted md5 positions, ties by id. Nesting (k′ < k is a
    * prefix) and mergeable (KMV's law with payload rows) — q257 streams
    * the same sample. One TakeOrdered, never a global sort.
    */
  private def q256(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.uniformTopKSample(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          col("source")),
        col("doc_id"), k = 64)
      .orderBy("__pos", "doc_id")

  /** Streaming 20 (round-7): STREAMED bounded-sample maintenance
    * ([[graft.streaming.Streaming.sampleMaintain]]) — the payload
    * reservoir folded union-then-top-k over three forced micro-batches;
    * the merge law lands on the batch sample EXACTLY, so the gate is
    * q256's oracle VERBATIM (q243's device with payload rows). State is
    * k rows forever — the day-2 economics of "keep a representative
    * corpus sample as data streams in".
    */
  private def q257(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q257")
    val src = stage.resolve("src").toString
    t(s, dir, "documents").select(col("doc_id"), col("lang"), col("source"))
      .repartition(3).write.mode("overwrite").parquet(src)
    val schema = s.read.parquet(src).schema
    graft.streaming.Streaming.sampleMaintain(s, src, schema, "doc_id",
      k = 64, statePath = stage.resolve("state").toString,
      checkpointDir = stage.resolve("ckpt").toString)
    val out = graft.streaming.Streaming.latestSample(s,
        stage.resolve("state").toString, schema).localCheckpoint()
      .orderBy("__pos", "doc_id")
    materializeDropping(s, out, stage)
  }

  /** Train 3 / Streaming 21 (round-7): STREAMED probe scoring
    * ([[graft.ops.Train.linearProbeScore]] over a file stream) — the
    * production serving shape: the probe is FIT offline (q252's exact
    * weights, trained batch-side here), then scores documents AS THEY
    * ARRIVE as a stateless map over the stream — so stream output equals
    * batch output row-for-row across any micro-batch seam, which is the
    * gate (the q243 device for a stateless operator: order independence
    * is trivial, exactly-once lands on the file sink's commit log).
    */
  private def q260(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q260")
    val src = stage.resolve("src").toString
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
    docs.repartition(3).write.mode("overwrite").parquet(src)
    val w = graft.ops.Train.linearProbeWeights(docs, probeLabel,
      probeFeatures, iters = 3, rate = 1e-5)
    val schema = s.read.parquet(src).schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val scored = graft.ops.Train.linearProbeScore(stream, probeFeatures, w)
      .select(col("doc_id"), col("score"), col("predicted"))
    val land = stage.resolve("land").toString
    graft.streaming.Streaming.withStaticMicrobatchPlans(s) {
      val q = scored.writeStream.format("parquet")
        .option("path", land)
        .option("checkpointLocation", stage.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val out = s.read.parquet(land).localCheckpoint().orderBy("doc_id")
    materializeDropping(s, out, stage)
  }

  /** Sketch 6 (round-7): CMS-prefiltered heavy hitters — the production
    * two-pass at 100 TB: pass 1 builds the 256-cell sketch; candidates
    * are keys whose estimate clears the N/64 frequency bar (est·64 ≥ N,
    * integer arithmetic — no division); pass 2 exact-counts ONLY the
    * candidate keys (broadcast semi-join at the scan, so the groupBy
    * shuffles a vanishing key subset). CMS's one-sided error is the
    * correctness of the pattern: estimates never under-count, so NO true
    * heavy hitter can be missed — collisions only add false candidates,
    * and the exact pass kills those (is_true marks the survivors).
    */
  private def q259(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_suppkey"))
    val state = graft.ops.Sketch.cmsState(li, col("l_suppkey"),
      depth = 4, width = 64)
    val est = graft.ops.Sketch.cmsEstimate(
      t(s, dir, "supplier").select(col("s_suppkey")), col("s_suppkey"),
      state, depth = 4, width = 64)
    val tot = li.agg(count(lit(1)).as("__N"))
    val cand = est.crossJoin(broadcast(tot))
      .filter(col("est_count") * lit(64L) >= col("__N"))
    val exact = li
      .join(broadcast(cand.select(col("key"))),
        col("l_suppkey") === col("key"), "left_semi")
      .groupBy(col("l_suppkey").as("key"))
      .agg(count(lit(1)).as("exact_count"))
    cand.join(exact, Seq("key"), "left")
      .select(col("key"), col("est_count"),
        coalesce(col("exact_count"), lit(0L)).as("exact_count"),
        (coalesce(col("exact_count"), lit(0L)) * lit(64L) >= col("__N"))
          .cast("int").as("is_true"))
      .orderBy("key")
  }

  /** OLAP 2 (round-7): the TPC-H Q17 small-quantity-order shape —
    * a correlated scalar subquery ("quantity below 20% of THIS part's
    * average") DECORRELATED Spark-first: one per-part threshold
    * aggregation over the brand-filtered lineitems, joined back, then
    * the revenue fold. The filtered part dim broadcasts; the threshold
    * join is part-key equi (no window, no correlated re-scan per row —
    * the thing the naive translation gets wrong at scale). Decimal-
    * exact sums; the 0.2·avg threshold is one IEEE tree on
    * decimal-exact inputs, compared identically in both engines.
    */
  private def q258(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part").filter(col("p_brand") === lit("Brand#4"))
      .select(col("p_partkey"))
    val lp = t(s, dir, "lineitem")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .localCheckpoint() // feeds the threshold agg AND the revenue filter
    val th = lp.groupBy(col("l_partkey").as("__pk"))
      .agg((lit(0.2d) * (sum(col("l_quantity").cast("decimal(18,4)"))
        .cast("double") / count(lit(1)).cast("double"))).as("__th"))
    lp.join(th, col("l_partkey") === col("__pk"))
      .filter(col("l_quantity") < col("__th"))
      .agg(count(lit(1)).as("n_small"),
        rdz(dsum(col("l_extendedprice"), 4) / lit(7.0d), 2)
          .as("avg_yearly"))
  }

  /** Sketch 5 (round-7): KMV set algebra
    * ([[graft.ops.Sketch.kmvOverlap]], k = 256) — Jaccard / union /
    * intersection estimates between the part-key vocabularies of two
    * ship-date halves of lineitem, read entirely from two k-row
    * sketches. The two-corpus question ("how much does this period's
    * catalog overlap last period's?") costs one independent
    * distinct+top-k per side — the corpora are NEVER co-shuffled; the
    * overlap read is O(k) broadcast joins. The estimator is the classic
    * n_both/|U| over the union sketch (kth(U) ≤ both sides' kth minima,
    * so both-membership is exact for every position the readout sees);
    * the oracle replays the same min-k sets from the same md5 draw.
    */
  private def q261(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val a = li.filter(col("l_shipdate") < to_timestamp(lit("1995-06-01")))
    val b = li.filter(col("l_shipdate") >= to_timestamp(lit("1995-06-01")))
    graft.ops.Sketch.kmvOverlap(a, col("l_partkey"), b, col("l_partkey"),
      k = 256)
  }

  /** Multimodal 9 (round-7): perceptual dHash over the grid-decode
    * stage ([[Multimodal.decodeGrid]] → [[Multimodal.withDhash]]) — the
    * 64-bit gradient-sign hash every image-dedup pass starts from,
    * assembled expression-only from the 9×8 luminance grid (the codec
    * boundary is the only non-codegen step; the bit/band/readout
    * arithmetic is exact integers both engines replay). The fake grid
    * codec derives cells from md5(payload ‖ "|g" ‖ i) so the oracle
    * rebuilds every luminance, every comparison bit, and the final
    * BIGINT hash verbatim; [[Multimodal.ImageIoGridCodec]] is the
    * production swap-in, spec-gated on real PNG pixels.
    */
  private def q262(s: SparkSession, dir: String): DataFrame = {
    // spread before the codec boundary — the single-partition documents
    // parquet would otherwise run the whole decode on one core
    val docs = t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .filter(col("text").isNotNull)
      .withColumn("modality", lit("image"))
    val assets = Multimodal.fromText(docs, "doc_id", "text", "source")
    Multimodal.withDhash(Multimodal.decodeGrid(assets))
      .select(col("asset_id"), col("dhash"))
      .orderBy("asset_id")
  }

  /** Multimodal 10 (round-7): Hamming near-duplicate pairs
    * ([[Multimodal.hammingNearDupPairs]]) — the multimodal dedup leg:
    * every 17th asset gets a PLANTED variant (one grid cell bumped — a
    * small local edit, ≤ 2 dHash bits) and the pigeonhole band join
    * must recover exactly the base↔variant pairs. Bands are 4×16 bits
    * (row bands joined pairwise), licensing maxDist ≤ 3 while keeping
    * candidate volume ~n²/2¹⁶ per band — the LSH-shaped equi-join that
    * replaces the all-pairs scan at corpus scale; unrelated images sit
    * near Hamming 32 and never survive. The oracle replays grids,
    * perturbation, bands, the band join, and the XOR popcount distance.
    */
  /** Shared q263/q270/q272 band frame over a documents-shaped input:
    * base grids + the planted one-cell variants, folded to the 4×16-bit
    * pigeonhole bands as (id, bands). Works identically on the whole
    * corpus (batch gates) and on a micro-batch (the streamed
    * maintainer's `toBands` leg) because everything is per-document.
    */
  private def dhashBandFrame(docsIn: DataFrame): DataFrame = {
    // spread BEFORE the codec boundary (documents parquet arrives as one
    // partition — an unspread decodeGrid runs the whole corpus single-
    // core), and checkpoint the band frame: the pair join reads it from
    // BOTH sides and CC iterates over it, so an uncut lineage re-decodes
    // the corpus once per reader (measured 12.7 s → the decode ran ~4x
    // on one core; spread+checkpoint cut q263 to band-join cost)
    val docs = docsIn
      .repartition(docsIn.sparkSession.sparkContext.defaultParallelism)
      .filter(col("text").isNotNull)
      .withColumn("modality", lit("image"))
    val base = Multimodal.decodeGrid(
      Multimodal.fromText(docs, "doc_id", "text", "source"))
      .localCheckpoint()
    // compute the perturb index BEFORE re-aliasing asset_id: a lateral
    // column alias wins name resolution inside the transform lambda, so
    // an inline pmod(asset_id, 72) would read the VARIANT id, not the base
    val variants = base.filter(pmod(col("asset_id"), lit(17)) === 0)
      .withColumn("__pix", pmod(col("asset_id"), lit(72)).cast("int"))
      // variant ids set bit 62 (collision-proof for any real id < 2^62;
      // a small additive offset would collide with real ids in a large
      // corpus and break the across-join's disjoint-id contract)
      .select((col("asset_id") + lit(1L << 62)).as("asset_id"),
        transform(col("grid"), (v, i) =>
          when(i === col("__pix"),
            pmod(v + lit(7), lit(256))).otherwise(v)).as("grid"))
    Multimodal.withDhash(base.unionByName(variants))
      .select(col("asset_id").as("id"),
        array((0 until 4).map(j =>
          element_at(col("bands"), 2 * j + 1) +
            element_at(col("bands"), 2 * j + 2) * lit(256)): _*).as("bands"))
      .localCheckpoint()
  }

  private def q263(s: SparkSession, dir: String): DataFrame =
    Multimodal.hammingNearDupPairs(dhashBandFrame(t(s, dir, "documents")),
        col("id"), col("bands"), maxDist = 3)
      .orderBy("id_a", "id_b")

  /** Multimodal 11 (round-7): image dedup GROUPS — q263's Hamming pairs
    * resolved to canonical duplicate groups by the pointer-jumping
    * connected components ([[graft.ops.Dedup.connectedComponents]],
    * O(log diameter) rounds): the keep-list grain an image-dedup pass
    * acts on, mirroring the chunk (q248) and MinHash families. The
    * oracle re-derives every pair and closes the components with a
    * recursive CTE.
    */
  private def q270(s: SparkSession, dir: String): DataFrame = {
    val pairs = Multimodal.hammingNearDupPairs(
      dhashBandFrame(t(s, dir, "documents")), col("id"), col("bands"),
      maxDist = 3)
    graft.ops.Dedup.connectedComponents(pairs)
      .select(col("id").as("asset_id"), col("component").as("dup_group"))
      .orderBy("asset_id")
  }

  /** Sketch 7 (round-7): CMS join-size estimation
    * ([[graft.ops.Sketch.cmsJoinSize]]) — the cardinality-planner read:
    * how big is lineitem ⋈ lineitem on part key, asked of two 256-cell
    * sketches instead of the corpora (the inner-product bound, one-sided
    * like every CMS read). Gated against the exact Σ n² truth with the
    * overcount ratio as the calibration readout — all integer
    * arithmetic, one rounded division.
    */
  private def q271(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_partkey"))
    val est = graft.ops.Sketch.cmsJoinSize(li, col("l_partkey"),
      li, col("l_partkey"), depth = 4, width = 64)
    val exact = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("__n"))
      .agg(sum(col("__n") * col("__n")).as("exact_join_size"))
    est.crossJoin(broadcast(exact))
      .select(col("est_join_size"), col("exact_join_size"),
        round(col("est_join_size").cast("double") /
          col("exact_join_size").cast("double"), 4).as("overcount_ratio"))
  }

  /** Streaming 23 (round-7): STREAMED perceptual dedup
    * ([[graft.streaming.Streaming.dhashPairsMaintain]]) — q263's band
    * frame maintained incrementally over three forced micro-batches:
    * per batch, near-dup pairs are batch×batch plus batch×index band
    * joins (the corpus never re-self-joins), each pair landing exactly
    * once in its later member's batch. The landed log must equal the
    * batch pairs EXACTLY, so the gate is q263's oracle VERBATIM —
    * q144's stream-equals-batch device for image dedup.
    */
  private def q272(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q272")
    val src = stage.resolve("src").toString
    t(s, dir, "documents").select(col("doc_id"), col("text"), col("source"))
      .repartition(3).write.mode("overwrite").parquet(src)
    val schema = s.read.parquet(src).schema
    graft.streaming.Streaming.dhashPairsMaintain(s, src, schema,
      dhashBandFrame, maxDist = 3,
      statePath = stage.resolve("state").toString,
      checkpointDir = stage.resolve("ckpt").toString)
    val out = graft.streaming.Streaming.latestDhashPairs(s,
        stage.resolve("state").toString).localCheckpoint()
      .orderBy("id_a", "id_b")
    materializeDropping(s, out, stage)
  }

  /** Eval 9 (round-7): one-pass Poisson-bootstrap AUC spread
    * ([[graft.ops.Eval.bootstrapAuc]], 16 replicates) — the error bar
    * on a corpus-scale metric WITHOUT B re-runs: each replicate is
    * carried as per-row integer Poisson(1) weights (salted per rep), so
    * 16 resampled AUCs cost one map-side fan-out + one (rep, score)
    * aggregation + the banded prefix sum partitioned by rep. Exact
    * weighted tied ranks; the oracle replays every weight from the
    * injected inverse-CDF thresholds and every rank from windows.
    */
  private def q264(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.bootstrapAuc(t(s, dir, "documents"), col("doc_id"),
        pmod(col("n_chars"), lit(97)).cast("int"), col("lang") === "en",
        reps = 16, maxCopies = 8)
      .orderBy("rep")

  /** Eval 10 (round-7): the bootstrap CI readout
    * ([[graft.ops.Eval.bootstrapAucSummary]]) — q264's 16 replicate
    * AUCs folded to (n_reps, mean, lo, hi): the number a model-quality
    * gate actually thresholds on. Decimal mean over rounded per-rep
    * values; min/max envelope.
    */
  private def q265(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.bootstrapAucSummary(
      graft.ops.Eval.bootstrapAuc(t(s, dir, "documents"), col("doc_id"),
        pmod(col("n_chars"), lit(97)).cast("int"), col("lang") === "en",
        reps = 16, maxCopies = 8))

  /** Text 21 (round-7): in-engine BPE tokenizer TRAINING
    * ([[graft.ops.Bpe.bpeMerges]], 6 merges) — vocabulary induction
    * over the documents word-count table (the Zipf-small sufficient
    * statistic; the corpus-scale pass is only the initial word count).
    * The spaced-string representation makes greedy merge application a
    * literal `replace` both engines execute identically, so the oracle
    * UNROLLS all six train iterations relationally (list_zip adjacent
    * pairs → deterministic argmax with lexicographic tie-break →
    * replace) and must land on the same merge table bit-for-bit —
    * [[graft.ops.Train]]'s unrolled-GD device, applied to a tokenizer.
    */
  private def q266(s: SparkSession, dir: String): DataFrame =
    graft.ops.Bpe.bpeMerges(
        graft.ops.Bpe.wordCounts(t(s, dir, "documents"), col("text")),
        col("word"), col("cnt"), iters = 6)
      .orderBy("ord")

  /** Text 22 (round-7): BPE ENCODE with a pinned merge table
    * ([[graft.ops.Bpe.encodeSpaced]]) — the serving leg: a fixed
    * tokenizer artifact applied corpus-wide as one codegen'd map-side
    * replace chain, zero shuffles before the per-doc fold. Gates
    * (n_words, n_chars, n_tokens) per doc; compression = chars vs
    * tokens is the readout a tokenizer eval tracks.
    */
  private def q267(s: SparkSession, dir: String): DataFrame = {
    val words = t(s, dir, "documents")
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z0-9]+")).as("word"))
      .filter(col("word") =!= "")
    words
      .withColumn("__nt",
        size(graft.ops.Bpe.encodeSpaced(col("word"), pinnedBpeMerges)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word"))).as("n_chars"),
        sum(col("__nt").cast("long")).as("n_tokens"))
      .orderBy("doc_id")
  }

  /** The pinned q267 tokenizer artifact: a fixed English-ish merge
    * list — production tokenizers ship as static files; both engines
    * receive these literals.
    */
  private val pinnedBpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "an" -> "d",
    "e" -> "r", "o" -> "n", "r" -> "e", "a" -> "t", "s" -> "t")

  /** Text 23 (round-7): Luhn-validated card scan
    * ([[TextAnalysis.luhnCardScan]]) — the checksum-gated PII detector:
    * 16-digit candidates synthesized from order keys (the corpus has no
    * long digit runs), split into Luhn-valid vs -invalid with the pure
    * integer double-and-fold arithmetic both engines replay. The fold
    * keys on validity and pins the extreme runs of each class.
    */
  private def q268(s: SparkSession, dir: String): DataFrame = {
    val txt = t(s, dir, "orders").select(col("o_orderkey"),
      concat(lit("order card 45320151"),
        lpad(pmod(col("o_orderkey"), lit(100000000L)).cast("string"),
          8, "0"),
        lit(" ref 1234")).as("text"))
    TextAnalysis.luhnCardScan(txt, col("o_orderkey"), col("text"))
      .groupBy(col("luhn_ok"))
      .agg(count(lit(1)).as("n"), min(col("run")).as("first_run"),
        max(col("run")).as("last_run"))
      .orderBy("luhn_ok")
  }

  /** Text 25 (round-8): formatted + repeated card runs — the two Luhn
    * contracts an advisor proved gate-invisible in q268 (the oracle
    * replayed the same collapse): a SPACE/DASH-formatted card ("4111
    * 1111 1111 1111") must still be a candidate (separator collapse
    * before the run split), and a run repeated m times in one document
    * must be checksummed ONCE — the planted "…1116" run has single-sum
    * ≡ 5 (mod 10) and appears twice, so the pre-fix m-fold sum lands
    * ≡ 0 and falsely validates it. Both engines now replay the fixed
    * contracts; [[graft.TextAnalysisSpec]] additionally pins the
    * failure mode itself (the duplicated ≡5 run classifies invalid).
    */
  private def q281(s: SparkSession, dir: String): DataFrame = {
    val txt = t(s, dir, "orders").select(col("o_orderkey"),
      concat(
        lit("pay 4111 1111 1111 1111 then 4111-1111-1111-1116 and " +
          "again 4111 1111 1111 1111 ref 4111-1111-1111-1116 order " +
          "45320151"),
        lpad(pmod(col("o_orderkey"), lit(100000000L)).cast("string"),
          8, "0")).as("text"))
    TextAnalysis.luhnCardScan(txt, col("o_orderkey"), col("text"))
      .groupBy(col("luhn_ok"))
      .agg(count(lit(1)).as("n"), min(col("run")).as("first_run"),
        max(col("run")).as("last_run"))
      .orderBy("luhn_ok")
  }

  /** Text 26 (round-8): DEEP BPE training — 256 merges through the
    * incremental pair-delta trainer ([[graft.ops.Bpe.bpeMerges]],
    * round-8 rewrite: per-round shuffle tracks the affected-word count,
    * not the vocabulary), gated bit-for-bit against the oracle's
    * UNROLLED full-recount trainer (256 CTE rounds) — the two
    * formulations agree only if the delta law (+pairs(rewritten) −
    * pairs(affected), untouched words passed through) is exact at every
    * round, so one drifted count anywhere in 256 rounds fails the hash.
    * The vocabulary is md5-derived (8-hex-char words from order keys):
    * the synthetic documents corpus has 31 distinct words and dries at
    * ~89 merges, while hex words give every SF a deep pair structure.
    */
  private def q282(s: SparkSession, dir: String): DataFrame = {
    val words = t(s, dir, "orders")
      .select(substring(md5(col("o_orderkey").cast("string")
        .cast("binary")), 1, 8).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    graft.ops.Bpe.bpeMerges(words, col("word"), col("cnt"), iters = 256)
      .orderBy("ord")
  }

  /** Text 27 (round-8): deep-artifact BPE ENCODE
    * ([[graft.ops.Bpe.encode]] — the ONE-expression rank-loop encoder,
    * [[graft.functions.BpeEncode]]): train 96 merges in-engine, collect
    * the artifact (the standard tokenizer-ships-as-a-file read), then
    * encode the corpus words with the native expression instead of
    * [[graft.ops.Bpe.encodeSpaced]]'s per-merge replace chain — one
    * plan node at ANY table depth, which is the serving path a 30k-
    * merge production artifact needs. The oracle never sees the encoder:
    * it replays the TRAINING chain and reads the final vocab state
    * (w96), whose spaced rows are by construction the chain-encode of
    * every word — so the gate proves rank-loop ≡ learn-order chain on a
    * genuinely trained table at every SF ([[graft.BpeSpec]] pins the
    * same law at 300 merges against the literal chain).
    */
  private def q283(s: SparkSession, dir: String): DataFrame = {
    val words = t(s, dir, "orders")
      .select(substring(md5(col("o_orderkey").cast("string")
        .cast("binary")), 1, 8).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // read by the trainer's rounds AND the encode scan
    val merges = graft.ops.Bpe.bpeMerges(words, col("word"), col("cnt"),
        iters = 96)
      .orderBy("ord").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    words
      .select(col("word"),
        graft.ops.Bpe.encode(col("word"), merges).as("__t"))
      .select(col("word"), size(col("__t")).as("n_tokens"),
        element_at(col("__t"), 1).as("first_token"),
        element_at(col("__t"), -1).as("last_token"))
      .orderBy("word")
  }

  /** Multimodal 13 (round-8): the REAL video container lane
    * ([[graft.ops.Multimodal.AviDibCodec]]) — closes the r7 verdict's
    * "video still rides only the md5 fake": each document id becomes a
    * GENUINE uncompressed RIFF/AVI asset (BI_RGB DIB frames, the format
    * `ffmpeg -c:v rawvideo` writes) encoded IN the query from a
    * closed-form pixel rule, then rides the production
    * decodeVideo → stride-sample → frameRgbStats pipeline with the real
    * container parser (hdrl/strl/strf walked, bit depth checked,
    * bottom-up padded rows flipped). The oracle recomputes the channel
    * sums from the pixel RULE, so the hash passes iff every pixel of
    * every frame survived the encode→parse round trip exactly — q238's
    * WAV device extended to video, completing the real-codec triple
    * (image q212, audio q238, video here).
    */
  private def q284(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("id"))
      .filter(col("id") < 200)
      .repartition(s.sparkContext.defaultParallelism) // spread before the codec boundary
      .as[Long]
    val assets = ids.mapPartitions { it =>
      it.map { id =>
        val w = 10; val h = 6
        val nf = (2 + id % 5).toInt
        val frames = (0 until nf).map { f =>
          Array.tabulate(w * h) { i =>
            val x = i % w; val y = i / w
            val r = ((id * 7 + f * 13 + y * w + x) % 256).toInt
            val g = ((id * 11 + f * 17 + x * 3 + y * 5) % 256).toInt
            val b = ((id * 13 + f * 19 + x * 7 + y * 11) % 256).toInt
            (r << 16) | (g << 8) | b
          }
        }
        (id, graft.ops.Multimodal.encodeAviRgb(frames, w, h))
      }
    }.toDF("asset_id", "payload")
    Multimodal.frameRgbStats(
        Multimodal.decodeVideo(assets, Multimodal.AviDibCodec))
      .filter(col("frame_idx") % 2 === 0) // the video frame-sample stride
      .orderBy("asset_id", "frame_idx")
  }

  /** Streaming 24 (round-8): streamed TOKENIZER sufficient statistic
    * ([[graft.streaming.Streaming.wordCountsMaintain]]) — the word
    * count IS all the BPE trainer ever reads of the corpus, so
    * maintaining it incrementally (word-grain commutative fold,
    * versioned-overwrite exactly-once, pruned state) is what lets a
    * tokenizer retrain as data streams in with NO corpus re-scan. The
    * gate forces 3 micro-batch seams and then TRAINS from the folded
    * state; the oracle trains from the whole corpus in one piece —
    * equality proves the streamed statistic is exact, not just close
    * (one miscounted word anywhere shifts an argmax somewhere in 8
    * rounds).
    */
  private def q289(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q289")
    val src = stage.resolve("src").toString
    t(s, dir, "documents").select(col("text"))
      .repartition(3).write.mode("overwrite").parquet(src)
    val schema = s.read.parquet(src).schema
    graft.streaming.Streaming.wordCountsMaintain(s, src, schema, "text",
      statePath = stage.resolve("state").toString,
      checkpointDir = stage.resolve("ckpt").toString)
    val words = graft.streaming.Streaming.latestWordCounts(s,
      stage.resolve("state").toString).localCheckpoint()
    val out = graft.ops.Bpe.bpeMerges(words, col("word"), col("cnt"),
        iters = 8)
      .orderBy("ord")
    materializeDropping(s, out, stage)
  }

  /** Text 25 (round-8): bigram-LM typicality scoring
    * ([[TextAnalysis.bigramLmScore]]) — the CCNet-style perplexity-
    * filter analogue: mean + min add-one-smoothed transition
    * probability per document under the corpus' own bigram model.
    * Completes the LM-scoring ladder (unigram q223 → importance-ratio
    * q255 → bigram sequence model).
    */
  private def q292(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramLmScore(t(s, dir, "documents"), col("doc_id"),
        col("text"))
      .orderBy("doc_id")

  /** Similarity 16 (round-8): IVF-PQ — the two ANN levers composed
    * into the architecture that serves 10⁹+ vectors
    * ([[Similarity.ivfPqResiduals]] + [[Similarity.pqTrain]] on the
    * residuals + [[Similarity.ivfPqAdcTopK]]): coarse cells prune WHICH
    * items are read (nprobe = 2 of 10 cells), residual-trained PQ codes
    * make each read cost m = 8 byte-lookups instead of a 64-float
    * scan, finalists re-rank on true cosine. Every stage is the exact-
    * decimal machinery, so the oracle replays coarse assignment,
    * residuals, codebook training, per-cell distance tables, and the
    * shortlist verbatim.
    */
  private def q294(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val seeds = Similarity.minIdSeeds(e, col("vec_id"), col("embedding"),
        col("label"))
      .localCheckpoint() // the coarse quantizer: read by assignment, residuals, probes
    val resid = Similarity.ivfPqResiduals(e, col("vec_id"),
        col("embedding"), seeds, col("cell"), col("cvec"))
      .localCheckpoint() // read by training, coding, and the search's cell lookup
    val (codes, _, books) = Similarity.pqTrain(resid, col("vec_id"),
      col("residual"), col("cell"), m = 8, lloydRounds = 1)
    Similarity.ivfPqAdcTopK(codes, books, resid, e, seeds, col("vec_id"),
        col("embedding"), lit(7L), k = 10, m = 8, nprobe = 2)
      .orderBy("rank")
  }

  /** Streaming 25 (round-8): streamed PQ coding against the frozen
    * books ([[graft.streaming.Streaming.pqCodesMaintain]]) — train
    * once batch-side, then code three micro-batch slices map-side into
    * per-batch store partitions; the assembled store must equal the
    * batch coding of the whole corpus (the oracle's training unroll).
    * Completes the PQ family's day-2 story: codes are maintained
    * incrementally, the artifact never retrains mid-stream.
    */
  private def q295(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q295")
    val src = stage.resolve("src").toString
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    (0 to 2).foreach { i =>
      e.filter(col("vec_id") % 3 === i).repartition(1)
        .write.mode("append").parquet(src)
    }
    val (_, _, books) = Similarity.pqTrain(e, col("vec_id"),
      col("embedding"), col("label"), m = 8, lloydRounds = 1)
    val frozen = books.localCheckpoint() // the once-trained artifact
    val schema = s.read.parquet(src).schema
    graft.streaming.Streaming.pqCodesMaintain(s, src, schema,
      "vec_id", "embedding", frozen, m = 8,
      storePath = stage.resolve("store").toString,
      checkpointDir = stage.resolve("ckpt").toString)
    materializeDropping(s,
      s.read.parquet(stage.resolve("store").toString)
        .select(col("item_id"), col("sub"), col("cell")),
      stage)
      .orderBy("item_id", "sub")
  }

  /** Similarity 18 (round-8): PQ quantization-error health report
    * ([[Similarity.pqQuantizationError]]) — per subspace, mean + max
    * exact-decimal squared distance between vectors and their assigned
    * codewords. The index-health monitor of the PQ family (rising
    * error on fresh data = frozen books drifted, retrain); completes
    * the train/code/search/stream surface with its observability leg.
    */
  private def q287(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val (codes, _, books) = Similarity.pqTrain(e, col("vec_id"),
      col("embedding"), col("label"), m = 8, lloydRounds = 1)
    Similarity.pqQuantizationError(codes, books, e, col("vec_id"),
        col("embedding"), m = 8)
      .orderBy("sub")
  }

  /** Sink/source 13 (round-8 post-close): JSONL round-trip —
    * newline-delimited JSON is the LLM-training-data interchange
    * format; [[graft.sinks.Sinks.jsonLines]] exports the documents
    * table and Spark's JSON reader re-imports it; the identity oracle
    * proves the loop lossless (escaping, Unicode, numeric widths).
    */
  private def q298(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q298")
    val out = stage.resolve("jsonl").toString
    val src = t(s, dir, "documents").select(col("doc_id"), col("text"),
      col("lang"), col("source"), col("n_chars"))
    graft.sinks.Sinks.jsonLines(src, out)
    // explicit reader schema — the at-scale JSONL pattern (no inference
    // scan), and the reason an EMPTY export round-trips to an empty
    // frame instead of an unresolvable zero-column relation
    materializeDropping(s,
      s.read.schema(src.schema).json(out)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("text"), col("lang"), col("source"),
          col("n_chars").cast("long").as("n_chars")),
      stage)
      .orderBy("doc_id")
  }

  /** Text 27 (round-8 post-close): mixed-language detection at chunk
    * grain — documents whose 32-token chunks disagree on language are
    * spliced/multilingual and usually filtered or split before
    * training: per document, chunk count, distinct chunk-language
    * count, the majority chunk language (ties to the alphabetically
    * first — deterministic), and the mixed flag. Composes the gated
    * chunker (q86) with the gated language heuristic (q27); one
    * map-side chunk+classify pass, two doc-grain folds.
    */
  private def q299(s: SparkSession, dir: String): DataFrame = {
    val ch = TextAnalysis.chunkWithStride(t(s, dir, "documents"),
        col("doc_id"), col("text"), window = 32, stride = 32)
      .select(col("doc_id"),
        TextAnalysis.detectLanguage(col("chunk")).as("__cl"))
      .localCheckpoint() // read by the count fold and the majority fold
    val agg = ch.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("__cl")).as("n_langs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("__c").desc, col("__cl").asc)
    val maj = ch.groupBy(col("doc_id"), col("__cl"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("__cl").as("majority_lang"))
    agg.join(maj, Seq("doc_id"))
      .select(col("doc_id"), col("n_chunks"), col("n_langs"),
        col("majority_lang"), (col("n_langs") > 1).as("mixed"))
      .orderBy("doc_id")
  }

  /** Pipeline 4 (round-8 post-close, q300): the crawl-to-corpus
    * curation funnel END TO END in one gated query — HTML fixtures
    * ([[fixtureHtml]]) → main-content extraction
    * ([[TextAnalysis.htmlExtract]]) → quality gate on the EXTRACTED
    * text (q28's composite score at round-4 ≥ 0.5) → exact dedup of
    * survivors (md5 fingerprint, min-id keeps) → per-source funnel
    * counts and keep rate. Every stage is individually oracle-gated
    * (q293/q28/q20's devices); this gate pins their COMPOSITION — the
    * shape an actual training-data run executes.
    */
  private def q300(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val ext = TextAnalysis.htmlExtract(docs, col("doc_id"), fixtureHtml)
      .select(col("doc_id"), col("main_text"))
    val q = TextAnalysis.qualityScore(col("main_text"))
    val staged = ext
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .withColumn("__extracted", col("main_text") =!= "")
      .withColumn("__quality",
        col("__extracted") && round(q, 4) >= 0.5)
      .withColumn("__fp", md5(col("main_text")))
      .localCheckpoint() // read by the dedup window and the funnel fold
    val w = Window.partitionBy(col("__fp")).orderBy(col("doc_id").asc)
    val kept = staged.filter(col("__quality"))
      .withColumn("__kept", row_number().over(w) === 1)
      .select(col("doc_id"), col("__kept"))
    staged.join(kept, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__extracted"), 1L).otherwise(0L)).as("n_extracted"),
        sum(when(col("__quality"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(coalesce(col("__kept"), lit(false)), 1L).otherwise(0L))
          .as("n_kept"))
      .select(col("source"), col("n_docs"), col("n_extracted"),
        col("n_quality"), col("n_kept"),
        round(col("n_kept").cast("double") /
          col("n_docs").cast("double"), 4).as("keep_rate"))
      .orderBy("source")
  }

  /** Train 5 (round-9): multinomial Naive Bayes training
    * ([[graft.ops.Train.naiveBayesModel]]) — the fastText-shaped
    * supervised text classifier (the CCNet/GPT-3 "model-based quality
    * filter" lane the GD probes cover for NUMERIC features, here over
    * the token bag): trained on the even-doc_id half of the corpus
    * with lang as the label, the full (class × vocab) model frame is
    * gated — Laplace-smoothed rounded-ln log-likelihoods (the
    * PMI/entropy ln-at-9dp idiom) plus document-count log-priors.
    * Training is ONE token-grain counting shuffle (map-side combine);
    * no iteration — the sufficient statistic IS the model, which is
    * what makes this the cheapest corpus-scale classifier to refresh.
    */
  private def q301(s: SparkSession, dir: String): DataFrame =
    graft.ops.Train.naiveBayesModel(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0),
        col("lang"), col("text"))
      .orderBy("class", "token")

  /** Train 6 (round-9): Naive Bayes held-out scoring
    * ([[graft.ops.Train.naiveBayesScore]]) — q301's model applied to
    * the odd-doc_id half it never saw: token explode → model equi-join
    * (co-partitioned on the token key; the model broadcasts at C·V
    * rows) → per-(doc, class) decimal-summed log-likelihood + prior →
    * deterministic argmax. Per-doc prediction vs the true lang label —
    * the supervised twin of q27's heuristic detector.
    */
  private def q302(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val model = graft.ops.Train.naiveBayesModel(
      docs.filter(col("doc_id") % 2 === 0), col("lang"), col("text"))
    graft.ops.Train.naiveBayesScore(
        docs.filter(col("doc_id") % 2 === 1), col("doc_id"), col("text"),
        model)
      .join(docs.select(col("doc_id"), col("lang").as("true_lang")),
        Seq("doc_id"))
      .select(col("doc_id"), col("pred_class"), col("score"),
        col("true_lang"), (col("pred_class") === col("true_lang"))
          .as("correct"))
      .orderBy("doc_id")
  }

  /** Eval 14 (round-9): the held-out confusion matrix of q302's
    * classifier — (true_lang × pred_class) counts plus per-true-class
    * recall, the readout a filter-model owner actually watches (which
    * languages leak into which). Grain: at most C² rows regardless of
    * corpus size — the doc-grain frame folds immediately.
    *
    * On the synthetic corpus this matrix EXPOSES a data property: the
    * driver's documents share one vocabulary across lang labels (no
    * lexical signal), so the classifier collapses to the 'en' prior —
    * which is precisely the diagnosis this readout exists to make
    * (and why q311 selects models on a separable target instead).
    */
  private def q303(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val model = graft.ops.Train.naiveBayesModel(
      docs.filter(col("doc_id") % 2 === 0), col("lang"), col("text"))
    val scored = graft.ops.Train.naiveBayesScore(
        docs.filter(col("doc_id") % 2 === 1), col("doc_id"), col("text"),
        model)
      .join(docs.select(col("doc_id"), col("lang").as("true_lang")),
        Seq("doc_id"))
      .localCheckpoint() // read by the cell counts and the row totals
    val cells = scored.groupBy(col("true_lang"), col("pred_class"))
      .agg(count(lit(1)).as("n"))
    val totals = scored.groupBy(col("true_lang"))
      .agg(count(lit(1)).as("__tot"))
    cells.join(totals, Seq("true_lang"))
      .select(col("true_lang"), col("pred_class"), col("n"),
        round(col("n").cast("double") / col("__tot").cast("double"), 6)
          .as("frac"))
      .orderBy("true_lang", "pred_class")
  }

  /** The q304/q305 shared held-out scored frame: the q252 probe trained
    * on the EVEN-doc_id half (3 GD iterations), scored over the odd
    * half it never saw — (doc_id, __y, score), the input every post-hoc
    * calibration op consumes.
    */
  private def plattScored(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val w = graft.ops.Train.linearProbeWeights(
      docs.filter(col("doc_id") % 2 === 0), probeLabel, probeFeatures,
      iters = 3, rate = 1e-5)
    graft.ops.Train.linearProbeScore(
        docs.filter(col("doc_id") % 2 === 1), probeFeatures, w)
      .select(col("doc_id"), probeLabel.as("__y"), col("score"))
  }

  /** Train 7 (round-9): Platt scaling ([[graft.ops.Train.plattFit]]) —
    * the 2-parameter post-hoc recalibration map σ(A·score + B) fit on
    * the held-out probe scores by 12 more GD rounds: the standard fix
    * for a filter model that RANKS well but whose probabilities drift
    * (q193's reliability-bin diagnosis). Inherits the full GD
    * determinism contract (Elliott sigmoid, decimal gradient sums,
    * 12-dp updates), so the oracle unrolls probe-then-Platt — fifteen
    * nested fixed-point iterations (3 probe + 12 Platt, the cw0..cw12
    * chain) — and lands on the same (B, A) bits.
    */
  private def q304(s: SparkSession, dir: String): DataFrame = {
    val sc = plattScored(s, dir)
    graft.ops.Train.linearProbe(sc, col("__y"),
      Seq("bias" -> lit(1.0d), "score" -> col("score")),
      iters = 12, rate = 2.0)
  }

  /** Eval 15 (round-9): the calibration before/after readout of q304's
    * map — Brier + ECE ([[graft.ops.Eval.calibrationSummary]], q216's
    * gated device) of the RAW held-out probe scores beside the
    * Platt-calibrated ones, one row. This is the number that justifies
    * (or rejects) shipping the recalibration: both summaries fold the
    * same 10-bin reliability curve, decimal-exact. On the gated corpus
    * the verdict is REJECT (ECE does not improve — the probe's held-out
    * scores are weakly anti-correlated, q304's negative score weight),
    * which is exactly the decision this readout exists to make.
    */
  private def q305(s: SparkSession, dir: String): DataFrame = {
    val sc = plattScored(s, dir).localCheckpoint() // fit + two summaries
    val w = graft.ops.Train.plattFit(sc, col("score"), col("__y"),
      iters = 12, rate = 2.0)
    val cal = sc.withColumn("cal_score",
      graft.ops.Train.plattApply(col("score"), w))
    val raw = graft.ops.Eval.calibrationSummary(sc, col("doc_id"),
      col("score"), col("__y") === 1.0d, bins = 10)
    val calS = graft.ops.Eval.calibrationSummary(cal, col("doc_id"),
      col("cal_score"), col("__y") === 1.0d, bins = 10)
    raw.select(col("n"), col("brier").as("brier_raw"),
        col("ece").as("ece_raw"))
      .crossJoin(broadcast(calS.select(col("brier").as("brier_cal"),
        col("ece").as("ece_cal"))))
  }

  /** The deterministic URL fixture shared by q306/q307/q308 — each
    * document gets a crawl-shaped URL derived from its own fields (the
    * q293/q238 closed-form-fixture device; [[urlFixtureSql]] is the SQL
    * twin): mixed-case `WWW.` hosts, three TLD shapes (one on a
    * second-level registry), an `/ads/` path arm, trailing-slash
    * variants, tracking parameters in two arrangements, and fragments —
    * every rule [[graft.ops.Web.urlCanonicalize]] owns is exercised.
    */
  private def fixtureUrl: Column = concat(
    lit("https://"),
    when(col("doc_id") % 4 === 0, lit("WWW.")).otherwise(lit("")),
    col("source"),
    when(col("doc_id") % 3 === 0, lit(".example.com"))
      .when(col("doc_id") % 3 === 1, lit(".blogspot.com"))
      .otherwise(lit(".example.co.uk")),
    when(col("doc_id") % 5 === 0, lit("/ads/")).otherwise(lit("/posts/")),
    (col("doc_id") % 50).cast("string"),
    when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
    when(col("doc_id") % 3 === 0,
      concat(lit("?utm_source=feed&id="), (col("doc_id") % 10).cast("string")))
      .when(col("doc_id") % 3 === 1,
        concat(lit("?id="), (col("doc_id") % 10).cast("string"),
          lit("&utm_campaign=x&b=2")))
      .otherwise(lit("")),
    when(col("doc_id") % 7 === 0, lit("#section-2")).otherwise(lit("")))

  /** Web 1 (round-9): crawl-frontier URL dedup
    * ([[graft.ops.Web.urlCanonicalize]]) — the fixture URLs collapsed
    * under the canonical form (case-folded de-www'd host, fragment and
    * tracking-param strip, param sort, trailing-slash strip): per
    * canonical target, how many documents and distinct raw URLs landed
    * on it and which doc survives (min id — q20's keeper rule). Pure
    * map-side normalization + ONE hash aggregate: the shape that
    * frontier-dedups a 10¹¹-URL crawl list.
    */
  private def q306(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), fixtureUrl.as("url"))
      .withColumn("canonical_url", graft.ops.Web.urlCanonicalize(col("url")))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("url")).as("n_urls"),
        min(col("doc_id")).as("keeper"))
      .orderBy("canonical_url")

  /** Web 2 (round-9): per-registrable-domain corpus statistics
    * ([[graft.ops.Web.registeredDomain]] — last-2 labels, last-3 under
    * a second-level registry, so `srcN.example.co.uk` folds to
    * `example.co.uk`): document counts, distinct-host fan-out, and the
    * decimal-mean q28 quality score per domain — the table a curation
    * run ranks to decide which sites to keep, cap, or crawl deeper.
    */
  private def q307(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), fixtureUrl.as("url"))
      .withColumn("__host", graft.ops.Web.urlHost(col("url")))
      .withColumn("domain", graft.ops.Web.registeredDomain(
        regexp_replace(col("__host"), "^www\\.", "")))
    docs.groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("__host")).as("n_hosts"),
        sum(round(TextAnalysis.qualityScore(col("text")), 6)
          .cast("decimal(28,12)")).as("__qs"))
      .select(col("domain"), col("n_docs"), col("n_hosts"),
        round(col("__qs").cast("double") / col("n_docs").cast("double"), 6)
          .as("mean_quality"))
      .orderBy("domain")
  }

  /** Web 3 (round-9): the staged URL blocklist funnel — domain rule
    * first (registrable domain ∈ blocklist: `blogspot.com`), then the
    * path rule on domain-survivors (`/ads/` prefix), per-source drop
    * counts and keep rate: q300's funnel discipline applied at the URL
    * layer, which is where a real pipeline drops documents BEFORE
    * paying to fetch or tokenize them. Map-side rules + one aggregate.
    */
  private def q308(s: SparkSession, dir: String): DataFrame = {
    val staged = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), fixtureUrl.as("url"))
      .withColumn("__dom", graft.ops.Web.registeredDomain(
        regexp_replace(graft.ops.Web.urlHost(col("url")), "^www\\.", "")))
      .withColumn("__dom_b", col("__dom") === "blogspot.com")
      .withColumn("__path_b", !col("__dom_b") &&
        graft.ops.Web.urlPath(col("url")).startsWith("/ads/"))
    staged.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__dom_b"), 1L).otherwise(0L)).as("n_domain_blocked"),
        sum(when(col("__path_b"), 1L).otherwise(0L)).as("n_path_blocked"),
        sum(when(!col("__dom_b") && !col("__path_b"), 1L).otherwise(0L))
          .as("n_kept"))
      .withColumn("keep_rate",
        round(col("n_kept").cast("double") / col("n_docs").cast("double"), 4))
      .orderBy("source")
  }

  /** Governance 1 (round-9): k-anonymity audit
    * ([[graft.ops.Privacy.kAnonymityHistogram]]) — the customer table's
    * re-identification histogram under the QI tuple (nation, market
    * segment): how many equivalence classes of each size exist, with
    * classes under k = 5 flagged. Two chained map-side-combinable
    * aggregations, no joins — the release gate that runs casually over
    * the full table at any scale.
    */
  private def q309(s: SparkSession, dir: String): DataFrame =
    graft.ops.Privacy.kAnonymityHistogram(t(s, dir, "customer"),
      Seq(col("c_nationkey"), col("c_mktsegment")), k = 5)

  /** Governance 2 (round-9): l-diversity audit
    * ([[graft.ops.Privacy.lDiversityHistogram]]) — the same QI classes
    * scored by DISTINCT sensitive values (account-balance bucket,
    * floor(bal/1000)): l = 1 classes disclose the balance bracket to
    * any QI match even when k-anonymity passes (the homogeneity
    * attack). Same two-aggregation shape as q309.
    */
  private def q310(s: SparkSession, dir: String): DataFrame =
    graft.ops.Privacy.lDiversityHistogram(t(s, dir, "customer"),
      Seq(col("c_nationkey"), col("c_mktsegment")),
      floor(col("c_acctbal") / 1000.0d), l = 2)

  /** Train 8 (round-9): the cross-validated MODEL-SELECTION sweep — the
    * in-engine AutoML-lite loop a filter-model owner actually runs:
    * 3 md5-deterministic folds ([[Sampling.groupKFold]]'s device, each
    * doc its own group) × 3 nested feature sets (bias-only / +chars /
    * +spaces), each cell a full q252 GD fit on the out-of-fold docs
    * evaluated on the held-out fold, means folded per config and the
    * winner flagged. (Feature sets, not learning rates: with a sign
    * thresholded linear model, accuracy is invariant under the weight
    * scaling a rate sweep produces — a rate grid would be 9 cells of
    * the same answer.) 27 unrolled GD rounds in the oracle — model
    * SELECTION, not just fitting, is oracle-pinned. At 100 TB the
    * identical code runs over a stratified sample (the probe-training
    * discipline); every cell is corpus-linear.
    *
    * Target and features: the long-document flag (n_chars ≥ 157)
    * against CENTERED length features. Two deliberate choices, both
    * documented: the synthetic corpus carries no lexical language
    * signal (q303's prior-collapse readout), so the is-English target
    * would tie every config at the majority rate — a selection gate
    * needs configs whose generalization genuinely differs; and
    * centering is what lets a zero-init GD probe flip the sign of z at
    * the class boundary at all (uncentered positive features under a
    * positive label correlation drive every prediction to 1 — the
    * all-majority degeneracy).
    */
  private def q311(s: SparkSession, dir: String): DataFrame = {
    val folded = Sampling.groupKFold(t(s, dir, "documents"),
      col("doc_id"), k = 3).localCheckpoint() // 9 train + 9 eval reads
    val lenLabel = when(col("n_chars") >= 157, lit(1.0d))
      .otherwise(lit(0.0d))
    val fLen = "len_c" -> (col("n_chars") - lit(157)).cast("double")
    val fSp = "spaces_c" -> (length(col("text")) -
      length(regexp_replace(col("text"), lit(" "), lit(""))) - lit(53))
      .cast("double")
    val configs = Seq(
      ("bias_only", Seq("bias" -> lit(1.0d))),
      ("bias_len", Seq("bias" -> lit(1.0d), fLen)),
      ("full", Seq("bias" -> lit(1.0d), fLen, fSp)))
    val cells = for ((name, feats) <- configs; f <- 0 until 3) yield {
      val w = graft.ops.Train.linearProbeWeights(
        folded.filter(col("fold") =!= f), lenLabel, feats,
        iters = 3, rate = 1e-5)
      graft.ops.Train.linearProbeEval(
          folded.filter(col("fold") === f), lenLabel, feats, w)
        .select(lit(name).as("config"), lit(f).as("fold"), col("n"),
          col("accuracy"))
    }
    val all = cells.reduce(_ unionByName _).localCheckpoint()
    val means = all.groupBy(col("config"))
      .agg(sum(col("accuracy").cast("decimal(28,12)")).as("__s"),
        count(lit(1)).as("__k"))
      .select(col("config"),
        round(col("__s").cast("double") / col("__k").cast("double"), 6)
          .as("mean_accuracy"))
    val mx = means.agg(max(col("mean_accuracy")).as("__mx"))
    all.join(means, Seq("config"))
      .crossJoin(broadcast(mx))
      .select(col("config"), col("fold"), col("n"), col("accuracy"),
        col("mean_accuracy"),
        (col("mean_accuracy") === col("__mx")).as("is_best"))
      .orderBy("config", "fold")
  }

  /** Streaming 20 (round-9): the streamed twin of q302's Naive Bayes
    * scoring — the corpus-scoring leg as it actually deploys (new
    * documents arrive; the frozen model scores each micro-batch). The
    * odd-doc_id half is staged as 3 parquet files and replayed
    * one-file-per-trigger through foreachBatch →
    * [[graft.ops.Train.naiveBayesScore]] → append landing; scoring is
    * per-document stateless (tokens never cross documents), so the
    * landed frame must equal the batch result VERBATIM — the oracle IS
    * q302's, the streamed-twin discipline.
    */
  private def q312(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q312")
    val src = stage.resolve("src").toString
    val docs = t(s, dir, "documents")
    val model = graft.ops.Train.naiveBayesModel(
        docs.filter(col("doc_id") % 2 === 0), col("lang"), col("text"))
      .localCheckpoint() // read by every micro-batch
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"))
      .repartition(3).write.mode("overwrite").parquet(src)
    val land = stage.resolve("land").toString
    // r14: measured BOTH ways (isolated c32 A/B) — this foreachBatch body
    // joins each batch against the maintained model state, and AQE's
    // runtime broadcast decision wins (5.03 s vs 5.44 s static); the
    // static-plan wrapper is kept only on drain/land lanes where the
    // per-batch re-planning overhead dominates (see Streaming.scala).
    graft.streaming.Streaming.drainFiles(s, src, s.read.parquet(src).schema,
        stage.resolve("ckpt").toString, maxFilesPerTrigger = 1) {
      (batch, _) =>
        graft.ops.Train.naiveBayesScore(batch, col("doc_id"), col("text"),
            model)
          .write.mode("append").parquet(land)
    }
    val out = s.read.parquet(land)
      .join(docs.select(col("doc_id"), col("lang").as("true_lang")),
        Seq("doc_id"))
      .select(col("doc_id"), col("pred_class"), col("score"),
        col("true_lang"), (col("pred_class") === col("true_lang"))
          .as("correct"))
      .localCheckpoint().orderBy("doc_id")
    materializeDropping(s, out, stage)
  }

  /** Streaming 21 (round-9): Naive Bayes trained FROM maintained
    * state ([[graft.streaming.Streaming.nbStateMaintain]] →
    * [[graft.ops.Train.naiveBayesFromState]]) — the even-doc_id train
    * split replayed one file per trigger, (class, token)/doc counts
    * folded per batch into the versioned statistic, and the model
    * trained from the FINAL state: must equal q301's batch model
    * bit-for-bit (integer merge + closed-form training — the q289
    * train-from-state discipline). The labeled corpus is never
    * rescanned; this is the continuously-retrained quality filter's
    * cost model.
    */
  private def q313(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q313")
    val src = stage.resolve("src").toString
    t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"), col("text"))
      .repartition(3).write.mode("overwrite").parquet(src)
    val schema = s.read.parquet(src).schema
    val statePath = stage.resolve("state").toString
    graft.streaming.Streaming.nbStateMaintain(s, src, schema,
      labelCol = "lang", textCol = "text", statePath = statePath,
      checkpointDir = stage.resolve("ckpt").toString)
    val last = graft.streaming.Streaming.latestVersion(s, statePath).get
    val out = graft.ops.Train.naiveBayesFromState(
        s.read.parquet(s"$statePath/v$last"))
      .localCheckpoint().orderBy("class", "token")
    materializeDropping(s, out, stage)
  }

  /** cos(lat₀) for the round-9 geo lane's equirectangular projection —
    * lat₀ ≈ −14.2° (central Brazil), written as the short decimal BOTH
    * the engine and the oracle SQL parse to the identical double.
    */
  private val geoCosLat0 = 0.9692d

  /** Geo 1 (round-9): exact nearest-centroid enrichment
    * ([[graft.ops.Geo.nearestCentroid]]) — every customer point (md5-
    * synthesized coordinates in the Brazil bbox; a real corpus drops the
    * synthesis for its lat/lon columns) assigned to the nearest nation
    * centroid under the decimal-literal-pinned equirectangular metric,
    * folded per centroid. The reference's município-enrichment theme
    * (pipeline.py:95-106 joins codigo_ibge by NAME) re-expressed for
    * the coordinate-bearing case. Plan: the 25-row centroid frame
    * broadcasts (nested-loop — the dim × corpus shape), argmin is ONE
    * map-side-partial min(struct) fold; no window, no join-back.
    */
  private def q314(s: SparkSession, dir: String): DataFrame = {
    val pts = t(s, dir, "customer").select(col("c_custkey"),
      graft.ops.Geo.synthLat(col("c_custkey")).as("plat"),
      graft.ops.Geo.synthLon(col("c_custkey")).as("plon"))
    val nat = t(s, dir, "nation")
    val cents = nat.select(col("n_nationkey"),
      graft.ops.Geo.synthLat(concat(lit("n"),
        col("n_nationkey").cast("string"))).as("clat"),
      graft.ops.Geo.synthLon(concat(lit("n"),
        col("n_nationkey").cast("string"))).as("clon"))
    graft.ops.Geo.nearestCentroid(pts, col("c_custkey"), col("plat"),
        col("plon"), cents, col("n_nationkey"), col("clat"), col("clon"),
        geoCosLat0)
      .join(broadcast(nat.select(col("n_nationkey"), col("n_name"))),
        col("centroid_id") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_pts"),
        sum(round(col("dist_km"), 9).cast("decimal(28,12)")).as("__s"),
        min(col("dist_km")).as("__mn"), max(col("dist_km")).as("__mx"))
      .select(col("n_name"), col("n_pts"),
        round(col("__s").cast("double") / col("n_pts").cast("double"), 6)
          .as("mean_km"),
        round(col("__mn"), 6).as("min_km"), round(col("__mx"), 6).as("max_km"))
      .orderBy("n_name")
  }

  /** Geo 2 (round-9): radius-bounded nearest WITHOUT broadcast
    * ([[graft.ops.Geo.nearestWithinRadius]], R = 500 km) — the grid-
    * blocked twin that survives a centroid side too big to broadcast:
    * both sides land in R-wide cells of the projected plane, centroids
    * replicate to their 3×3 neighborhood, and the match is an EQUI-join
    * on the cell key (candidates = points × density, never points ×
    * centroids). Customers whose nearest centroid is out of range land
    * in the "(none)" bucket — the containment law (grid ≡ broadcast
    * argmin filtered to ≤ R) is spec-pinned AND differentially gated
    * here (the oracle computes the unblocked global argmin).
    */
  private def q315(s: SparkSession, dir: String): DataFrame = {
    val pts = t(s, dir, "customer").select(col("c_custkey"),
      graft.ops.Geo.synthLat(col("c_custkey")).as("plat"),
      graft.ops.Geo.synthLon(col("c_custkey")).as("plon"))
    val nat = t(s, dir, "nation")
    val cents = nat.select(col("n_nationkey"),
      graft.ops.Geo.synthLat(concat(lit("n"),
        col("n_nationkey").cast("string"))).as("clat"),
      graft.ops.Geo.synthLon(concat(lit("n"),
        col("n_nationkey").cast("string"))).as("clon"))
    val nn = graft.ops.Geo.nearestWithinRadius(pts, col("c_custkey"),
      col("plat"), col("plon"), cents, col("n_nationkey"), col("clat"),
      col("clon"), radiusKm = 500.0, cosLat0 = geoCosLat0)
    pts.select(col("c_custkey").as("point_id"))
      .join(nn, Seq("point_id"), "left")
      .join(broadcast(nat.select(col("n_nationkey"), col("n_name"))),
        col("centroid_id") === col("n_nationkey"), "left")
      .groupBy(coalesce(col("n_name"), lit("(none)")).as("n_name"))
      .agg(count(lit(1)).as("n_pts"),
        sum(round(col("dist_km"), 9).cast("decimal(28,12)")).as("__s"),
        count(col("dist_km")).as("__nd"))
      .select(col("n_name"), col("n_pts"),
        round(col("__s").cast("double") / col("__nd").cast("double"), 6)
          .as("mean_km"))
      .orderBy("n_name")
  }

  /** Train 7 (round-9): DoReMi-lite domain reweighting
    * ([[graft.ops.Train.domainMixWeights]], η = 10, ε = 0.1, budget =
    * 1M tokens) — the data-mixture optimizer's weight-update step run
    * in-engine: each source's proxy loss is its mean token
    * IMPROBABILITY under the corpus unigram LM (1 − mean_prob from
    * [[TextAnalysis.unigramLmScore]] — the libm-free likelihood proxy),
    * excess over the cross-domain mean is clamped at 0 and upweighted
    * through the second-order multiplicative-weights surrogate
    * (1 + η·x)², smoothed ε-uniform, and turned into per-domain token
    * allocations. Corpus-sized work is exactly q223's plan; everything
    * after is K-row broadcast arithmetic.
    */
  private def q316(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val perDoc = TextAnalysis.unigramLmScore(docs, col("doc_id"),
      col("text"))
    val perSource = perDoc
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(sum(col("mean_prob").cast("decimal(28,12)")).as("__s"),
        count(lit(1)).as("__n"))
      .select(col("source"), round(lit(1.0d) -
        col("__s").cast("double") / col("__n").cast("double"), 6).as("loss"))
    graft.ops.Train.domainMixWeights(perSource, col("source"), col("loss"),
        eta = 10.0, eps = 0.1, tokenBudget = 1000000L)
      .orderBy("domain")
  }

  /** OLAP 7 (round-9): the TPC-H Q18 large-volume-order shape — the
    * IN-subquery-on-a-grouped-HAVING classic. The naive translation
    * scans lineitem TWICE (once for the HAVING set, once for the final
    * sum); here the SAME per-order quantity aggregation serves both —
    * the HAVING filter is applied to it and its sum IS the output
    * column, so lineitem is scanned ONCE (PlanSpec-pinned), then
    * equi-joins to orders on the already-shuffled order key and to the
    * customer dim. Decimal quantity sums; full orderBy tie-break
    * (totalprice desc, date, orderkey) makes the LIMIT deterministic.
    */
  private def q317(s: SparkSession, dir: String): DataFrame = {
    val oq = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("__qty"))
      .filter(col("__qty") > lit(240))
    oq.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_totalprice"), col("__qty").cast("double").as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate").asc,
        col("o_orderkey").asc)
      .limit(100)
  }

  /** OLAP 8 (round-9): the TPC-H Q22 global-sales-opportunity shape —
    * the two-subquery decorrelation: an UNCORRELATED scalar aggregate
    * (the positive-balance average over the selected nations) becomes a
    * one-row broadcast crossJoin feeding the filter, and the correlated
    * NOT EXISTS against orders becomes one left-anti equi-join on the
    * customer key with the date predicate PUSHED INSIDE the anti leg's
    * scan — no per-row re-scan of either side. ("No orders" is adapted
    * to "no orders since 2001" — the fixture's order generator gives
    * every customer at least one lifetime order, so Q22's dormancy
    * test needs the recency form to select anyone; same decorrelation
    * either way.) The selected customer frame is checkpointed once and
    * feeds BOTH the scalar and the main leg.
    */
  private def q318(s: SparkSession, dir: String): DataFrame = {
    val sel = t(s, dir, "customer")
      .filter(col("c_nationkey").isin(1, 3, 7, 12, 18))
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      .localCheckpoint() // feeds the scalar average AND the main leg
    val avgPos = sel.filter(col("c_acctbal") > lit(0.0d))
      .agg(davg(col("c_acctbal")).as("__avg"))
    sel.crossJoin(broadcast(avgPos))
      .filter(col("c_acctbal") > col("__avg"))
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        rdz(dsum(col("c_acctbal")), 2).as("totacctbal"))
      .orderBy("c_nationkey")
  }

  /** Quality 11 (round-9): encoding-anomaly audit
    * ([[TextAnalysis.encodingAnomalies]]) — the mojibake/replacement-
    * char curation dimension (C4/CCNet drop these documents): anomalies
    * are PLANTED deterministically (mojibake digraphs on doc_id ≡ 0
    * mod 7, a U+FFFD on ≡ 0 mod 11 — the planted-variant device) so
    * the detector runs against known truth, then per-source keep/drop
    * rates fold out. Pure codegen'd string expressions at the scan —
    * the whole audit is shuffle-free until the K-row source rollup.
    */
  private def q319(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents").select(col("doc_id"), col("source"),
      concat(col("text"),
        when(col("doc_id") % 7 === 0, lit(" donâ€™t cafÃ© niÃ±o"))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" bad\uFFFDbyte"))
          .otherwise(lit(""))).as("text"))
    TextAnalysis.encodingAnomalies(planted, col("doc_id"), col("text"))
      .join(planted.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
        sum(col("n_repl")).as("tot_repl"),
        sum(col("n_moji")).as("tot_moji"))
      .orderBy("source")
  }

  /** The q321 zone polygons (lat, lon vertices, closed implicitly) —
    * non-convex shapes with horizontal edges included deliberately
    * (both crossing-rule branches exercised); constants are interpolated
    * into the oracle SQL from these SAME doubles.
    */
  private val geoZones: Seq[(String, Seq[(Double, Double)])] = Seq(
    "zone_north" -> Seq((4.0, -70.0), (4.0, -50.0), (-5.0, -45.0),
      (-5.0, -72.0)),
    "zone_coast" -> Seq((-3.0, -34.9), (-15.0, -36.0), (-10.0, -45.0)),
    "zone_south" -> Seq((-20.0, -58.0), (-22.0, -45.0), (-30.0, -50.0),
      (-33.0, -55.0), (-25.0, -60.0)))

  /** Geo 3 (round-9): point-in-polygon zone tagging
    * ([[graft.ops.Geo.pointInPolygon]]) — the containment primitive
    * that completes the geo enrich pair (nearest-centroid = "closest
    * seat", this = "which region am I IN"): every customer point tested
    * against three fixed zone polygons by the crossing-number rule,
    * first match wins, unmatched points land in "(none)". The whole
    * test is codegen'd IEEE arithmetic at the scan — zero shuffle until
    * the K-row zone rollup; the oracle replays every edge test from the
    * same interpolated constants.
    */
  private def q321(s: SparkSession, dir: String): DataFrame = {
    val pts = t(s, dir, "customer").select(col("c_custkey"),
      graft.ops.Geo.synthLat(col("c_custkey")).as("plat"),
      graft.ops.Geo.synthLon(col("c_custkey")).as("plon"))
    val tag = geoZones.reverse.foldLeft(lit("(none)")) {
      case (acc, (name, poly)) =>
        when(graft.ops.Geo.pointInPolygon(col("plat"), col("plon"), poly),
          lit(name)).otherwise(acc)
    }
    pts.withColumn("zone", tag)
      .groupBy(col("zone"))
      .agg(count(lit(1)).as("n_pts"),
        sum(round(col("plat"), 9).cast("decimal(28,12)")).as("__sla"),
        sum(round(col("plon"), 9).cast("decimal(28,12)")).as("__slo"))
      .select(col("zone"), col("n_pts"),
        round(col("__sla").cast("double") / col("n_pts").cast("double"), 6)
          .as("mean_lat"),
        round(col("__slo").cast("double") / col("n_pts").cast("double"), 6)
          .as("mean_lon"))
      .orderBy("zone")
  }

  /** The q324 many-zone fixture: 40 deterministic polygons tiling the
    * Brazil bbox — irregular hexagons with a concave notch (non-convex:
    * both crossing-rule branches live), every fourth zone carrying a
    * horizontal top edge (the never-crossed rule exercised on DATA
    * edges), sizes varying 1.5°–4.3° so neighbors overlap (a point can
    * match several zones — containment-pair semantics, not first-match).
    * Constants are plain Scala arithmetic, interpolated verbatim into
    * the oracle.
    */
  private val q324Zones: Seq[(String, Seq[(Double, Double)])] =
    (0 until 40).map { z =>
      val cy = -30.0 + (z % 8) * 4.5
      val cx = -70.0 + (z / 8) * 7.0
      val r = 1.5 + (z % 5) * 0.7
      val verts =
        if (z % 4 == 0) Seq(
          (cy + r, cx - 0.4 * r), (cy + r, cx + 0.4 * r), // horizontal edge
          (cy + 0.2 * r, cx + r), (cy - r, cx + 0.6 * r),
          (cy - 0.3 * r, cx), // concave notch
          (cy - r, cx - 0.6 * r), (cy + 0.2 * r, cx - r))
        else Seq(
          (cy + r, cx), (cy + 0.2 * r, cx + r), (cy - r, cx + 0.6 * r),
          (cy - 0.3 * r, cx), (cy - r, cx - 0.6 * r),
          (cy + 0.2 * r, cx - r))
      (f"zone_$z%02d", verts)
    }

  /** Geo 4 (round-10): zone-TABLE point-in-polygon
    * ([[graft.ops.Geo.zoneTagJoin]]) — q321's containment tagging when
    * the zones are a table, not K compile-time literals: bbox-grid
    * prefilter (500 km cells, the q315 cell device) → candidate
    * (point, zone) equi-join on the cell key → exact crossing-number
    * verify on the exploded edge arrays. Candidate volume is points ×
    * (zone bboxes per cell) — corpus-linear at fixed zone density, the
    * shape that survives a 10⁴-polygon parcel table. Output: per-zone
    * containment counts + coordinate means (overlapping zones both
    * count their shared points; zone-less points land in "(none)").
    * The oracle replays the UNBLOCKED all-zones test from the same
    * interpolated vertex constants — the gate proves the grid path
    * loses nothing; Round10OpsSpec pins data-edge ≡ literal-edge
    * arithmetic on the q321 zones.
    */
  private def q324(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pts = t(s, dir, "customer").select(col("c_custkey"),
        graft.ops.Geo.synthLat(col("c_custkey")).as("plat"),
        graft.ops.Geo.synthLon(col("c_custkey")).as("plon"))
      .localCheckpoint() // read by the candidate join and the (none) leg
    val zones = q324Zones.toDF("zone", "__vs")
      .select(col("zone"), transform(col("__vs"), v =>
        struct(v.getField("_1").as("lat"), v.getField("_2").as("lon")))
        .as("verts"))
    val pairs = graft.ops.Geo.zoneTagJoin(pts, col("c_custkey"),
      col("plat"), col("plon"), zones, col("zone"), col("verts"),
      cellKm = 500.0, cosLat0 = geoCosLat0)
    pts.join(pairs, col("c_custkey") === col("point_id"), "left")
      .select(coalesce(col("zone"), lit("(none)")).as("zone"),
        col("plat"), col("plon"))
      .groupBy(col("zone"))
      .agg(count(lit(1)).as("n_pts"),
        sum(round(col("plat"), 9).cast("decimal(28,12)")).as("__sla"),
        sum(round(col("plon"), 9).cast("decimal(28,12)")).as("__slo"))
      .select(col("zone"), col("n_pts"),
        round(col("__sla").cast("double") / col("n_pts").cast("double"), 6)
          .as("mean_lat"),
        round(col("__slo").cast("double") / col("n_pts").cast("double"), 6)
          .as("mean_lon"))
      .orderBy("zone")
  }

  /** OLAP 9 (round-10): the TPC-H Q13 customer-distribution shape —
    * "how many customers placed k orders (excluding urgent-priority
    * ones), for every k INCLUDING ZERO": the left-outer count-histogram
    * whose whole point is the null group (customers with no qualifying
    * orders are the distribution's head; an inner join silently erases
    * them — PlanSpec pins that the outer survives planning). Written
    * Spark-first: orders PRE-aggregate to customer grain before the
    * join, so the outer join moves one row per customer instead of one
    * per order — at SF100k that's the difference between shuffling 1.5
    * billion customers and 15 billion orders through the join. The
    * oracle states the classic form (LEFT JOIN with the filter IN the
    * join condition, then count) — the two formulations must land on
    * identical histograms. o_orderpriority stands in for the reference
    * schema's o_comment anti-filter (the testdata carries no comments).
    */
  private def q325(s: SparkSession, dir: String): DataFrame = {
    val perCust = t(s, dir, "orders")
      .filter(!col("o_orderpriority").like("%URGENT%"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("__n"))
    t(s, dir, "customer").select(col("c_custkey"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("__n"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Streaming 22 (round-10): calibration-drift monitoring
    * ([[graft.streaming.Streaming.calibScoreMaintain]]) — q305's
    * before/after calibration readout as it deploys: the probe weights
    * and the Platt map are fit BATCH-side (the frozen baseline — q304's
    * exact chain), then the held-out documents arrive as a 3-file
    * stream; each micro-batch is scored STATELESSLY by the frozen
    * expression trees (raw + calibrated score), lands append-only, and
    * folds the ≤10-row mergeable fixed-width-bin statistic
    * ([[graft.ops.Eval.calibState]]) into versioned state — the live
    * reliability curve a monitor diffs against its baseline, at the
    * tightest state budget in the streaming family. Two laws gate:
    * in-query, the maintained state must fold to the SAME row count and
    * bit-exact decimal Brier as the landed corpus (the merge law,
    * asserted with require); and the final landed fold must equal the
    * batch q305 readout VERBATIM — this gate shares q305's oracle
    * string (the q312 streamed-twin discipline: scoring is per-document
    * stateless, so any batching lands on the same rows).
    */
  private def q326(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q326")
    val docs = t(s, dir, "documents")
    val w = graft.ops.Train.linearProbeWeights(
      docs.filter(col("doc_id") % 2 === 0), probeLabel, probeFeatures,
      iters = 3, rate = 1e-5)
    val scoredBatch = graft.ops.Train.linearProbeScore(
        docs.filter(col("doc_id") % 2 === 1), probeFeatures, w)
      .select(col("doc_id"), probeLabel.as("__y"), col("score"))
    val pw = graft.ops.Train.plattFit(scoredBatch, col("score"),
      col("__y"), iters = 12, rate = 2.0)
    val src = stage.resolve("src").toString
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      .repartition(3).write.mode("overwrite").parquet(src)
    val schema = s.read.parquet(src).schema
    // the frozen serving trees: linearProbeScore's exact z/σ/round
    // shape with the fitted weights as literals, then the Platt map
    val z = probeFeatures.zip(w).map { case ((_, c), (_, wj)) =>
      lit(wj) * c.cast("double")
    }.reduce(_ + _)
    val scoreCol =
      round(lit(0.5d) * (lit(1.0d) + z / (lit(1.0d) + abs(z))), 9)
    val calCol = graft.ops.Train.plattApply(scoreCol, pw)
    val land = stage.resolve("land").toString
    val statePath = stage.resolve("state").toString
    graft.streaming.Streaming.calibScoreMaintain(s, src, schema,
      col("doc_id"), probeLabel, scoreCol, calCol, bins = 10,
      land, statePath, stage.resolve("ckpt").toString)
    val landed = s.read.parquet(land).localCheckpoint() // law + 2 summaries
    // the merge law, in-query: the maintained ≤10-row state folds to
    // the same count and bit-exact decimal Brier as the landed corpus
    val last = graft.streaming.Streaming.latestVersion(s, statePath).get
    // coalesced folds: on EMPTY input both sides must land on (0, 0),
    // not a NULL sum (the empty-input law every operator obeys)
    val zeroDec = lit(0).cast("decimal(28,18)")
    val stAgg = s.read.parquet(s"$statePath/v$last")
      .agg(coalesce(sum(col("n")), lit(0L)),
        coalesce(sum(col("brier_sum")), zeroDec)).head()
    val landAgg = graft.ops.Eval.calibState(landed, col("cal_score"),
        col("__y") === 1.0d, bins = 10)
      .agg(coalesce(sum(col("n")), lit(0L)),
        coalesce(sum(col("brier_sum")), zeroDec)).head()
    require(stAgg.getLong(0) == landAgg.getLong(0) &&
      stAgg.getDecimal(1).compareTo(landAgg.getDecimal(1)) == 0,
      s"maintained calibration state diverged from the landed fold: " +
        s"$stAgg vs $landAgg")
    val raw = graft.ops.Eval.calibrationSummary(landed, col("doc_id"),
      col("score"), col("__y") === 1.0d, bins = 10)
    val cal = graft.ops.Eval.calibrationSummary(landed, col("doc_id"),
      col("cal_score"), col("__y") === 1.0d, bins = 10)
    val out = raw.select(col("n"), col("brier").as("brier_raw"),
        col("ece").as("ece_raw"))
      .crossJoin(broadcast(cal.select(col("brier").as("brier_cal"),
        col("ece").as("ece_cal"))))
      .localCheckpoint()
    materializeDropping(s, out, stage)
  }

  /** Eval 16 (round-10): the calibration-drift READOUT itself, gated —
    * [[graft.ops.Eval.calibState]]/[[graft.ops.Eval.calibStateBins]]
    * (q326's mergeable fixed-width-bin statistic) as the batch drift
    * table a monitor publishes: the even-doc_id half is the FROZEN
    * baseline window, the odd half the current window, both binned on
    * the q28 quality score against the is-English outcome (q193's
    * score/outcome pair, value-bin flavor); per bin the two
    * positive-rates, their signed drift and a ±0.05 flag. Value bins
    * (not ntile) are deliberately the monitor's flavor — a row's bin
    * depends on its score alone, so the table is exactly what the
    * streamed state folds to. Everything is two ≤bins-row aggregates
    * and one bins-grain outer join: corpus-linear, one pass per window.
    */
  private def q327(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")), 6).as("__s"),
        (col("lang") === "en").as("__p"))
      .localCheckpoint() // one quality pass feeds both window folds
    def binsOf(half: Int) = graft.ops.Eval.calibStateBins(
      graft.ops.Eval.calibState(docs.filter(col("doc_id") % 2 === half),
        col("__s"), col("__p"), bins = 10))
    val base = binsOf(0).select(col("bin"), col("n").as("n_base"),
      col("pos_rate").as("pos_rate_base"))
    val cur = binsOf(1).select(col("bin"), col("n").as("n_cur"),
      col("pos_rate").as("pos_rate_cur"))
    base.join(cur, Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"),
        col("pos_rate_base"), col("pos_rate_cur"),
        rdz(col("pos_rate_cur") - col("pos_rate_base"), 6).as("drift"),
        coalesce(abs(col("pos_rate_cur") - col("pos_rate_base")) >=
          lit(0.05d), lit(false)).as("flagged"))
      .orderBy("bin")
  }

  /** Pipeline 6 (round-10): MODEL-BASED language gate — q322's swap
    * applied to the funnel's OTHER heuristic stage: q301's Naive Bayes
    * language model (trained on the even-doc_id labeled half, the
    * nbModelCtes split verbatim) replaces the marker-word
    * [[TextAnalysis.detectLanguage]] rule as the "keep English" gate,
    * scored over the WHOLE corpus. The heuristic keep flag AND the true
    * `lang` label ride along, so one per-source rollup reads the swap's
    * non-vacuousness (n_disagree > 0, oracle-gated) and both gates'
    * report cards against ground truth. This WORD-UNIGRAM featurization
    * wins at sf0.001/sf0.01 (258 vs 195, 256 vs 225 correct —
    * Round10OpsSpec pins the sf0.001 ordering) but loses to the marker
    * rule at sf0.1 (2059 vs 2155) — on shared-vocabulary text, word
    * identity carries little per-language evidence (q303's diagnosis).
    * q338 is the capability fix: the SAME chain on character 3-grams
    * ([[graft.functions.charNgrams]]) beats the heuristic at all three
    * SFs; this gate stays as the word-featurized member of the pair
    * (the swap mechanics + the report-card readout). Together with
    * q322 this closes the model-based-curation pair: the quality stage
    * (q322) and the language stage (here) both run on the trained lane
    * instead of rules.
    *
    * Scale shape: training is one token-grain counting shuffle over the
    * labeled half (at 100 TB: a labeled sample); scoring broadcasts the
    * C·V model so the corpus never shuffles to be scored; the heuristic
    * and truth flags are map-side codegen; the readout is one
    * source-grain rollup with map-side partials.
    */
  private def q328(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
      .localCheckpoint() // read by train, score, heuristic and rollup
    val model = graft.ops.Train.naiveBayesModel(
      docs.filter(col("doc_id") % 2 === 0 && col("lang").isNotNull),
      col("lang"), col("text"))
    val scored = graft.ops.Train.naiveBayesScore(docs, col("doc_id"),
        col("text"), model)
      .select(col("doc_id"), col("pred_class"))
    docs.join(scored, Seq("doc_id"))
      .withColumn("__model_keep", col("pred_class") === "en")
      .withColumn("__heur_keep",
        TextAnalysis.detectLanguage(col("text")) === "en")
      .withColumn("__true_en", coalesce(col("lang"), lit("und")) === "en")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__model_keep"), 1L).otherwise(0L)).as("n_model_en"),
        sum(when(col("__heur_keep"), 1L).otherwise(0L)).as("n_heur_en"),
        sum(when(col("__true_en"), 1L).otherwise(0L)).as("n_true_en"),
        sum(when(col("__model_keep") =!= col("__heur_keep"), 1L)
          .otherwise(0L)).as("n_disagree"),
        sum(when(col("__model_keep") === col("__true_en"), 1L)
          .otherwise(0L)).as("n_model_correct"),
        sum(when(col("__heur_keep") === col("__true_en"), 1L)
          .otherwise(0L)).as("n_heur_correct"))
      .orderBy("source")
  }

  /** OLAP 10 (round-10): the TPC-H Q16 supplier-relationship shape —
    * "how many distinct suppliers can ship each (brand, type, size)
    * part group, excluding complaint suppliers": the NOT IN subquery
    * decorrelated to a broadcast ANTI join placed BEFORE the distinct
    * aggregate (PlanSpec pins anti + broadcast + no cartesian). The
    * part–supplier association is the distinct (l_partkey, l_suppkey)
    * pair grain of lineitem (the testdata carries no partsupp table);
    * `s_acctbal < 0` stands in for the reference schema's
    * '%Customer%Complaints%' comment filter. Spark-first: the filtered
    * part dim broadcasts into the pair grain, the complaint set (a few
    * rows) broadcasts as the anti side, and the only wide exchange is
    * the pair-distinct itself — count(DISTINCT) then reuses that grain.
    * The anti side filters NULL keys explicitly (and the oracle's NOT IN
    * subquery carries the same IS NOT NULL): SQL NOT IN against a set
    * containing NULL returns NO rows while an anti join keeps
    * non-matching rows, so pinning the key set null-free is what makes
    * anti ≡ NOT IN by construction (round-10 ADVICE).
    */
  private def q329(s: SparkSession, dir: String): DataFrame = {
    val ps = t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val p = t(s, dir, "part")
      .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "MEDIUM" &&
        col("p_size").isin(1, 4, 7, 10, 15, 23, 45, 49))
      .select(col("p_partkey"), col("p_brand"), col("p_type"),
        col("p_size"))
    val bad = t(s, dir, "supplier")
      .filter(col("s_acctbal") < 0 && col("s_suppkey").isNotNull)
      .select(col("s_suppkey"))
    ps.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** OLAP 11 (round-10): the TPC-H Q15 top-supplier shape — the revenue
    * VIEW (per-supplier decimal-exact revenue over one ship-date
    * quarter) probed by its own MAX: the correlated "= (SELECT max(...)
    * FROM view)" decorrelated to a one-row broadcast equi-join, which
    * PRESERVES ties by construction (every supplier whose decimal
    * revenue equals the max survives — the tie law q330's spec pins on
    * a hand-built two-way tie). One lineitem scan feeds both the view
    * and its max: the supplier-grain view localCheckpoints (it is tiny
    * — one row per active supplier) and both the scalar leg and the
    * probe leg read the checkpoint (PlanSpec pins 1 parquet scan + 2
    * ExistingRDD legs, the q318 device). The max-compare happens in
    * DECIMAL, so cross-partition float drift cannot split a tie.
    */
  private def q330(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0d) - col("l_discount")))
        .cast("decimal(18,6)")).as("__rev"))
      .localCheckpoint() // feeds the scalar max AND the probe join
    val mx = rev.agg(max(col("__rev")).as("__mx"))
    rev.join(broadcast(mx), col("__rev") === col("__mx"))
      .join(broadcast(t(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("__rev").cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** OLAP 12 (round-10): the TPC-H Q11 important-stock shape — per-part
    * value held by one region's suppliers, HAVING value above a scalar
    * aggregate of the SAME grouped relation (here 1.5× the mean per-part
    * value; the classic fraction-of-total flavor is `avg = total/n`
    * restated so one fixed threshold stays non-vacuous at every SF).
    * Spark-first decorrelation: the per-part value frame checkpoints
    * (one lineitem scan), the (total, n) scalar broadcasts back over it,
    * and the HAVING compare runs entirely in bounded-precision DECIMAL —
    * `2·val·n > 3·total` with val at decimal(26,2), n at decimal(8,0)
    * and the 2/3 constants pinned to decimal(1,0): the left side types
    * (26,2)×(1,0) → (28,2), ×(8,0) → (37,2) and the right (28,2) —
    * every intermediate GENUINELY under precision 38 (an un-cast int
    * literal would promote to decimal(10,0) and push the product past
    * the cap, where Spark caps-and-keeps-scale rather than rounds;
    * round-10 ADVICE pinned the literal so the stated invariant is the
    * typed one), so neither engine rounds and the threshold cannot
    * flicker on a borderline part.
    * The decimal(8,0) pin bounds the exactness contract at 10⁸ groups;
    * a deployment with more parts rebalances the val/count precisions
    * (or integerizes the threshold constant) — the compare must stay
    * under the precision-38 cap or Spark silently rounds it.
    * The region-scoped supplier set broadcasts into lineitem.
    */
  private def q331(s: SparkSession, dir: String): DataFrame = {
    val sup = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")
          .filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"))
    val pv = t(s, dir, "lineitem")
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)"))
        .cast("decimal(26,2)").as("__val"))
      .localCheckpoint() // feeds the scalar (total, n) AND the HAVING
    val st = pv.agg(sum(col("__val")).cast("decimal(26,2)").as("__t"),
      count(lit(1)).cast("decimal(8,0)").as("__np"))
    pv.crossJoin(broadcast(st))
      .filter(col("__val") * lit(2).cast("decimal(1,0)") * col("__np") >
        col("__t") * lit(3).cast("decimal(1,0)"))
      .select(col("l_partkey"), col("__val").cast("double").as("value"))
      .orderBy(col("value").desc, col("l_partkey"))
  }

  /** Streaming 23 (round-10): crawl-frontier maintenance
    * ([[graft.streaming.Streaming.frontierMaintain]]) — q306's
    * canonical-URL dedup run INCREMENTALLY: the fixture URLs arrive as
    * three mtime-ordered files (batch b holds doc_id ≡ b mod 3, the
    * q119 forced-order device); each micro-batch canonicalizes, claims
    * each canonical key once (min doc_id within the batch), anti-joins
    * the persisted claims log and appends only never-before-claimed
    * keys under its own `__batch_id` partition of the BUCKETED claims
    * table (round-11: bucketed on `canon`, so the anti-join plans with
    * no exchange on the frontier leg — Round11OpsSpec pins the plan).
    * The gate reads the final claims log: per canonical URL, the
    * claiming batch and document — the oracle replays first-batch-wins
    * over the q306 fixture CTEs, so the streamed frontier must agree
    * with the batch arithmetic exactly. State is the disk-backed
    * key-grain log itself (never rewritten, never in executor memory)
    * — the only frontier shape that survives 10¹¹ URLs.
    */
  private def q332(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q332")
    val src = stage.resolve("src").toString
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), fixtureUrl.as("url"))
      .localCheckpoint() // three filtered staging writes, one source read
    docs.filter(col("doc_id") % 3 === 0)
      .repartition(1).write.mode("append").parquet(src)
    def parts = new java.io.File(src).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSet
    val f0 = parts
    val base = new java.io.File(f0.head).lastModified
    docs.filter(col("doc_id") % 3 === 1)
      .repartition(1).write.mode("append").parquet(src)
    val f1 = parts -- f0
    f1.foreach(p => forceMtime(p, base + 120000L))
    docs.filter(col("doc_id") % 3 === 2)
      .repartition(1).write.mode("append").parquet(src)
    (parts -- f0 -- f1).foreach(p => forceMtime(p, base + 240000L))
    val schema = s.read.parquet(src).schema
    graft.streaming.Streaming.frontierMaintain(s, src, schema,
      "doc_id", "url",
      stage.resolve("state").toString, stage.resolve("ckpt").toString)
    // explicit schema on the gate read too: an all-empty corpus lands a
    // part-file-less claims dir, and inference over it would throw where
    // the law demands an empty result (the frontierMaintain contract)
    val claimsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("canon",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("__batch_id",
        org.apache.spark.sql.types.LongType)))
    val out = s.read.schema(claimsSchema)
      .parquet(stage.resolve("state").toString + "/claims")
      .select(col("canon").as("canonical_url"),
        col("doc_id").as("claimed_by"),
        col("__batch_id").cast("long").as("batch"))
      .orderBy("canonical_url")
    val res = materializeDropping(s, out, stage)
    s.sql("DROP TABLE IF EXISTS " + graft.streaming.Streaming
      .frontierClaimsTable(stage.resolve("state").toString))
    res
  }

  /** OLAP 13 (round-10): the TPC-H Q7 volume-shipping shape — revenue
    * between two trading nations by year, with the SYMMETRIC pair
    * condition `(n1, n2) ∈ {(A, B), (B, A)}` that the naive translation
    * turns into a cartesian of the two nation legs. Spark-first: both
    * nation dims broadcast into the supplier/customer sides, the fact
    * join chain is lineitem→orders equi, and the disjunction evaluates
    * as a cheap post-join filter over the two broadcast-enriched name
    * columns (PlanSpec pins broadcast + no cartesian). The ship-year is
    * the group key, so the readout is one (n1, n2, year)-grain
    * aggregate with map-side partials.
    */
  private def q333(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val n1 = t(s, dir, "nation")
      .select(col("n_nationkey").as("__nk1"), col("n_name").as("supp_nation"))
    val n2 = t(s, dir, "nation")
      .select(col("n_nationkey").as("__nk2"), col("n_name").as("cust_nation"))
    li.join(GraftConf.hintPairJoin(o), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("__nk1"))
      .join(broadcast(n2), col("c_nationkey") === col("__nk2"))
      .filter((col("supp_nation") === "NATION_3" &&
          col("cust_nation") === "NATION_8") ||
        (col("supp_nation") === "NATION_8" &&
          col("cust_nation") === "NATION_3"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(count(lit(1)).as("n"),
        dsum(col("l_extendedprice") * (lit(1.0d) - col("l_discount")), 6)
          .as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** OLAP 14 (round-10): the TPC-H Q19 disjunctive-predicate shape —
    * revenue under an OR of three (brand, size-range, quantity-range)
    * clauses spanning BOTH join sides. The plan property this pins: the
    * part-only arm of the disjunction (brand ∈ {…} AND size ≤ max)
    * pushes into the part SCAN (derived from the OR — Catalyst extracts
    * the common implied filter), the part dim broadcasts, and the mixed
    * part×lineitem clauses evaluate on the join output — never a
    * cartesian, never a full part scan feeding the join. One global
    * aggregate readout.
    */
  private def q334(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"))
    val p = t(s, dir, "part")
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    def clause(brand: String, szHi: Int, qLo: Int, qHi: Int) =
      col("p_brand") === brand &&
        col("p_size").between(1, szHi) &&
        col("l_quantity").between(qLo, qHi)
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(clause("Brand#12", 15, 1, 20) ||
        clause("Brand#23", 25, 10, 30) ||
        clause("Brand#3", 35, 20, 40))
      .agg(count(lit(1)).as("n"),
        dsum(col("l_extendedprice") * (lit(1.0d) - col("l_discount")), 6)
          .as("revenue"))
  }

  /** Sketch 8 (round-10): the fixed-bin quantile sketch
    * ([[graft.ops.Sketch.qbinState]] → [[graft.ops.Sketch
    * .qbinQuantiles]], lo = 0, w = 1000, 128 bins) — the quantile
    * member that completes the deterministic sketch family (KMV =
    * distinct, CMS = frequency, QBIN = quantiles): the price
    * distribution folds to a ≤ 128-row mergeable state in ONE
    * map-side-combinable pass, and the p25/p50/p90/p99 readout
    * interpolates inside the rank-holding bin — error ≤ one bin width
    * by construction (Round10OpsSpec pins it against the exact sorted
    * quantile), deterministic cross-engine because the bins are a
    * pinned grid, not implementation-private centroids (the
    * t-digest/KLL portability problem, the same reason KMV replaced
    * HLL).
    */
  private def q335(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sketch.qbinQuantiles(
      graft.ops.Sketch.qbinState(t(s, dir, "lineitem"),
        col("l_extendedprice"), lo = 0.0, w = 1000.0, bins = 128),
      Seq(0.25, 0.5, 0.9, 0.99), lo = 0.0, w = 1000.0)

  /** Streaming 24 (round-10): quantile-sketch maintenance
    * ([[graft.streaming.Streaming.qbinMaintain]]) — q335's state
    * maintained over a 3-file split of the corpus by per-batch bin-wise
    * sums under the versioned-overwrite protocol; because vector
    * addition commutes, ANY batching lands on the batch state EXACTLY,
    * so this gate shares q335's oracle STRING verbatim (the q243/q326
    * streamed-twin discipline). The live p25/p50/p90/p99 readout a
    * monitor publishes from ≤ 128 rows of state, at any corpus size.
    */
  private def q336(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q336")
    val src = stage.resolve("src").toString
    t(s, dir, "lineitem").select(col("l_extendedprice"))
      .repartition(3).write.mode("overwrite").parquet(src)
    val schema = s.read.parquet(src).schema
    val statePath = stage.resolve("state").toString
    graft.streaming.Streaming.qbinMaintain(s, src, schema,
      "l_extendedprice", lo = 0.0, w = 1000.0, bins = 128,
      statePath, stage.resolve("ckpt").toString)
    val last = graft.streaming.Streaming.latestVersion(s, statePath).get
    val out = graft.ops.Sketch.qbinQuantiles(
      s.read.parquet(s"$statePath/v$last"),
      Seq(0.25, 0.5, 0.9, 0.99), lo = 0.0, w = 1000.0)
    materializeDropping(s, out, stage)
  }

  /** Sketch 9 (round-10): per-GROUP quantile grid
    * ([[graft.ops.Sketch.qbinStateBy]] →
    * [[graft.ops.Sketch.qbinQuantilesBy]], lo = 0, w = 10, 64 bins) —
    * the per-source p50/p90 document-length table a profiling pass
    * publishes: the grouped state is ≤ sources·64 rows from ONE
    * map-side-combinable aggregation, and every readout stage stays at
    * state grain (the triangular cum join co-keys on the group). The
    * grouped twin of q335, as [[graft.ops.Sketch.kmvDistinctBy]] is to
    * KMV.
    */
  private def q337(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sketch.qbinQuantilesBy(
        graft.ops.Sketch.qbinStateBy(t(s, dir, "documents"),
          col("source"), col("n_chars"), lo = 0.0, w = 10.0, bins = 64),
        Seq(0.5, 0.9), lo = 0.0, w = 10.0)
      .select(col("group").as("source"), col("q"), col("est"))
      .orderBy("source", "q")

  /** Pipeline 7 (round-11): CHAR-N-GRAM language gate — q328 with the
    * featurization language ID actually uses: the SAME Naive Bayes
    * chain ([[graft.ops.Train.naiveBayesModelTokens]] /
    * [[graft.ops.Train.naiveBayesScoreTokens]] — the algebra is
    * featurization-independent) trained on character 3-grams
    * ([[graft.functions.charNgrams]]) instead of word unigrams. This
    * closes q328's honestly-recorded weakness: on the driver's
    * shared-vocabulary documents, word unigrams carry almost no
    * per-language evidence (q303's diagnosis) and the word-NB gate
    * LOSES to the 5-marker rule at sf0.1; sub-word boundary grams
    * recover the signal, and the char-3-gram gate beats the marker
    * heuristic at ALL THREE SFs (correct-vs-truth 336/195 at sf0.001,
    * 319/225 at sf0.01, 2791/2155 at sf0.1 — Round11OpsSpec pins the
    * ordering at every SF; the standard langid result, Cavnar &
    * Trenkle 1994). Same gated report card as q328: per-source keep
    * counts for both gates, ground truth, and the disagreement count
    * (non-vacuous at every SF).
    *
    * Scale shape unchanged from q328: training is one gram-grain
    * counting shuffle over the labeled half (grams/doc ≈ chars/doc —
    * constant-factor over word tokens, still corpus-linear; at 100 TB a
    * labeled sample); the C·V model broadcasts so the corpus never
    * shuffles to be scored; gram extraction is map-side codegen'd
    * built-ins; the readout is one source-grain rollup.
    */
  private def q338(s: SparkSession, dir: String): DataFrame = {
    // gram economy MEASURED AND REJECTED (round-12, directive #5):
    // materializing charNgrams(text,3) once on the checkpointed frame
    // and feeding both legs DOUBLED the query (11.2 → 24.0 s at sf0.1,
    // r12_final vs r11_final) — the gram array serializes ~6–10× the
    // text bytes into block storage and BOTH legs then pay the block
    // read + deserialization, while recomputing the codegen'd
    // expression is a cheap map over the already-checkpointed text.
    // Recompute-per-leg is the faster plan; kept.
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
      .localCheckpoint() // read by train, score, heuristic and rollup
    val model = graft.ops.Train.naiveBayesModelTokens(
      docs.filter(col("doc_id") % 2 === 0 && col("lang").isNotNull),
      col("lang"), graft.functions.charNgrams(col("text"), 3))
    val scored = graft.ops.Train.naiveBayesScoreTokens(docs, col("doc_id"),
        graft.functions.charNgrams(col("text"), 3), model)
      .select(col("doc_id"), col("pred_class"))
    docs.join(scored, Seq("doc_id"))
      .withColumn("__model_keep", col("pred_class") === "en")
      .withColumn("__heur_keep",
        TextAnalysis.detectLanguage(col("text")) === "en")
      .withColumn("__true_en", coalesce(col("lang"), lit("und")) === "en")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__model_keep"), 1L).otherwise(0L)).as("n_model_en"),
        sum(when(col("__heur_keep"), 1L).otherwise(0L)).as("n_heur_en"),
        sum(when(col("__true_en"), 1L).otherwise(0L)).as("n_true_en"),
        sum(when(col("__model_keep") =!= col("__heur_keep"), 1L)
          .otherwise(0L)).as("n_disagree"),
        sum(when(col("__model_keep") === col("__true_en"), 1L)
          .otherwise(0L)).as("n_model_correct"),
        sum(when(col("__heur_keep") === col("__true_en"), 1L)
          .otherwise(0L)).as("n_heur_correct"))
      .orderBy("source")
  }

  /** OLAP 15 (round-11): the TPC-H Q4 order-priority shape — count
    * orders placed in one quarter that have at least one problem
    * lineitem: the EXISTS subquery decorrelated to a LEFT SEMI join.
    * The plan properties this pins (PlanSpec): the quarter range pushes
    * into the ORDERS scan, the lineitem-local predicate pushes into the
    * LINEITEM scan, and the correlation runs as one semi equi-join —
    * never an aggregate-then-inner (which would double-count multi-hit
    * orders) and never a correlated re-scan per order. `l_returnflag =
    * 'R'` stands in for the reference schema's `l_commitdate <
    * l_receiptdate` (the testdata carries no commit/receipt dates) —
    * the same role: a lineitem-LOCAL problem predicate, so it pushes to
    * the fact scan instead of riding the join.
    */
  private def q339(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderpriority"))
    val li = t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"))
    o.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** OLAP 16 (round-11): the TPC-H Q8 market-share shape — one nation's
    * share of the PROMO-part volume sold into one region's customers,
    * by order year: the two-level aggregate with a CONDITIONAL
    * NUMERATOR (`sum(case when supp_nation = X then vol end) /
    * sum(vol)`), both legs folding in ONE pass over the joined fact —
    * never two scans, never a self-join of the yearly rollup.
    * Numerator and denominator each accumulate through the exact
    * decimal-sum (dsum), surface as bit-identical doubles, and the
    * share is one IEEE divide rounded at the readout — both engines
    * replay it bit-for-bit (the q333 discipline, quotient flavor).
    *
    * Scale shape: part/customer/supplier/nation/region all broadcast
    * (part filtered to one type first), the only wide exchange is
    * lineitem→orders, and the readout is a ≤|years|-row aggregate with
    * map-side partials.
    */
  private def q340(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val p = t(s, dir, "part").filter(col("p_type") === "PROMO")
      .select(col("p_partkey"))
    val cust = t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")
          .filter(col("r_name") === "AMERICA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val supp = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("__snk"),
            col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("__snk"))
      .select(col("s_suppkey"), col("supp_nation"))
    val vol = col("l_extendedprice") * (lit(1.0d) - col("l_discount"))
    li.join(GraftConf.hintPairJoin(o), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(dsum(when(col("supp_nation") === "NATION_3", vol)
          .otherwise(lit(0.0d)), 6).as("nation_volume"),
        dsum(vol, 6).as("total_volume"))
      .select(col("o_year"),
        round(col("nation_volume") / col("total_volume"), 9)
          .as("mkt_share"),
        col("nation_volume"), col("total_volume"))
      .orderBy("o_year")
  }

  /** OLAP 17 (round-11): the TPC-H Q9 product-profit shape — profit by
    * supplier nation and order year over one part family, the widest
    * join graph in the suite (lineitem × orders × part × supplier ×
    * nation). The plan properties this pins (PlanSpec): the `p_name
    * LIKE '%red%'` filter pushes into the PART scan (StringContains —
    * the scan never feeds unfiltered parts to the join), part/supplier/
    * nation broadcast, and the only wide exchange is lineitem→orders.
    * `p_retailprice · 0.6` stands in for `ps_supplycost` (the testdata
    * carries no partsupp table — a fixed landed-cost fraction of the
    * retail price, same arithmetic role: a per-part unit cost scaled by
    * quantity). The profit sum accumulates through the exact decimal
    * sum; a group summing exactly to zero lands +0.0 in both engines
    * (decimal zero carries no sign).
    */
  private def q341(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
    val p = t(s, dir, "part").filter(col("p_name").contains("red"))
      .select(col("p_partkey"), col("p_retailprice"))
    val supp = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("__snk"),
            col("n_name").as("nation"))),
        col("s_nationkey") === col("__snk"))
      .select(col("s_suppkey"), col("nation"))
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"))
    val amount = col("l_extendedprice") * (lit(1.0d) - col("l_discount")) -
      col("p_retailprice") * lit(0.6d) * col("l_quantity")
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(GraftConf.hintPairJoin(o), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(count(lit(1)).as("n"), dsum(amount, 6).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** Streaming 25 (round-11): GROUPED quantile-sketch maintenance
    * ([[graft.streaming.Streaming.qbinMaintainBy]]) — q337's per-source
    * grid maintained over a 3-file split of the corpus by per-group
    * bin-wise sums under the versioned-overwrite protocol (closing the
    * round-10 gap: q336 maintained only the GLOBAL grid). Because
    * per-group vector addition commutes, ANY batching lands on the
    * batch state EXACTLY, so this gate shares q337's oracle STRING
    * verbatim (the q336/q243 streamed-twin discipline, grouped flavor).
    * The live per-source p50/p90 table a monitor publishes from
    * ≤ sources·64 rows of state, at any corpus size.
    */
  private def q342(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q342")
    val src = stage.resolve("src").toString
    t(s, dir, "documents").select(col("source"), col("n_chars"))
      .repartition(3).write.mode("overwrite").parquet(src)
    val schema = s.read.parquet(src).schema
    val statePath = stage.resolve("state").toString
    graft.streaming.Streaming.qbinMaintainBy(s, src, schema,
      "source", "n_chars", lo = 0.0, w = 10.0, bins = 64,
      statePath, stage.resolve("ckpt").toString)
    val last = graft.streaming.Streaming.latestVersion(s, statePath).get
    val out = graft.ops.Sketch.qbinQuantilesBy(
        s.read.parquet(s"$statePath/v$last"),
        Seq(0.5, 0.9), lo = 0.0, w = 10.0)
      .select(col("group").as("source"), col("q"), col("est"))
      .orderBy("source", "q")
    materializeDropping(s, out, stage)
  }

  /** Governance 3 (round-11): KEY-TARGETED DELETION on the manifest
    * lake ([[graft.ops.Privacy.eraseKeys]]) — the GDPR-erasure pass:
    * documents land as a key-clustered graft-manifest table (range-
    * partitioned on the zero-padded doc_id, so each data file holds a
    * contiguous id range), per-file key stats publish at landing time
    * (the steady-state sidecar discipline), then one user's documents
    * (ids 100–149) are erased. The stats prune the rewrite to the
    * file(s) whose range can contain the keys — `nUntouched > 0` and
    * `nCandidates < nFiles` are required IN-QUERY, so the gate fails if
    * pruning ever goes vacuous — and the pre-delete version, captured
    * before the erase, must still read the FULL table (q233's
    * time-travel device: old data files are superseded, not deleted).
    * The gate reads the post-delete table at the published generation
    * and rolls it up per (source, lang); the oracle is the anti-join
    * restated as `doc_id NOT BETWEEN` over the raw documents.
    */
  private def q343(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_q343")
    val table = s"$base/t"
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        coalesce(col("lang"), lit("und")).as("lang"))
      .localCheckpoint() // one landing write + the count cross-check
    docs.repartitionByRange(4, col("doc_id"))
      .select(concat_ws("|", lpad(col("doc_id").cast("string"), 10, "0"),
        col("source"), col("lang")).as("value"))
      .write.format("graft-manifest").option("path", table)
      .mode("append").save()
    val v1 = graft.sources.Manifest.manifestNames(table)
    val keyOf: Column => Column = v => substring(v, 1, 10)
    graft.ops.Privacy.publishKeyStats(s, table, keyOf)
    val keys = (100L to 149L).map(i => f"$i%010d")
    val rep = graft.ops.Privacy.eraseKeys(s, table, keyOf, keys,
      "gen-erase-1", Some(v1.toSet))
    // non-vacuity only binds when there IS a table: an all-empty corpus
    // lands zero data files and the erase is a lawful no-op (the
    // empty-input law)
    require(rep.nFiles == 0 ||
      (rep.nUntouched > 0 && rep.nCandidates < rep.nFiles),
      s"stats pruning vacuous: $rep")
    val pre = s.read.format("graft-manifest").option("path", table)
      .option("snapshot", v1.mkString(",")).load().count()
    val expected = docs.count()
    require(pre == expected,
      s"pre-delete snapshot read $pre of $expected rows — erasure " +
        "mutated a captured version")
    val post = s.read.format("graft-manifest").option("path", table)
      .option("snapshot", rep.manifest).load()
      .select(split(col("value"), "\\|").as("p"))
      .select(col("p").getItem(0).cast("long").as("doc_id"),
        col("p").getItem(1).as("source"), col("p").getItem(2).as("lang"))
    val out = post.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy("source", "lang")
    materializeDropping(s, out, base)
  }

  /** Governance 4 (round-11): erasure COMPLETED — [[q343]]'s logical
    * erase followed by the physical purge
    * ([[graft.ops.Privacy.expireSnapshots]]): land, stats, erase one
    * user's documents (ids 200–299), then EXPIRE every pre-delete
    * snapshot keeping only the erased generation. In-query proofs, in
    * escalating strength: expiry deleted exactly the superseded
    * candidate files (file-count equality with the erase report); the
    * expired snapshot now REFUSES to read (unknown-name contract —
    * never a silent partial read); and the GDPR statement itself — a
    * DIRECT read of every byte remaining under `data/` (bypassing
    * manifests entirely) contains ZERO erased keys. The gate's output
    * reads the kept generation; the oracle is the anti-join restated
    * as NOT BETWEEN. Together q343 (supersede, snapshots live) and
    * this (purge, bytes gone) are the two halves of key-targeted
    * deletion on the lake.
    */
  private def q344(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_q344")
    val table = s"$base/t"
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        coalesce(col("lang"), lit("und")).as("lang"))
    docs.repartitionByRange(4, col("doc_id"))
      .select(concat_ws("|", lpad(col("doc_id").cast("string"), 10, "0"),
        col("source"), col("lang")).as("value"))
      .write.format("graft-manifest").option("path", table)
      .mode("append").save()
    val v1 = graft.sources.Manifest.manifestNames(table)
    val keyOf: Column => Column = v => substring(v, 1, 10)
    graft.ops.Privacy.publishKeyStats(s, table, keyOf)
    val keys = (200L to 299L).map(i => f"$i%010d")
    val rep = graft.ops.Privacy.eraseKeys(s, table, keyOf, keys,
      "gen-erase-1", Some(v1.toSet))
    require(rep.nFiles == 0 ||
      (rep.nUntouched > 0 && rep.nCandidates < rep.nFiles),
      s"stats pruning vacuous: $rep")
    val exp = graft.ops.Privacy.expireSnapshots(table, Set("gen-erase-1"))
    require(exp.deletedFiles.size == rep.nCandidates,
      s"expiry did not purge exactly the superseded files: $exp vs $rep")
    require(exp.sparedYoung.isEmpty,
      s"no orphans were staged, none should be spared: $exp")
    val expiredStillReads =
      try {
        s.read.format("graft-manifest").option("path", table)
          .option("snapshot", v1.mkString(",")).load().count(); true
      } catch { case _: Exception => false }
    require(!expiredStillReads,
      "expired snapshot still readable — expiry must fail loudly, " +
        "never serve a partial table")
    // the GDPR proof: every byte still under data/ is free of the keys
    val f = graft.sources.Manifest.fs(table)
    val dataDir = new org.apache.hadoop.fs.Path(table, "data")
    val remaining =
      if (f.exists(dataDir))
        f.listStatus(dataDir).toSeq.filter(_.isFile).map(_.getPath.toString)
      else Nil
    if (remaining.nonEmpty) {
      val leaked = s.read.text(remaining: _*)
        .filter(keyOf(col("value")).isin(keys: _*)).count()
      require(leaked == 0L, s"$leaked erased rows still on disk")
    }
    // ...and so must the stats SIDECAR: a deleted file's recorded
    // min/max can BE an erased key (round-12, ADVICE) — expiry rewrites
    // stats/ dropping purged files' entries, and this scan would catch
    // a regression
    // parse each line (file \t lo \t hi \t n, URL-encoded fields) and
    // compare the DECODED lo/hi exactly — substring matching over the
    // encoded line can false-positive when a key happens to be a
    // substring of a surviving file's min/max or name (round-13, ADVICE)
    val keySet = keys.toSet
    val statLeaks = graft.sources.Manifest.sidecarLines(table, "stats")
      .map(_.split("\t", -1))
      .count(p => p.length == 4 && p(3).toLong > 0 &&
        (keySet.contains(java.net.URLDecoder.decode(p(1), "UTF-8")) ||
          keySet.contains(java.net.URLDecoder.decode(p(2), "UTF-8"))))
    require(statLeaks == 0,
      s"$statLeaks erased keys persist in the stats sidecar")
    val post = s.read.format("graft-manifest").option("path", table)
      .option("snapshot", rep.manifest).load()
      .select(split(col("value"), "\\|").as("p"))
      .select(col("p").getItem(0).cast("long").as("doc_id"),
        col("p").getItem(1).as("source"), col("p").getItem(2).as("lang"))
    val out = post.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy("source", "lang")
    materializeDropping(s, out, base)
  }

  /** OLAP 18 (round-12): the TPC-H Q3 shipping-priority shape — top-10
    * unshipped orders of one market segment by accumulated revenue: the
    * classic date-straddling join (orders placed BEFORE the cutoff,
    * lineitems shipping AFTER it) with a per-order rollup and a global
    * top-k. Plan properties (PlanSpec): both date predicates push to
    * their own scans, the segment-filtered customer broadcasts, the one
    * wide exchange is lineitem→orders, and the top-10 runs as
    * TakeOrderedAndProject — never a full sort of the rollup. Revenue
    * accumulates through the exact decimal sum so the top-k boundary is
    * deterministic; ties break on (o_orderdate, l_orderkey).
    * `o_orderpriority` rides as the Q3 o_shippriority stand-in (the
    * testdata carries no shippriority — same role: a small order
    * attribute carried through the rollup).
    */
  private def q345(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1996-03-15").cast("timestamp")
    val c = t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val o = t(s, dir, "orders").filter(col("o_orderdate") < cutoff)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val li = t(s, dir, "lineitem").filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(GraftConf.hintPairJoin(o), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0d) - col("l_discount")), 6)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate").asc,
        col("l_orderkey").asc)
      .limit(10)
  }

  /** OLAP 19 (round-12): the TPC-H Q6 forecast-revenue shape — the
    * single-table predicate aggregate: one scan of lineitem with a
    * date-range + discount-band + quantity filter, everything pushed to
    * the scan, folded to ONE row with map-side partials. The simplest
    * query in the suite and the purest pushdown test: the plan is scan →
    * partial agg → final agg, no exchange wider than one row per
    * partition.
    */
  private def q346(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(dsum(col("l_extendedprice") * col("l_discount"), 6).as("revenue"),
        count(lit(1)).as("n_items"))

  /** OLAP 20 (round-12): the TPC-H Q10 returned-item shape — top-20
    * customers by revenue lost to returns in one quarter. Written
    * scale-first: the per-customer rollup and the top-20 run BEFORE the
    * customer dimension joins (revenue is keyed by o_custkey alone, and
    * the dim join is 1:1, so top-k commutes with it) — at 100 TB that
    * means the customer table streams against a broadcast of 20 rows
    * instead of shuffling into the fact. Ties break on c_custkey; the
    * returnflag filter pushes to the lineitem scan, the quarter to the
    * orders scan.
    */
  private def q347(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-10-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val rev = li
      .join(GraftConf.hintPairJoin(o), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0d) - col("l_discount")), 6)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_custkey").asc)
      .limit(20)
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(rev), col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
  }

  /** OLAP 21 (round-12): the TPC-H Q12 shipmode-priority shape — per
    * ship mode, how many lineitems belong to critical-priority orders
    * vs not: the fact-side IN filter pushed to the lineitem scan, one
    * equi-join to orders, and BOTH priority classes folded as
    * conditional counts in ONE aggregation pass (never two scans or a
    * pivot). Stand-ins (the q339 discipline — the testdata carries no
    * shipmode/commitdate/receiptdate): `l_returnflag ∈ {A,R}` plays
    * l_shipmode IN ('MAIL','SHIP'), `l_linestatus = 'F'` plays the
    * late-delivery predicate (both lineitem-LOCAL, so they push to the
    * fact scan exactly like the originals), and the receipt-year range
    * rides l_shipdate.
    */
  private def q348(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .filter(col("l_returnflag").isin("A", "R") &&
        col("l_linestatus") === "F" &&
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_returnflag").as("shipmode"))
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val critical = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li.join(GraftConf.hintPairJoin(o), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("shipmode"))
      .agg(sum(when(critical, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!critical, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy("shipmode")
  }

  /** OLAP 22 (round-12): the TPC-H Q14 promo-revenue shape — the share
    * of one month's revenue from promotional parts: the conditional
    * numerator and the denominator fold in ONE pass over the joined
    * fact (the q340 discipline, single-group flavor), part broadcasts,
    * the month range pushes to the lineitem scan. Both legs accumulate
    * through the exact decimal sum; the percentage is one IEEE
    * multiply + divide rounded at the readout, replayed bit-for-bit by
    * both engines. Completes the explicitly-gated TPC-H sweep: all 22
    * query shapes now have named oracle-gated queries.
    */
  private def q349(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
    val p = t(s, dir, "part").select(col("p_partkey"), col("p_type"))
    val vol = col("l_extendedprice") * (lit(1.0d) - col("l_discount"))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(dsum(when(col("p_type") === "PROMO", vol).otherwise(lit(0.0d)), 6)
          .as("promo_revenue"),
        dsum(vol, 6).as("total_revenue"))
      .select(round(lit(100.0d) * col("promo_revenue") / col("total_revenue"),
          9).as("promo_pct"),
        col("promo_revenue"), col("total_revenue"))
  }

  /** Lake 1 (round-12): PREDICATE-DRIVEN FILE SKIPPING on the columnar
    * manifest-lake ([[graft.sources.Lake]]) — the read contract a
    * 100 TB table needs: documents land as Parquet files key-clustered
    * on doc_id (range partitioning, so each file holds a contiguous id
    * range), per-COLUMN min/max/null stats record at commit, and a
    * selective id-range predicate prunes files at PLANNING time from
    * the stats sidecar alone. The gate is differential IN-QUERY: the
    * pruned plan must select strictly fewer files than the table holds
    * (skipped non-empty — fails if pruning ever goes vacuous) AND the
    * pruned read must row-for-row equal the unpruned read + filter
    * (inclusive pruning can never change results, only bytes). Within
    * each selected file Parquet's own row-group stats prune again —
    * two-level pruning, which is why scan bytes scale with the SELECTED
    * fraction, not the table (scale probe pins the 10× ratio).
    */
  private def q350(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_q350")
    val table = s"$base/t"
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val rep = graft.sources.Lake.land(s, table,
      docs.repartitionByRange(8, col("doc_id")), "gen-1")
    val pred = col("doc_id") >= 100L && col("doc_id") < 200L
    val (sel, skipped) = graft.sources.Lake.planFiles(table, None, Some(pred))
    // non-vacuity binds only when there IS data: an all-empty corpus
    // lands zero rows and pruning everything is the lawful outcome
    // (the empty-input law)
    require(rep.rows == 0L || (skipped.nonEmpty && sel.nonEmpty),
      s"stats pruning vacuous: selected=${sel.size} skipped=${skipped.size}")
    val pruned = graft.sources.Lake.read(s, table, None, Some(pred))
    val full = graft.sources.Lake.read(s, table).filter(pred)
    val a = pruned.orderBy("doc_id").collect().toSeq
    val b = full.orderBy("doc_id").collect().toSeq
    require(a == b,
      s"pruned read diverged from full+filter: ${a.size} vs ${b.size} rows")
    val out = pruned.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("source")
    materializeDropping(s, out, base)
  }

  /** Lake 2 (round-12): KEY-TARGETED DELETION on the columnar lane —
    * [[q343]]'s GDPR erasure re-gated on Parquet with candidacy decided
    * from the PER-COLUMN stats (no text key extraction): the typed
    * doc_id min/max recorded at landing prune the rewrite to the files
    * whose range can contain the keys (`nUntouched > 0` and
    * `nCandidates < nFiles` required in-query), the pre-delete
    * generation still reads the full table (Parquet time travel), and
    * HEAD swaps to the post-delete generation so unpinned readers and
    * the retention pass see only it.
    */
  private def q351(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_q351")
    val table = s"$base/t"
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        coalesce(col("lang"), lit("und")).as("lang"))
      .localCheckpoint() // one landing write + the count cross-check
    graft.sources.Lake.land(s, table,
      docs.repartitionByRange(4, col("doc_id")), "gen-1")
    val rep = graft.sources.Lake.eraseKeys(s, table, "doc_id",
      (100L to 149L), "gen-erase-1")
    require(rep.nFiles == 0 ||
      (rep.nUntouched > 0 && rep.nCandidates < rep.nFiles),
      s"stats pruning vacuous: $rep")
    val pre = graft.sources.Lake.read(s, table, Some("gen-1")).count()
    val expected = docs.count()
    require(pre == expected,
      s"pre-delete snapshot read $pre of $expected rows — erasure " +
        "mutated a captured version")
    val out = graft.sources.Lake.read(s, table) // HEAD = gen-erase-1
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy("source", "lang")
    materializeDropping(s, out, base)
  }

  /** Lake 3 (round-12): SCHEMA EVOLUTION over manifest generations —
    * the table-format half of the reference's conditional-rename
    * semantics (P2/P3 exist at the DataFrame layer; this is the layer
    * below): land (doc_id, source) for the even half, ADD a `lang`
    * column (old files read NULL — not a byte rewritten), land the odd
    * half WITH lang, RENAME source→origin (field IDS are the identity,
    * so files written under the old name keep reading), then erase ids
    * 100–149 on the EVOLVED table. In-query proofs: the pre-evolution
    * snapshot keeps its original two-column schema (time travel must
    * not see the new column), the rename publishes the SAME file list
    * (zero rewrite), and the erasure's anti-join spans both
    * write-schemas. The readout rolls up per renamed column with the
    * added column's null accounting — old files' rows surface lang =
    * NULL exactly like rows whose landed lang was NULL.
    */
  private def q352(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Lake
    val base = java.nio.file.Files.createTempDirectory("graft_q352")
    val table = s"$base/t"
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"))
    Lake.land(s, table, docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("source"))
      .repartitionByRange(4, col("doc_id")), "gen-1")
    Lake.addColumn(table, "lang",
      org.apache.spark.sql.types.StringType, "gen-2")
    Lake.land(s, table, docs.filter(col("doc_id") % 2 === 1)
      .repartitionByRange(4, col("doc_id")), "gen-3")
    Lake.renameColumn(table, "source", "origin", "gen-4")
    // time travel: the pre-evolution snapshot keeps its schema
    val g1 = Lake.read(s, table, Some("gen-1"))
    require(g1.columns.toSeq == Seq("doc_id", "source"),
      s"gen-1 schema leaked evolution: ${g1.columns.mkString(",")}")
    // rename rewrote nothing: gen-4 binds the exact gen-3 file list
    val f3 = graft.sources.Manifest.committedFiles(table, Some(Set("gen-3")))
    val f4 = graft.sources.Manifest.committedFiles(table, Some(Set("gen-4")))
    require(f3 == f4, "rename rewrote data files")
    // erasure over the evolved, mixed-schema table
    val rep = Lake.eraseKeys(s, table, "doc_id", (100L to 149L), "gen-5")
    require(rep.nFiles == 0 ||
      (rep.nUntouched > 0 && rep.nCandidates < rep.nFiles),
      s"stats pruning vacuous: $rep")
    val out = Lake.read(s, table) // HEAD = gen-5: (doc_id, origin, lang)
      .groupBy(col("origin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lang").isNull, 1L).otherwise(0L)).as("n_lang_missing"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("origin")
    materializeDropping(s, out, base)
  }

  /** Lake 4 (round-12): COMPACTION — the small-files half of lake
    * maintenance, closing the lifecycle loop (land → erase → compact →
    * expire): the erasure's rewritten files (and a fine-grained
    * landing's) sit below the efficient scan grain;
    * [[graft.sources.Lake.compact]] rewrites them into `targetFiles`
    * fresh files RE-RANGE-PARTITIONED ON THE CLUSTER KEY — compaction
    * must not undo file skipping, and the in-query proof is exactly
    * that: the id-range predicate still SKIPS files after compaction
    * (fails if compaction coarsens stats to vacuity), the file count
    * strictly drops, content is invariant (the rollup hash-equals the
    * same NOT BETWEEN oracle as the erase), and the final expiry
    * purges every superseded file plus its stats entries.
    */
  private def q353(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Lake
    val base = java.nio.file.Files.createTempDirectory("graft_q353")
    val table = s"$base/t"
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        coalesce(col("lang"), lit("und")).as("lang"))
    val land = Lake.land(s, table,
      docs.repartitionByRange(12, col("doc_id")), "gen-1")
    Lake.eraseKeys(s, table, "doc_id", (100L to 149L), "gen-2")
    val rep = Lake.compact(s, table, smallerThanBytes = 1L << 26,
      gen = "gen-3", clusterBy = Seq("doc_id"), targetFiles = 4)
    require(land.rows == 0L ||
      (rep.nCompacted >= 2 &&
        rep.nUntouched + rep.newFiles.size < rep.nFilesBefore),
      s"compaction vacuous: $rep")
    // clustering preserved: the id-range predicate still skips files
    val (sel, skipped) = Lake.planFiles(table, None,
      Some(col("doc_id") >= 200L && col("doc_id") < 300L))
    require(land.rows == 0L || (skipped.nonEmpty && sel.nonEmpty),
      s"compaction destroyed file skipping: selected=${sel.size} " +
        s"skipped=${skipped.size}")
    val exp = graft.ops.Privacy.expireSnapshots(table) // keep = HEAD
    require(exp.deletedFiles.nonEmpty || land.rows == 0L,
      s"expiry purged nothing after erase+compact: $exp")
    val out = Lake.read(s, table)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy("source", "lang")
    materializeDropping(s, out, base)
  }

  /** Lake 5 (round-12): INCREMENTAL READ — the cron-batch consumption
    * shape at the lake layer (O2's AvailableNow protocol restated over
    * snapshots): a consumer that processed generation N reads ONLY the
    * files generation N+1 added ([[graft.sources.Lake.readAdded]] —
    * a manifest set-difference, no data scanned to decide), instead of
    * rescanning the table. In-query proofs: the increment plus the
    * first generation partitions the full table exactly (counts add
    * up), and the increment contains no gen-1 rows. The readout rolls
    * up the INCREMENT alone; the oracle restates it as the odd half.
    */
  private def q354(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Lake
    val base = java.nio.file.Files.createTempDirectory("graft_q354")
    val table = s"$base/t"
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        coalesce(col("lang"), lit("und")).as("lang"))
      .localCheckpoint() // two landing writes + the count cross-check
    Lake.land(s, table, docs.filter(col("doc_id") % 2 === 0)
      .repartitionByRange(4, col("doc_id")), "gen-1")
    Lake.land(s, table, docs.filter(col("doc_id") % 2 === 1)
      .repartitionByRange(4, col("doc_id")), "gen-2")
    val inc = Lake.readAdded(s, table, "gen-1", "gen-2")
    val g1 = Lake.read(s, table, Some("gen-1")).count()
    require(g1 + inc.count() == docs.count(),
      "increment + first generation does not partition the table")
    require(inc.filter(col("doc_id") % 2 === 0).count() == 0L,
      "increment leaked first-generation rows")
    val out = inc.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy("source", "lang")
    materializeDropping(s, out, base)
  }

  /** Lake 6 (round-12): Z-ORDER CLUSTERING × FILE SKIPPING — the
    * multi-dimensional pruning story, composing two existing
    * components: [[graft.ops.Layout.zOrderBy]] lays the events table
    * out along the (user_id, event_id) Morton curve, the lake records
    * per-column stats per file, and BOTH single-column predicates then
    * prune files (required in-query, each dimension separately) — the
    * property a single-key range clustering cannot give (sort by
    * user_id and an event_id predicate reads every file). The readout
    * rolls up the user-range slice; the oracle restates it over raw
    * events. Scale shape: one range-partitioning shuffle on the
    * z-value at landing (repartitionByRange cost profile), planning is
    * the driver-side stats walk, and the scan reads only z-cells
    * intersecting the predicate box.
    */
  private def q355(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Lake
    val base = java.nio.file.Files.createTempDirectory("graft_q355")
    val table = s"$base/t"
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    // balance the curve's dimensions: event_id's domain is ~64× the
    // user domain at every SF (events/user is constant in the
    // generator), so raw interleaving would let event bits dominate
    // the high lanes and every file would span ALL users (user-range
    // pruning vacuous — found the hard way). Scaling event_id down by
    // 64 puts both dimensions at comparable bit-widths; the per-file
    // stats still record RAW event_id, and z-locality in event_id/64
    // is z-locality in event_id.
    val land = Lake.land(s, table,
      graft.ops.Layout.zOrderBy(ev,
        Seq(col("user_id"), floor(col("event_id") / 64).cast("long")),
        16, bits = 16), "gen-1")
    val byUser = col("user_id") >= 3L && col("user_id") <= 5L
    val byEvent = col("event_id") >= 100L && col("event_id") <= 299L
    Seq("user_id" -> byUser, "event_id" -> byEvent).foreach {
      case (dim, p) =>
        val (sel, skipped) = Lake.planFiles(table, None, Some(p))
        require(land.rows == 0L || (skipped.nonEmpty && sel.nonEmpty),
          s"z-order pruning vacuous on $dim: selected=${sel.size} " +
            s"skipped=${skipped.size}")
    }
    val out = Lake.read(s, table, None, Some(byUser))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value"), 6).as("sum_value"))
      .orderBy("event_type")
    materializeDropping(s, out, base)
  }

  /** Lake 7 (round-13): CONCURRENT COMMITS — two landings race on one
    * table with NO coordination (not even a first sequential land: the
    * schema publish itself is create-exclusive and the loser validates
    * against the winner's schema), and the versioned-HEAD
    * compare-and-swap ([[graft.sources.Manifest.tryCasHead]]) makes
    * BOTH visible: the loser re-reads the new head, re-unions its file
    * list, and re-publishes under a retry name. Before round-13 the
    * mutable-HEAD swap was last-writer-wins and one generation silently
    * vanished from the current version — the exact lost-update the
    * round-12 verdict flagged. In-query proofs: both landings report
    * success, and the final head's file set contains every file both
    * landings moved. The readout rolls up the WHOLE table — the oracle
    * (the full documents rollup) hash-fails if either half vanished.
    * Scale shape: per landing one staged write + a driver-side
    * manifest/pointer commit; contention costs the loser one re-union
    * and re-publish (metadata-only — data files are never rewritten on
    * a pointer race).
    */
  private def q356(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{Lake, Manifest}
    val base = java.nio.file.Files.createTempDirectory("graft_q356")
    val table = s"$base/t"
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        coalesce(col("lang"), lit("und")).as("lang"))
      .localCheckpoint() // two landing writes race on one lineage
    val halves = Seq(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1))
    val reports =
      new Array[Either[Throwable, Lake.LandReport]](halves.size)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = halves.zipWithIndex.map { case (half, i) =>
      new Thread(() => {
        gate.await()
        reports(i) =
          try Right(Lake.land(s, table,
            half.repartitionByRange(4, col("doc_id")), s"gen-$i"))
          catch { case t: Throwable => Left(t) }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    val errs = reports.collect { case Left(t) => t }
    require(errs.isEmpty,
      s"racing landing threw: ${errs.map(_.getMessage).mkString("; ")}")
    val landed = reports.collect { case Right(r) => r }
    val headFiles = Manifest
      .committedFiles(table, Manifest.headOf(table)).toSet
    landed.foreach(r => require(r.newFiles.forall(headFiles.contains),
      s"final head lost generation ${r.gen}'s files — the CAS rebase " +
        "failed to union a racing landing"))
    val out = Lake.read(s, table)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy("source", "lang")
    materializeDropping(s, out, base)
  }

  /** Lake 8 (round-13): STREAMING LANDING into the columnar lake — the
    * lake twin of the text lane's epoch protocol
    * ([[graft.sources.ManifestSink]]), closing the "a 100 TB corpus is
    * fed by streams" gap: events stream in through ≥2 AvailableNow
    * micro-batches, each epoch landing Parquet files + colstats under
    * one generation ([[graft.sources.Lake.landEpoch]] — the epoch name
    * is the redelivery key), and the q120 three-proof protocol is run
    * on the lake lane: (1) a FORCED REPLAY of epoch 0 with its exact
    * batch republishes idempotently (order-free checksum unchanged);
    * (2) the streamed table checksum-equals the batch [[graft.sources
    * .Lake.land]] of the same staged data (stream and batch lanes land
    * on identical contents); (3) the per-epoch file stats still drive
    * file skipping on the result (pruning non-vacuous, required
    * in-query). The readout rolls up an id-range slice through the
    * stats-pruned read; the oracle restates it over raw events.
    * Scale shape: per epoch one staged write + a metadata commit; the
    * source is staged range-partitioned on event_id so epochs land
    * range-tight files (the streaming analogue of the landing-time
    * clustering discipline).
    */
  private def q357(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Lake
    val base = java.nio.file.Files.createTempDirectory("graft_q357")
    val table = s"$base/t"
    val twin = s"$base/twin"
    val src = s"$base/src"
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    // stage range-partitioned: each staged file (= one micro-batch at
    // maxFilesPerTrigger=1) covers a tight event_id range
    ev.repartitionByRange(3, col("event_id")).write.parquet(src)
    val staged = s.read.parquet(src)
    val captured =
      scala.collection.mutable.Map.empty[Long, Seq[org.apache.spark.sql.Row]]
    graft.streaming.Streaming.withStaticMicrobatchPlans(s) {
      graft.streaming.Streaming.drainFiles(s, src, staged.schema,
          s"$base/ckpt", maxFilesPerTrigger = 1) { (batch, id) =>
        val rows = batch.collect().toSeq
        captured.synchronized { captured(id) = rows }
        Lake.landEpoch(batch.sparkSession, table, batch, "ev", id)
      }
    }
    // order-free content checksum (count + row hashes summed in
    // decimal — a long accumulator overflows under ANSI)
    def checksum(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)).cast("long"),
        coalesce(sum(xxhash64(col("event_id"), col("user_id"),
            col("event_type"), col("value")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    val afterStream = checksum(Lake.read(s, table))
    // non-vacuity (guarded by data presence, the empty-input law every
    // operator obeys: a zero-row source stages ≤1 empty file = ≤1 epoch)
    val gens = graft.sources.Manifest.manifestNames(table)
    require(afterStream._1 == 0L ||
        gens.count(_.startsWith("ev-epoch-")) >= 2,
      s"stream landed fewer than 2 epochs: ${gens.mkString(",")}")
    // proof 1 — forced replay: epoch 0 redelivered with its exact batch
    val replay = captured.getOrElse(0L, Seq.empty)
    Lake.landEpoch(s, table, s.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(replay: _*)),
      staged.schema), "ev", 0L)
    val afterReplay = checksum(Lake.read(s, table))
    require(afterReplay == afterStream,
      s"replay changed table contents: $afterStream -> $afterReplay")
    // proof 2 — the batch twin of the same staged data lands on
    // identical contents
    graft.sources.Lake.land(s, twin, staged, "gen-1")
    require(checksum(Lake.read(s, twin)) == afterStream,
      "streamed table diverged from the batch landing of the same data")
    // proof 3 — per-epoch stats still drive file skipping
    val pred = col("event_id") >= 100L && col("event_id") < 300L
    val (sel, skipped) = Lake.planFiles(table, None, Some(pred))
    require(afterStream._1 == 0L || (skipped.nonEmpty && sel.nonEmpty),
      s"epoch stats pruning vacuous: sel=${sel.size} " +
        s"skipped=${skipped.size}")
    val out = Lake.read(s, table, None, Some(pred))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value"), 6).as("sum_value"))
      .orderBy("event_type")
    materializeDropping(s, out, base)
  }

  /** The q322 planted-label fixture (the q319 planted-variant device,
    * classifier flavor): every fifth document gets a spam-marker tail
    * and the label 'low'; the rest are 'high'. The markers give the
    * corpus the lexical signal the driver's shared-vocabulary documents
    * lack (q303's diagnosis), so a supervised filter has ground truth to
    * recover — and the SAME rule replays in the oracle's CTEs.
    */
  private val q322PlantTail =
    " click here buy now free offer limited deal click here buy now"
  private def q322Text: Column = concat(col("text"),
    when(col("doc_id") % 5 === 0, lit(q322PlantTail)).otherwise(lit("")))
  private def q322Label: Column =
    when(col("doc_id") % 5 === 0, lit("low")).otherwise(lit("high"))

  /** Pipeline 5 (round-10 capstone): MODEL-BASED curation funnel — the
    * CCNet/GPT-3 "model-based quality filter" end to end, in-engine:
    * q301's Naive Bayes training chain ([[graft.ops.Train
    * .naiveBayesModel]], trained on the even-doc_id half of the
    * planted-label fixture) REPLACES the rule-based
    * [[TextAnalysis.qualityScore]] gate in the q300 funnel — model
    * scores the WHOLE corpus ([[graft.ops.Train.naiveBayesScore]], the
    * stateless broadcast-model leg), keep = predicted 'high', exact
    * dedup of keepers (md5 fingerprint, min-id keeps), per-source
    * funnel counts. The heuristic keep flag rides along so the gate
    * itself pins the swap's NON-VACUOUSNESS: `n_disagree` counts docs
    * where model and heuristic decide differently (> 0 on every SF —
    * Round10OpsSpec asserts it; low-quality unplanted docs and
    * high-quality planted ones are exactly where a learned filter and
    * a length/ratio rule part ways).
    *
    * Scale shape: training is one token-grain counting shuffle over the
    * labeled half (at 100 TB: a labeled sample); scoring broadcasts the
    * C·V model so the corpus never shuffles to be scored; the funnel
    * adds one fingerprint-grain window over model-keepers and one
    * source-grain rollup — the q300 plan with the quality stage's
    * regex scan replaced by the model join.
    */
  private def q322(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), q322Text.as("__text"),
        q322Label.as("__label"))
      .localCheckpoint() // read by train, score, heuristic and funnel
    val model = graft.ops.Train.naiveBayesModel(
      planted.filter(col("doc_id") % 2 === 0), col("__label"), col("__text"))
    val scored = graft.ops.Train.naiveBayesScore(planted, col("doc_id"),
        col("__text"), model)
      .select(col("doc_id"), col("pred_class"))
    val staged = planted.join(scored, Seq("doc_id"))
      .withColumn("__model_keep", col("pred_class") === "high")
      .withColumn("__heur_keep",
        round(TextAnalysis.qualityScore(col("__text")), 4) >= 0.5)
      .withColumn("__fp", md5(col("__text")))
      .localCheckpoint() // read by the dedup window and the funnel fold
    val w = Window.partitionBy(col("__fp")).orderBy(col("doc_id").asc)
    val kept = staged.filter(col("__model_keep"))
      .withColumn("__kept", row_number().over(w) === 1)
      .select(col("doc_id"), col("__kept"))
    staged.join(kept, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__model_keep"), 1L).otherwise(0L)).as("n_model_kept"),
        sum(when(col("__heur_keep"), 1L).otherwise(0L)).as("n_heur_kept"),
        sum(when(col("__model_keep") =!= col("__heur_keep"), 1L)
          .otherwise(0L)).as("n_disagree"),
        sum(when(coalesce(col("__kept"), lit(false)), 1L).otherwise(0L))
          .as("n_kept"))
      .select(col("source"), col("n_docs"), col("n_model_kept"),
        col("n_heur_kept"), col("n_disagree"), col("n_kept"),
        round(col("n_kept").cast("double") /
          col("n_docs").cast("double"), 4).as("keep_rate"))
      .orderBy("source")
  }

  /** The q323 host fixture: eight suffix shapes — three the round-9
    * literal list ([[graft.ops.Web.secondLevelSuffixes]]) does not
    * contain (`gov.br`, `edu.au`, the 3-label `k12.ca.us`), a plain
    * TLD, an unknown TLD (the PSL `*` default path), a host that IS a
    * public suffix (NULL registrable), a WILDCARD-rule host
    * (`*.ck` — the label under ck is itself a suffix, so the
    * registrable carries one more), and the wildcard's EXCEPTION
    * (`!www.ck` — registrable despite the wildcard).
    */
  private def q323Host: Column =
    when(col("doc_id") % 8 === 0,
      concat(col("source"), lit(".portal.gov.br")))
      .when(col("doc_id") % 8 === 1,
        concat(col("source"), lit(".example.com")))
      .when(col("doc_id") % 8 === 2,
        concat(lit("www."), col("source"), lit(".schools.k12.ca.us")))
      .when(col("doc_id") % 8 === 3,
        concat(col("source"), lit(".uni.edu.au")))
      .when(col("doc_id") % 8 === 4,
        concat(col("source"), lit(".startup.xyz")))
      .when(col("doc_id") % 8 === 5, lit("com.br"))
      .when(col("doc_id") % 8 === 6,
        concat(lit("w"), floor((col("doc_id") % 16) / 8).cast("string"),
          lit(".mall.ck")))
      .otherwise(lit("www.ck"))

  /** Web 4 (round-10): TABLE-driven registrable domain
    * ([[graft.ops.Web.registeredDomainPsl]]) — the round-9 literal
    * second-level list made real: a public-suffix-shaped rule table
    * (~200 broadcast rows, [[graft.ops.Web.pslSuffixes]]) with
    * longest-matching-suffix semantics, exercised on suffix shapes the
    * literal list cannot resolve. Per registrable domain: document and
    * distinct-host counts — q307's readout under the table rule.
    * Candidates are a ≤4-wide map-side array explode (no regex), the
    * rule join broadcasts, the longest-hit fold is one map-side-partial
    * max(struct) per host; the oracle replays the same longest-match
    * CASE from the same interpolated rule list.
    */
  private def q323(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), q323Host.as("host"))
    val psl = graft.ops.Web.pslSuffixes.toDF("suffix")
    graft.ops.Web.registeredDomainPsl(docs, col("doc_id"), col("host"), psl)
      .groupBy(coalesce(col("registered_domain"), lit("(none)"))
        .as("registered_domain"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("host")).as("n_hosts"))
      .orderBy("registered_domain")
  }

  /** The q320 wordlist: overlapping members ("win" inside "window") and
    * a spaced phrase exercise the automaton where chained LIKEs and the
    * replace-length device both break down. Weights are the blocklist
    * severities the risk score folds with.
    */
  private val kwList = Seq("win", "window", "scan", "order",
    "batch batch", "merge")
  private val kwWeights = Seq(5L, 1L, 2L, 1L, 3L, 2L)

  /** Function 6 (round-9): multi-keyword risk scoring via the native
    * Aho–Corasick expression ([[graft.functions.keywordCounts]]) — the
    * safety/blocklist-wordlist scorer: per-keyword occurrence counts in
    * ONE codegen'd text pass (a 10k-term list costs the same scan),
    * folded with array functions into total hits and a severity-
    * weighted risk score, rolled up per source. The oracle replays
    * keyword-by-keyword with regex counts — the expression's documented
    * leftmost-non-overlapping contract is exactly RE2's, which is what
    * makes the automaton differentially gateable at all.
    */
  private def q320(s: SparkSession, dir: String): DataFrame = {
    val wts = array(kwWeights.map(lit): _*)
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        graft.functions.keywordCounts(lower(col("text")), kwList).as("__c"))
      .withColumn("__hits",
        aggregate(col("__c"), lit(0L), (acc, x) => acc + x))
      .withColumn("__score",
        aggregate(zip_with(col("__c"), wts, (c, w) => c * w),
          lit(0L), (acc, x) => acc + x))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__score") > 0L, 1L).otherwise(0L)).as("n_risky"),
        sum(col("__hits")).as("tot_hits"),
        sum(col("__score")).as("tot_score"))
      .orderBy("source")
  }

  /** Similarity 19 (round-8 post-close): compressed-domain closest
    * pairs ([[Similarity.sdcClosestPairs]]) — the SDC counterpart of
    * q291's ADC: the 20 most-similar same-coarse-cell pairs scored
    * entirely from m-byte codes via the broadcast codeword-pair
    * distance table, no float reads in the pair join. The candidate
    * scorer near-dup pairing / SemDeDup uses at 10⁹ vectors (32× less
    * shuffle weight than exact-cosine pair scans; survivors re-check
    * exact, as the LSH family does).
    */
  private def q297(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val seeds = Similarity.minIdSeeds(e, col("vec_id"), col("embedding"),
        col("label"))
      .localCheckpoint() // read by blocking assignment (and nothing else twice)
    val blocks = Similarity.assignToCentroids(e, col("vec_id"),
        col("embedding"), seeds, col("cell"), col("cvec"))
      .select(col("item_id").as("vec_id"), col("cell"))
    val (codes, _, books) = Similarity.pqTrain(e, col("vec_id"),
      col("embedding"), col("label"), m = 8, lloydRounds = 1)
    Similarity.sdcClosestPairs(codes, books, blocks, k = 20)
      .orderBy("approx_d2", "id_a", "id_b")
  }

  /** Similarity 17 (round-8): prefix-dimension retrieval calibration —
    * the Matryoshka-embedding serving question, measured in-engine: how
    * much of the true top-5 does a 16-of-64-dim prefix shortlist
    * already capture, per query? (The production pattern shortlists on
    * cheap prefix dims and re-ranks finalists on full vectors — 4×
    * less scan bandwidth; this readout is the calibration number that
    * decision needs, like q161's LSH calibration and PqSpec's ADC
    * ladder.) Two brute-force top-5 runs (full vs sliced prefix, the
    * q25 tie-break rule) and a per-query overlap count.
    */
  private def q296(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 10)
    val full = Similarity.bruteForceTopK(e, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"), k = 5)
      .select(col("query_id"), col("item_id"))
    val pre = Similarity.bruteForceTopK(
        e.select(col("vec_id"), slice(col("embedding"), 1, 16).as("pvec")),
        col("vec_id"), col("pvec"),
        queries.select(col("vec_id"),
          slice(col("embedding"), 1, 16).as("pvec")),
        col("vec_id"), col("pvec"), k = 5)
      .select(col("query_id"), col("item_id"))
    val common = full.join(pre, Seq("query_id", "item_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_common"))
    queries.select(col("vec_id").as("query_id"))
      .join(common, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .orderBy("query_id")
  }

  /** Text 26 (round-8): HTML main-content extraction
    * ([[TextAnalysis.htmlExtract]]) — the crawl-processing front door,
    * gated by the closed-form-fixture device (q238 WAV / q284 AVI):
    * each document is wrapped IN THE QUERY into deterministic HTML
    * (title, conditional nav, styled head, one or two content
    * paragraphs, a "read more" stub, a script with pipes in the code,
    * a © footer), the production strip+boilerplate path extracts the
    * main text, and the oracle recomputes from the same wrapping rule —
    * nav/footer/title/stub lines must drop, prose must survive
    * verbatim (the gate hashes the extracted text itself).
    */
  /** The deterministic HTML wrapping rule shared by q293 and q300 —
    * one definition on each engine side ([[fixtureHtmlSql]] is the SQL
    * twin). */
  private def fixtureHtml: Column = concat(
    lit("<html><head><title>Doc "), col("doc_id").cast("string"),
    lit("</title><style>p { margin: 0; }</style></head><body>"),
    when(col("doc_id") % 2 === 0,
      lit("<nav>Home | About | Contact</nav>")).otherwise(lit("")),
    lit("<div id=\"main\"><p>"), col("text"), lit("</p>"),
    when(col("doc_id") % 3 === 0,
      concat(lit("<p>"), upper(col("text")), lit("</p>")))
      .otherwise(lit("")),
    lit("<div>read more</div></div>"),
    lit("<script>var x = 1; // | pipes in code</script>"),
    lit("<footer>© example.com | Terms | Privacy</footer></body></html>"))

  private def q293(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.htmlExtract(t(s, dir, "documents"), col("doc_id"),
        fixtureHtml)
      .orderBy("doc_id")

  /** Similarity 14 (round-8): product-quantization codebook training
    * ([[Similarity.pqTrain]]) — d = 64 split into m = 8 subspaces, one
    * Lloyd round from the shared min-id-per-label seeds, exact-decimal
    * distances throughout so the WHOLE training unrolls into the oracle.
    * Readout per (sub, cell): final member count + trained-centroid norm
    * (q64's k-means readout, per subspace). The codes this trains are
    * the billion-vector regime: m bytes per vector instead of 4·d.
    */
  private def q290(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val (codes, perDim, _) = Similarity.pqTrain(e, col("vec_id"),
      col("embedding"), col("label"), m = 8, lloydRounds = 1)
    val norms = perDim.groupBy(col("sub"), col("cell"))
      .agg(sqrt(sum((col("avg_val") * col("avg_val")).cast("decimal(27,12)"))
        .cast("double")).as("centroid_norm"))
    val members = codes.groupBy(col("sub"), col("cell"))
      .agg(count(lit(1)).as("n_members"))
    norms.join(members, Seq("sub", "cell"), "left")
      .select(col("sub"), col("cell"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        round(col("centroid_norm"), 6).as("centroid_norm"))
      .orderBy("sub", "cell")
  }

  /** Similarity 15 (round-8): PQ asymmetric-distance search
    * ([[Similarity.pqAdcTopK]]) — the trained codes answer a top-10
    * neighbor query for vec_id 7 without touching the original floats:
    * one broadcast m×k distance table, per-candidate cost = m lookups
    * summed in exact decimal, then a true-cosine re-rank of the 10
    * finalists only. The complete compressed-domain ANN read path
    * (train → code → ADC shortlist → exact re-rank), end-to-end under
    * one oracle.
    */
  private def q291(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val (codes, _, books) = Similarity.pqTrain(e, col("vec_id"),
      col("embedding"), col("label"), m = 8, lloydRounds = 1)
    Similarity.pqAdcTopK(codes, books, e, col("vec_id"), col("embedding"),
        lit(7L), k = 10, m = 8)
      .orderBy("rank")
  }

  /** Text 24 (round-7): Flesch readability
    * ([[TextAnalysis.readability]]) — the libm-free reading-ease score
    * per document: integer word / sentence / vowel-group counts into
    * two IEEE divisions, rounded at 4; the quality-scoring family's
    * readability leg.
    */
  private def q269(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.readability(t(s, dir, "documents"), col("doc_id"),
        col("text"))
      .orderBy("doc_id")

  /** Sampling 12 (round-7): quantiles FROM the deterministic reservoir
    * ([[Sampling.uniformTopKSample]], k = 1024) vs the exact
    * interpolated corpus quantiles — the mergeable-quantile readout
    * that completes the sketch family (cardinality/frequency/sample →
    * quantiles): a streamed k-row sample ([[graft.streaming.Streaming
    * .sampleMaintain]]) answers quantile queries at any corpus size,
    * and THIS gate measures how well, per quantile, with both sides'
    * interpolation on the q172 percentile ≡ quantile_cont device.
    */
  private def q273(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(
      concat(col("l_orderkey").cast("string"), lit("-"),
        col("l_linenumber").cast("string")).as("id"),
      col("l_extendedprice").cast("double").as("v"))
    val fr = array(lit(0.25d), lit(0.5d), lit(0.75d), lit(0.9d))
    val est = Sampling.uniformTopKSample(li, col("id"), 1024)
      .agg(percentile(col("v"), fr).as("__e"))
    val ex = li.agg(percentile(col("v"), fr).as("__x"))
    est.crossJoin(broadcast(ex))
      .select(col("__x"), posexplode(col("__e")).as(Seq("__i", "__est")))
      .select(
        element_at(fr, col("__i").cast("int") + 1).as("p"),
        round(col("__est"), 4).as("est_quantile"),
        round(element_at(col("__x"), col("__i").cast("int") + 1), 4)
          .as("exact_quantile"),
        round(abs(col("__est") -
          element_at(col("__x"), col("__i").cast("int") + 1)), 4)
          .as("abs_err"))
      .orderBy("p")
  }

  /** Sketch 8 (round-7): per-group KMV cardinality profile
    * ([[graft.ops.Sketch.kmvDistinctBy]], k = 64) — distinct users per
    * event type in one pass, joined to the exact truth as the
    * calibration readout. The only window is partitioned by group over
    * the deduped (group, position) frame; the estimator is q240's,
    * per group. (The exact leg exists for the GATE — production runs
    * only the sketch side; nulls count as a value in the sketch but
    * not in COUNT(DISTINCT), documented divergence of the readout.)
    */
  private def q274(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val est = graft.ops.Sketch.kmvDistinctBy(ev, col("event_type"),
      col("user_id"), k = 64)
    val ex = ev.groupBy(col("event_type").as("group"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    est.join(ex, Seq("group"))
      .select(col("group").as("event_type"), col("n_min"), col("kth_pos"),
        col("est_distinct"), col("exact_distinct"),
        round(col("est_distinct") / col("exact_distinct").cast("double"), 4)
          .as("est_ratio"))
      .orderBy("event_type")
  }

  /** Multimodal 12 (round-7): AUDIO near-duplicate pairs
    * ([[Multimodal.audioSignBands]] → [[Multimodal
    * .hammingNearDupPairs]]) — the perceptual-dedup machinery crossed
    * into the audio modality: per-frame sign-of-difference fingerprints
    * (Haitsma-Kalker-style robustness — amplitude bumps flip only the
    * comparisons they touch), planted one-sample variants, and the same
    * pigeonhole band join. Variants with ≥ 2 frames are recovered
    * (d ≤ 2 < bands); single-frame variants deterministically are not
    * (the pigeonhole premise, honestly visible in the gate) — both
    * engines replay the identical algorithm from the md5 PCM rule.
    */
  private def q275(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .filter(col("text").isNotNull)
      .withColumn("modality", lit("audio"))
    val frames = Multimodal.decodeAudio(
      Multimodal.fromText(docs, "doc_id", "text", "source"))
    // perturb index from the BASE id, computed before re-aliasing
    // (q263's lateral-alias lesson)
    val variants = frames.filter(pmod(col("asset_id"), lit(17)) === 0)
      .withColumn("__pix", pmod(col("asset_id"), lit(8)).cast("int"))
      // variant ids set bit 62 (collision-proof for any real id < 2^62;
      // a small additive offset would collide with real ids in a large
      // corpus and break the across-join's disjoint-id contract)
      .select((col("asset_id") + lit(1L << 62)).as("asset_id"),
        col("frame_idx"),
        when(col("frame_idx") === 0,
          transform(col("samples"), (v, i) =>
            when(i === col("__pix"), v + 1).otherwise(v)))
          .otherwise(col("samples")).as("samples"))
    // minimum-duration contract: a single sub-fingerprint band has no
    // pigeonhole partner — real audio fingerprinting requires a minimum
    // run of sub-fingerprints for the same reason. With 22 bits/frame
    // and ≥ 2 frames, a random pair needs Hamming ≤ 8 over ≥ 44 bits
    // AND one exactly-equal band (~1e-10) while the planted one-sample
    // bump flips ≤ 8 bits, ALL inside frame 0's band — frame 1's band
    // matches exactly, so recall does not depend on d < bands here
    val bands = Multimodal.audioSignBands(frames.unionByName(variants))
      .filter(size(col("bands")) >= 2)
      .localCheckpoint() // both sides of the pair join read it
    Multimodal.hammingNearDupPairs(bands, col("asset_id"), col("bands"),
        maxDist = 8)
      .orderBy("id_a", "id_b")
  }

  /** Train 3 (round-7): Bradley–Terry preference scores
    * ([[graft.ops.Train.bradleyTerryScores]], 3 rounds, rate 0.5) —
    * per-item latent quality from a pairwise-comparison log (the
    * aggregation a preference pipeline runs over annotator duels),
    * synthesized deterministically from lineitem (part-item vs
    * supplier-item, quantity decides the winner). Scores live in a
    * frame (items scale to corpus size); each round is two equi-joins
    * + an item-grain decimal gradient fold; the Elliott sigmoid keeps
    * the gate libm-free and the oracle unrolls all three rounds to the
    * same score bits (q252's device, per entity).
    */
  private def q276(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val a = concat(lit("i"), pmod(col("l_partkey"), lit(20)).cast("string"))
    val b = concat(lit("i"), pmod(col("l_suppkey"), lit(20)).cast("string"))
    val pairs = li.select(
      when(col("l_quantity") > 25, a).otherwise(b).as("winner"),
      when(col("l_quantity") > 25, b).otherwise(a).as("loser"))
    graft.ops.Train.bradleyTerryScores(pairs, col("winner"), col("loser"),
        iters = 3, rate = 0.5)
      .orderBy("item")
  }

  /** Train 4 (round-8): Bradley–Terry at TRUE item cardinality
    * ([[graft.ops.Train.bradleyTerryScores]] with the shuffle-hash
    * score-join hint) — q276's 20-item table legitimately broadcasts,
    * which left the Scaladoc's "scores live in a FRAME, items in the
    * millions" claim unmeasured (the r7 verdict's flag). Here the duel
    * log draws 4 md5 duels per lineitem row over a 20 000-item space
    * (≥ 10⁴ distinct items at every SF, winner = higher item-quality
    * q = id % 997, ties to the smaller id), the score frame joins ride
    * the config-pinned shuffle-hash hint, and the 10× table records
    * the shape idle. Gradient math, decimal folds, and the unrolled
    * oracle are q276's verbatim.
    */
  private def q286(s: SparkSession, dir: String): DataFrame = {
    def h(salt: String, pid: Column, k: Column): Column =
      pmod(conv(substring(md5(concat(lit(salt), lit("|"), pid, lit("|"),
        k.cast("string")).cast("binary")), 1, 8), 16, 10).cast("long"),
        lit(20000L))
    val duels = t(s, dir, "lineitem")
      .select(concat(col("l_orderkey").cast("string"), lit("-"),
        col("l_linenumber").cast("string")).as("pid"))
      // spread BEFORE the md5 draw: the single-file scan arrives as a
      // few partitions and the 8 md5 evaluations per source row would
      // otherwise run on those few cores
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("pid"), explode(sequence(lit(0), lit(3))).as("k"))
      .select(h("bta", col("pid"), col("k")).as("ia"),
        h("btb", col("pid"), col("k")).as("ib"))
      .filter(col("ia") =!= col("ib"))
    val qa = col("ia") % 997
    val qb = col("ib") % 997
    val pairs = duels.select(
      concat(lit("i"), when(qa > qb, col("ia")).when(qb > qa, col("ib"))
        .otherwise(least(col("ia"), col("ib"))).cast("string")).as("winner"),
      concat(lit("i"), when(qa > qb, col("ib")).when(qb > qa, col("ia"))
        .otherwise(greatest(col("ia"), col("ib"))).cast("string")).as("loser"))
    graft.ops.Train.bradleyTerryScores(pairs, col("winner"), col("loser"),
        iters = 2, rate = 0.5, scoreJoinHint = "shuffle_hash")
      .orderBy("item")
  }

  /** OLAP 6 (round-8): the TPC-H Q20 excess-stock shape — the
    * part-brand semi-join chain: stock pairs whose availability
    * exceeds half their shipped quantity in a year, restricted to a
    * part-name family, resolved to the suppliers of one nation. The
    * (partkey, suppkey) stock relation is the fixture's lineitem pair
    * set (no partsupp table) with availability derived closed-form
    * from the keys; the correlated per-pair shipped-sum decorrelates
    * into the SAME single aggregation that enumerates the pairs — ONE
    * lineitem scan total (PlanSpec-pinned), a conditional sum standing
    * where Q20 writes a correlated subquery, then part/nation semi
    * legs (broadcast dims) and a supplier semi join.
    */
  private def q288(s: SparkSession, dir: String): DataFrame = {
    val y96 = col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
      col("l_shipdate") < lit("1997-01-01").cast("timestamp")
    val pairs = t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        when(y96, col("l_quantity")).otherwise(lit(0)).as("__q"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("__q").cast("decimal(18,2)")).as("__sq"))
      .filter(col("__sq") > 0) // Q20's NULL-subquery exclusion
    val excess = pairs.filter(
      ((col("l_partkey") * 7 + col("l_suppkey") * 13) % 100 + 50)
        .cast("double") > lit(0.5d) * col("__sq").cast("double"))
    val excessParts = excess.join(
      broadcast(t(s, dir, "part").filter(col("p_name").startsWith("large"))
        .select(col("p_partkey"))),
      col("l_partkey") === col("p_partkey"), "left_semi")
    val sk = excessParts.select(col("l_suppkey")).distinct()
    t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")
        .filter(col("n_name").isin("NATION_1", "NATION_3", "NATION_7",
          "NATION_12", "NATION_18")).select(col("n_nationkey"))),
        col("s_nationkey") === col("n_nationkey"), "left_semi")
      .join(sk, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy("s_suppkey")
  }

  /** OLAP 3 (round-7): the TPC-H Q21 waiting-orders shape — the
    * hardest classic decorrelation: EXISTS (another supplier in the
    * order) AND NOT EXISTS (another LATE supplier in the order),
    * restated Spark-first as one left-semi and one left-anti equi-join
    * on the order key with the supplier-inequality as a join-side
    * predicate — no correlated re-scan per row, all three legs shuffle
    * on the same key (co-partitioned exchanges), the supplier dim
    * broadcasts. Late = receipt after commit; status 'F' orders only.
    */
  private def q277(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val lo = li.join(t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderstatus")),
      col("l_orderkey") === col("o_orderkey"))
    // "late" adapted to the fixture's columns: shipped > 60 days after
    // the order date (no commit/receipt dates in this lineitem)
    val isLate = col("l_shipdate") > col("o_orderdate") +
      expr("INTERVAL 60 DAYS")
    val late = lo.filter(isLate)
      .select(col("l_orderkey"), col("l_suppkey"))
      .localCheckpoint() // read by l1 and the NOT EXISTS leg
    val l1 = lo.filter(col("o_orderstatus") === "F" && isLate)
      .select(col("l_orderkey"), col("l_suppkey"))
    val anyOther = li.select(col("l_orderkey").as("__ok"),
      col("l_suppkey").as("__sk"))
    val lateOther = late.select(col("l_orderkey").as("__ok"),
      col("l_suppkey").as("__sk"))
    val waiting = l1
      .join(anyOther, col("l_orderkey") === col("__ok") &&
        col("l_suppkey") =!= col("__sk"), "left_semi")
      .join(lateOther, col("l_orderkey") === col("__ok") &&
        col("l_suppkey") =!= col("__sk"), "left_anti")
    waiting.join(broadcast(t(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(25)
  }

  /** OLAP 4 (round-7): the TPC-H Q2 minimum-cost shape (adapted — the
    * fixture has no partsupp, so observed lineitem unit price stands in
    * for supply cost): for small parts, the supplier with the MINIMUM
    * unit price — a correlated scalar subquery decorrelated as one
    * per-part min aggregation joined back, ties resolved by the
    * smallest supplier key (deterministic total order). Unit price is
    * a decimal-exact division rounded at 4 BEFORE the min, so the
    * min/tie arithmetic compares identical bits in both engines.
    */
  private def q278(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part").filter(col("p_size") <= 10)
      .select(col("p_partkey"))
    val lp = t(s, dir, "lineitem")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(col("l_quantity") > 0)
      .select(col("l_partkey"), col("l_suppkey"),
        round(col("l_extendedprice").cast("double") /
          col("l_quantity").cast("double"), 4).as("__uc"))
      .localCheckpoint() // feeds the min agg AND the join-back
    val mins = lp.groupBy(col("l_partkey").as("__pk"))
      .agg(min(col("__uc")).as("min_unit_cost"))
    lp.join(mins, col("l_partkey") === col("__pk") &&
        col("__uc") === col("min_unit_cost"))
      .groupBy(col("l_partkey").as("p_partkey"), col("min_unit_cost"))
      .agg(min(col("l_suppkey")).as("best_suppkey"))
      .select(col("p_partkey"), col("best_suppkey"), col("min_unit_cost"))
      .orderBy("p_partkey")
  }

  /** Eval 11 (round-7): AUC PER GROUP ([[graft.ops.Eval.binaryAucBy]])
    * — the segment-wise readout (here: per source) an eval pipeline
    * reports beside q194's global number, all groups in ONE pass via
    * the grouped banded prefix device; exact weighted tied ranks per
    * group, oracle via per-group windows.
    */
  private def q279(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.binaryAucBy(t(s, dir, "documents"), col("source"),
        pmod(col("n_chars"), lit(97)).cast("int"), col("lang") === "en")
      .withColumnRenamed("group", "source")
      .orderBy("source")

  /** Text 25 (round-7): tokenizer FERTILITY by language — tokens per
    * word under the pinned BPE artifact ([[graft.ops.Bpe.encodeSpaced]]
    * with q267's merge table), per lang: the standard tokenizer-eval
    * readout (an English-trained merge table compresses English words
    * hardest; fertility quantifies the cross-lingual tax). One
    * map-side encode + a lang-grain fold; integer counts into one
    * rounded division.
    */
  private def q280(s: SparkSession, dir: String): DataFrame = {
    val words = t(s, dir, "documents")
      .select(col("lang"),
        explode(split(lower(col("text")), "[^a-z0-9]+")).as("word"))
      .filter(col("word") =!= "")
    words
      .withColumn("__nt",
        size(graft.ops.Bpe.encodeSpaced(col("word"), pinnedBpeMerges)))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("__nt").cast("long")).as("n_tokens"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_tokens"),
        round(col("n_tokens").cast("double") /
          col("n_words").cast("double"), 4).as("fertility"),
        round(col("n_chars").cast("double") /
          col("n_tokens").cast("double"), 4).as("chars_per_token"))
      .orderBy("lang")
  }

  /** Graph 10 (round-6): multi-source BFS
    * ([[graft.ops.Graph.bfsDistances]]) — hop distance from the q121
    * seed suppliers over the symmetric part↔supplier graph, capped at 4:
    * the crawl-depth / curation-distance signal. Confluent integer
    * layers, so the capped recursive oracle matches the early-stopping
    * engine exactly.
    */
  private def q227(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val ps = li.select(concat(lit("p"), col("l_partkey").cast("string"))
      .as("src"), concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
    val e = ps.unionByName(ps.select(col("dst").as("src"),
      col("src").as("dst")))
    val seeds = t(s, dir, "supplier").filter(col("s_suppkey") <= 3)
      .select(concat(lit("s"), col("s_suppkey").cast("string")).as("node"))
    graft.ops.Graph.bfsDistances(e, col("src"), col("dst"), seeds,
        col("node"), maxDepth = 4)
      .orderBy("node")
  }

  /** Timeseries 11 (round-6): weekly seasonality profile
    * ([[graft.ops.Timeseries.seasonalProfile]]) — per (event_type,
    * day-of-week) observed days, events, mean daily count and volume
    * share; Sunday=0 on both engines (Spark `dayofweek`−1 = DuckDB
    * `dayofweek`). The "does this metric need deseasonalizing" readout.
    */
  private def q228(s: SparkSession, dir: String): DataFrame =
    graft.ops.Timeseries.seasonalProfile(t(s, dir, "events"),
        col("event_type"), col("ts"))
      .withColumnRenamed("key", "event_type")
      .orderBy("event_type", "dow")

  /** Timeseries 12 (round-6): CUSUM change-point
    * ([[graft.ops.Timeseries.changePoint]]) — per event type, the day
    * whose daily-sum prefix deviates most from the global trend
    * (argmax |S_k − k·S_n/n|, decimal-exact sums, earliest-day
    * tie-break): "when did this metric shift".
    */
  private def q229(s: SparkSession, dir: String): DataFrame =
    graft.ops.Timeseries.changePoint(t(s, dir, "events"),
        col("event_type"), col("ts"), col("value"))
      .withColumnRenamed("key", "event_type")
      .withColumn("change_day", date_format(col("change_day"), "yyyy-MM-dd"))
      .orderBy("event_type")

  /** Text 18 (round-6): corpus-typicality scoring
    * ([[TextAnalysis.unigramLmScore]]) — per-doc MEAN and MIN unigram
    * probability against the corpus' own unigram model: the libm-free
    * LM-likelihood proxy a quality filter ranks on (high mean = everyday
    * language; tiny min = random-string tripwire). One vocab-grain
    * count + one token-partitioned join + one doc fold; probabilities
    * round-9 → decimal-summed.
    */
  private def q223(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramLmScore(t(s, dir, "documents"), col("doc_id"),
        col("text"))
      .orderBy("doc_id")

  /** Sampling 10 (round-6): deterministic Poisson bootstrap
    * ([[Sampling.bootstrapReplicate]]) — the distributed
    * with-replacement resample: Poisson(1) replica counts inverted off
    * each row's md5 position against Scala-injected CDF thresholds
    * (q110's splitBounds device), map-side explode only, stable under
    * corpus growth. The uncertainty-quantification primitive (bootstrap
    * a metric by re-running it over replicates).
    */
  private def q224(s: SparkSession, dir: String): DataFrame =
    Sampling.bootstrapReplicate(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        col("doc_id"))
      .orderBy("doc_id", "copy")

  /** Eval 8 (round-6): two-sample Kolmogorov–Smirnov
    * ([[graft.ops.Eval.ksStatistic]]) — EXACT distribution-shift test
    * between purchase and click order values at distinct-value grain
    * (banded prefix sums, no unpartitioned window, no bin-edge
    * parameter); the rank-based complement to q147's binned drift.
    */
  private def q225(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.ksStatistic(
      t(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase")),
      col("value"), col("event_type") === "purchase")

  /** Eval 6 (round-6): PR-AUC ([[graft.ops.Eval.averagePrecision]]) of
    * the quality score against the is-English label — the PR-curve
    * companion to q194's ROC-AUC, tie-aware at distinct-score grain
    * (threshold-step AP, no trapezoid), banded prefix sums so nothing
    * ranks in one task. Same score/label frame as q193/q194.
    */
  private def q215(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.averagePrecision(t(s, dir, "documents"),
      round(TextAnalysis.qualityScore(col("text")), 6),
      col("lang") === "en")

  /** Eval 7 (round-6): Brier score + Expected Calibration Error
    * ([[graft.ops.Eval.calibrationSummary]]) — q193's reliability curve
    * folded to one number beside the proper-scoring-rule MSE, both
    * decimal-exact. ECE's oracle EMBEDS q193's oracle verbatim (the
    * q134 zero-duplication device), so the two gates can never drift.
    */
  private def q216(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.calibrationSummary(t(s, dir, "documents"),
      col("doc_id"), round(TextAnalysis.qualityScore(col("text")), 6),
      col("lang") === "en", bins = 10)

  /** Graph 9 (round-6): HITS hubs & authorities
    * ([[graft.ops.Graph.hits]], 2 rounds, max-normalized) over the
    * DIRECTED part→supplier bipartite graph — parts score as hubs
    * (they point at suppliers), suppliers as authorities, the two-sided
    * importance signal q101's PageRank conflates. Oracle = both rounds
    * unrolled from ONE generated CTE (q101's device), decimal-exact
    * mass sums, sqrt-free max normalization.
    */
  private def q217(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "lineitem").select(
      concat(lit("p"), col("l_partkey").cast("string")).as("src"),
      concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
    graft.ops.Graph.hits(e, col("src"), col("dst"), iters = 2)
      .select(col("node"), round(col("hub"), 12).as("hub"),
        round(col("auth"), 12).as("auth"))
      .orderBy("node")
  }

  /** Timeseries 10 (round-6): exponentially-weighted daily event rate
    * ([[graft.ops.Timeseries.ewmaDailyCounts]], 8 taps, half-life one
    * observation) per event type — the smoothed-rate trend a drift
    * monitor follows. Weights are powers of two and the truncated sum is
    * a left-folded literal chain (q124's device), so every arithmetic
    * step is the identical IEEE tree on both engines; normalizers ride
    * in as Scala-computed literals (q213's device).
    */
  private def q218(s: SparkSession, dir: String): DataFrame =
    graft.ops.Timeseries.ewmaDailyCounts(t(s, dir, "events"),
        col("event_type"), col("ts"), taps = 8)
      .withColumnRenamed("key", "event_type")
      .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
      .orderBy("event_type", "day")

  /** Sampling 9 (round-6): group-aware k-fold assignment
    * ([[graft.ops.Sampling.groupKFold]], k = 5, grouped by source) —
    * cross-validation folds that never leak a source across a
    * train/eval boundary; q110's leakage law generalized to k
    * interchangeable folds, pure integer hash arithmetic, map-side only.
    */
  private def q219(s: SparkSession, dir: String): DataFrame =
    Sampling.groupKFold(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        col("source"), k = 5)
      .orderBy("doc_id")

  /** Eval 5 (round-6): AP@5 (the MAP constituent) and NDCG@5
    * ([[graft.ops.Eval.rankingMetrics]]) of q146's IVF retrieval run
    * against its brute-force truth — the two standard GRADED retrieval
    * metrics beside q146's recall/MRR. The log2 discount table and its
    * ideal-DCG prefix sums are Scala-computed literals injected into
    * both engines (the q180 Benford device), so no runtime libm log
    * reaches the gate.
    */
  private def q213(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val qs = e.filter(col("vec_id") < 10)
    val truth = Similarity.bruteForceTopK(e, col("vec_id"), col("embedding"),
        qs, col("vec_id"), col("embedding"), k = 5)
      .select(col("query_id"), col("item_id"))
    val cent = Similarity.minIdSeeds(e, col("vec_id"), col("embedding"),
      col("label"))
    val approx = Similarity.ivfTopK(e, col("vec_id"), col("embedding"),
        cent, col("cell"), col("cvec"),
        qs, col("vec_id"), col("embedding"), k = 5, nprobe = 1)
      .select(col("query_id"), col("item_id"), col("rank"))
    graft.ops.Eval.rankingMetrics(approx, truth, k = 5)
      .orderBy("query_id")
  }

  /** Text 13 (round-5): adjacent-token pair mining — the corpus-wide top
    * 20 token bigrams by frequency, ties on the pair string: the FIRST
    * MERGE DECISION of a BPE-style tokenizer-training loop, as one
    * aggregation. Pairs come from a map-side `zip_with` over each doc's
    * token array (no self-join on positions), counts map-side combine,
    * the top-k is a TakeOrdered. All integers.
    */
  private def q151(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.tokens
    val w = Window.orderBy(col("n").desc, col("pair").asc)
    t(s, dir, "documents")
      .select(tokens(col("text")).as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(explode(zip_with(
        slice(col("__t"), lit(1), size(col("__t")) - 1),
        slice(col("__t"), lit(2), size(col("__t")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(20)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("pair"), col("n"))
  }

  /** Layout 4 (round-5): skew diagnostics before the fact —
    * [[graft.ops.Skew.skewReport]] over the events table's user_id (the
    * repo's canonical hot-key column, q68/q71's target): top-5 heaviest
    * keys with row share, the report that decides whether salting is
    * warranted.
    */
  private def q152(s: SparkSession, dir: String): DataFrame =
    graft.ops.Skew.skewReport(t(s, dir, "events"), col("user_id"), k = 5)
      .withColumnRenamed("key_value", "user_id")
      .orderBy("rank")

  /** Text 12 (round-5): shingle-coverage scoring — fraction of each
    * non-src0 doc's distinct 3-gram shingles already present in the src0
    * reference corpus ([[TextAnalysis.coverageScore]]) — q66's
    * decontamination evidence as a per-doc RATIO for novelty-aware
    * curation.
    */
  private def q148(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.coverageScore(
        docs.filter(col("source") =!= "src0"), col("doc_id"), col("text"),
        docs.filter(col("source") === "src0"), col("text"), n = 3)
      .orderBy("doc_id")
  }

  /** Profile 9 (round-5): embedding health per label —
    * [[graft.ops.Profile.embeddingHealth]] over the embeddings table:
    * norm distribution + unit-norm conformance, the pre-flight check for
    * every cosine-based operator in this repo.
    */
  private def q149(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.embeddingHealth(t(s, dir, "embeddings"),
        col("label"), col("vec_id"), col("embedding"))
      .withColumnRenamed("group_key", "label")
      .orderBy("label")

  /** Streaming 13 (round-5): the drift monitor IN-FLIGHT — q147's
    * histogram computed as a streaming aggregation (complete mode, state
    * = groups × bins), folded through the same statistic code, gated
    * against q147's batch oracle verbatim
    * ([[graft.streaming.Streaming.histogramDriftStream]]).
    */
  private def q150(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q150")
    val src = stage.resolve("src").toString
    t(s, dir, "events").select(col("event_type"), col("value"), col("ts"))
      .repartition(2).write.mode("overwrite").parquet(src)
    val schema = s.read.parquet(src).schema
    val out = graft.streaming.Streaming.histogramDriftStream(
      s.readStream.schema(schema).parquet(src),
      col("event_type"), col("value"),
      col("ts") >= lit("2024-01-16").cast("timestamp"),
      binWidth = 25.0, nBins = 20, name = "q150_hist")
    materializeDropping(s, out.withColumnRenamed("group_key", "event_type"),
      stage)
      .orderBy("event_type")
  }

  /** Streaming 12 (round-5): STREAMED incremental k-NN maintenance —
    * the embeddings land in three micro-batches (one file per trigger)
    * and each batch folds into the persisted graph via
    * [[graft.streaming.Streaming.knnGraphMaintain]] (batch×prior pairs
    * only, per-batch-versioned graph + partition-scoped corpus landing,
    * exactly-once under replay). The gate: the LATEST landed graph
    * hash-matches q137's FULL-recompute oracle verbatim — the merge law
    * composed across micro-batches, the streaming closure of q142
    * (q113/q120's landing pattern).
    */
  private def q144(s: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft_q144")
    val src = stage.resolve("src").toString
    val state = stage.resolve("state").toString
    val ckpt = stage.resolve("ckpt").toString
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    // three disjoint slices, one parquet file each → three micro-batches;
    // the merge law makes the final graph invariant to slice order
    (0 to 2).foreach { i =>
      e.filter(col("vec_id") % 3 === i).repartition(1)
        .write.mode("append").parquet(src)
    }
    val schema = s.read.parquet(src).schema
    graft.streaming.Streaming.knnGraphMaintain(s, src, schema,
      "vec_id", "embedding", Seq("label"), k = 3,
      statePath = state, checkpointDir = ckpt)
    materializeDropping(s,
      graft.streaming.Streaming.latestKnnGraph(s, state, schema, "vec_id")
        .select(col("node"), col("rank"), col("nbr"),
          round(col("cosine"), 4).as("cosine")),
      stage)
      .orderBy("node", "rank")
  }

  /** Text 1: language-ID heuristic vs labeled lang (confusion counts). */
  private def q27(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), TextAnalysis.detectLanguage(col("text")).as("lang_pred"))
      .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
      .orderBy("lang", "lang_pred")

  /** Text 2: per-document quality features + composite score. */
  private def q28(s: SparkSession, dir: String): DataFrame = {
    val text = col("text")
    val f = TextAnalysis.qualityFeatures(text)
    t(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.tokenCount(text).cast("long").as("n_tokens"),
      TextAnalysis.subwordCount(text).cast("long").as("n_subwords"),
      round(f("distinct_ratio"), 4).as("distinct_ratio"),
      round(f("mean_token_len"), 4).as("mean_token_len"),
      round(f("alpha_ratio"), 4).as("alpha_ratio"),
      round(TextAnalysis.qualityScore(text), 4).as("quality"))
      .orderBy("doc_id")
  }

  /** Text 3: token statistics by language. */
  private def q29(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), TextAnalysis.tokenCount(col("text")).as("nt"),
        TextAnalysis.subwordCount(col("text")).as("ns"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).cast("long").as("total_tokens"),
        (sum(col("nt")).cast("double") / count(lit(1))).as("avg_tokens"),
        sum(col("ns")).cast("long").as("total_subwords"))
      .select(col("lang"), col("n_docs"), col("total_tokens"),
        round(col("avg_tokens"), 4).as("avg_tokens"), col("total_subwords"))
      .orderBy("lang")

  /** Text 4: order-insensitive bag-of-words fingerprint per document. */
  private def q30(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  /** Streaming shape (batch-equivalent): hourly tumbling-window aggregates.
    * The streaming variant (watermark + window) lives in
    * [[graft.streaming.Streaming.windowedCounts]]; this is its exact batch
    * restatement used for the oracle.
    */
  private def q31(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        dsum(col("value"), 2).as("sum_value"))
      .orderBy("hour_epoch", "event_type")

  /** Sessionization: 30-minute-gap sessions per user (lag + running sum). */
  private def q32(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sessions = t(s, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    sessions.groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("session_events"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("session_events")).cast("long").as("n_events"),
        max(col("session_events")).as("max_session_events"))
      .orderBy("user_id")
  }

  /** Multimodal 1: opaque-binary asset plumbing — payload + typed metadata. */
  private def q33(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").withColumn("modality",
      when(pmod(col("doc_id"), lit(3)) === 0, "image")
        .when(pmod(col("doc_id"), lit(3)) === 1, "audio")
        .otherwise("video"))
    Multimodal.fromText(docs, "doc_id", "text", "source")
      .select(col("asset_id"), col("modality"), col("meta.source").as("source"),
        col("meta.byte_len").as("byte_len"),
        col("meta.content_hash").as("content_hash"))
      // recover modality from the id (fromText stamps a constant)
      .withColumn("modality",
        when(pmod(col("asset_id"), lit(3)) === 0, "image")
          .when(pmod(col("asset_id"), lit(3)) === 1, "audio")
          .otherwise("video"))
      .orderBy("asset_id")
  }

  /** Multimodal 2: frame sampling for video assets (Generator/UDTF shape). */
  private def q34(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(3)) === 2)
      .withColumn("byte_len", octet_length(encode(col("text"), "UTF-8")).cast("long"))
      .withColumn("n_frames",
        least(floor(col("byte_len") / lit(64.0d)).cast("long") + 1L, lit(40L)))
      .select(col("doc_id").as("asset_id"),
        explode(sequence(lit(0L), col("n_frames") - 1L, lit(10L))).as("frame_idx"))
      .orderBy("asset_id", "frame_idx")

  /** Multimodal 3: stubbed codec decode via mapPartitions (no SQL oracle —
    * the batch plumbing is the product; codec is a deterministic fake).
    */
  private def q35(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism) // spread before decode
      .withColumn("modality", lit("image"))
    val decoded = Multimodal.decode(Multimodal.fromText(docs, "doc_id", "text", "source"))
    Multimodal.resize(Multimodal.imageStats(decoded))
      .select("asset_id", "width", "height", "channels", "aspect",
        "needs_resize", "pixels", "out_width", "out_height")
      .orderBy("asset_id")
  }

  /** Streaming execution of the hourly window aggregate (§2.9): a real
    * Structured Streaming job — file source over the events parquet,
    * watermark, tumbling window, memory sink — whose final result equals
    * the batch oracle (same SQL as q31's shape). Proves the streaming path
    * end-to-end inside the correctness gate.
    */
  private def q36(s: SparkSession, dir: String): DataFrame = {
    val stream = Tables.stream(s, dir, "events")
    val agg = graft.streaming.Streaming.windowedCounts(stream)
    val mem = graft.streaming.Streaming.runToMemory(agg, "q36_mem")
    mem.select(
      unix_timestamp(col("window.start")).as("hour_epoch"),
      col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("hour_epoch", "event_type")
  }

  /** Text 5: corpus token frequency — top-50 tokens with doc frequency. */
  private def q38(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(50)

  /** Text 6: document length histogram (100-char buckets) per language. */
  private def q39(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("lang"),
        floor(col("n_chars") / lit(100L)).cast("long").as("len_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"))
      .orderBy("lang", "len_bucket")

  /** Stateful aggregation surface: per-user running totals through
    * `mapGroupsWithState` (KeyValueGroupedDataset). The iterative double
    * accumulation is order-dependent at the ulp level, so the output is
    * rounded to 4 decimals (error bound ~1e-11 for these magnitudes).
    */
  private def q40(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streaming.runningUserTotals(t(s, dir, "events"))
      .select(col("user_id"), col("n"), round(col("total"), 4).as("total"))
      .orderBy("user_id")

  /** Temporal 1: as-of join — for each purchase, the latest click at or
    * before it by the same user (attribution). Union-and-window formulation:
    * one shuffle on the key, no O(L·R) pair space (see [[TemporalJoin]]).
    */
  private def q41(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    // as-of contract: right side unique per (key, time)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    TemporalJoin.asOfJoin(purchases, Seq("user_id"), col("ts"),
      clicks, Seq("user_id"), col("ts"),
      Map("click_id" -> col("click_id"), "click_us" -> unix_micros(col("ts"))))
      .select(col("event_id"), col("user_id"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        coalesce(unix_micros(col("ts")) - col("click_us"), lit(-1L)).as("gap_us"))
      .orderBy("event_id")
  }

  /** Temporal 2: keyed range join — clicks in the hour before each purchase
    * by the same user. The equi key keeps it a hash join; the time range is
    * a residual filter, never a nested-loop.
    */
  private def q42(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("value").as("c_value"))
    TemporalJoin.rangeJoinKeyed(purchases, Seq("user_id"), "ts",
      clicks, Seq("c_user"), "c_ts",
      expr("INTERVAL -1 HOUR"), expr("INTERVAL 0 SECOND"), "left")
      .groupBy(col("event_id"), col("user_id"))
      .agg(count(col("c_ts")).as("n_prior_clicks"),
        coalesce(dsum(col("c_value"), 2), lit(0.0d)).as("sum_click_value"))
      .orderBy("event_id")
  }

  /** Temporal 3: key-less interval join via grid binning — views inside
    * ±5-minute windows around early users' error events. Binning turns the
    * interval predicate into an equi-join on the grid cell (shuffles by
    * cell) instead of a quadratic BroadcastNestedLoopJoin.
    */
  private def q43(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val intervals = ev
      .filter(col("event_type") === "error" && col("user_id") < 10)
      .select(col("event_id").as("interval_id"),
        (col("ts") - expr("INTERVAL 5 MINUTE")).as("lo"),
        (col("ts") + expr("INTERVAL 5 MINUTE")).as("hi"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("ts").as("v_ts"), col("value").as("v_value"))
    val joined = TemporalJoin.intervalJoinBinned(views, col("v_ts"),
      intervals, col("lo"), col("hi"), binMicros = 300L * 1000000L)
    val counts = joined.groupBy(col("interval_id"))
      .agg(count(lit(1)).as("n_views"), dsum(col("v_value"), 2).as("sum_view_value"))
    intervals.select("interval_id").join(counts, Seq("interval_id"), "left")
      .select(col("interval_id"),
        coalesce(col("n_views"), lit(0L)).as("n_views"),
        coalesce(col("sum_view_value"), lit(0.0d)).as("sum_view_value"))
      .orderBy("interval_id")
  }

  /** Temporal 4: the NATIVE as-of join — same query as q41 but through the
    * custom Catalyst operator ([[graft.plans.AsOfJoinExec]]: LogicalPlan +
    * Strategy + sort-merge SparkPlan, SparkSessionExtensions-registrable).
    * Shares q41's DuckDB ASOF JOIN oracle, so the whole-operator extension
    * path sits inside the correctness gate.
    */
  private def q44(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"))
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("click_id"), unix_micros(col("ts")).as("click_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    graft.plans.AsOfJoin.asOf(purchases, Seq("user_id"), "ts",
      clicks, Seq("c_user"), "c_ts", Seq("click_id", "click_us"))
      .select(col("event_id"), col("user_id"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        coalesce(unix_micros(col("ts")) - col("click_us"), lit(-1L)).as("gap_us"))
      .orderBy("event_id")
  }

  /** Streaming 3: distinct event-type count per user as a real streaming
    * job (stateful aggregation over `collect_set` — streaming disallows
    * count_distinct, so the set-size formulation is the streaming
    * idiom). Oracle is the batch COUNT(DISTINCT).
    *
    * Round-8 restatement (the r7 verdict's last scale `weak`): the job
    * now runs in UPDATE mode — each trigger emits only the users whose
    * set changed, so per-trigger OUTPUT is bounded by batch key churn
    * instead of re-emitting every user the stream has ever seen
    * (Complete mode's lifetime-growing sink write). The landed update
    * log folds exactly by `max` per user because n_types is MONOTONE —
    * a user's distinct set only grows — so the final fold is the
    * standard changelog-to-snapshot read, gated against the batch
    * COUNT(DISTINCT) verbatim. Per-KEY state stays bounded by the
    * event-type alphabet; keys grow with the user population, which is
    * every keyed aggregation's floor. For lifetime-distinct counting at
    * FIXED total state, the production twins are
    * [[graft.streaming.Streaming.distinctTypesApprox]] (HLL, fixed
    * sketch bytes) and q243's KMV maintenance (k rows forever) — this
    * query is the exact-mode member of that family.
    */
  private def q45(s: SparkSession, dir: String): DataFrame = {
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
    val stream = s.readStream.schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    val agg = stream.groupBy(col("user_id"))
      .agg(size(collect_set(col("event_type"))).cast("long").as("n_types"))
    graft.streaming.Streaming.runToMemory(agg, "q45_mem",
        org.apache.spark.sql.streaming.OutputMode.Update())
      .groupBy(col("user_id"))
      .agg(max(col("n_types")).as("n_types"))
      .orderBy("user_id")
  }

  /** Aggregation 2: exact interpolated percentiles per group (Spark
    * `percentile` ≡ DuckDB `quantile_cont` — both linear interpolation over
    * the sorted values). The approximate path (`percentile_approx` /
    * t-digest) is the 100 TB default; the exact form is the oracle-checkable
    * one.
    */
  private def q46(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"),
        round(min(col("value")), 4).as("vmin"),
        round(max(col("value")), 4).as("vmax"))
      .orderBy("event_type")

  /** Window-function suite (§2.6 breadth): lead/lag, first/last over frames,
    * ntile, percent_rank, dense_rank in one pass over a per-user ordering.
    */
  private def q47(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "events")
      .withColumn("prev_event", lag(col("event_id"), 1, -1L).over(w))
      .withColumn("next_event", lead(col("event_id"), 1, -1L).over(w))
      .withColumn("first_event", first(col("event_id")).over(wAll))
      .withColumn("last_event", last(col("event_id")).over(wAll))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("drank", dense_rank().over(w).cast("long"))
      .select("user_id", "event_id", "prev_event", "next_event",
        "first_event", "last_event", "quartile", "pct_rank", "drank")
      .orderBy("user_id", "event_id")
  }

  /** Scalar-function suite (§2.7 breadth): string edit/translate/pad/split,
    * date arithmetic and truncation, conditional expressions — one row per
    * customer, every value oracle-checked.
    */
  private def q48(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(
        col("c_custkey"),
        levenshtein(col("c_name"), lit("Customer#000000001")).as("edit_dist"),
        translate(lower(col("c_mktsegment")), "aeiou", "_____").as("seg_masked"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("key_padded"),
        substring(col("c_name"), -4, 4).as("name_tail"),
        concat_ws("|", split(col("c_mktsegment"), "U")).as("seg_split"),
        greatest(col("c_acctbal"), lit(0.0d)).as("bal_floor"),
        when(col("c_acctbal") < 0, "overdrawn")
          .when(col("c_acctbal") < 1000, "low").otherwise("ok").as("bal_band"),
        length(col("c_name")).cast("long").as("name_len"))
      .orderBy("c_custkey")

  /** Similarity 4: one k-means refinement iteration — assign every vector
    * to its nearest seed centroid (q37's deterministic seeds), then
    * recompute centroids as per-dimension means. Reported as per-cell
    * member count + new-centroid L2 norm (decimal-accumulated, exact).
    */
  private def q49(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val centroids = Similarity.minIdSeeds(
      e, col("vec_id"), col("embedding"), col("label"))
    val assigned = Similarity.assignToCentroids(
      e, col("vec_id"), col("embedding"), centroids, col("cell"), col("cvec"))
    val avgs = Similarity.recomputeCentroids(assigned)
    val norms = avgs.groupBy(col("cell"))
      .agg(sqrt(sum((col("avg_val") * col("avg_val")).cast("decimal(27,12)"))
        .cast("double")).as("centroid_norm"))
    val members = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_members"))
    members.join(norms, Seq("cell"))
      .select(col("cell"), col("n_members"),
        round(col("centroid_norm"), 6).as("centroid_norm"))
      .orderBy("cell")
  }

  /** Text 7: TF-IDF top-3 terms per document (ratio-form idf — exact
    * integer ratios, engine-portable; see [[TextAnalysis.tfidf]]).
    */
  private def q50(s: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.tfidf(t(s, dir, "documents"),
      col("doc_id"), col("text"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(round(col("score"), 6).desc, col("token").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("token"), col("rank"),
        round(col("score"), 4).as("tfidf"))
      .orderBy("doc_id", "rank")
  }

  /** S9 modern restatement: semi-structured props through Spark 4's
    * VARIANT type — `parse_json` once, typed `variant_get` extraction,
    * aggregate over the extracted key. The Variant encoding keeps the
    * parse cost linear and the extraction codegen'd (vs per-access JSON
    * string re-parsing with `get_json_object`).
    */
  private def q51(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(variant_get(parse_json(col("props")), "$.k", "long").as("k_val"))
      .groupBy(col("k_val"))
      .agg(count(lit(1)).as("n"))
      .orderBy("k_val")

  /** Dedup 6: pairs → GROUPS — connected components over q21's MinHash-LSH
    * near-dup graph, i.e. the keep-one-per-cluster step of a dedup
    * pipeline. Oracle: q21's pair SQL + a recursive-CTE transitive closure
    * computing the same min-reachable-id labels.
    */
  private def q52(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(q21Pairs(s, dir)).orderBy("id")

  /** §2.9 breadth: SLIDING event-time windows (1h window, 30min slide) —
    * every event lands in two overlapping windows. Oracle enumerates both
    * containing windows per event (Spark's window() aligns to the epoch
    * grid, DuckDB's `time_bucket` to 2000-01-03 — both are multiples of
    * 30 minutes, so the grids coincide).
    */
  private def q53(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value"), 2).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("win_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("win_start", "event_type")

  /** Dedup 7: SimHash Hamming-neighbor pairs via pigeonhole chunk-LSH —
    * exact recall for distance ≤ 3 with only chunk equi-joins (see
    * [[Dedup.simhashNeighbors]]).
    */
  private def q54(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNeighbors(t(s, dir, "documents"), col("doc_id"), col("text"))
      .orderBy("id_a", "id_b")

  /** Training-data op: deterministic train/val/test split — the split is a
    * pure function of the id (md5 bucket), so it is stable across runs,
    * engines, and repartitioning; no sampled state to persist.
    */
  private def q55(s: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 100
    t(s, dir, "documents")
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"))
      .orderBy("lang", "split")
  }

  /** §2.6 breadth: unpivot (wide measures → long) via Dataset.unpivot. */
  private def q56(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_orderkey") < 1000)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "measure", "val")
      .orderBy("l_orderkey", "l_linenumber", "measure")

  /** §2.6 breadth: pivot (long → wide) — per-source doc counts by language
    * with an explicit value list (never collect-distinct the pivot domain
    * at scale).
    */
  private def q57(s: SparkSession, dir: String): DataFrame = {
    val langs = Seq("de", "en", "es", "fr", "zh")
    t(s, dir, "documents")
      .groupBy(col("source"))
      .pivot("lang", langs)
      .agg(count(lit(1)))
      .select(col("source") +:
        langs.map(l => coalesce(col(l), lit(0L)).as(l)): _*)
      .orderBy("source")
  }

  /** Set op 3 (§2.6 completion): INTERSECT — nation keys present among
    * both customers and suppliers.
    */
  private def q58(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey")

  /** SQL surface: correlated scalar subquery — orders priced above their
    * customer's average. Catalyst decorrelates this into an aggregate +
    * join (no per-row re-execution), which is the property that makes the
    * construct usable at scale.
    */
  private def q59(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql("""
      SELECT o_orderkey,
        CAST(o_totalprice AS DOUBLE) AS totalprice
      FROM orders o
      WHERE o_totalprice > 2 * (
        SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               / count(*)
        FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      ORDER BY o_orderkey""")
  }

  /** Aggregation 3: several DISTINCT aggregates in one pass — planned via
    * Expand (one duplicated stream per distinct set) plus a shared partial
    * aggregate; the shape to watch at scale since Expand multiplies the
    * shuffle volume by the number of distinct sets.
    */
  private def q60(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("event_id")).as("n_events"),
        count(lit(1)).as("n_rows"))
      .orderBy("event_type")

  /** SQL surface: FILTER-clause conditional aggregation + HAVING. */
  private def q61(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql("""
      SELECT user_id,
        count(*) FILTER (WHERE event_type = 'click') AS n_clicks,
        count(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
        count(*) AS n_total
      FROM events
      GROUP BY user_id
      HAVING count(*) FILTER (WHERE event_type = 'purchase') >= 10
      ORDER BY user_id""")
  }

  /** Layout 1: Z-order (Morton) clustering key over (l_partkey, l_suppkey)
    * — the multi-dimensional file-layout curve. The oracle restates the
    * identical shift/mask arithmetic in DuckDB SQL, pinning every bit of
    * the curve; ZOrderSpec proves the layout property itself (per-file
    * min/max ranges narrow on BOTH interleaved dimensions, which is what
    * lets parquet footer pruning skip files for predicates on either).
    */
  private def q90(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_partkey") % 50 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        graft.ops.Layout.zValue(
          Seq(col("l_partkey"), col("l_suppkey")), bits = 16).as("zvalue"))
      .orderBy("l_orderkey", "l_linenumber")

  /** Runtime-pruned join: lineitem joined to a selectively filtered orders
    * side. The answer is plain join+agg (oracle-checked); the SCALE point
    * is the plan — with runtime bloom filters enabled, Catalyst injects a
    * bloom-filter built from the filtered orders keys into the lineitem
    * scan, so the big side drops non-matching rows BEFORE the shuffle
    * (RuntimeFilterSpec pins the injected BloomFilterMightContain).
    */
  private def q91(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("l_returnflag")

  /** Sampling 6: uniform random negatives per anchor (md5-drawn,
    * deterministic) — the random-negatives complement to q88's
    * hard-negative mining; same broadcast-anchors join shape.
    */
  private def q92(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Sampling.negativeSamples(
      e, col("vec_id"), col("label"),
      e.filter(col("vec_id") < 10), col("vec_id"), col("label"), k = 5)
      .orderBy("query_id", "rank")
  }

  /** Text 8: Simpson diversity of each document's token distribution —
    * frequency-weighted repetition quality, computed with NO logarithm
    * (exact integer ratios + one IEEE division) so the score is
    * bit-identical across engines.
    */
  private def q93(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    graft.ops.TextAnalysis.simpsonDiversity(d, col("doc_id"), col("text"))
      .orderBy("doc_id")
  }

  /** Source 10: the V2 docgen connector driven end-to-end — generate,
    * push a doc_id range into the source (skipping slices at planning
    * time), aggregate. Not SQL-expressible over the parquet tables (the
    * corpus is synthesized by the connector), so this is a rows-only gate;
    * DocGenSourceSpec pins determinism, pruning, and pushdown exactly.
    */
  private def q94(s: SparkSession, dir: String): DataFrame = {
    // Hash gate via the landed file (q89/q96's pattern): the full corpus
    // lands UNFILTERED at a fixed path, while the query itself aggregates
    // through the docgen SCAN with its range pushdown — the DuckDB oracle
    // applies the same predicate to the landed parquet, so a pushdown that
    // skipped or duplicated a slice would shift the counts and fail.
    reapStaleQ94Landings()
    s.read.format("graft-docgen")
      .option("rows", 5000).option("partitions", 8).load()
      .write.mode("overwrite").parquet(q94LandPath)
    s.read.format("graft-docgen")
      .option("rows", 5000).option("partitions", 8).load()
      .filter(col("doc_id") >= 1000 && col("doc_id") < 4000)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"))
      .orderBy("lang")
  }

  /** Where q94 lands its oracle corpus: unique per JVM, so concurrent
    * Verify runs (or two users on one host) never overwrite each other's
    * landing while DuckDB reads it. The oracle SQL interpolates the same
    * value per-run, so engine and oracle always agree on the path.
    */
  private val q94LandPath: String =
    s"/tmp/graft_q94_land_${java.util.UUID.randomUUID().toString.take(8)}"

  /** Best-effort reap of prior runs' q94 landings (read long ago — the
    * oracle runs right after Verify) once they age an hour, mirroring the
    * manifest sink's .tmp reaper. Runs from q94's body, so merely loading
    * this object deletes nothing.
    */
  private def reapStaleQ94Landings(): Unit = {
    val horizon = System.currentTimeMillis() - 60L * 60 * 1000
    Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("graft_q94_land_") &&
        f.lastModified < horizon)
      .foreach(f => scala.util.Try(deleteTree(f.toPath)))
  }

  /** Force a staged file's mtime so the file-stream source orders
    * micro-batches deterministically. The boolean result is CHECKED: the
    * forced ordering is load-bearing for every batch-seam gate (a silent
    * failure — read-only staging fs, coarse mtime granularity — would
    * surface later as a misleading stream-operator error).
    */
  private def forceMtime(path: String, t: Long): Unit =
    require(new java.io.File(path).setLastModified(t),
      s"staging: setLastModified($t) failed for $path — the forced " +
        "micro-batch ordering this gate depends on cannot be established")

  /** Reverse-walk recursive delete — the one place the staging-cleanup
    * idiom lives (round-trip harness queries, the q94 reaper, the
    * streaming landings all route through here).
    */
  private def deleteTree(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(q => java.nio.file.Files.deleteIfExists(q))
  }

  /** Materialize a small harness result on the driver so the temp staging
    * a round-trip query wrote (lake dirs, CSV versions, a Derby database)
    * can be deleted before returning — same contract as q89/q96/q104's
    * deliberate harness-side collects; the frames here are events-table
    * sized, the same rows the memory-sink streaming gates already hold in
    * driver memory.
    */
  private def materializeDropping(s: SparkSession,
                                  df: org.apache.spark.sql.DataFrame,
                                  stage: java.nio.file.Path): org.apache.spark.sql.DataFrame = {
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(df.collect(): _*)
    val out = s.createDataFrame(rows, df.schema)
    deleteTree(stage)
    out
  }

  /** Analytics: ordered funnel (view → click → purchase) — earliest
    * completion times for users who performed the stages IN ORDER. Each
    * stage is one filtered aggregation on user_id joined to the previous
    * stage's frontier, so the work is 3 aggregations + 2 equi-joins all
    * keyed by user_id — no window over the full event stream, no pattern
    * blow-up, and every stage prunes to its event type at the scan.
    */
  private def q95(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    def stage(typ: String) = ev.filter(col("event_type") === typ)
    val v = stage("view").groupBy(col("user_id"))
      .agg(min(col("ts")).as("t_view"))
    val c = stage("click").join(v, "user_id")
      .filter(col("ts") > col("t_view"))
      .groupBy(col("user_id"), col("t_view"))
      .agg(min(col("ts")).as("t_click"))
    stage("purchase").join(c, "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy(col("user_id"), col("t_view"), col("t_click"))
      .agg(min(col("ts")).as("t_purchase"))
      .orderBy("user_id")
  }

  /** Sink 7: the V2 manifest sink driven through the gate — events are
    * serialized, landed via the transactional manifest commit (twice, to
    * prove appends accumulate without loss), read back through the
    * manifest, parsed, and aggregated; the result must hash-match DuckDB
    * aggregating the ORIGINAL table. A leaked orphan, lost manifest, or
    * double-published file would shift the counts and fail the gate.
    */
  private def q96(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft-q96")
    val table = s"$base/t"
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        (col("event_id") % 2 === 0).as("even"))
    def land(half: Boolean): Unit = ev.filter(col("even") === half)
      .select(concat_ws("|", col("event_id"), col("event_type")).as("value"))
      .write.format("graft-manifest").option("path", table)
      .mode("append").save()
    land(false); land(true)
    val back = s.read.format("graft-manifest").option("path", table).load()
      .select(split(col("value"), "\\|").as("p"))
      .select(col("p").getItem(0).cast("long").as("event_id"),
        col("p").getItem(1).as("event_type"))
    val agg = back.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy("event_type")
    // q89's pattern: materialize the group-count-sized result so the temp
    // landing dir can be removed before returning
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(agg.collect(): _*)
    val out = s.createDataFrame(rows, agg.schema)
    deleteTree(base)
    out.orderBy("event_type")
  }

  /** Streaming 6: the ordered funnel (q95) as a STATEFUL STREAM — O(1)
    * state per active user, completion emitted the moment the purchase
    * lands, state dropped on completion or watermark timeout. The gate
    * compares the streamed result against the SAME batch oracle as q95:
    * the stream must reproduce the exact minimal completion times.
    * (Oracle equality relies on the single-file fixture arriving as one
    * micro-batch — within a batch the fold sorts by event time; across
    * batches the operator's contract is monotone refinement, pinned by
    * StreamingSpec's multi-batch test, not by this oracle.)
    */
  private def q97(s: SparkSession, dir: String): DataFrame = {
    val out = graft.streaming.Streaming.funnelStream(
      Tables.stream(s, dir, "events"))
    graft.streaming.Streaming.runToMemory(out, "q97_mem",
      org.apache.spark.sql.streaming.OutputMode.Append)
      .select(col("user_id"),
        timestamp_micros(col("t_view_us")).as("t_view"),
        timestamp_micros(col("t_click_us")).as("t_click"),
        timestamp_micros(col("t_purchase_us")).as("t_purchase"))
      .orderBy("user_id")
  }

  /** Streaming 7: the funnel landed EXACTLY-ONCE through the batch-scoped
    * overwrite sink (q89's replay law applied to a stateful stream) — the
    * table is landed, then fully redelivered from a fresh checkpoint, and
    * must converge to the same completion set, which hash-matches the
    * batch funnel oracle (q95's SQL).
    */
  private def q104(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft-q104")
    val table = s"$base/t"
    def land(run: Int): Unit = graft.streaming.Streaming.funnelLanding(
      Tables.stream(s, dir, "events"), table, s"$base/ck$run")
    land(0)
    land(1) // full redelivery (fresh checkpoint): must converge, not dupe
    // empty delta: zero completions means the batch-scoped sink never
    // created the table — the empty-partition case a pipeline must survive
    val landed =
      if (new java.io.File(table).exists) s.read.parquet(table)
      else s.range(0).select(col("id").as("user_id"),
        col("id").as("t_view_us"), col("id").as("t_click_us"),
        col("id").as("t_purchase_us"))
    val out = landed
      .select(col("user_id"),
        timestamp_micros(col("t_view_us")).as("t_view"),
        timestamp_micros(col("t_click_us")).as("t_click"),
        timestamp_micros(col("t_purchase_us")).as("t_purchase"))
      .orderBy("user_id")
    // q89's pattern: materialize the per-user completions so the temp
    // landing dir + checkpoints can be removed before returning
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(out.collect(): _*)
    val res = s.createDataFrame(rows, out.schema)
    deleteTree(base)
    res.orderBy("user_id")
  }

  /** Profiling 3: per-type winsorization — clamp event values into the
    * [p05, p95] band of their type, thresholds as exact order statistics
    * (see [[graft.ops.Profile.winsorize]] for why interpolated quantiles
    * cannot appear in a hash-compared OUTPUT).
    */
  private def q98(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.winsorize(
      t(s, dir, "events").select("event_id", "event_type", "value"),
      col("event_type"), col("value"), col("event_id"))
      .select(col("event_id"), col("event_type"), col("value"), col("clamped"))
      .orderBy("event_id")

  /** Profiling 4: per-group Pearson correlation from DECIMAL-exact moment
    * sums. Spark's `corr` and DuckDB's `corr` accumulate doubles in
    * partition/scan order (non-deterministic across engines), so the
    * moments are summed exactly in decimal and the textbook formula runs
    * as the IDENTICAL double expression on both sides — every operation
    * (×, −, ÷, sqrt) is IEEE-correctly-rounded, so the result is
    * bit-identical. The shape is one aggregation; the six sums ride the
    * same shuffle.
    */
  private def q99(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    val agg = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(x.cast("decimal(28,4)")).cast("double").as("sx"),
        sum(y.cast("decimal(28,4)")).cast("double").as("sy"),
        sum((x * x).cast("decimal(28,4)")).cast("double").as("sxx"),
        sum((y * y).cast("decimal(28,4)")).cast("double").as("syy"),
        sum((x * y).cast("decimal(28,4)")).cast("double").as("sxy"))
    agg.select(col("l_returnflag"), col("n").cast("long").as("n_rows"),
      ((col("n") * col("sxy") - col("sx") * col("sy")) /
        sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
          (col("n") * col("syy") - col("sy") * col("sy")))).as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  /** Streaming 7: stream-STATIC enrichment join — the one streaming join
    * mode not yet gated: each micro-batch of purchases joins a static
    * per-user profile (batch-computed), append-mode row output. At scale
    * the static side is a broadcast or bucketed dim; no stream state is
    * kept for it (unlike stream-stream joins).
    */
  private def q100(s: SparkSession, dir: String): DataFrame = {
    val profile = t(s, dir, "events").groupBy(col("user_id"))
      .agg(count(lit(1)).as("user_events"), dsum(col("value"), 2).as("user_value"))
    val stream = Tables.stream(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"))
    val joined = stream.join(profile, "user_id")
    graft.streaming.Streaming.runToMemory(joined, "q100_mem",
      org.apache.spark.sql.streaming.OutputMode.Append)
      .select(col("event_id"), col("user_id"), col("value"),
        col("user_events"), col("user_value"))
      .orderBy("event_id")
  }

  /** Graph 2: PageRank (2 iterations, damping 0.85) over the bipartite
    * part↔supplier graph derived from lineitem — iterative graph compute
    * beyond q52's connected components. The oracle unrolls both
    * iterations in SQL with the identical decimal-summed contributions.
    */
  private def q101(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p = concat(lit("p"), col("l_partkey").cast("string"))
    val sup = concat(lit("s"), col("l_suppkey").cast("string"))
    val edges = li.select(p.as("a"), sup.as("b"))
      .union(li.select(sup.as("a"), p.as("b")))
    // output at 12 decimals: the engines' double→DECIMAL(28,18) casts can
    // tie-round differently at the 18th digit (HALF_UP vs HALF_EVEN),
    // leaving ulp-scale rank differences far below this precision
    graft.ops.Graph.pageRank(edges, col("a"), col("b"), iters = 2)
      .select(col("node"), round(col("rank"), 12).as("rank"))
      .orderBy("node")
  }

  /** Analytics: the N-stage funnel operator at 4 stages (view → click →
    * signup → purchase) — q95's shape generalized by [[graft.ops.Funnel]];
    * the oracle's CTE chain is generated by the same per-stage loop.
    */
  private def q102(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.funnel(t(s, dir, "events"), col("user_id"), col("ts"),
      col("event_type"), Seq("view", "click", "signup", "purchase"))
      .orderBy("user_id")

  // ——————————————————————————————————————————————————————— oracle helpers

  /** q23's oracle is generated: 64 bit-sum columns over md5 16-bit chunks,
    * the exact construction of [[Dedup.simhashPortable]] restated in
    * DuckDB SQL (hex→int via the '0x' cast; bit j of chunk j/16).
    */
  /** Shared CTE chain computing the portable simhash chunk values s0..s3
    * per doc (used by the q23 and q54 oracles).
    */
  private val simhashCtes: String = {
    val chunkDefs = (0 until 4).map(k =>
      s"('0x'||substring(md5(tok),${k * 4 + 1},4))::INT AS c$k").mkString(", ")
    val bitDefs = (0 until 64).map(j =>
      s"sum(CASE WHEN (c${j / 16} >> ${j % 16}) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(", ")
    val chunkVals = (0 until 4).map { k =>
      "CAST(" + (0 until 16).map(b =>
        s"(CASE WHEN b${k * 16 + b} > 0 THEN ${1 << b} ELSE 0 END)")
        .mkString(" + ") + s" AS INTEGER) AS s$k"
    }.mkString(", ")
    s"""tok AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
        FROM documents),
      ch AS (SELECT doc_id, $chunkDefs FROM tok),
      sums AS (SELECT doc_id, $bitDefs FROM ch GROUP BY doc_id),
      vals AS (SELECT doc_id, $chunkVals FROM sums)"""
  }

  private val q23Oracle: String = s"""
      WITH $simhashCtes
      SELECT doc_id, s0, s1, s2, s3,
        printf('%04x%04x%04x%04x', s0, s1, s2, s3) AS simhash
      FROM vals ORDER BY doc_id"""

  private val q54Oracle: String = {
    val ham = (0 until 4).map(k => s"bit_count(xor(a.s$k, b.s$k))").mkString(" + ")
    s"""
      WITH $simhashCtes,
      banded AS (
        SELECT doc_id, r.ci,
          CASE r.ci WHEN 0 THEN s0 WHEN 1 THEN s1 WHEN 2 THEN s2 ELSE s3 END AS cv
        FROM vals, range(0, 4) r(ci)),
      cand AS (
        SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM banded x JOIN banded y
          ON x.ci = y.ci AND x.cv = y.cv AND x.doc_id < y.doc_id),
      scored AS (
        SELECT id_a, id_b, CAST($ham AS BIGINT) AS hamming
        FROM cand JOIN vals a ON id_a = a.doc_id JOIN vals b ON id_b = b.doc_id)
      SELECT id_a, id_b, hamming FROM scored
      WHERE hamming <= 3 ORDER BY id_a, id_b"""
  }

  /** q74's oracle: the simhash CTE chain split into batch (src18) and
    * corpus sides, banded candidate join, Hamming verify, best match per
    * batch doc, left-joined back so clean docs appear with -1 / false.
    */
  private val q74Oracle: String = {
    val ham = (0 until 4).map(k => s"bit_count(xor(a.s$k, b.s$k))").mkString(" + ")
    def bandCte(src: String) =
      s"""SELECT doc_id, r.ci,
          CASE r.ci WHEN 0 THEN s0 WHEN 1 THEN s1 WHEN 2 THEN s2 ELSE s3 END AS cv
        FROM $src, range(0, 4) r(ci)"""
    s"""
      WITH $simhashCtes,
      nv AS (SELECT v.* FROM vals v JOIN documents d USING (doc_id)
             WHERE d.source = 'src18'),
      cw AS (SELECT v.* FROM vals v JOIN documents d USING (doc_id)
             WHERE d.source <> 'src18'),
      bn AS (${bandCte("nv")}),
      bc AS (${bandCte("cw")}),
      cand AS (
        SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS corpus_id
        FROM bn x JOIN bc y ON x.ci = y.ci AND x.cv = y.cv),
      scored AS (
        SELECT new_id, corpus_id, CAST($ham AS BIGINT) AS hamming
        FROM cand JOIN nv a ON new_id = a.doc_id JOIN cw b ON corpus_id = b.doc_id),
      best AS (
        SELECT new_id, corpus_id, hamming,
          row_number() OVER (PARTITION BY new_id ORDER BY hamming, corpus_id) AS rn
        FROM scored WHERE hamming <= 3)
      SELECT d.doc_id AS new_id,
        coalesce(b.corpus_id, -1) AS match_id,
        coalesce(b.hamming, -1) AS hamming,
        b.corpus_id IS NOT NULL AS is_dup
      FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
        ON d.doc_id = b.new_id
      WHERE d.source = 'src18'
      ORDER BY new_id"""
  }

  /** q90's oracle: the Z-value bit-interleave restated term-by-term in
    * DuckDB's integer bit operators — generated by the same (column, bit)
    * loop as [[graft.ops.Layout.zValue]] so the two constructions cannot
    * drift apart silently.
    */
  private val q90Oracle: String = {
    def lane(cn: String, ci: Int) = (0 until 16).map(b =>
      s"(((least($cn, 65535) >> $b) & 1) << ${b * 2 + ci})").mkString(" | ")
    s"""
      SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        CAST(${lane("l_partkey", 0)} | ${lane("l_suppkey", 1)} AS BIGINT) AS zvalue
      FROM lineitem WHERE l_partkey % 50 = 0
      ORDER BY l_orderkey, l_linenumber"""
  }

  /** Shared by q95 (batch) and q97 (streaming): one funnel semantics, two
    * execution models, one oracle.
    */
  /** The q52 near-dup-component pipeline as a reusable CTE prefix (through
    * `comp(id, component)`): minhash-banded candidates, exact-Jaccard
    * verify, recursive-CTE connected components. q52 selects it directly;
    * q110 joins it as the split-group map.
    */
  private val q52CompCte: String = """
      WITH RECURSIVE toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
          for i in range(1, len(tk) - 1)]) AS s
        FROM toks WHERE len(tk) >= 3),
      sig AS (
        SELECT doc_id, s,
          flatten([[list_min([md5(CAST(sd AS VARCHAR) || '|' || x)[j*4+1 : j*4+4]
            for x in s]) for j in range(0, 8)] for sd in range(0, 2)]) AS sg
        FROM sh),
      banded AS (
        SELECT doc_id, s, band,
          md5(array_to_string(sg[band*4+1:band*4+4], '|')) AS bucket
        FROM sig, range(0, 4) r(band)),
      cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          first(a.s) AS sa, first(b.s) AS sb
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
      edges AS (
        SELECT id_a, id_b FROM cand
        WHERE CAST(len(list_intersect(sa, sb)) AS DOUBLE) /
              CAST(len(list_distinct(list_concat(sa, sb))) AS DOUBLE) >= 0.5),
      sym AS (
        SELECT id_a AS s, id_b AS d FROM edges
        UNION ALL SELECT id_b, id_a FROM edges),
      reach(id, r) AS (
        SELECT DISTINCT s, s FROM sym
        UNION
        SELECT reach.id, sym.d FROM reach JOIN sym ON reach.r = sym.s),
      comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)"""

  /** Unrolled k-core peel over q137/q159's kNN graph: `rounds` fixed
    * peel iterations (each = degrees among the live set, keep ≥ k), which
    * equals the engine's early-stopping fixpoint because peel rounds past
    * convergence are the identity — the q52/q138 unroll-vs-early-stop
    * gate device. `rounds` must be ≥ the engine's `maxRounds` cap (the
    * engine THROWS if the peel hasn't converged by then, failing the
    * gate loudly rather than silently diverging from this unroll).
    */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    // every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and an
    // unrolled peel references each round's live set twice — inlining
    // would re-evaluate the whole chain 2^rounds times (found as an
    // "out of file handles" blowup at 16 rounds)
    val sb = new StringBuilder
    sb.append("""
      WITH und AS MATERIALIZED (
        SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a,
          greatest(a.l_partkey, b.l_partkey) AS b
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      live0 AS MATERIALIZED (
        SELECT a AS node FROM und UNION SELECT b FROM und)""")
    for (i <- 1 to rounds) {
      sb.append(s""",
      deg$i AS (
        SELECT node, count(*) AS d FROM (
          SELECT e.a AS node FROM und e
            JOIN live${i - 1} x ON e.a = x.node
            JOIN live${i - 1} y ON e.b = y.node
          UNION ALL
          SELECT e.b FROM und e
            JOIN live${i - 1} x ON e.a = x.node
            JOIN live${i - 1} y ON e.b = y.node)
        GROUP BY 1),
      live$i AS MATERIALIZED (SELECT node FROM deg$i WHERE d >= $k)""")
    }
    sb.append(s"""
      SELECT node, CAST(d AS BIGINT) AS core_degree FROM (
        SELECT node, count(*) AS d FROM (
          SELECT e.a AS node FROM und e
            JOIN live$rounds x ON e.a = x.node
            JOIN live$rounds y ON e.b = y.node
          UNION ALL
          SELECT e.b FROM und e
            JOIN live$rounds x ON e.a = x.node
            JOIN live$rounds y ON e.b = y.node)
        GROUP BY 1)
      ORDER BY node""")
    sb.toString
  }

  /** Shared by q66 (direct posting join) and q109 (bloom-prefiltered):
    * both must produce this exact frame.
    */
  private val q66Oracle: String = """
      WITH toks AS (
        SELECT doc_id, source, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        FROM documents),
      sh AS (
        SELECT doc_id, source, unnest(list_distinct([array_to_string(tk[i:i+2], ' ')
          for i in range(1, len(tk) - 1)])) AS s
        FROM toks WHERE len(tk) >= 3),
      ov AS (
        SELECT c.doc_id AS doc_id, b.doc_id AS bench_id, count(*) AS n_shared
        FROM sh c JOIN sh b ON c.s = b.s
        WHERE c.source != 'src0' AND b.source = 'src0'
        GROUP BY 1, 2)
      SELECT doc_id, bench_id, n_shared FROM ov
      QUALIFY row_number() OVER (PARTITION BY doc_id
        ORDER BY n_shared DESC, bench_id) = 1 AND n_shared >= 3
      ORDER BY doc_id"""

  private val eventsIdentityOracle: String = """
      SELECT event_id, user_id, event_type, value FROM events
      ORDER BY event_id"""

  private val funnelOracle: String = """
      WITH v AS (
        SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY 1),
      c AS (
        SELECT e.user_id, v.t_view, min(CAST(e.ts AS TIMESTAMP)) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.t_view
        GROUP BY 1, 2)
      SELECT e.user_id AS user_id, c.t_view, c.t_click,
        min(CAST(e.ts AS TIMESTAMP)) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.t_click
      GROUP BY 1, 2, 3 ORDER BY 1"""

  /** Shared by batch q128 and streaming q136: each event belongs to the
    * two hour-aligned 2-hour windows covering it.
    */
  private val slidingWindowOracle: String = """
      WITH ev AS (
        SELECT unnest([date_trunc('hour', ts),
            date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS wstart,
          event_type, value
        FROM events)
      SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
        event_type, count(*) AS n_events,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM ev GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Shared by q32 (hand-rolled lag/sum sessionization) and q140 (Spark's
    * native `session_window`): the per-user session rollup.
    */
  private val sessionizeOracle: String = """
      WITH g AS (
        SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
          lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
            (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_us
        FROM events),
      m AS (
        SELECT user_id, event_id, us,
          CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
            THEN 1 ELSE 0 END AS is_new
        FROM g),
      sess AS (
        SELECT user_id,
          sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM m),
      per_sess AS (
        SELECT user_id, session_id, count(*) AS session_events
        FROM sess GROUP BY user_id, session_id)
      SELECT user_id, count(*) AS n_sessions,
        CAST(sum(session_events) AS BIGINT) AS n_events,
        max(session_events) AS max_session_events
      FROM per_sess GROUP BY user_id ORDER BY user_id"""

  /** Shared by q137 (full k-NN graph build) and q142 (incremental
    * maintenance): the full-recompute top-3 neighbor graph — q142's gate
    * IS the merge law.
    */
  /** Shared by q147 (batch drift) and q150 (streamed sufficient
    * statistics): the triangular-discrimination drift statistic —
    * q150's gate pins streamed == batch.
    */
  /** Shared by q152 (batch skew report) and q158 (streamed): the streamed
    * path lands the identical integer counts frame, so both must produce
    * this exact report.
    */
  private val skewOracle: String = """
      WITH counts AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
        FROM events GROUP BY 1),
      tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS t FROM counts)
      SELECT CAST(row_number() OVER w AS BIGINT) AS rank, user_id, n_rows,
        round(CAST(n_rows AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share
      FROM counts CROSS JOIN tot
      WINDOW w AS (ORDER BY n_rows DESC, CAST(user_id AS VARCHAR))
      QUALIFY rank <= 5 ORDER BY rank"""

  private val driftOracle: String = """
      WITH binned AS (
        SELECT event_type AS g,
          least(greatest(CAST(floor(value / 25.0) AS BIGINT), 0), 19) AS bin,
          CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS cur
        FROM events WHERE value IS NOT NULL),
      hist AS (
        SELECT g, bin,
          CAST(sum(CASE WHEN cur = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
          CAST(sum(CASE WHEN cur = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
        FROM binned GROUP BY 1, 2),
      tot AS (
        SELECT g, CAST(sum(na) AS BIGINT) AS ntot_a,
          CAST(sum(nb) AS BIGINT) AS ntot_b
        FROM hist GROUP BY 1),
      props AS (
        SELECT h.g, h.na, h.nb, t.ntot_a, t.ntot_b,
          CAST(h.na AS DOUBLE) / CAST(t.ntot_a AS DOUBLE) AS p,
          CAST(h.nb AS DOUBLE) / CAST(t.ntot_b AS DOUBLE) AS q
        FROM hist h JOIN tot t ON h.g = t.g
        WHERE t.ntot_a > 0 AND t.ntot_b > 0),
      terms AS (
        SELECT g, ntot_a, ntot_b,
          CASE WHEN na + nb > 0
            THEN (p - q) * (p - q) / (p + q) ELSE 0.0 END AS term
        FROM props)
      SELECT g AS event_type, CAST(count(*) AS BIGINT) AS n_bins,
        max(ntot_a) AS n_ref, max(ntot_b) AS n_cur,
        round(CAST(sum(CAST(round(term, 12) AS DECIMAL(28,14))) AS DOUBLE),
          6) AS drift
      FROM terms GROUP BY g ORDER BY event_type"""

  private val knnGraphOracle: String = """
      WITH p AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
          list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
            CAST(b.embedding AS DOUBLE[])) AS cos
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id),
      sym AS (
        SELECT ia AS node, ib AS nbr, cos FROM p
        UNION ALL
        SELECT ib AS node, ia AS nbr, cos FROM p)
      SELECT node, CAST(row_number() OVER w AS BIGINT) AS rank, nbr,
        round(cos, 4) AS cosine
      FROM sym
      WINDOW w AS (PARTITION BY node ORDER BY round(cos, 6) DESC, nbr)
      QUALIFY rank <= 3 ORDER BY node, rank"""

  /** q138's oracle: both label-propagation rounds unrolled from ONE
    * generated CTE so the rounds cannot drift from each other or from
    * [[graft.ops.Graph.labelPropagation]]'s per-round construction —
    * the same pattern as the PageRank oracles.
    */
  /** Cluster-blocked kNN truth over the SQL-derived clustered vectors —
    * q211's oracle, shared VERBATIM by q214 (the incremental bounded-
    * block run must converge to the same graph).
    */
  private val q211Oracle: String = """
      WITH c AS (
        SELECT greatest(10, least(128, count(*) // 200)) AS nc
        FROM embeddings),
      cl AS (
        SELECT vec_id, vec_id % nc AS clabel,
          [(CASE WHEN i = (vec_id % nc) % 64
              THEN (CASE WHEN ((vec_id % nc) // 64) % 2 = 0
                THEN 1.0 ELSE -1.0 END)
              ELSE 0.0 END)
             + 0.35 * CAST(embedding[i+1] AS DOUBLE)
           for i in range(0, 64)] AS cvec
        FROM embeddings CROSS JOIN c),
      p AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
          list_cosine_similarity(a.cvec, b.cvec) AS cos
        FROM cl a JOIN cl b ON a.clabel = b.clabel AND a.vec_id < b.vec_id),
      sym AS (
        SELECT ia AS node, ib AS nbr, cos FROM p
        UNION ALL
        SELECT ib AS node, ia AS nbr, cos FROM p)
      SELECT node, CAST(row_number() OVER w AS BIGINT) AS rank, nbr,
        round(cos, 4) + 0.0 AS cosine
      FROM sym
      WINDOW w AS (PARTITION BY node ORDER BY round(cos, 6) DESC, nbr)
      QUALIFY rank <= 3 ORDER BY node, rank"""

  /** Shared retrieval-evaluation chain (q146 recall/MRR, q213 AP/NDCG):
    * brute-force truth, per-label IVF cells, nprobe-1 retrieval, and the
    * rank-ordered `marked` relevance frame.
    */
  private val q146Cte: String = """
      WITH truth AS (
        SELECT query_id, item_id FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS item_id,
            list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
              CAST(c.embedding AS DOUBLE[])) AS cos
          FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
          WHERE q.vec_id < 10)
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY round(cos, 6) DESC, item_id) <= 5),
      cent AS (
        SELECT label AS cell, embedding AS cvec FROM embeddings
        QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) = 1),
      assign AS (
        SELECT e.vec_id AS item_id, e.embedding AS vec, c.cell
        FROM embeddings e CROSS JOIN cent c
        QUALIFY row_number() OVER (PARTITION BY e.vec_id
          ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
            CAST(c.cvec AS DOUBLE[])), 6) DESC, c.cell) = 1),
      q AS (SELECT item_id AS query_id, vec AS qvec, cell
            FROM assign WHERE item_id < 10),
      scored AS (
        SELECT q.query_id, a.item_id,
          list_cosine_similarity(CAST(q.qvec AS DOUBLE[]),
            CAST(a.vec AS DOUBLE[])) AS cos
        FROM assign a JOIN q ON a.cell = q.cell AND a.item_id != q.query_id),
      approx AS (
        SELECT query_id, item_id,
          CAST(row_number() OVER w AS BIGINT) AS rank
        FROM scored
        WINDOW w AS (PARTITION BY query_id ORDER BY round(cos, 6) DESC,
          item_id)
        QUALIFY rank <= 5),
      marked AS (
        SELECT a.query_id, a.rank,
          CASE WHEN t.item_id IS NOT NULL THEN 1 ELSE 0 END AS rel
        FROM approx a LEFT JOIN truth t
          ON a.query_id = t.query_id AND a.item_id = t.item_id)"""

  private val q138Oracle: String = {
    def lpaRound(prev: String, out: String) =
      s"""v_$out AS (
        SELECT e.dst AS node, l.label, count(*) AS c
        FROM $prev l JOIN e ON l.node = e.src GROUP BY 1, 2),
      p_$out AS (
        SELECT node, label FROM v_$out
        QUALIFY row_number() OVER (PARTITION BY node
          ORDER BY c DESC, label) = 1),
      $out AS (
        SELECT n.node, coalesce(p.label, n.label) AS label
        FROM $prev n LEFT JOIN p_$out p ON n.node = p.node)"""
    s"""
      WITH e AS (
        SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src,
          's' || CAST(l_suppkey AS VARCHAR) AS dst FROM lineitem
        UNION
        SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR),
          'p' || CAST(l_partkey AS VARCHAR) FROM lineitem),
      nodes AS (
        SELECT DISTINCT src AS node FROM e
        UNION SELECT DISTINCT dst FROM e),
      r0 AS (SELECT node, node AS label FROM nodes),
      ${lpaRound("r0", "r1")},
      ${lpaRound("r1", "r2")}
      SELECT node, label FROM r2 ORDER BY node"""
  }

  /** q101's oracle: both PageRank iterations unrolled, the iteration CTE
    * generated once so the two rounds cannot drift from each other (or
    * from [[graft.ops.Graph.pageRank]]'s per-round construction).
    */
  private val q121Oracle: String = {
    def iter(prev: String, out: String) =
      s"""c_$out AS (
        SELECT e.dst AS node,
          CAST(CAST(sum(CAST(r.rank / od.outdeg AS DECIMAL(28,18))) AS VARCHAR) AS DOUBLE) AS m
        FROM $prev r JOIN od ON r.node = od.node JOIN e ON r.node = e.src
        GROUP BY 1),
      d_$out AS (
        SELECT CAST(CAST(coalesce(sum(CAST(r.rank AS DECIMAL(28,18))),
          CAST(0 AS DECIMAL(28,18))) AS VARCHAR) AS DOUBLE) AS dm
        FROM $prev r LEFT JOIN od ON r.node = od.node WHERE od.node IS NULL),
      $out AS (
        SELECT pv.node,
          (1.0 - 0.85) * pv.p + 0.85 * (coalesce(c.m, 0.0) + d_$out.dm * pv.p) AS rank
        FROM pvec pv CROSS JOIN d_$out LEFT JOIN c_$out c ON pv.node = c.node)"""
    s"""
      WITH e AS (
        SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src,
          's' || CAST(l_suppkey AS VARCHAR) AS dst FROM lineitem
        UNION
        SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR),
          'p' || CAST(l_partkey AS VARCHAR) FROM lineitem),
      sd AS (SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR) AS node
             FROM supplier WHERE s_suppkey <= 3),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e
                UNION SELECT node FROM sd),
      ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM sd),
      od AS (SELECT src AS node, CAST(count(*) AS DOUBLE) AS outdeg
             FROM e GROUP BY 1),
      pvec AS (
        SELECT nodes.node,
          CASE WHEN sd.node IS NOT NULL THEN 1.0 / ns.n ELSE 0.0 END AS p
        FROM nodes CROSS JOIN ns LEFT JOIN sd ON nodes.node = sd.node),
      r0 AS (SELECT node, p AS rank FROM pvec),
      ${iter("r0", "r1")},
      ${iter("r1", "r2")}
      SELECT node, round(rank, 12) AS rank FROM r2 ORDER BY node"""
  }

  private val q101Oracle: String = {
    def iter(prev: String, out: String) =
      s"""c_$out AS (
        SELECT e.dst AS node,
          -- VARCHAR hop: correctly-rounded decimal->double (the scaled
          -- (28,18) sum exceeds 53 bits; see q99's oracle note)
          CAST(CAST(sum(CAST(r.rank / od.outdeg AS DECIMAL(28,18))) AS VARCHAR) AS DOUBLE) AS m
        FROM $prev r JOIN od ON r.node = od.node JOIN e ON r.node = e.src
        GROUP BY 1),
      $out AS (
        SELECT nodes.node,
          (1.0 - 0.85) / nd.n + 0.85 * coalesce(c.m, 0.0) AS rank
        FROM nodes CROSS JOIN nd LEFT JOIN c_$out c ON nodes.node = c.node)"""
    s"""
      WITH e AS (
        SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src,
          's' || CAST(l_suppkey AS VARCHAR) AS dst FROM lineitem
        UNION
        SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR),
          'p' || CAST(l_partkey AS VARCHAR) FROM lineitem),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      od AS (SELECT src AS node, CAST(count(*) AS DOUBLE) AS outdeg
             FROM e GROUP BY 1),
      r0 AS (SELECT node, 1.0 / nd.n AS rank FROM nodes CROSS JOIN nd),
      ${iter("r0", "r1")},
      ${iter("r1", "r2")}
      SELECT node, round(rank, 12) AS rank FROM r2 ORDER BY node"""
  }

  /** q193/q194/q195's oracles as vals — q200's composition gate embeds
    * each verbatim as a subquery.
    */
  private val q193Oracle: String = raw"""
      WITH f AS (
        SELECT doc_id, lang,
          CAST(len(tk) AS DOUBLE) AS nt,
          CAST(len(list_distinct(tk)) AS DOUBLE) AS nd,
          CAST(len(text) AS DOUBLE) AS chars,
          CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
            AS alpha
        FROM (SELECT doc_id, lang, text,
          regexp_split_to_array(trim(lower(text)), '\s+') AS tk
          FROM documents)),
      scored AS (
        SELECT doc_id, lang = 'en' AS p, round(least(greatest(
          0.4 * least(nt / 50.0, 1.0) +
          0.3 * coalesce(nd / nullif(nt, 0.0), 0.0) +
          0.3 * coalesce(alpha / nullif(chars, 0.0), 0.0), 0.0), 1.0), 6)
          AS s
        FROM f),
      binned AS (
        SELECT CAST(ntile(10) OVER (ORDER BY s ASC, doc_id ASC) AS BIGINT)
          AS bin, s, p
        FROM scored)
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
        round(CAST(sum(CAST(round(s, 9) AS DECIMAL(28,12))) AS DOUBLE) /
          CAST(count(*) AS DOUBLE), 6) AS mean_score,
        round(CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS DOUBLE) /
          CAST(count(*) AS DOUBLE), 6) AS pos_rate
      FROM binned GROUP BY bin ORDER BY bin"""

  /** q264/q265's oracle: replicate weights from the SAME injected
    * Poisson inverse-CDF thresholds the engine compares against, then
    * the weighted tied-rank AUC per replicate via window sums (oracle-
    * side single partition is fine; the ENGINE rides the banded prefix
    * device). The summary form folds the replicate frame to
    * (n_reps, mean, lo, hi) with the identical decimal-mean arithmetic.
    */
  private def bootstrapAucOracle(withSummary: Boolean): String = {
    val cases = graft.ops.Sampling.poissonBounds(8)
      .map(t => s"(CASE WHEN h >= $t THEN 1 ELSE 0 END)").mkString(" + ")
    val perRep = s"""
      WITH reps AS (SELECT CAST(t.i AS INT) AS rep FROM range(16) t(i)),
      b AS (
        SELECT r.rep, CAST(d.n_chars % 97 AS INT) AS s,
          (d.lang = 'en') AS p,
          ${hashPosSql("'boot' || CAST(r.rep AS VARCHAR)",
            "CAST(d.doc_id AS VARCHAR)")} AS h
        FROM documents d CROSS JOIN reps r),
      w AS (SELECT rep, s, p, ($cases) AS w FROM b),
      per AS (
        SELECT rep, s, CAST(sum(w) AS BIGINT) AS n,
          CAST(sum(CASE WHEN p THEN w ELSE 0 END) AS BIGINT) AS np
        FROM w GROUP BY 1, 2 HAVING sum(w) > 0),
      cum AS (
        SELECT rep, n, np,
          sum(n) OVER (PARTITION BY rep ORDER BY s) - n AS below
        FROM per),
      ag AS (
        SELECT rep, CAST(sum(np) AS BIGINT) AS n_pos,
          CAST(sum(n - np) AS BIGINT) AS n_neg,
          sum(CAST(np AS DECIMAL(38,0)) *
            (CAST(2 * below + n + 1 AS DECIMAL(38,1)) / 2)) AS sr
        FROM cum GROUP BY 1),
      rr AS (
        SELECT rep, n_pos, n_neg,
          CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
            ELSE round((CAST(sr AS DOUBLE) -
              CAST(n_pos * (n_pos + 1) AS DOUBLE) / 2.0) /
              CAST(n_pos * n_neg AS DOUBLE), 6) END AS auc
        FROM ag)"""
    if (!withSummary) s"$perRep SELECT rep, n_pos, n_neg, auc FROM rr ORDER BY rep"
    else s"""$perRep,
      nn AS (SELECT rep, auc FROM rr WHERE auc IS NOT NULL)
      SELECT CAST(count(*) AS BIGINT) AS n_reps,
        round(CAST(sum(CAST(auc AS DECIMAL(28,12))) AS DOUBLE) /
          CAST(count(*) AS DOUBLE), 6) AS mean_auc,
        min(auc) AS lo_auc, max(auc) AS hi_auc
      FROM nn"""
  }

  /** The shared q263/q270/q272 pair derivation: md5 grid cells, planted
    * one-cell variants, gradient-sign bits, 8-bit row bands joined
    * pairwise to 16-bit pigeonhole bands, the band equi-join, and the
    * XOR popcount distance. Ends with `ham` (id_a, id_b, hamming). One
    * definition so the batch pairs, the dedup groups, and the streamed
    * log cannot drift.
    */
  private val dhashPairsCte: String = """cells0 AS (
        SELECT d.doc_id, t.i,
          ('0x' || substring(md5(d.text || '|g' || CAST(t.i AS VARCHAR)),
            1, 2))::BIGINT AS v
        FROM documents d, range(72) t(i)
        WHERE d.text IS NOT NULL),
      vcells AS (
        SELECT c0.doc_id + 4611686018427387904 AS doc_id, c0.i,
          CASE WHEN c0.i = c0.doc_id % 72 THEN (c0.v + 7) % 256
               ELSE c0.v END AS v
        FROM cells0 c0 WHERE c0.doc_id % 17 = 0),
      cells AS (
        SELECT doc_id, i, v FROM cells0
        UNION ALL SELECT doc_id, i, v FROM vcells),
      bits AS (
        SELECT a.doc_id, a.i // 9 AS r, a.i % 9 AS c,
          CASE WHEN a.v > b.v THEN 1 ELSE 0 END AS bit
        FROM cells a JOIN cells b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        WHERE a.i % 9 < 8),
      bands AS (
        SELECT doc_id, r, CAST(sum(bit * (1::BIGINT << c)) AS BIGINT) AS band
        FROM bits GROUP BY 1, 2),
      b16 AS (
        SELECT doc_id, r // 2 AS j,
          CAST(sum(band * (CASE WHEN r % 2 = 0 THEN 1 ELSE 256 END))
            AS BIGINT) AS bv
        FROM bands GROUP BY 1, 2),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM b16 a JOIN b16 b
          ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id),
      ham AS (
        SELECT c.id_a, c.id_b,
          CAST(sum(bit_count(xor(x.bv, y.bv))) AS INT) AS hamming
        FROM cand c
        JOIN b16 x ON x.doc_id = c.id_a
        JOIN b16 y ON y.doc_id = c.id_b AND y.j = x.j
        GROUP BY 1, 2)"""

  /** q276's oracle: the Bradley–Terry fit unrolled — per round, the
    * SAME Elliott-sigmoid (1−p) terms from the current score frame,
    * signed per side, decimal-summed per item, update rounded at 12.
    */
  private val q276PairsSql: String = """
        SELECT winner AS w, loser AS l FROM (
          SELECT CASE WHEN l_quantity > 25 THEN a ELSE b END AS winner,
                 CASE WHEN l_quantity > 25 THEN b ELSE a END AS loser
          FROM (
            SELECT 'i' || CAST(l_partkey % 20 AS VARCHAR) AS a,
                   'i' || CAST(l_suppkey % 20 AS VARCHAR) AS b,
                   l_quantity
            FROM lineitem))
        WHERE winner <> loser"""

  /** q286's duel log: 4 md5-drawn duels per lineitem row over a 20k
    * item space, winner = higher quality q(item) = item % 997 (ties to
    * the smaller id) — ≥ 10⁴ distinct items at every SF, the
    * cardinality where the score frame stops broadcasting.
    */
  private val q286PairsSql: String = """
        SELECT 'i' || CAST(CASE WHEN ia % 997 > ib % 997 THEN ia
            WHEN ib % 997 > ia % 997 THEN ib
            ELSE least(ia, ib) END AS VARCHAR) AS w,
          'i' || CAST(CASE WHEN ia % 997 > ib % 997 THEN ib
            WHEN ib % 997 > ia % 997 THEN ia
            ELSE greatest(ia, ib) END AS VARCHAR) AS l
        FROM (
          SELECT
            ('0x' || substring(md5('bta|' || pid || '|' ||
              CAST(k AS VARCHAR)), 1, 8))::BIGINT % 20000 AS ia,
            ('0x' || substring(md5('btb|' || pid || '|' ||
              CAST(k AS VARCHAR)), 1, 8))::BIGINT % 20000 AS ib
          FROM (
            SELECT CAST(l_orderkey AS VARCHAR) || '-' ||
              CAST(l_linenumber AS VARCHAR) AS pid
            FROM lineitem), (SELECT unnest(range(4)) AS k))
        WHERE ia <> ib"""

  private def bradleyTerryOracle(iters: Int,
                                 pairsSql: String = q276PairsSql): String = {
    def oneMinusP(sw: String, sl: String) =
      s"1.0 - 0.5 * (1.0 + ($sw - $sl) / (1.0 + abs($sw - $sl)))"
    val base = s"""pl AS MATERIALIZED ($pairsSql),
      tal AS MATERIALIZED (
        SELECT item, CAST(sum(win) AS BIGINT) AS n_wins,
          CAST(sum(1 - win) AS BIGINT) AS n_losses
        FROM (SELECT w AS item, 1 AS win FROM pl
              UNION ALL SELECT l, 0 FROM pl)
        GROUP BY 1),
      s0 AS (SELECT item, CAST(0.0 AS DOUBLE) AS score FROM tal)"""
    val rounds = (0 until iters).map { k =>
      s"""g$k AS MATERIALIZED (
        SELECT item, CAST(sum(gc) AS DOUBLE) AS grad FROM (
          SELECT p.w AS item,
            CAST(${oneMinusP("sw.score", "sl.score")} AS DECIMAL(28,18))
              AS gc
          FROM pl p JOIN s$k sw ON p.w = sw.item
            JOIN s$k sl ON p.l = sl.item
          UNION ALL
          SELECT p.l,
            -CAST(${oneMinusP("sw.score", "sl.score")} AS DECIMAL(28,18))
          FROM pl p JOIN s$k sw ON p.w = sw.item
            JOIN s$k sl ON p.l = sl.item)
        GROUP BY 1),
      s${k + 1} AS MATERIALIZED (
        SELECT s.item,
          CASE WHEN g.grad IS NULL THEN s.score
            ELSE round(s.score + 0.5 * g.grad /
              CAST(t.n_wins + t.n_losses AS DOUBLE), 12) END AS score
        FROM s$k s LEFT JOIN g$k g ON s.item = g.item
          JOIN tal t ON s.item = t.item)"""
    }
    s"""WITH ${(base +: rounds).mkString(",\n      ")}
      SELECT s.item, s.score, t.n_wins, t.n_losses
      FROM s$iters s JOIN tal t ON s.item = t.item ORDER BY s.item"""
  }

  /** q266/q282's oracle: the WHOLE BPE trainer unrolled as CTE blocks,
    * one per iteration — per round: list_zip adjacent pairs over the
    * spaced vocab, integer-weighted counts, deterministic argmax (count
    * desc, left, right), then the literal spaced replace whose
    * left-to-right non-overlapping scan IS greedy merge application.
    * Lands on the identical merge table or the hash gate fails. A DRY
    * round is structurally correct: its `b` block is empty, so the
    * replacement cross join empties the vocab and every later round
    * contributes zero output rows — exactly the engine's early stop.
    * The oracle replays the pre-round-8 FULL-RECOUNT semantics; the
    * engine's incremental pair-delta trainer must land bit-identically
    * on it, which is what makes the q282 gate meaningful.
    *
    * `wordsSql` yields (word, cnt) — defaults to the documents word
    * count; q282 passes the md5-derived vocabulary (richer pair
    * structure, so 256 merges exist at every SF).
    */
  /** The 8-term exact-decimal squared-L2 sum matching
    * [[Similarity]]'s `l2sqDec` fold: decimal addition is associative
    * and these terms (round-9 squares) can never overflow the scale,
    * so the SQL's left-to-right `+` chain equals Spark's array fold
    * exactly. `a`/`b` are 1-based DOUBLE[] expressions of length dsub.
    */
  private def pqL2Sql(a: String, b: String, dsub: Int): String =
    (1 to dsub).map(i =>
      s"CAST(round(($a[$i]-$b[$i])*($a[$i]-$b[$i]),9) AS DECIMAL(28,12))")
      .mkString(" +\n          ")

  /** Shared PQ-training CTE block for the q290/q291 oracles — replays
    * [[Similarity.pqTrain]] (m contiguous subspaces, 1 Lloyd round from
    * the min-id-per-label seeds) verbatim: seed books → exact-decimal
    * argmin assignment (ties to the smaller cell) → per-dim decimal
    * means → rebuilt books → final codes. Multiply-referenced CTEs are
    * MATERIALIZED (DuckDB's default inlining re-expands them
    * exponentially — round-8 lesson from the deep-BPE oracles).
    */
  private def pqTrainCtes(m: Int, dsub: Int,
                          src: String = "embeddings"): String = s"""
      subsrange AS (
        SELECT CAST(unnest(generate_series(0, ${m - 1})) AS INTEGER) AS sub),
      subs AS MATERIALIZED (
        SELECT e.vec_id AS item_id, s.sub,
          (CAST(e.embedding AS DOUBLE[]))[s.sub*$dsub+1 : s.sub*$dsub+$dsub]
            AS subvec
        FROM $src e CROSS JOIN subsrange s),
      seeds AS (
        SELECT label AS cell, embedding AS cvec FROM $src
        QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) = 1),
      books0 AS (
        SELECT s.sub, d.cell,
          (CAST(d.cvec AS DOUBLE[]))[s.sub*$dsub+1 : s.sub*$dsub+$dsub] AS cvec
        FROM seeds d CROSS JOIN subsrange s),
      a1 AS (
        SELECT su.item_id, su.sub, b.cell,
          ${pqL2Sql("su.subvec", "b.cvec", dsub)} AS d2
        FROM subs su JOIN books0 b ON su.sub = b.sub
        QUALIFY row_number() OVER (PARTITION BY su.item_id, su.sub
          ORDER BY d2, b.cell) = 1),
      pqdims AS (
        SELECT a.sub, a.cell, generate_subscripts(su.subvec, 1) AS pos,
          unnest(su.subvec) AS val
        FROM a1 a JOIN subs su ON a.item_id = su.item_id AND a.sub = su.sub),
      perdim AS MATERIALIZED (
        SELECT sub, cell, pos,
          CAST(sum(CAST(CAST(val AS DOUBLE) AS DECIMAL(27,8))) AS DOUBLE)
            / count(*) AS avg_val
        FROM pqdims GROUP BY sub, cell, pos),
      books1 AS MATERIALIZED (
        SELECT sub, cell, list(avg_val ORDER BY pos) AS cvec
        FROM perdim GROUP BY sub, cell),
      pqcodes AS MATERIALIZED (
        SELECT su.item_id, su.sub, b.cell,
          ${pqL2Sql("su.subvec", "b.cvec", dsub)} AS d2
        FROM subs su JOIN books1 b ON su.sub = b.sub
        QUALIFY row_number() OVER (PARTITION BY su.item_id, su.sub
          ORDER BY d2, b.cell) = 1)"""

  /** SQL twin of [[fixtureHtml]] + the [[graft.ops.TextAnalysis
    * .htmlExtract]] strip pipeline — shared by the q293/q300 oracles.
    * Emits CTEs ending in `hkept` = (doc_id, vis, kept) line lists.
    */
  private def htmlExtractCtes: String = raw"""
      h AS (
        SELECT doc_id,
          '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
          '</title><style>p { margin: 0; }</style></head><body>' ||
          CASE WHEN doc_id % 2 = 0
            THEN '<nav>Home | About | Contact</nav>' ELSE '' END ||
          '<div id="main"><p>' || text || '</p>' ||
          CASE WHEN doc_id % 3 = 0
            THEN '<p>' || upper(text) || '</p>' ELSE '' END ||
          '<div>read more</div></div>' ||
          '<script>var x = 1; // | pipes in code</script>' ||
          '<footer>© example.com | Terms | Privacy</footer></body></html>'
            AS html
        FROM documents),
      s1 AS (SELECT doc_id,
        regexp_replace(html, '(?s)<script[^>]*>.*?</script>', '', 'g') AS t
        FROM h),
      s2 AS (SELECT doc_id,
        regexp_replace(t, '(?s)<style[^>]*>.*?</style>', '', 'g') AS t
        FROM s1),
      s3 AS (SELECT doc_id,
        regexp_replace(t, '<[^>]*>', chr(10), 'g') AS t FROM s2),
      vis AS (
        SELECT doc_id,
          list_filter(list_transform(string_split(t, chr(10)),
            x -> trim(x)), x -> x <> '') AS vis
        FROM s3),
      hkept AS (
        SELECT doc_id, vis,
          list_filter(vis, x -> NOT contains(x, '|')
            AND NOT contains(x, '©')
            AND len(regexp_split_to_array(x, '\s+')) >= 5) AS kept
        FROM vis)"""

  private def bpeMergesOracle(
      iters: Int,
      wordsSql: String = """
          SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
            SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+'))
              AS word
            FROM documents)
          WHERE word <> '' GROUP BY 1"""): String = {
    val (w0, rounds) = bpeTrainChain(iters, wordsSql)
    // the output union is CHUNKED through intermediate CTEs: a flat
    // 256-way UNION ALL parses as a ~4·iters-deep expression and trips
    // DuckDB's max_expression_depth at 1000; ≤64-way chunks keep every
    // statement shallow
    val sels = (0 until iters).map(i =>
      s"""SELECT $i AS ord, l AS "left", r AS "right", l || r AS merged,
        c AS pair_count FROM b$i""")
    val chunks = sels.grouped(64).toSeq
    val chunkCtes = chunks.zipWithIndex.map { case (g, j) =>
      s"""u$j AS MATERIALIZED (${g.mkString("\n      UNION ALL ")})"""
    }
    val finalSel = chunks.indices.map(j => s"SELECT * FROM u$j")
      .mkString("\n      UNION ALL ")
    s"""WITH ${((w0 +: rounds) ++ chunkCtes).mkString(",\n      ")}
      $finalSel ORDER BY ord"""
  }

  /** The unrolled training chain shared by the q266/q282/q283 oracles.
    * Every block is AS MATERIALIZED: w$i and b$i are each referenced
    * twice, and DuckDB's default CTE inlining would expand the chain
    * EXPONENTIALLY (2^iters scans of the base table — at 256 rounds it
    * exhausts file handles before it exhausts patience).
    */
  private def bpeTrainChain(iters: Int,
                            wordsSql: String): (String, Seq[String]) = {
    val w0 = raw"""w0 AS MATERIALIZED (
        SELECT '  ' || trim(regexp_replace(word, '(.)', ' \1 ', 'g'))
          || '  ' AS w, cnt AS n
        FROM ($wordsSql))"""
    val rounds = (0 until iters).map { i =>
      s"""p$i AS MATERIALIZED (
        SELECT pr[1] AS l, pr[2] AS r, CAST(sum(n) AS BIGINT) AS c
        FROM (
          SELECT n, unnest(list_zip(tl[1:len(tl)-1], tl[2:len(tl)])) AS pr
          FROM (SELECT n, string_split(trim(w), '  ') AS tl FROM w$i))
        GROUP BY 1, 2 HAVING sum(n) >= 2),
      b$i AS MATERIALIZED (
        SELECT l, r, c FROM p$i ORDER BY c DESC, l ASC, r ASC LIMIT 1),
      w${i + 1} AS MATERIALIZED (
        SELECT replace(v.w, ' ' || b.l || '  ' || b.r || ' ',
          ' ' || b.l || b.r || ' ') AS w, v.n
        FROM w$i v CROSS JOIN b$i b)"""
    }
    (w0, rounds)
  }

  /** q283's oracle: the trained-encode law — after `iters` training
    * rounds the vocab state w{iters} IS the chain-encode of every word
    * under the learned table, so the oracle reads it directly (the raw
    * word reconstructs by dropping spaces) and never needs the engine's
    * rank-loop encoder it gates.
    */
  private def bpeEncodeTrainedOracle(iters: Int, wordsSql: String): String = {
    val (w0, rounds) = bpeTrainChain(iters, wordsSql)
    s"""WITH ${(w0 +: rounds).mkString(",\n      ")},
      enc AS MATERIALIZED (
        SELECT replace(trim(w), ' ', '') AS word,
          string_split(trim(w), '  ') AS tl
        FROM w$iters)
      SELECT word, CAST(len(tl) AS INT) AS n_tokens,
        tl[1] AS first_token, tl[len(tl)] AS last_token
      FROM enc ORDER BY word"""
  }

  /** q267's oracle: the pinned merge table applied as the identical
    * nested literal-replace chain, folded per doc.
    */
  private def bpeEncodeOracle(merges: Seq[(String, String)]): String = {
    val sp = raw"'  ' || trim(regexp_replace(word, '(.)', ' \1 ', 'g')) || '  '"
    val chain = merges.foldLeft(sp) { case (acc, (l, r)) =>
      s"replace($acc, ' $l  $r ', ' $l$r ')"
    }
    s"""
      WITH words AS (
        SELECT doc_id, word FROM (
          SELECT doc_id,
            unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word
          FROM documents)
        WHERE word <> ''),
      enc AS (
        SELECT doc_id, len(word) AS wl,
          len(string_split(trim($chain), '  ')) AS nt
        FROM words)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        CAST(sum(wl) AS BIGINT) AS n_chars,
        CAST(sum(nt) AS BIGINT) AS n_tokens
      FROM enc GROUP BY 1 ORDER BY doc_id"""
  }

  private val q194Oracle: String = raw"""
      WITH f AS (
        SELECT lang,
          CAST(len(tk) AS DOUBLE) AS nt,
          CAST(len(list_distinct(tk)) AS DOUBLE) AS nd,
          CAST(len(text) AS DOUBLE) AS chars,
          CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
            AS alpha
        FROM (SELECT lang, text,
          regexp_split_to_array(trim(lower(text)), '\s+') AS tk
          FROM documents)),
      scored AS (
        SELECT lang = 'en' AS p, round(least(greatest(
          0.4 * least(nt / 50.0, 1.0) +
          0.3 * coalesce(nd / nullif(nt, 0.0), 0.0) +
          0.3 * coalesce(alpha / nullif(chars, 0.0), 0.0), 0.0), 1.0), 6)
          AS s
        FROM f),
      ranked AS (
        SELECT p,
          CAST(2 * rank() OVER (ORDER BY s ASC) +
            count(*) OVER (PARTITION BY s) - 1 AS DECIMAL(38,1)) / 2 AS ar
        FROM scored),
      agg AS (
        SELECT CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
          CAST(sum(CASE WHEN p THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
          sum(CASE WHEN p THEN ar END) AS sr
        FROM ranked)
      SELECT n_pos, n_neg,
        CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
          ELSE round((CAST(sr AS DOUBLE) -
            CAST(n_pos * (n_pos + 1) AS DOUBLE) / 2.0) /
            CAST(n_pos * n_neg AS DOUBLE), 6) END AS auc
      FROM agg"""

  /** q215's oracle: threshold-step AP at distinct-score grain — the same
    * quality-score CTE as q194, cumulative counts via ascending window
    * sums (oracle-side single partition is fine; the ENGINE is the side
    * the banded prefix sum protects), every precision term the identical
    * integer-fed IEEE tree [[graft.ops.Eval.averagePrecision]] builds.
    */
  private val q215Oracle: String = raw"""
      WITH f AS (
        SELECT lang,
          CAST(len(tk) AS DOUBLE) AS nt,
          CAST(len(list_distinct(tk)) AS DOUBLE) AS nd,
          CAST(len(text) AS DOUBLE) AS chars,
          CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
            AS alpha
        FROM (SELECT lang, text,
          regexp_split_to_array(trim(lower(text)), '\s+') AS tk
          FROM documents)),
      scored AS (
        SELECT lang = 'en' AS p, round(least(greatest(
          0.4 * least(nt / 50.0, 1.0) +
          0.3 * coalesce(nd / nullif(nt, 0.0), 0.0) +
          0.3 * coalesce(alpha / nullif(chars, 0.0), 0.0), 0.0), 1.0), 6)
          AS s
        FROM f),
      per AS (
        SELECT s, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS np
        FROM scored GROUP BY s),
      cum AS (
        SELECT s, n, np,
          sum(n) OVER (ORDER BY s) - n AS below,
          sum(np) OVER (ORDER BY s) - np AS pbelow
        FROM per),
      tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS nt,
          CAST(sum(np) AS BIGINT) AS npos
        FROM per)
      SELECT t.npos AS n_pos, t.nt - t.npos AS n_neg,
        CASE WHEN t.npos = 0 THEN NULL ELSE
          round(CAST(sum(CAST(round(CASE WHEN t.npos > 0 THEN
            (CAST(c.np AS DOUBLE) * CAST(t.npos - c.pbelow AS DOUBLE)) /
            (CAST(t.npos AS DOUBLE) * CAST(t.nt - c.below AS DOUBLE))
            ELSE 0.0 END, 9) AS DECIMAL(28,12))) AS DOUBLE), 6)
        END AS ap
      FROM cum c CROSS JOIN tot t GROUP BY t.npos, t.nt"""

  /** q216's oracle: Brier in pure decimal off the scored CTE; ECE embeds
    * q193's reliability-bin oracle VERBATIM as a subquery (the q134
    * zero-duplication device) and folds it round-9 → decimal. The Brier
    * sum hops through VARCHAR (its scaled DECIMAL(38,18) exceeds 2^53;
    * see the q99 caveat on [[dsum]]).
    */
  private def q216Oracle: String = raw"""
      SELECT b.n,
        round(CAST(CAST(b.bsum AS VARCHAR) AS DOUBLE) /
          CAST(b.n AS DOUBLE), 6) AS brier,
        round(CAST(e.esum AS DOUBLE) / CAST(b.n AS DOUBLE), 6) AS ece
      FROM (
        SELECT CAST(count(*) AS BIGINT) AS n,
          sum(CAST((CAST(round(s, 9) AS DECIMAL(10,9)) -
                CAST(CASE WHEN p THEN 1 ELSE 0 END AS DECIMAL(10,9))) *
              (CAST(round(s, 9) AS DECIMAL(10,9)) -
                CAST(CASE WHEN p THEN 1 ELSE 0 END AS DECIMAL(10,9)))
              AS DECIMAL(28,18))) AS bsum
        FROM (
          WITH f AS (
            SELECT lang,
              CAST(len(tk) AS DOUBLE) AS nt,
              CAST(len(list_distinct(tk)) AS DOUBLE) AS nd,
              CAST(len(text) AS DOUBLE) AS chars,
              CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                AS DOUBLE) AS alpha
            FROM (SELECT lang, text,
              regexp_split_to_array(trim(lower(text)), '\s+') AS tk
              FROM documents))
          SELECT lang = 'en' AS p, round(least(greatest(
            0.4 * least(nt / 50.0, 1.0) +
            0.3 * coalesce(nd / nullif(nt, 0.0), 0.0) +
            0.3 * coalesce(alpha / nullif(chars, 0.0), 0.0), 0.0), 1.0), 6)
            AS s
          FROM f)) b
      CROSS JOIN (
        SELECT sum(CAST(round(CAST(n AS DOUBLE) *
            abs(pos_rate - mean_score), 9) AS DECIMAL(28,12))) AS esum
        FROM ($q193Oracle)) e"""

  /** q217's oracle: both HITS rounds unrolled from ONE generated CTE
    * (q101's device) — decimal-exact mass sums with the VARCHAR hop,
    * max-normalization as the identical `coalesce(m, 0.0) / mx` tree
    * [[graft.ops.Graph.hits]] builds.
    */
  private val q217Oracle: String = {
    def hitsRound(prev: String, k: Int) =
      s"""ar_$k AS (
        SELECT e.dst AS node,
          CAST(CAST(sum(CAST(h.v AS DECIMAL(28,18))) AS VARCHAR) AS DOUBLE)
            AS m
        FROM $prev h JOIN e ON h.node = e.src GROUP BY 1),
      am_$k AS (SELECT max(m) AS mx FROM ar_$k),
      a_$k AS (
        SELECT nodes.node, coalesce(ar.m, 0.0) / am_$k.mx AS v
        FROM nodes CROSS JOIN am_$k
        LEFT JOIN ar_$k ar ON nodes.node = ar.node),
      hr_$k AS (
        SELECT e.src AS node,
          CAST(CAST(sum(CAST(a.v AS DECIMAL(28,18))) AS VARCHAR) AS DOUBLE)
            AS m
        FROM a_$k a JOIN e ON a.node = e.dst GROUP BY 1),
      hm_$k AS (SELECT max(m) AS mx FROM hr_$k),
      h_$k AS (
        SELECT nodes.node, coalesce(hr.m, 0.0) / hm_$k.mx AS v
        FROM nodes CROSS JOIN hm_$k
        LEFT JOIN hr_$k hr ON nodes.node = hr.node)"""
    s"""
      WITH e AS (
        SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src,
          's' || CAST(l_suppkey AS VARCHAR) AS dst FROM lineitem),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      h_0 AS (SELECT node, 1.0 AS v FROM nodes),
      ${hitsRound("h_0", 1)},
      ${hitsRound("h_1", 2)}
      SELECT h.node, round(h.v, 12) AS hub, round(a.v, 12) AS auth
      FROM h_2 h JOIN a_2 a ON h.node = a.node ORDER BY h.node"""
  }

  /** q218's oracle: the identical left-folded EWMA chain, generated from
    * the same tap/normalizer tables [[graft.ops.Timeseries]] exposes —
    * weights are exact powers of two, normalizers shortest-repr literals
    * that round-trip exactly through DuckDB's parser.
    */
  private val q218Oracle: String = {
    val taps = 8
    val terms = (0 until taps).map { j =>
      val c = if (j == 0) "CAST(cnt AS DOUBLE)"
        else s"CAST(coalesce(lag(cnt, $j) OVER w, 0) AS DOUBLE)"
      s"($c * CAST(${math.pow(0.5, j)} AS DOUBLE))"
    }
    val num = terms.reduceLeft((a, b) => s"($a + $b)")
    val normCase = graft.ops.Timeseries.ewmaNorms(taps).zipWithIndex
      .map { case (v, i) => s"WHEN n_obs = ${i + 1} THEN CAST($v AS DOUBLE)" }
      .mkString(" ")
    s"""
      WITH daily AS (
        SELECT event_type AS key, CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
      g AS (
        SELECT key, day, cnt,
          CAST(least(row_number() OVER w, $taps) AS BIGINT) AS n_obs,
          $num AS num
        FROM daily
        WINDOW w AS (PARTITION BY key ORDER BY day ASC))
      SELECT key AS event_type, strftime(day, '%Y-%m-%d') AS day, cnt,
        n_obs, round(num / (CASE $normCase END), 6) AS ewma
      FROM g ORDER BY event_type, day"""
  }

  /** q226/q235's shared MMR CTE chain: the brute top-20 shortlist plus
    * the three greedy steps unrolled from one template — step t scores
    * every unpicked item against the picked set via greatest(), ordered
    * by the rdz-rounded score exactly as the engine's rank window.
    */
  private val mmrCtes: String = {
    def cosTo(p: String) = s"list_cosine_similarity(c.iv, $p.iv)"
    def step(t: Int, prev: Seq[String]): String = {
      val ms =
        if (prev.isEmpty) "0.0"
        else if (prev.size == 1) cosTo(prev.head)
        else s"greatest(${prev.map(cosTo).mkString(", ")})"
      val joins = prev.map(p =>
        s"JOIN $p ON c.query_id = $p.query_id AND c.item_id <> $p.item_id")
        .mkString(" ")
      s"""p$t AS (
        SELECT query_id, item_id, iv, score FROM (
          SELECT c.query_id, c.item_id, c.iv,
            (0.5 * c.rel - 0.5 * $ms) AS score,
            row_number() OVER (PARTITION BY c.query_id
              ORDER BY round(0.5 * c.rel - 0.5 * $ms, 6) + 0.0 DESC,
                c.item_id) AS rk
          FROM sl c $joins)
        WHERE rk = 1)"""
    }
    s"""sl AS (
        SELECT query_id, item_id, rel, iv FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS item_id,
            list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
              CAST(c.embedding AS DOUBLE[])) AS rel,
            CAST(c.embedding AS DOUBLE[]) AS iv
          FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
          WHERE q.vec_id < 10)
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY round(rel, 6) DESC, item_id) <= 20),
      ${step(1, Nil)},
      ${step(2, Seq("p1"))},
      ${step(3, Seq("p1", "p2"))}"""
  }

  private val q195Oracle: String = raw"""
      WITH sc AS (
        SELECT lang,
          len(list_filter(tk, t -> t IN ('the','a','of','and','to'))) AS s_en,
          len(list_filter(tk, t -> t IN ('el','la','de','que','y'))) AS s_es,
          len(list_filter(tk, t -> t IN ('le','la','de','et','un'))) AS s_fr,
          len(list_filter(tk, t -> t IN ('der','die','und','das','ein'))) AS s_de,
          len(list_filter(tk, t -> t IN ('的','了','是','我','不'))) AS s_zh
        FROM (SELECT lang,
          regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM documents)),
      pred AS (
        SELECT lang AS a, CASE
          WHEN s_en = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_en > 0 THEN 'en'
          WHEN s_es = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_es > 0 THEN 'es'
          WHEN s_fr = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_fr > 0 THEN 'fr'
          WHEN s_de = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_de > 0 THEN 'de'
          WHEN s_zh = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_zh > 0 THEN 'zh'
          ELSE 'und' END AS p
        FROM sc),
      cells AS (SELECT a, p, CAST(count(*) AS BIGINT) AS n FROM pred
        GROUP BY 1, 2),
      ba AS (SELECT a AS label, CAST(sum(n) AS BIGINT) AS n_actual
        FROM cells GROUP BY 1),
      bp AS (SELECT p AS label, CAST(sum(n) AS BIGINT) AS n_predicted
        FROM cells GROUP BY 1),
      tp AS (SELECT a AS label, n AS n_correct FROM cells WHERE a = p),
      j AS (
        SELECT COALESCE(ba.label, bp.label) AS lang,
          COALESCE(ba.n_actual, 0) AS n_actual,
          COALESCE(bp.n_predicted, 0) AS n_predicted,
          COALESCE(tp.n_correct, 0) AS n_correct
        FROM ba FULL OUTER JOIN bp ON ba.label = bp.label
        LEFT JOIN tp ON COALESCE(ba.label, bp.label) = tp.label)
      SELECT lang, n_actual, n_predicted, n_correct,
        CASE WHEN n_predicted = 0 THEN NULL
          ELSE round(CAST(n_correct AS DOUBLE) /
            CAST(n_predicted AS DOUBLE), 6) END AS precision,
        CASE WHEN n_actual = 0 THEN NULL
          ELSE round(CAST(n_correct AS DOUBLE) /
            CAST(n_actual AS DOUBLE), 6) END AS recall,
        CASE WHEN n_predicted = 0 OR n_actual = 0 OR n_correct = 0 THEN NULL
          ELSE round(2.0 *
            (CAST(n_correct AS DOUBLE) / CAST(n_predicted AS DOUBLE)) *
            (CAST(n_correct AS DOUBLE) / CAST(n_actual AS DOUBLE)) /
            ((CAST(n_correct AS DOUBLE) / CAST(n_predicted AS DOUBLE)) +
             (CAST(n_correct AS DOUBLE) / CAST(n_actual AS DOUBLE))), 6)
          END AS f1
      FROM j ORDER BY lang"""

  /** q207's oracle — two unrolled BPE rounds. Per round: the top pair as
    * a MATERIALIZED scalar CTE (count desc, pair asc — the engine's
    * driver read restated in SQL) and the merge fold replayed as a
    * per-document linear recursive walk carrying (emitted-prefix,
    * pending-token), exactly [[graft.ops.TextAnalysis.bpeMergeOnce]]'s
    * accumulator. MATERIALIZED everywhere a CTE is referenced twice
    * (the q169 inlining lesson).
    */
  private val q207Oracle: String = {
    def round(i: Int): String = {
      val (in, out) = (s"toks$i", s"toks${i + 1}")
      s"""top$i AS MATERIALIZED (
        SELECT a, b FROM (
          SELECT p.a AS a, p.b AS b, count(*) AS cnt FROM (
            SELECT unnest([struct_pack(a := tk[j], b := tk[j + 1])
              for j in range(1, len(tk))]) AS p
            FROM $in WHERE len(tk) >= 2)
          GROUP BY 1, 2)
        ORDER BY cnt DESC, a, b LIMIT 1),
      e$i AS MATERIALIZED (
        SELECT doc_id, unnest(tk) AS t, generate_subscripts(tk, 1) AS j
        FROM $in),
      n$i AS MATERIALIZED (SELECT doc_id, len(tk) AS n FROM $in),
      walk$i AS (
        SELECT doc_id, 0 AS j, CAST([] AS VARCHAR[]) AS out,
          CAST(NULL AS VARCHAR) AS pend
        FROM n$i
        UNION ALL
        SELECT w.doc_id, w.j + 1,
          CASE WHEN w.pend = t.a AND e.t = t.b
            THEN array_append(w.out, t.a || ' ' || t.b)
          WHEN w.pend IS NULL THEN w.out
          ELSE array_append(w.out, w.pend) END,
          CASE WHEN w.pend = t.a AND e.t = t.b THEN CAST(NULL AS VARCHAR)
            ELSE e.t END
        FROM walk$i w
        JOIN e$i e ON e.doc_id = w.doc_id AND e.j = w.j + 1
        CROSS JOIN top$i t),
      $out AS MATERIALIZED (
        SELECT w.doc_id,
          CASE WHEN w.pend IS NULL THEN w.out
            ELSE array_append(w.out, w.pend) END AS tk
        FROM walk$i w JOIN n$i ON w.doc_id = n$i.doc_id AND w.j = n$i.n)"""
    }
    def row(i: Int): String =
      s"""SELECT $i AS round,
        (SELECT a FROM top$i) AS pair_a, (SELECT b FROM top$i) AS pair_b,
        CAST((SELECT sum(len(tk)) FROM toks$i) -
          (SELECT sum(len(tk)) FROM toks${i + 1}) AS BIGINT) AS n_merges,
        CAST((SELECT sum(len(tk)) FROM toks${i + 1}) AS BIGINT)
          AS n_tokens_after,
        (SELECT CAST(count(DISTINCT t) AS BIGINT) FROM
          (SELECT unnest(tk) AS t FROM toks${i + 1})) AS n_distinct_after"""
    raw"""
      WITH RECURSIVE toks1 AS MATERIALIZED (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        FROM documents),
      ${round(1)},
      ${round(2)}
      ${row(1)}
      UNION ALL
      ${row(2)}
      ORDER BY round"""
  }

  /** q205's oracle — the CDC resolution restated directly; q208 (the
    * streamed twin) shares it verbatim.
    */
  private val q205CdcOracle: String = """
      SELECT o_orderkey,
        round(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10.0
          ELSE o_totalprice END, 2) AS o_totalprice,
        o_orderstatus
      FROM orders WHERE o_orderkey % 5 <> 0
      ORDER BY o_orderkey"""

  /** q190's oracle — the sequential debounce walk as a linear recursive
    * CTE; q196 (the streamed twin) shares it verbatim.
    */
  private val q190Oracle: String = """
      WITH RECURSIVE e AS (
        SELECT user_id, event_id,
          epoch_us(CAST(ts AS TIMESTAMP)) AS t,
          row_number() OVER (PARTITION BY user_id
            ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS rn
        FROM events),
      walk AS (
        SELECT user_id, rn, event_id, t, t AS kept_t, TRUE AS keep
        FROM e WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.rn, e.event_id, e.t,
          CASE WHEN e.t - w.kept_t >= 60000000 THEN e.t ELSE w.kept_t END,
          e.t - w.kept_t >= 60000000
        FROM walk w JOIN e ON e.user_id = w.user_id AND e.rn = w.rn + 1)
      SELECT user_id, event_id FROM walk WHERE keep ORDER BY 1, 2"""

  /** q184's oracle: q101's unrolled device with integer edge weights —
    * contrib is (rank·w)/outw, the same two-op IEEE tree the engine's
    * weighted iterate computes, decimal-summed per destination with the
    * VARCHAR hop.
    */
  private val q184Oracle: String = {
    def iter(prev: String, out: String) =
      s"""c_$out AS (
        SELECT e.dst AS node,
          CAST(CAST(sum(CAST((r.rank * CAST(e.w AS DOUBLE)) / od.outw
            AS DECIMAL(28,18))) AS VARCHAR) AS DOUBLE) AS m
        FROM $prev r JOIN od ON r.node = od.node JOIN e ON r.node = e.src
        GROUP BY 1),
      $out AS (
        SELECT nodes.node,
          (1.0 - 0.85) / nd.n + 0.85 * coalesce(c.m, 0.0) AS rank
        FROM nodes CROSS JOIN nd LEFT JOIN c_$out c ON nodes.node = c.node)"""
    s"""
      WITH e AS (
        SELECT 'p' || CAST(l_partkey AS VARCHAR) AS src,
          's' || CAST(l_suppkey AS VARCHAR) AS dst,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        FROM lineitem GROUP BY 1, 2
        UNION ALL
        SELECT 's' || CAST(l_suppkey AS VARCHAR),
          'p' || CAST(l_partkey AS VARCHAR),
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
        FROM lineitem GROUP BY 1, 2),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      od AS (SELECT src AS node, CAST(sum(w) AS DOUBLE) AS outw
             FROM e GROUP BY 1),
      r0 AS (SELECT node, 1.0 / nd.n AS rank FROM nodes CROSS JOIN nd),
      ${iter("r0", "r1")},
      ${iter("r1", "r2")}
      SELECT node, round(rank, 12) AS rank FROM r2 ORDER BY node"""
  }

  /** q102's oracle: the N-stage funnel CTE chain generated by the same
    * per-stage loop as [[graft.ops.Funnel.funnel]].
    */
  private val q102Oracle: String = {
    val stages = Seq("view", "click", "signup", "purchase")
    def tc(i: Int) = s"t_${stages(i)}"
    val first = s"""s0 AS (
        SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS ${tc(0)}
        FROM events WHERE event_type = '${stages(0)}' GROUP BY 1)"""
    val rest = (1 until stages.size).map { i =>
      val carried = (0 until i).map(j => s"p.${tc(j)}").mkString(", ")
      s"""s$i AS (
        SELECT e.user_id AS user_id, $carried,
          min(CAST(e.ts AS TIMESTAMP)) AS ${tc(i)}
        FROM events e JOIN s${i - 1} p ON e.user_id = p.user_id
        WHERE e.event_type = '${stages(i)}'
          AND CAST(e.ts AS TIMESTAMP) > p.${tc(i - 1)}
        GROUP BY ${(1 to i + 1).mkString(", ")})"""
    }
    s"""WITH ${(first +: rest).mkString(",\n      ")}
      SELECT * FROM s${stages.size - 1} ORDER BY user_id"""
  }

  /** DuckDB SQL for [[graft.ops.Sampling]]'s injective field encoding:
    * NULL → 'n', value v → 'v<len>:<v>' (length prefix = no separator or
    * sentinel collisions). Must stay in lockstep with `Sampling.enc`.
    */
  private def encSql(e: String): String =
    s"(CASE WHEN $e IS NULL THEN 'n' ELSE 'v' || length($e) || ':' || $e END)"

  /** DuckDB SQL for `Sampling.hashPos`: position in [0, 2^32). */
  private def hashPosSql(strata: String, id: String): String =
    s"('0x' || substring(md5(${encSql(strata)} || '|' || ${encSql(id)}), 1, 8))::BIGINT"

  /** DuckDB CTE chain rebuilding `Sketch.cmsState(depth = 4, width = 64)`
    * cell-for-cell over `keyExpr`: the same four salted (`cms0..cms3`)
    * md5 position draws mod 64. One definition shared by q249 (batch),
    * q250 (probe) and q251 (streamed fold) so the three gates cannot
    * drift. Ends with `cms AS (r, c, cnt)`.
    */
  private def cmsCellsSql(table: String, keyExpr: String): String = s"""
      rows_ AS (SELECT unnest(range(4)) AS r),
      cells AS (
        SELECT CAST(rw.r AS INTEGER) AS r,
          ${hashPosSql("'cms' || CAST(rw.r AS VARCHAR)", keyExpr)} % 64 AS c
        FROM $table CROSS JOIN rows_ rw),
      cms AS (SELECT r, c, count(*) AS cnt FROM cells GROUP BY r, c)"""

  /** DuckDB CTE chain replaying `Train.linearProbeWeights` on the
    * q252/q253 configuration (label lang='en'; features bias/n_chars/
    * whitespace count; 3 iterations, rate 1e-5) weight-bit-for-weight-
    * bit: the same Elliott-sigmoid IEEE tree, the same decimal(28,18)
    * gradient sums, the same round(w + rate*g/n, 12) update. Ends with
    * `feats` (y, x0, x1, x2) and `w3` (w0, w1, w2). One definition so
    * q252 (weights) and q253 (fit readout) cannot drift.
    */
  /** Parameterized DuckDB twin of the
    * [[graft.ops.Train.naiveBayesModel]] →
    * [[graft.ops.Train.naiveBayesScore]] chain — ONE definition of the
    * counting CTEs, the vocab grid, the rounded-ln smoothed
    * log-likelihoods (ln-at-9dp — the PMI/entropy idiom) and the
    * argmax/fallback scoring, instantiated per oracle (the q134
    * zero-duplication device): `train` names a CTE providing
    * (doc_id, class, text), `scoreIn` one providing (doc_id, text).
    * Emits `${p}model` (class, token, logp, prior) and `${p}pred`
    * (doc_id, pred_class, score, in_vocab). `tokList` is the
    * featurization axis (the [[graft.ops.Train.naiveBayesModelTokens]]
    * twin): text expr → DuckDB LIST expr; default = whitespace tokens,
    * [[charGramListSql]] = the q338 char-n-gram featurizer.
    */
  private def nbChainCtes(p: String, train: String, scoreIn: String,
                          tokList: String => String = t =>
                            raw"regexp_split_to_array(trim(lower($t)), '\s+')"
                         ): String = raw"""${p}toks AS (
        SELECT class, unnest(${tokList("text")}) AS token
        FROM $train),
      ${p}toks2 AS (SELECT class, token FROM ${p}toks WHERE token <> ''),
      ${p}cnt AS (
        SELECT class, token, count(*) AS cnt FROM ${p}toks2 GROUP BY 1, 2),
      ${p}vocab AS (
        SELECT token FROM (
          SELECT token, sum(cnt) AS tot FROM ${p}cnt GROUP BY 1)
        WHERE tot >= 1),
      ${p}v AS (SELECT count(*) AS v FROM ${p}vocab),
      ${p}docs AS (SELECT class, count(*) AS docs FROM $train GROUP BY 1),
      ${p}n AS (SELECT sum(docs) AS n FROM ${p}docs),
      ${p}ctok AS (
        SELECT t.class, count(*) AS ctok
        FROM ${p}toks2 t JOIN ${p}vocab v ON t.token = v.token GROUP BY 1),
      ${p}classes AS (
        SELECT d.class, d.docs, coalesce(c.ctok, 0) AS ctok, v.v,
          round(ln(CAST(d.docs AS DOUBLE) / CAST(n.n AS DOUBLE)), 9)
            AS prior
        FROM ${p}docs d LEFT JOIN ${p}ctok c ON d.class = c.class
        CROSS JOIN ${p}n n CROSS JOIN ${p}v v),
      ${p}model AS (
        SELECT cl.class, vb.token,
          round(ln(CAST(coalesce(ct.cnt, 0) + 1 AS DOUBLE) /
            CAST(cl.ctok + cl.v AS DOUBLE)), 9) AS logp,
          cl.prior
        FROM ${p}vocab vb CROSS JOIN ${p}classes cl
        LEFT JOIN ${p}cnt ct ON ct.class = cl.class AND ct.token = vb.token),
      ${p}stoks AS (
        SELECT doc_id, unnest(${tokList("text")}) AS token
        FROM $scoreIn),
      ${p}stoks2 AS (SELECT doc_id, token FROM ${p}stoks WHERE token <> ''),
      ${p}ll AS (
        SELECT s.doc_id, m.class,
          round(CAST(sum(CAST(m.logp AS DECIMAL(28,12))) AS DOUBLE)
            + min(m.prior), 9) AS score
        FROM ${p}stoks2 s JOIN ${p}model m ON s.token = m.token
        GROUP BY 1, 2),
      ${p}best AS (
        SELECT doc_id, class AS pred_class, score
        FROM ${p}ll
        QUALIFY row_number() OVER (PARTITION BY doc_id
          ORDER BY score DESC, class) = 1),
      ${p}fb AS (
        SELECT class AS fb, prior AS fbs FROM (
          SELECT DISTINCT class, prior FROM ${p}model)
        ORDER BY prior DESC, class LIMIT 1),
      ${p}pred AS (
        SELECT i.doc_id, coalesce(b.pred_class, f.fb) AS pred_class,
          coalesce(b.score, f.fbs) AS score,
          b.pred_class IS NOT NULL AS in_vocab
        FROM (SELECT doc_id FROM $scoreIn) i
        LEFT JOIN ${p}best b ON i.doc_id = b.doc_id
        CROSS JOIN ${p}fb f)"""

  /** DuckDB twin of [[graft.functions.charNgrams]] (n = 3): the same
    * space-padded single-space fold of the lowercased text, the same
    * 1-based substr walk — gram-for-gram identical arrays, so the NB
    * chain instantiated with this tokenizer replays q338's model
    * bit-for-bit. `range(1, L-1)` is empty for L < 3 (DuckDB's range
    * never descends), mirroring the Spark-side `when(length >= n)`
    * guard around the descending-sequence trap.
    */
  private def charGramListSql(t: String): String = {
    val pad = raw"(' ' || regexp_replace(trim(lower($t)), '\s+', ' ', 'g') || ' ')"
    s"list_transform(range(1, length($pad) - 1), i -> substr($pad, CAST(i AS INTEGER), 3))"
  }

  /** DuckDB twin of [[graft.ops.Train.naiveBayesModel]] on the even-
    * doc_id train split (label = lang), shared by the q301/q302/q303
    * oracles so the three gates replay the SAME model — the lang-label
    * instantiation of [[nbChainCtes]] (prefix `nb`, so the CTE names
    * `nbmodel`/`nbpred` the round-9 oracles reference are unchanged).
    */
  private val nbModelCtes: String = raw"""nbtrain AS (
        SELECT doc_id, lang AS class, text FROM documents
        WHERE doc_id % 2 = 0 AND lang IS NOT NULL),
      nbscore_in AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
      """ + nbChainCtes("nb", "nbtrain", "nbscore_in")

  /** DuckDB twin of [[fixtureUrl]] + the [[graft.ops.Web]] lane, shared
    * by the q306/q307/q308 oracles: the fixture URL expression, host/
    * path/query regex extraction, canonicalization (www/fragment/
    * tracking strip, param sort, trailing-slash strip) and the
    * registrable-domain rule — one definition so the three gates replay
    * the SAME strings. Plain (non-interpolated) string: the regexes
    * carry `$` anchors.
    */
  private val urlFixtureCtes: String = """uf AS (
        SELECT doc_id, source, text,
          'https://' ||
          CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END || source ||
          CASE WHEN doc_id % 3 = 0 THEN '.example.com'
               WHEN doc_id % 3 = 1 THEN '.blogspot.com'
               ELSE '.example.co.uk' END ||
          CASE WHEN doc_id % 5 = 0 THEN '/ads/' ELSE '/posts/' END ||
          CAST(doc_id % 50 AS VARCHAR) ||
          CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
          CASE WHEN doc_id % 3 = 0
            THEN '?utm_source=feed&id=' || CAST(doc_id % 10 AS VARCHAR)
               WHEN doc_id % 3 = 1
            THEN '?id=' || CAST(doc_id % 10 AS VARCHAR) ||
              '&utm_campaign=x&b=2'
               ELSE '' END ||
          CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END AS url
        FROM documents),
      up AS (
        SELECT doc_id, source, text, url,
          lower(regexp_extract(url,
            '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host,
          regexp_extract(url,
            '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path,
          regexp_extract(url, '\?([^#]*)', 1) AS q
        FROM uf),
      up2 AS (
        SELECT doc_id, source, text, url, host, path,
          regexp_replace(host, '^www\.', '') AS bhost,
          array_to_string(list_sort(list_filter(string_split(q, '&'),
            p -> NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)(=|$)')
              AND p <> '')), '&') AS sq
        FROM up),
      ucanon AS (
        SELECT doc_id, source, text, url, host, path,
          CASE WHEN host = '' THEN NULL
            ELSE 'https://' || bhost || regexp_replace(path, '/$', '') ||
              CASE WHEN length(sq) > 0 THEN '?' || sq ELSE '' END END AS curl,
          CASE WHEN regexp_extract(bhost, '([^.]+\.[^.]+)$', 1) IN
                ('co.uk','org.uk','ac.uk','com.br','com.au','co.jp',
                 'co.in','com.mx','co.za','com.cn')
              AND regexp_extract(bhost, '([^.]+\.[^.]+\.[^.]+)$', 1) <> ''
            THEN regexp_extract(bhost, '([^.]+\.[^.]+\.[^.]+)$', 1)
            WHEN regexp_extract(bhost, '([^.]+\.[^.]+)$', 1) <> ''
            THEN regexp_extract(bhost, '([^.]+\.[^.]+)$', 1)
            ELSE bhost END AS domain
        FROM up2)"""

  /** The q335/q336 shared oracle — the streamed maintainer's bin-wise
    * sums are batching-invariant exactly, so both gates replay ONE SQL
    * string (the q243/q326 streamed-twin discipline): the pinned-grid
    * state, the windowed cumulative count, and the same rounded IEEE
    * interpolation tree [[graft.ops.Sketch.qbinQuantiles]] evaluates.
    */
  private val qbinOracle: String = """
      WITH qst AS (
        SELECT least(greatest(CAST(floor((l_extendedprice - 0.0) / 1000.0)
            AS BIGINT), 0), 127) AS bin,
          count(*) AS n
        FROM lineitem WHERE l_extendedprice IS NOT NULL
        GROUP BY 1),
      qtot AS (SELECT CAST(sum(n) AS DOUBLE) AS ntot FROM qst),
      qcum AS (
        SELECT bin, n, sum(n) OVER (ORDER BY bin) AS c,
          sum(n) OVER (ORDER BY bin) - n AS cb
        FROM qst),
      qq AS (SELECT CAST(unnest([0.25, 0.5, 0.9, 0.99]) AS DOUBLE) AS q),
      qpick AS (
        SELECT q, bin, n, cb,
          row_number() OVER (PARTITION BY q ORDER BY bin) AS rn
        FROM qq JOIN qcum
          ON CAST(c AS DOUBLE) >= q * (SELECT ntot FROM qtot))
      SELECT q, round(0.0 + 1000.0 * (CAST(bin AS DOUBLE) +
          (q * t.ntot - CAST(cb AS DOUBLE)) / CAST(n AS DOUBLE)), 6) AS est
      FROM qpick, qtot t WHERE rn = 1 ORDER BY q"""

  /** The q337/q342 shared oracle — the grouped twin of [[qbinOracle]]:
    * per-source pinned-grid state, per-source cumulative counts, the
    * same rounded IEEE interpolation tree
    * [[graft.ops.Sketch.qbinQuantilesBy]] evaluates. One string for the
    * batch sketch and its streamed maintainer (per-group bin-wise sums
    * are batching-invariant exactly).
    */
  private val qbinByOracle: String = """
      WITH gst AS (
        SELECT source, least(greatest(CAST(floor((n_chars - 0.0) / 10.0)
            AS BIGINT), 0), 63) AS bin,
          count(*) AS n
        FROM documents WHERE n_chars IS NOT NULL
        GROUP BY 1, 2),
      gtot AS (
        SELECT source, CAST(sum(n) AS DOUBLE) AS ntot FROM gst GROUP BY 1),
      gcum AS (
        SELECT source, bin, n,
          sum(n) OVER (PARTITION BY source ORDER BY bin) AS c,
          sum(n) OVER (PARTITION BY source ORDER BY bin) - n AS cb
        FROM gst),
      gq AS (SELECT CAST(unnest([0.5, 0.9]) AS DOUBLE) AS q),
      gpick AS (
        SELECT c2.source, q, bin, n, cb,
          row_number() OVER (PARTITION BY c2.source, q ORDER BY bin) AS rn
        FROM gcum c2 JOIN gtot t ON c2.source = t.source
        CROSS JOIN gq
        WHERE CAST(c AS DOUBLE) >= q * t.ntot)
      SELECT p.source, q,
        round(0.0 + 10.0 * (CAST(bin AS DOUBLE) +
          (q * t.ntot - CAST(cb AS DOUBLE)) / CAST(n AS DOUBLE)), 6) AS est
      FROM gpick p JOIN gtot t ON p.source = t.source
      WHERE rn = 1 ORDER BY p.source, q"""

  /** The q301/q313 shared oracle (the train-from-state twin gates
    * against the batch SQL verbatim — the statistic merge is exact).
    */
  private lazy val nbModelSql: String = s"""
      WITH $nbModelCtes
      SELECT class, token, logp, prior FROM nbmodel
      ORDER BY class, token"""

  /** Shared q314/q315 geo CTEs: the md5-synthesized customer points and
    * nation centroids, and the all-pairs squared equirectangular
    * distances — the SAME IEEE expression tree [[graft.ops.Geo]]
    * evaluates (every op exactly rounded, so d2 is bit-identical); the
    * projection constant is interpolated from the one Scala double.
    */
  private lazy val geoCtes: String = {
    val kx = graft.ops.Geo.KmPerDeg * geoCosLat0
    def lat(idExpr: String) =
      s"-33.75 + (CAST(${hashPosSql("'lat'", idExpr)} AS DOUBLE) " +
        "/ 4294967296.0) * 38.75"
    def lon(idExpr: String) =
      s"-73.99 + (CAST(${hashPosSql("'lon'", idExpr)} AS DOUBLE) " +
        "/ 4294967296.0) * 39.2"
    s"""p AS (
        SELECT c_custkey AS pid,
          ${lat("CAST(c_custkey AS VARCHAR)")} AS plat,
          ${lon("CAST(c_custkey AS VARCHAR)")} AS plon
        FROM customer),
      cc AS (
        SELECT n_nationkey AS cid, n_name,
          ${lat("'n' || CAST(n_nationkey AS VARCHAR)")} AS clat,
          ${lon("'n' || CAST(n_nationkey AS VARCHAR)")} AS clon
        FROM nation),
      pr AS (
        SELECT p.pid, cc.cid,
          ((p.plon - cc.clon) * $kx) * ((p.plon - cc.clon) * $kx) +
          ((p.plat - cc.clat) * 111.195) * ((p.plat - cc.clat) * 111.195)
            AS d2
        FROM p CROSS JOIN cc)"""
  }

  /** DuckDB twin of [[graft.ops.Geo.pointInPolygon]] over the `p` CTE's
    * (plat, plon): every edge's crossing test from the SAME interpolated
    * vertex constants — shared by the q321 (literal-expression) and
    * q324 (zone-table) oracles so both replay identical arithmetic.
    */
  private def pipSql(poly: Seq[(Double, Double)]): String = {
    val terms = poly.indices.map { i =>
      val (y1, x1) = poly(i)
      val (y2, x2) = poly((i + 1) % poly.length)
      if (y1 == y2) "0"
      else s"(CASE WHEN (($y1 > p.plat) <> ($y2 > p.plat)) AND " +
        s"p.plon < ${x2 - x1} * (p.plat - $y1) / ${y2 - y1} + $x1 " +
        "THEN 1 ELSE 0 END)"
    }
    s"((${terms.mkString(" + ")}) % 2 = 1)"
  }

  /** The q302/q312 shared oracle (the streamed twin gates against the
    * batch SQL verbatim — scoring is per-document stateless).
    */
  private lazy val nbPredictSql: String = s"""
      WITH $nbModelCtes
      SELECT p.doc_id, p.pred_class, p.score, d.lang AS true_lang,
        p.pred_class = d.lang AS correct
      FROM nbpred p JOIN documents d ON p.doc_id = d.doc_id
      ORDER BY p.doc_id"""

  /** Generated DuckDB twin of q311's fold × feature-set sweep: the q252
    * GD chain instantiated per (config, fold) cell — 9 chains × 3
    * iterations of unrolled gradient descent over the md5-assigned
    * folds (each chain carrying only its config's feature arity), each
    * evaluated on its held-out fold with [[graft.ops.Train
    * .linearProbeEval]]'s exact accuracy arithmetic (round-9 scores at
    * the ½ threshold), means decimal-folded per config, winner by max.
    */
  private val cvSweepSql: String = {
    val configs = Seq(("bias_only", "c0", 1), ("bias_len", "c1", 2),
      ("full", "c2", 3))
    def zSql(nf: Int): String =
      (0 until nf).map(j => s"(w.w$j * f.x$j)").mkString(" + ")
    val cells = for ((name, tag, nf) <- configs; f <- 0 until 3) yield {
      val p = s"${tag}f$f"
      val xs = (0 until nf).map(j => s"f.x$j").mkString(", ")
      val iters = (1 to 3).map { i =>
        val gs = (0 until nf).map(j =>
          s"CAST(sum(CAST((y - p) * x$j AS DECIMAL(28,18))) AS DOUBLE) AS g$j")
          .mkString(",\n          ")
        val ws = (0 until nf).map(j =>
          s"round(w.w$j + 1e-05 * g.g$j / CAST(g.n AS DOUBLE), 12) AS w$j")
          .mkString(",\n          ")
        val xcols = (0 until nf).map(j => s"x$j").mkString(", ")
        s"""${p}s$i AS (SELECT f.y, $xs, ${zSql(nf)} AS z
          FROM cvdocs f CROSS JOIN ${p}w${i - 1} w WHERE f.fold <> $f),
        ${p}p$i AS (SELECT y, $xcols,
          0.5 * (1.0 + z / (1.0 + abs(z))) AS p FROM ${p}s$i),
        ${p}g$i AS (SELECT count(*) AS n,
          $gs
          FROM ${p}p$i),
        ${p}w$i AS (SELECT
          $ws
          FROM ${p}w${i - 1} w CROSS JOIN ${p}g$i g)"""
      }.mkString(",\n      ")
      val w0 = (0 until nf).map(j => s"CAST(0.0 AS DOUBLE) AS w$j")
        .mkString(", ")
      s"""${p}w0 AS (SELECT $w0),
      $iters,
      ${p}ev AS (
        SELECT '$name' AS config, $f AS fold,
          CAST(count(*) AS BIGINT) AS n,
          round(CAST(sum(CASE WHEN
              (CASE WHEN round(p, 9) >= 0.5 THEN 1.0 ELSE 0.0 END) = y
              THEN 1 ELSE 0 END) AS DOUBLE) /
            CAST(count(*) AS DOUBLE), 6) AS accuracy
        FROM (SELECT y, 0.5 * (1.0 + z / (1.0 + abs(z))) AS p FROM (
          SELECT f.y, ${zSql(nf)} AS z
          FROM cvdocs f CROSS JOIN ${p}w3 w WHERE f.fold = $f)))"""
    }
    val unionAll = (for ((_, tag, _) <- configs; f <- 0 until 3)
      yield s"SELECT * FROM ${tag}f${f}ev")
      .mkString("\n        UNION ALL ")
    s"""WITH cvdocs AS MATERIALIZED (
        SELECT doc_id,
          CASE WHEN n_chars >= 157 THEN CAST(1.0 AS DOUBLE)
            ELSE CAST(0.0 AS DOUBLE) END AS y,
          CAST(1.0 AS DOUBLE) AS x0,
          CAST(n_chars - 157 AS DOUBLE) AS x1,
          CAST(length(text) - length(replace(text, ' ', '')) - 53
            AS DOUBLE) AS x2,
          (${hashPosSql("'fold'", "CAST(doc_id AS VARCHAR)")} * 3) >> 32
            AS fold
        FROM documents),
      ${cells.mkString(",\n      ")},
      cvall AS (
        $unionAll),
      cvmeans AS (
        SELECT config,
          round(CAST(sum(CAST(accuracy AS DECIMAL(28,12))) AS DOUBLE) /
            CAST(count(*) AS DOUBLE), 6) AS mean_accuracy
        FROM cvall GROUP BY config),
      cvmax AS (SELECT max(mean_accuracy) AS mx FROM cvmeans)
      SELECT a.config, a.fold, a.n, a.accuracy, m.mean_accuracy,
        m.mean_accuracy = x.mx AS is_best
      FROM cvall a JOIN cvmeans m ON a.config = m.config CROSS JOIN cvmax x
      ORDER BY a.config, a.fold"""
  }

  /** DuckDB twin of the q304/q305 probe-then-Platt chain: the q252 GD
    * device trained on the EVEN split (pw0..pw3), held-out odd-split
    * scores (`oddraw`: doc_id, y, s), the 2-parameter Platt GD
    * (cw0..cw12, rate 2.0) and the calibrated scores (`oddcal`). One
    * definition for both gates so fit and readout cannot drift.
    */
  private val plattCtes: String = {
    val probeIters = (1 to 3).map { i =>
      s"""ps$i AS (SELECT f.y, f.x0, f.x1, f.x2,
        (w.w0 * f.x0) + (w.w1 * f.x1) + (w.w2 * f.x2) AS z
        FROM pfeats f CROSS JOIN pw${i - 1} w),
      pp$i AS (SELECT y, x0, x1, x2,
        0.5 * (1.0 + z / (1.0 + abs(z))) AS p FROM ps$i),
      pg$i AS (SELECT count(*) AS n,
        CAST(sum(CAST((y - p) * x0 AS DECIMAL(28,18))) AS DOUBLE) AS g0,
        CAST(sum(CAST((y - p) * x1 AS DECIMAL(28,18))) AS DOUBLE) AS g1,
        CAST(sum(CAST((y - p) * x2 AS DECIMAL(28,18))) AS DOUBLE) AS g2
        FROM pp$i),
      pw$i AS (SELECT
        round(w.w0 + 1e-05 * g.g0 / CAST(g.n AS DOUBLE), 12) AS w0,
        round(w.w1 + 1e-05 * g.g1 / CAST(g.n AS DOUBLE), 12) AS w1,
        round(w.w2 + 1e-05 * g.g2 / CAST(g.n AS DOUBLE), 12) AS w2
        FROM pw${i - 1} w CROSS JOIN pg$i g)"""
    }.mkString(",\n      ")
    val calIters = (1 to 12).map { i =>
      s"""cs$i AS (SELECT o.y, o.s,
        (w.a0 * 1.0) + (w.a1 * o.s) AS z
        FROM oddraw o CROSS JOIN cw${i - 1} w),
      cp$i AS (SELECT y, s,
        0.5 * (1.0 + z / (1.0 + abs(z))) AS p FROM cs$i),
      cg$i AS (SELECT count(*) AS n,
        CAST(sum(CAST((y - p) * 1.0 AS DECIMAL(28,18))) AS DOUBLE) AS g0,
        CAST(sum(CAST((y - p) * s AS DECIMAL(28,18))) AS DOUBLE) AS g1
        FROM cp$i),
      cw$i AS (SELECT
        round(w.a0 + 2.0 * g.g0 / CAST(g.n AS DOUBLE), 12) AS a0,
        round(w.a1 + 2.0 * g.g1 / CAST(g.n AS DOUBLE), 12) AS a1
        FROM cw${i - 1} w CROSS JOIN cg$i g)"""
    }.mkString(",\n      ")
    s"""pfeats AS (
        SELECT CASE WHEN lang = 'en' THEN CAST(1.0 AS DOUBLE)
            ELSE CAST(0.0 AS DOUBLE) END AS y,
          CAST(1.0 AS DOUBLE) AS x0,
          CAST(n_chars AS DOUBLE) AS x1,
          CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
            AS x2
        FROM documents WHERE doc_id % 2 = 0),
      pw0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
        CAST(0.0 AS DOUBLE) AS w2),
      $probeIters,
      oddraw AS MATERIALIZED (
        SELECT doc_id,
          CASE WHEN lang = 'en' THEN CAST(1.0 AS DOUBLE)
            ELSE CAST(0.0 AS DOUBLE) END AS y,
          round(0.5 * (1.0 + z / (1.0 + abs(z))), 9) AS s
        FROM (
          SELECT d.doc_id, d.lang,
            (w.w0 * CAST(1.0 AS DOUBLE)) +
            (w.w1 * CAST(d.n_chars AS DOUBLE)) +
            (w.w2 * CAST(length(d.text) - length(replace(d.text, ' ', ''))
              AS DOUBLE)) AS z
          FROM documents d CROSS JOIN pw3 w
          WHERE d.doc_id % 2 = 1)),
      cw0 AS (SELECT CAST(0.0 AS DOUBLE) AS a0, CAST(0.0 AS DOUBLE) AS a1),
      $calIters,
      oddcal AS (
        SELECT zz.doc_id, zz.y,
          round(0.5 * (1.0 + zz.z2 / (1.0 + abs(zz.z2))), 9) AS s
        FROM (SELECT o.doc_id, o.y, (w.a0 + (w.a1 * o.s)) AS z2
              FROM oddraw o CROSS JOIN cw12 w) zz)"""
  }

  /** q216's one-row Brier+ECE summary parameterized over a scored CTE
    * with columns (doc_id, y ∈ {0.0, 1.0}, s) — used twice by q305
    * (raw vs Platt-calibrated), the identical decimal arithmetic both
    * times.
    */
  private def calibSummarySql(cte: String): String = s"""
      SELECT b.n,
        round(CAST(CAST(b.bsum AS VARCHAR) AS DOUBLE) /
          CAST(b.n AS DOUBLE), 6) AS brier,
        round(CAST(e.esum AS DOUBLE) / CAST(b.n AS DOUBLE), 6) AS ece
      FROM (
        SELECT CAST(count(*) AS BIGINT) AS n,
          sum(CAST((CAST(round(s, 9) AS DECIMAL(10,9)) -
                CAST(CASE WHEN y = 1.0 THEN 1 ELSE 0 END
                  AS DECIMAL(10,9))) *
              (CAST(round(s, 9) AS DECIMAL(10,9)) -
                CAST(CASE WHEN y = 1.0 THEN 1 ELSE 0 END
                  AS DECIMAL(10,9)))
              AS DECIMAL(28,18))) AS bsum
        FROM $cte) b
      CROSS JOIN (
        SELECT sum(CAST(round(CAST(n AS DOUBLE) *
            abs(pos_rate - mean_score), 9) AS DECIMAL(28,12))) AS esum
        FROM (
          SELECT bin, CAST(count(*) AS BIGINT) AS n,
            round(CAST(sum(CAST(round(s, 9) AS DECIMAL(28,12)))
                AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_score,
            round(CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS pos_rate
          FROM (
            SELECT CAST(ntile(10) OVER (ORDER BY s ASC, doc_id ASC)
              AS BIGINT) AS bin, s, y, doc_id
            FROM $cte) GROUP BY bin)) e"""

  /** The q305/q326 shared oracle (the streamed twin gates against the
    * batch SQL verbatim — frozen-map scoring is per-document stateless,
    * so the landed corpus folds to the identical summaries).
    */
  private lazy val plattCalibrationSql: String = s"""
      WITH $plattCtes,
      br AS (${calibSummarySql("oddraw")}),
      bc AS (${calibSummarySql("oddcal")})
      SELECT br.n, br.brier AS brier_raw, br.ece AS ece_raw,
        bc.brier AS brier_cal, bc.ece AS ece_cal
      FROM br CROSS JOIN bc"""

  private val probeTrainCte: String = {
    val iterCtes = (1 to 3).map { i =>
      s"""s$i AS (SELECT f.y, f.x0, f.x1, f.x2,
        (w.w0 * f.x0) + (w.w1 * f.x1) + (w.w2 * f.x2) AS z
        FROM feats f CROSS JOIN w${i - 1} w),
      p$i AS (SELECT y, x0, x1, x2,
        0.5 * (1.0 + z / (1.0 + abs(z))) AS p FROM s$i),
      g$i AS (SELECT count(*) AS n,
        CAST(sum(CAST((y - p) * x0 AS DECIMAL(28,18))) AS DOUBLE) AS g0,
        CAST(sum(CAST((y - p) * x1 AS DECIMAL(28,18))) AS DOUBLE) AS g1,
        CAST(sum(CAST((y - p) * x2 AS DECIMAL(28,18))) AS DOUBLE) AS g2
        FROM p$i),
      w$i AS (SELECT
        round(w.w0 + 1e-05 * g.g0 / CAST(g.n AS DOUBLE), 12) AS w0,
        round(w.w1 + 1e-05 * g.g1 / CAST(g.n AS DOUBLE), 12) AS w1,
        round(w.w2 + 1e-05 * g.g2 / CAST(g.n AS DOUBLE), 12) AS w2
        FROM w${i - 1} w CROSS JOIN g$i g)"""
    }.mkString(",\n      ")
    s"""WITH feats AS (
        SELECT doc_id, CASE WHEN lang = 'en' THEN CAST(1.0 AS DOUBLE)
                    ELSE CAST(0.0 AS DOUBLE) END AS y,
          CAST(1.0 AS DOUBLE) AS x0,
          CAST(n_chars AS DOUBLE) AS x1,
          CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE) AS x2
        FROM documents),
      w0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
        CAST(0.0 AS DOUBLE) AS w2),
      $iterCtes"""
  }

  /** DuckDB twin of [[clusteredVecs]] — the q237/q254 synthetic
    * clustered-embedding frame, shared so both gates replay the SAME
    * vectors. Provides CTEs `c` (nc) and `cl` (vec_id, clabel, cvec).
    */
  private val clusteredVecsCte: String = """c AS (
        SELECT greatest(10, least(128, count(*) // 200)) AS nc
        FROM embeddings),
      cl AS (
        SELECT vec_id, vec_id % nc AS clabel,
          [(CASE WHEN i = (vec_id % nc) % 64
              THEN (CASE WHEN ((vec_id % nc) // 64) % 2 = 0
                THEN 1.0 ELSE -1.0 END)
              ELSE 0.0 END)
             + 0.35 * CAST(embedding[i+1] AS DOUBLE)
           for i in range(0, 64)] AS cvec
        FROM embeddings CROSS JOIN c)"""

  /** Shared CTE chain replaying `TextAnalysis.contentChunks` (window 16,
    * modulus 64) boundary-for-boundary: q241 rolls the chunk stream to
    * doc grain, q242 to the corpus dup summary — one definition so the
    * two gates cannot drift.
    */
  private val chunkCte: String = s"""
      WITH base AS (
        SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len
        FROM documents WHERE length(text) > 0),
      pos AS (
        SELECT doc_id, len, unnest(range(16, len + 1)) AS i FROM base),
      bnd AS (
        SELECT p.doc_id, p.i FROM pos p JOIN base b ON p.doc_id = b.doc_id
        WHERE ${hashPosSql("'cdc'",
          "substring(b.text, CAST(p.i AS INT) - 15, 16)")} % 64 = 0
        UNION
        SELECT doc_id, len FROM base),
      ch AS (
        SELECT doc_id, i,
          row_number() OVER w AS chunk_idx,
          coalesce(lag(i) OVER w, 0) + 1 AS start
        FROM bnd WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
      cc AS (
        SELECT c.doc_id, c.chunk_idx, c.start, c.i - c.start + 1 AS clen,
          md5(substring(b.text, CAST(c.start AS INT),
            CAST(c.i - c.start + 1 AS INT))) AS chash
        FROM ch c JOIN base b ON c.doc_id = b.doc_id)"""

  // ————————————————————————————————————————————————————————— the contract

  /** Every query once, in query-number order (Bench's headline and extra
    * lists keep that order). Oracle SQL keeps identical aliases / types /
    * ordering; see the determinism rules at the top of this object. Lazy,
    * so no entry reads an oracle helper val before that val is set.
    */
  lazy val registry: Seq[Q] = Seq(
    Q("q01_pricing_summary", q01, Headline, """
      SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
        CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_disc,
        count(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),
    Q("q02_filter_pushdown", q02, Unbenched, """
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
      ORDER BY l_orderkey, l_linenumber"""),
    Q("q03_star_join_revenue", q03, Headline, """
      SELECT r_name, n_name,
        CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue,
        count(DISTINCT o_orderkey) AS n_orders
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name ORDER BY r_name, n_name"""),
    Q("q04_left_join_enrich", q04, Unbenched, """
      SELECT o_orderkey, o_totalprice,
        coalesce(c_name, 'Indefinido') AS cust_name,
        coalesce(c_mktsegment, 'Indefinido') AS mktsegment
      FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      ORDER BY o_orderkey"""),
    Q("q05_anti_join_orders", q05, Headline, """
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
      WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
      ORDER BY o_orderkey"""),
    Q("q06_semi_join_suppliers", q06, Unbenched, """
      SELECT s_suppkey, s_name FROM supplier
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_suppkey = s_suppkey AND l_quantity > 45)
      ORDER BY s_suppkey"""),
    Q("q07_distinct_segments", q07, Unbenched, """
      SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
      ORDER BY c_nationkey, c_mktsegment"""),
    Q("q08_rollup_acctbal", q08, Unbenched, """
      SELECT coalesce(c_mktsegment, '(all)') AS mktsegment,
        coalesce(c_nationkey, -1) AS nationkey,
        count(*) AS n_cust,
        CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_acctbal,
        CAST(GROUPING(c_mktsegment, c_nationkey) AS BIGINT) AS gid
      FROM customer GROUP BY ROLLUP(c_mktsegment, c_nationkey)
      ORDER BY gid, mktsegment, nationkey"""),
    Q("q09_cube_orders", q09, Unbenched, """
      SELECT coalesce(o_orderpriority, '(all)') AS priority,
        coalesce(o_orderstatus, '(all)') AS status,
        count(*) AS n_orders,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_total
      FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
      ORDER BY priority, status"""),
    Q("q10_latest_event_per_user", q10, Headline, """
      SELECT user_id, event_id, event_type, value FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id
        ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) = 1
      ORDER BY user_id"""),
    Q("q11_running_totals", q11, Headline, """
      SELECT user_id, event_id,
        CAST(row_number() OVER w AS BIGINT) AS rn,
        CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id
          ORDER BY CAST(ts AS TIMESTAMP), event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
      ORDER BY user_id, rn"""),
    Q("q12_union_nationkeys", q12, Unbenched, """
      SELECT c_nationkey AS nationkey FROM customer
      UNION SELECT s_nationkey FROM supplier ORDER BY nationkey"""),
    Q("q13_except_orderkeys", q13, Unbenched, """
      SELECT o_orderkey AS orderkey FROM orders
      EXCEPT SELECT l_orderkey FROM lineitem ORDER BY orderkey"""),
    Q("q14_topk_lineitems", q14, Headline, """
      SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100"""),
    Q("q15_sanitize_extract", q15, Unbenched, """
      SELECT event_id,
        coalesce(TRY_CAST(regexp_extract(
          regexp_replace(props, '"(-?INF|NaN)"', 'null', 'g'),
          '"k":\s*(-?\d+)', 1) AS BIGINT), -1) AS k_val
      FROM events ORDER BY event_id"""),
    Q("q16_period_rollup", q16, Headline, """
      SELECT CAST(year(l_shipdate) AS BIGINT) AS ano_ref,
        CAST(month(l_shipdate) AS BIGINT) AS mes_ref,
        strftime(make_date(CAST(year(l_shipdate) AS INT), CAST(month(l_shipdate) AS INT), 1), '%Y-%m-%d') AS data_competencia,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        count(*) AS n_items
      FROM lineitem GROUP BY 1, 2, 3 ORDER BY ano_ref, mes_ref"""),
    Q("q17_grouping_sets", q17, Unbenched, """
      SELECT coalesce(r_name, '(all)') AS region_name,
        coalesce(n_name, '(all)') AS nation_name,
        count(*) AS n_cust,
        CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_acctbal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
      ORDER BY region_name NULLS FIRST, nation_name NULLS FIRST"""),
    Q("q18_incremental_antijoin", q18, Unbenched, """
      SELECT event_id, user_id, event_type FROM events e
      WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10' AND NOT EXISTS (
        SELECT 1 FROM events h
        WHERE CAST(h.ts AS TIMESTAMP) < TIMESTAMP '2024-01-10'
          AND h.user_id = e.user_id AND h.event_type = e.event_type)
      ORDER BY event_id"""),
    Q("q19_conform_schema", q19, Unbenched, """
      SELECT CAST(event_id AS BIGINT) AS event_id,
        coalesce(event_type, 'Indefinido') AS event_type,
        coalesce(TRY_CAST(value AS DOUBLE), 0.0) AS value,
        CAST(0 AS BIGINT) AS missing_col
      FROM events ORDER BY event_id"""),
    Q("q20_dedup_exact", q20, Unbenched, """
      SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        count(*) AS n_copies
      FROM documents GROUP BY md5(text) ORDER BY keep_id"""),
    Q("q21_minhash_lsh_pairs", q21, Headline, """
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
          for i in range(1, len(tk) - 1)]) AS s
        FROM toks WHERE len(tk) >= 3),
      sig AS (
        SELECT doc_id, s,
          flatten([[list_min([md5(CAST(sd AS VARCHAR) || '|' || x)[j*4+1 : j*4+4]
            for x in s]) for j in range(0, 8)] for sd in range(0, 2)]) AS sg
        FROM sh),
      banded AS (
        SELECT doc_id, s, band,
          md5(array_to_string(sg[band*4+1:band*4+4], '|')) AS bucket
        FROM sig, range(0, 4) r(band)),
      cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          first(a.s) AS sa, first(b.s) AS sb
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
      SELECT id_a, id_b,
        round(CAST(len(list_intersect(sa, sb)) AS DOUBLE) /
              CAST(len(list_distinct(list_concat(sa, sb))) AS DOUBLE), 4) AS jaccard
      FROM cand
      WHERE CAST(len(list_intersect(sa, sb)) AS DOUBLE) /
            CAST(len(list_distinct(list_concat(sa, sb))) AS DOUBLE) >= 0.5
      ORDER BY id_a, id_b"""),
    Q("q22_jaccard_pairs_topk", q22, Headline, """
      WITH sh AS (
        SELECT doc_id, lang, source,
          list_distinct([array_to_string(tk[i:i+2], ' ')
            for i in range(1, len(tk) - 1)]) AS s
        FROM (SELECT doc_id, lang, source,
          regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM documents)
        WHERE len(tk) >= 3),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
          CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS j
        FROM sh a JOIN sh b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, round(j, 4) AS jaccard FROM pairs
      ORDER BY j DESC, id_a, id_b LIMIT 100"""),
    Q("q23_simhash", q23, Unbenched, q23Oracle),
    Q("q24_cosine_pairs_topk", q24, Headline, """
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
          CAST(b.embedding AS DOUBLE[])), 4) AS cosine
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      ORDER BY round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        CAST(b.embedding AS DOUBLE[])), 6) DESC, id_a, id_b
      LIMIT 100"""),
    Q("q25_ann_bruteforce_topk", q25, Headline, """
      WITH scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS item_id,
          list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
            CAST(c.embedding AS DOUBLE[])) AS cos
        FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
        WHERE q.vec_id < 10)
      SELECT query_id, item_id,
        CAST(row_number() OVER w AS BIGINT) AS rank, round(cos, 4) AS cosine
      FROM scored
      WINDOW w AS (PARTITION BY query_id ORDER BY round(cos, 6) DESC, item_id)
      QUALIFY rank <= 5 ORDER BY query_id, rank"""),
    Q("q26_ann_lsh_topk", q26, Headline, """
      WITH b AS (
        SELECT vec_id, embedding,
          (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END +
           CASE WHEN embedding[9] >= 0 THEN 2 ELSE 0 END +
           CASE WHEN embedding[17] >= 0 THEN 4 ELSE 0 END +
           CASE WHEN embedding[25] >= 0 THEN 8 ELSE 0 END +
           CASE WHEN embedding[33] >= 0 THEN 16 ELSE 0 END) AS bucket
        FROM embeddings),
      probes AS (
        SELECT vec_id, embedding,
          unnest([xor(bucket, m) FOR m IN
            [0, 1, 2, 4, 8, 16, 3, 5, 9, 17, 6, 10, 18, 12, 20, 24]]) AS pb
        FROM b WHERE vec_id < 10),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS item_id,
          list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
            CAST(c.embedding AS DOUBLE[])) AS cos
        FROM probes q JOIN b c ON q.pb = c.bucket AND c.vec_id != q.vec_id)
      SELECT query_id, item_id,
        CAST(row_number() OVER w AS BIGINT) AS rank, round(cos, 4) AS cosine
      FROM scored
      WINDOW w AS (PARTITION BY query_id ORDER BY round(cos, 6) DESC, item_id)
      QUALIFY rank <= 5 ORDER BY query_id, rank"""),
    Q("q27_lang_detect", q27, Unbenched, """
      WITH sc AS (
        SELECT lang,
          len(list_filter(tk, t -> t IN ('the','a','of','and','to'))) AS s_en,
          len(list_filter(tk, t -> t IN ('el','la','de','que','y'))) AS s_es,
          len(list_filter(tk, t -> t IN ('le','la','de','et','un'))) AS s_fr,
          len(list_filter(tk, t -> t IN ('der','die','und','das','ein'))) AS s_de,
          len(list_filter(tk, t -> t IN ('的','了','是','我','不'))) AS s_zh
        FROM (SELECT lang,
          regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM documents)),
      pred AS (
        SELECT lang, CASE
          WHEN s_en = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_en > 0 THEN 'en'
          WHEN s_es = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_es > 0 THEN 'es'
          WHEN s_fr = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_fr > 0 THEN 'fr'
          WHEN s_de = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_de > 0 THEN 'de'
          WHEN s_zh = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_zh > 0 THEN 'zh'
          ELSE 'und' END AS lang_pred
        FROM sc)
      SELECT lang, lang_pred, count(*) AS n FROM pred
      GROUP BY lang, lang_pred ORDER BY lang, lang_pred"""),
    Q("q28_quality_scores", q28, Headline, """
      WITH f AS (
        SELECT doc_id,
          CAST(len(tk) AS DOUBLE) AS nt,
          CAST(len(list_distinct(tk)) AS DOUBLE) AS nd,
          CAST(len(text) AS DOUBLE) AS chars,
          CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha,
          len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS nsw
        FROM (SELECT doc_id, text,
          regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM documents))
      SELECT doc_id,
        CAST(nt AS BIGINT) AS n_tokens,
        CAST(nsw AS BIGINT) AS n_subwords,
        round(nd / nullif(nt, 0.0), 4) AS distinct_ratio,
        round((chars - (nt - 1)) / nullif(nt, 0.0), 4) AS mean_token_len,
        round(alpha / nullif(chars, 0.0), 4) AS alpha_ratio,
        round(least(greatest(
          0.4 * least(nt / 50.0, 1.0) +
          0.3 * coalesce(nd / nullif(nt, 0.0), 0.0) +
          0.3 * coalesce(alpha / nullif(chars, 0.0), 0.0), 0.0), 1.0), 4) AS quality
      FROM f ORDER BY doc_id"""),
    Q("q29_token_stats_by_lang", q29, Unbenched, """
      WITH f AS (
        SELECT lang,
          len(regexp_split_to_array(trim(lower(text)), '\s+')) AS nt,
          len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS ns
        FROM documents)
      SELECT lang, count(*) AS n_docs,
        CAST(sum(nt) AS BIGINT) AS total_tokens,
        round(CAST(sum(nt) AS DOUBLE) / count(*), 4) AS avg_tokens,
        CAST(sum(ns) AS BIGINT) AS total_subwords
      FROM f GROUP BY lang ORDER BY lang"""),
    Q("q30_fingerprint", q30, Unbenched, """
      SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
        regexp_split_to_array(trim(lower(text)), '\s+'))), ' ')) AS fingerprint
      FROM documents ORDER BY doc_id"""),
    Q("q31_stream_window_hourly", q31, Unbenched, """
      SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hour_epoch,
        event_type, count(*) AS n_events,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY hour_epoch, event_type"""),
    Q("q32_sessionize", q32, Headline, sessionizeOracle),
    Q("q33_asset_metadata", q33, Unbenched, """
      SELECT doc_id AS asset_id,
        CASE WHEN doc_id % 3 = 0 THEN 'image'
             WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
        source, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        md5(text) AS content_hash
      FROM documents ORDER BY asset_id"""),
    Q("q34_frame_sample", q34, Unbenched, """
      WITH v AS (
        SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
        FROM documents WHERE doc_id % 3 = 2),
      f AS (
        SELECT doc_id, least(CAST(floor(byte_len / 64.0) AS BIGINT) + 1, 40) AS n_frames
        FROM v)
      SELECT doc_id AS asset_id, CAST(unnest(range(0, n_frames, 10)) AS BIGINT) AS frame_idx
      FROM f ORDER BY asset_id, frame_idx"""),
    Q("q35_decode_stats", q35, Unbenched, """
      WITH d AS (
        SELECT doc_id,
          CAST(64 + (('0x'||substring(md5(text),1,8))::BIGINT % 1856) AS INTEGER) AS width,
          CAST(64 + (('0x'||substring(md5(text),9,8))::BIGINT % 1016) AS INTEGER) AS height
        FROM documents)
      SELECT doc_id AS asset_id, width, height, CAST(3 AS INTEGER) AS channels,
        round(CAST(width AS DOUBLE) / CAST(height AS DOUBLE), 4) AS aspect,
        (width > 1024 OR height > 1024) AS needs_resize,
        CAST(width AS BIGINT) * height AS pixels,
        CAST(floor(CAST(width AS DOUBLE) *
          CASE WHEN greatest(width, height) <= 1024 THEN CAST(1.0 AS DOUBLE)
            ELSE CAST(1024 AS DOUBLE) / CAST(greatest(width, height) AS DOUBLE)
          END) AS INTEGER) AS out_width,
        CAST(floor(CAST(height AS DOUBLE) *
          CASE WHEN greatest(width, height) <= 1024 THEN CAST(1.0 AS DOUBLE)
            ELSE CAST(1024 AS DOUBLE) / CAST(greatest(width, height) AS DOUBLE)
          END) AS INTEGER) AS out_height
      FROM d ORDER BY asset_id"""),
    Q("q36_stream_window_agg", q36, Unbenched, """
      SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hour_epoch,
        event_type, count(*) AS n_events,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY hour_epoch, event_type"""),
    Q("q37_ann_ivf_topk", q37, Unbenched, """
      WITH cent AS (
        SELECT label AS cell, embedding AS cvec FROM embeddings
        QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) = 1),
      assign AS (
        SELECT e.vec_id AS item_id, e.embedding AS vec, c.cell
        FROM embeddings e CROSS JOIN cent c
        QUALIFY row_number() OVER (PARTITION BY e.vec_id
          ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
            CAST(c.cvec AS DOUBLE[])), 6) DESC, c.cell) = 1),
      q AS (SELECT item_id AS query_id, vec AS qvec, cell
            FROM assign WHERE item_id < 10),
      scored AS (
        SELECT q.query_id, a.item_id,
          list_cosine_similarity(CAST(q.qvec AS DOUBLE[]),
            CAST(a.vec AS DOUBLE[])) AS cos
        FROM assign a JOIN q ON a.cell = q.cell AND a.item_id != q.query_id)
      SELECT query_id, item_id,
        CAST(row_number() OVER w AS BIGINT) AS rank, round(cos, 4) AS cosine
      FROM scored
      WINDOW w AS (PARTITION BY query_id ORDER BY round(cos, 6) DESC, item_id)
      QUALIFY rank <= 5 ORDER BY query_id, rank"""),
    Q("q38_token_frequency", q38, Unbenched, """
      WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        FROM documents)
      SELECT token, count(*) AS n_occurrences,
        count(DISTINCT doc_id) AS doc_freq
      FROM toks GROUP BY token
      ORDER BY n_occurrences DESC, token LIMIT 50"""),
    Q("q39_length_histogram", q39, Unbenched, """
      SELECT lang, CAST(floor(n_chars / 100.0) AS BIGINT) AS len_bucket,
        count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM documents GROUP BY 1, 2 ORDER BY lang, len_bucket"""),
    Q("q40_stateful_user_totals", q40, Unbenched, """
      SELECT user_id, count(*) AS n,
        round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS total
      FROM events GROUP BY user_id ORDER BY user_id"""),
    Q("q41_asof_click_attribution", q41, Extra, """
      WITH clicks AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS cts, max(event_id) AS click_id
        FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      p AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS pts
        FROM events WHERE event_type = 'purchase')
      SELECT p.event_id, p.user_id,
        coalesce(c.click_id, -1) AS click_id,
        coalesce(epoch_us(p.pts) - epoch_us(c.cts), -1) AS gap_us
      FROM p ASOF LEFT JOIN clicks c
        ON p.user_id = c.user_id AND p.pts >= c.cts
      ORDER BY event_id"""),
    Q("q42_range_prior_clicks", q42, Unbenched, """
      SELECT p.event_id, p.user_id,
        count(c.cts) AS n_prior_clicks,
        coalesce(CAST(sum(CAST(c.value AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS sum_click_value
      FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS pts
            FROM events WHERE event_type = 'purchase') p
      LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS cts, value
                 FROM events WHERE event_type = 'click') c
        ON c.user_id = p.user_id
          AND c.cts >= p.pts - INTERVAL 1 HOUR AND c.cts < p.pts
      GROUP BY p.event_id, p.user_id
      ORDER BY event_id"""),
    Q("q43_interval_join_binned", q43, Unbenched, """
      WITH iv AS (
        SELECT event_id AS interval_id,
          CAST(ts AS TIMESTAMP) - INTERVAL 5 MINUTE AS lo,
          CAST(ts AS TIMESTAMP) + INTERVAL 5 MINUTE AS hi
        FROM events WHERE event_type = 'error' AND user_id < 10),
      pt AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value
             FROM events WHERE event_type = 'view')
      SELECT iv.interval_id,
        count(pt.ts) AS n_views,
        coalesce(CAST(sum(CAST(pt.value AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS sum_view_value
      FROM iv LEFT JOIN pt ON pt.ts >= iv.lo AND pt.ts < iv.hi
      GROUP BY iv.interval_id ORDER BY interval_id"""),
    Q("q44_asof_native", q44, Extra, """
      WITH clicks AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS cts, max(event_id) AS click_id
        FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      p AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS pts
        FROM events WHERE event_type = 'purchase')
      SELECT p.event_id, p.user_id,
        coalesce(c.click_id, -1) AS click_id,
        coalesce(epoch_us(p.pts) - epoch_us(c.cts), -1) AS gap_us
      FROM p ASOF LEFT JOIN clicks c
        ON p.user_id = c.user_id AND p.pts >= c.cts
      ORDER BY event_id"""),
    Q("q45_stream_distinct_types", q45, Unbenched, """
      SELECT user_id, count(DISTINCT event_type) AS n_types
      FROM events GROUP BY user_id ORDER BY user_id"""),
    Q("q46_percentiles", q46, Unbenched, """
      SELECT event_type,
        round(quantile_cont(value, 0.5), 4) AS p50,
        round(quantile_cont(value, 0.95), 4) AS p95,
        round(min(value), 4) AS vmin,
        round(max(value), 4) AS vmax
      FROM events GROUP BY event_type ORDER BY event_type"""),
    Q("q47_window_suite", q47, Unbenched, """
      SELECT user_id, event_id,
        lag(event_id, 1, -1) OVER w AS prev_event,
        lead(event_id, 1, -1) OVER w AS next_event,
        first_value(event_id) OVER wall AS first_event,
        last_value(event_id) OVER wall AS last_event,
        CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        round(percent_rank() OVER w, 6) AS pct_rank,
        CAST(dense_rank() OVER w AS BIGINT) AS drank
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id),
        wall AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      ORDER BY user_id, event_id"""),
    Q("q48_scalar_suite", q48, Unbenched, """
      SELECT c_custkey,
        levenshtein(c_name, 'Customer#000000001') AS edit_dist,
        translate(lower(c_mktsegment), 'aeiou', '_____') AS seg_masked,
        lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
        substring(c_name, -4, 4) AS name_tail,
        array_to_string(string_split(c_mktsegment, 'U'), '|') AS seg_split,
        greatest(c_acctbal, 0.0) AS bal_floor,
        CASE WHEN c_acctbal < 0 THEN 'overdrawn'
             WHEN c_acctbal < 1000 THEN 'low' ELSE 'ok' END AS bal_band,
        CAST(length(c_name) AS BIGINT) AS name_len
      FROM customer ORDER BY c_custkey"""),
    Q("q49_kmeans_iteration", q49, Extra, """
      WITH cent AS (
        SELECT label AS cell, embedding AS cvec FROM embeddings
        QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) = 1),
      assign AS (
        SELECT e.vec_id AS item_id, e.embedding AS vec, c.cell
        FROM embeddings e CROSS JOIN cent c
        QUALIFY row_number() OVER (PARTITION BY e.vec_id
          ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
            CAST(c.cvec AS DOUBLE[])), 6) DESC, c.cell) = 1),
      dims AS (
        SELECT cell, generate_subscripts(vec, 1) AS pos, unnest(vec) AS val
        FROM assign),
      avgs AS (
        SELECT cell, pos,
          CAST(sum(CAST(CAST(val AS DOUBLE) AS DECIMAL(27,8))) AS DOUBLE) / count(*) AS avg_val
        FROM dims GROUP BY cell, pos),
      norms AS (
        SELECT cell,
          sqrt(CAST(sum(CAST(avg_val * avg_val AS DECIMAL(27,12))) AS DOUBLE)) AS centroid_norm
        FROM avgs GROUP BY cell),
      members AS (SELECT cell, count(*) AS n_members FROM assign GROUP BY cell)
      SELECT m.cell AS cell, m.n_members AS n_members,
        round(n.centroid_norm, 6) AS centroid_norm
      FROM members m JOIN norms n ON m.cell = n.cell ORDER BY m.cell"""),
    Q("q50_tfidf_topk", q50, Unbenched, """
      WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        FROM documents),
      tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
      ntok AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok FROM tf GROUP BY 1),
      dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks),
      scored AS (
        SELECT t.doc_id AS doc_id, t.token AS token,
          (CAST(t.tf AS DOUBLE) / CAST(n.n_tok AS DOUBLE)) *
          (CAST(nd.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE)) AS score
        FROM tf t JOIN ntok n ON t.doc_id = n.doc_id
        JOIN dfreq d ON t.token = d.token CROSS JOIN nd)
      SELECT doc_id, token,
        CAST(row_number() OVER w AS BIGINT) AS rank,
        round(score, 4) AS tfidf
      FROM scored
      WINDOW w AS (PARTITION BY doc_id ORDER BY round(score, 6) DESC, token)
      QUALIFY rank <= 3
      ORDER BY doc_id, rank"""),
    Q("q51_variant_extract", q51, Unbenched, """
      SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k_val, count(*) AS n
      FROM events GROUP BY 1 ORDER BY k_val"""),
    Q("q52_dedup_groups", q52, Extra,
      s"""$q52CompCte
      SELECT id, component FROM comp ORDER BY id"""),
    Q("q53_sliding_window", q53, Unbenched, """
      WITH c AS (
        SELECT event_type, value,
          unnest([time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)),
                  time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP))
                    - INTERVAL 30 MINUTE]) AS wstart
        FROM events)
      SELECT CAST(epoch(wstart) AS BIGINT) AS win_start, event_type,
        count(*) AS n_events,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM c GROUP BY 1, 2 ORDER BY win_start, event_type"""),
    Q("q54_simhash_neighbors", q54, Unbenched, q54Oracle),
    Q("q55_train_test_split", q55, Unbenched, """
      WITH b AS (
        SELECT lang, n_chars,
          ('0x'||substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bk
        FROM documents)
      SELECT lang,
        CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'val'
          ELSE 'test' END AS split,
        count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM b GROUP BY 1, 2 ORDER BY lang, split"""),
    Q("q56_unpivot_measures", q56, Unbenched, """
      SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
        l_quantity AS val FROM lineitem WHERE l_orderkey < 1000
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
      FROM lineitem WHERE l_orderkey < 1000
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
      FROM lineitem WHERE l_orderkey < 1000
      ORDER BY l_orderkey, l_linenumber, measure"""),
    Q("q57_pivot_lang_counts", q57, Unbenched, """
      SELECT source,
        count(*) FILTER (WHERE lang = 'de') AS de,
        count(*) FILTER (WHERE lang = 'en') AS en,
        count(*) FILTER (WHERE lang = 'es') AS es,
        count(*) FILTER (WHERE lang = 'fr') AS fr,
        count(*) FILTER (WHERE lang = 'zh') AS zh
      FROM documents GROUP BY source ORDER BY source"""),
    Q("q58_intersect_nations", q58, Unbenched, """
      SELECT c_nationkey AS nationkey FROM customer
      INTERSECT SELECT s_nationkey FROM supplier ORDER BY nationkey"""),
    Q("q59_correlated_subquery", q59, Unbenched, """
      SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS totalprice
      FROM orders o
      WHERE o_totalprice > 2 * (
        SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               / count(*)
        FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      ORDER BY o_orderkey"""),
    Q("q60_multi_distinct", q60, Unbenched, """
      SELECT event_type,
        count(DISTINCT user_id) AS n_users,
        count(DISTINCT event_id) AS n_events,
        count(*) AS n_rows
      FROM events GROUP BY event_type ORDER BY event_type"""),
    Q("q61_filter_having", q61, Unbenched, """
      SELECT user_id,
        count(*) FILTER (WHERE event_type = 'click') AS n_clicks,
        count(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
        count(*) AS n_total
      FROM events
      GROUP BY user_id
      HAVING count(*) FILTER (WHERE event_type = 'purchase') >= 10
      ORDER BY user_id"""),
    Q("q62_ann_multiprobe_topk", q62, Unbenched, """
      WITH b AS (
        SELECT vec_id, embedding,
          (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END +
           CASE WHEN embedding[9] >= 0 THEN 2 ELSE 0 END +
           CASE WHEN embedding[17] >= 0 THEN 4 ELSE 0 END +
           CASE WHEN embedding[25] >= 0 THEN 8 ELSE 0 END +
           CASE WHEN embedding[33] >= 0 THEN 16 ELSE 0 END) AS bucket
        FROM embeddings),
      probes AS (
        SELECT vec_id, embedding,
          unnest([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4),
                  xor(bucket, 8), xor(bucket, 16)]) AS pb
        FROM b WHERE vec_id < 10),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS item_id,
          list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
            CAST(c.embedding AS DOUBLE[])) AS cos
        FROM probes q JOIN b c ON q.pb = c.bucket AND c.vec_id != q.vec_id)
      SELECT query_id, item_id,
        CAST(row_number() OVER w AS BIGINT) AS rank, round(cos, 4) AS cosine
      FROM scored
      WINDOW w AS (PARTITION BY query_id ORDER BY round(cos, 6) DESC, item_id)
      QUALIFY rank <= 5 ORDER BY query_id, rank"""),
    Q("q63_stratified_sample", q63, Extra, raw"""
      SELECT doc_id, lang, source FROM documents
      WHERE ${hashPosSql("lang", "CAST(doc_id AS VARCHAR)")}
            < 1073741824
      ORDER BY doc_id"""),
    Q("q64_kmeans_two_iterations", q64, Unbenched, """
      WITH cent0 AS (
        SELECT label AS cell, CAST(embedding AS DOUBLE[]) AS cvec FROM embeddings
        QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) = 1),
      assign1 AS (
        SELECT e.vec_id AS item_id, e.embedding AS vec, c.cell
        FROM embeddings e CROSS JOIN cent0 c
        QUALIFY row_number() OVER (PARTITION BY e.vec_id
          ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
            c.cvec), 6) DESC, c.cell) = 1),
      dims1 AS (
        SELECT cell, generate_subscripts(vec, 1) AS pos, unnest(vec) AS val
        FROM assign1),
      avgs1 AS (
        SELECT cell, pos,
          CAST(sum(CAST(CAST(val AS DOUBLE) AS DECIMAL(27,8))) AS DOUBLE) / count(*) AS avg_val
        FROM dims1 GROUP BY cell, pos),
      cent1 AS (
        SELECT cell, list(avg_val ORDER BY pos) AS cvec FROM avgs1 GROUP BY cell),
      assign2 AS (
        SELECT e.vec_id AS item_id, e.embedding AS vec, c.cell
        FROM embeddings e CROSS JOIN cent1 c
        QUALIFY row_number() OVER (PARTITION BY e.vec_id
          ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
            c.cvec), 6) DESC, c.cell) = 1),
      dims2 AS (
        SELECT cell, generate_subscripts(vec, 1) AS pos, unnest(vec) AS val
        FROM assign2),
      avgs2 AS (
        SELECT cell, pos,
          CAST(sum(CAST(CAST(val AS DOUBLE) AS DECIMAL(27,8))) AS DOUBLE) / count(*) AS avg_val
        FROM dims2 GROUP BY cell, pos),
      norms AS (
        SELECT cell,
          sqrt(CAST(sum(CAST(avg_val * avg_val AS DECIMAL(27,12))) AS DOUBLE)) AS centroid_norm
        FROM avgs2 GROUP BY cell),
      members AS (SELECT cell, count(*) AS n_members FROM assign2 GROUP BY cell)
      SELECT m.cell AS cell, m.n_members AS n_members,
        round(n.centroid_norm, 6) AS centroid_norm
      FROM members m JOIN norms n ON m.cell = n.cell ORDER BY m.cell"""),
    Q("q65_cap_per_stratum", q65, Unbenched, raw"""
      SELECT doc_id, source, lang FROM documents
      QUALIFY row_number() OVER (PARTITION BY source
        ORDER BY ${hashPosSql("source", "CAST(doc_id AS VARCHAR)")},
          doc_id) <= 10
      ORDER BY doc_id"""),
    Q("q66_decontaminate", q66, Extra, q66Oracle),
    Q("q67_sequence_packing", q67, Extra, """
      WITH f AS (
        SELECT doc_id, lang,
          CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, lang, n_tokens,
          CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM f)
      SELECT doc_id, lang, n_tokens, cum_tokens,
        CAST((cum_tokens - n_tokens) // 2048 AS BIGINT) AS bin_id,
        CAST((cum_tokens - 1) // 2048 AS BIGINT) >
          CAST((cum_tokens - n_tokens) // 2048 AS BIGINT) AS spans_bins
      FROM c ORDER BY doc_id"""),
    Q("q68_salted_agg", q68, Unbenched, """
      SELECT event_type, count(*) AS n_events,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY event_type ORDER BY event_type"""),
    Q("q69_dedup_keep_best", q69, Extra, """
      WITH RECURSIVE toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
          for i in range(1, len(tk) - 1)]) AS s
        FROM toks WHERE len(tk) >= 3),
      sig AS (
        SELECT doc_id, s,
          flatten([[list_min([md5(CAST(sd AS VARCHAR) || '|' || x)[j*4+1 : j*4+4]
            for x in s]) for j in range(0, 8)] for sd in range(0, 2)]) AS sg
        FROM sh),
      banded AS (
        SELECT doc_id, s, band,
          md5(array_to_string(sg[band*4+1:band*4+4], '|')) AS bucket
        FROM sig, range(0, 4) r(band)),
      cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          first(a.s) AS sa, first(b.s) AS sb
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
      edges AS (
        SELECT id_a, id_b FROM cand
        WHERE CAST(len(list_intersect(sa, sb)) AS DOUBLE) /
              CAST(len(list_distinct(list_concat(sa, sb))) AS DOUBLE) >= 0.5),
      sym AS (
        SELECT id_a AS s, id_b AS d FROM edges
        UNION ALL SELECT id_b, id_a FROM edges),
      reach(id, r) AS (
        SELECT DISTINCT s, s FROM sym
        UNION
        SELECT reach.id, sym.d FROM reach JOIN sym ON reach.r = sym.s),
      comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
      qual AS (
        SELECT doc_id AS id, round(least(greatest(
          0.4 * least(nt / 50.0, 1.0) +
          0.3 * coalesce(nd / nullif(nt, 0.0), 0.0) +
          0.3 * coalesce(alpha / nullif(chars, 0.0), 0.0), 0.0), 1.0), 4) AS quality
        FROM (SELECT doc_id,
          CAST(len(tk) AS DOUBLE) AS nt,
          CAST(len(list_distinct(tk)) AS DOUBLE) AS nd,
          CAST(len(text) AS DOUBLE) AS chars,
          CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha
          FROM (SELECT doc_id, text,
            regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM documents))),
      ranked AS (
        SELECT comp.component, comp.id, qual.quality,
          row_number() OVER (PARTITION BY comp.component
            ORDER BY qual.quality DESC, comp.id) AS rn
        FROM comp JOIN qual ON comp.id = qual.id)
      SELECT component, max(CASE WHEN rn = 1 THEN id END) AS keep_id,
        count(*) AS n_docs,
        max(CASE WHEN rn = 1 THEN quality END) AS best_quality
      FROM ranked GROUP BY component ORDER BY component"""),
    Q("q70_stream_range_join", q70, Unbenched, """
      SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
        epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP)) AS gap_us
      FROM events p JOIN events c
        ON c.user_id = p.user_id
       AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
       AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
      WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      ORDER BY purchase_id, click_id"""),
    Q("q71_salted_join", q71, Extra, """
      SELECT c_mktsegment, count(*) AS n_orders,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1 ORDER BY c_mktsegment"""),
    Q("q72_pii_redaction", q72, Unbenched, """
      WITH inj AS (
        SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
          || '@example.com from host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
          || '.7 or call +1415555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        FROM documents)
      SELECT doc_id,
        CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        CAST(len(regexp_extract_all(t, '\+\d{7,15}\b')) AS BIGINT) AS n_phones,
        md5(regexp_replace(regexp_replace(regexp_replace(t,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
          '\+\d{7,15}\b', '[PHONE]', 'g')) AS redacted_hash
      FROM inj ORDER BY doc_id"""),
    Q("q73_repetition_stats", q73, Extra, """
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      tg AS (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 2),
          i -> array_to_string(t[i:i+2], ' '))) AS gram
        FROM toks WHERE len(t) >= 3),
      cnt AS (SELECT doc_id, gram, count(*) AS c FROM tg GROUP BY 1, 2)
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams, count(*) AS n_distinct,
        CAST(max(c) AS BIGINT) AS top_count,
        round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 4) AS top_frac
      FROM cnt GROUP BY doc_id ORDER BY doc_id"""),
    Q("q74_incremental_dedup", q74, Extra, q74Oracle),
    Q("q75_quality_quantile_filter", q75, Unbenched, """
      WITH f AS (
        SELECT doc_id, lang,
          CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS DOUBLE) AS nt,
          CAST(len(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))) AS DOUBLE) AS nd,
          CAST(len(text) AS DOUBLE) AS chars,
          CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha
        FROM documents),
      q AS (
        SELECT doc_id, lang,
          round(least(greatest(
            0.4 * least(nt / 50.0, 1.0) +
            0.3 * coalesce(nd / nullif(nt, 0.0), 0.0) +
            0.3 * coalesce(alpha / nullif(chars, 0.0), 0.0), 0.0), 1.0), 4) AS quality
        FROM f),
      thr AS (SELECT lang, quantile_cont(quality, 0.25) AS t FROM q GROUP BY lang)
      SELECT doc_id, q.lang, quality
      FROM q JOIN thr ON q.lang IS NOT DISTINCT FROM thr.lang
      WHERE quality >= t ORDER BY doc_id"""),
    Q("q76_deterministic_shards", q76, Extra, raw"""
      WITH k AS (
        SELECT doc_id,
          ${hashPosSql("'shard'", "CAST(doc_id AS VARCHAR)")} AS key
        FROM documents),
      r AS (
        SELECT doc_id,
          row_number() OVER (ORDER BY key, doc_id) - 1 AS rn,
          count(*) OVER () AS n
        FROM k)
      SELECT doc_id, CAST(rn AS BIGINT) AS rn,
        CAST((rn * 8) // n AS BIGINT) AS shard
      FROM r ORDER BY doc_id"""),
    Q("q77_weighted_mix", q77, Unbenched, raw"""
      WITH w AS (
        SELECT doc_id, lang,
          CASE lang WHEN 'en' THEN 2.5 WHEN 'fr' THEN 1.5 WHEN 'de' THEN 1.0
                    WHEN 'es' THEN 0.25 ELSE 0.0 END AS wt,
          ${hashPosSql("lang", "CAST(doc_id AS VARCHAR)")} AS h
        FROM documents),
      c AS (
        SELECT doc_id, lang,
          CAST(floor(wt) AS BIGINT) +
            CASE WHEN h < CAST(floor((wt - floor(wt)) * 4294967296.0) AS BIGINT)
                 THEN 1 ELSE 0 END AS copies
        FROM w)
      SELECT doc_id, lang, unnest(generate_series(0, copies - 1)) AS copy
      FROM c WHERE copies > 0
      ORDER BY doc_id, copy"""),
    Q("q78_nfc_normalize", q78, Unbenched, """
      WITH inj AS (
        SELECT doc_id, text || ' cafe' || chr(769) || ' A' || chr(778) AS t
        FROM documents)
      SELECT doc_id,
        CAST(octet_length(encode(t)) AS BIGINT) AS raw_bytes,
        CAST(octet_length(encode(nfc_normalize(t))) AS BIGINT) AS norm_bytes,
        nfc_normalize(t) <> t AS changed,
        md5(nfc_normalize(t)) AS norm_hash
      FROM inj ORDER BY doc_id"""),
    Q("q79_packed_sequences", q79, Extra, """
      WITH f AS (
        SELECT doc_id, lang, text,
          CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, lang, text, n_tokens,
          CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM f),
      b AS (
        SELECT lang,
          CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin_id,
          doc_id, text, n_tokens
        FROM c)
      SELECT lang, bin_id, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
        md5(string_agg(text, chr(10)||chr(10) ORDER BY doc_id)) AS seq_hash
      FROM b GROUP BY lang, bin_id ORDER BY lang, bin_id"""),
    Q("q80_quantize_int8", q80, Unbenched, """
      WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings),
      s AS (
        SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS ma
        FROM v),
      q AS (
        SELECT vec_id, ma / 127.0 AS scale,
          CASE WHEN ma = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT))
               ELSE list_transform(e, x -> CAST(round(x / (ma / 127.0)) AS BIGINT))
          END AS qv
        FROM s)
      SELECT vec_id, round(scale, 6) AS scale,
        CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS q_norm2,
        md5(array_to_string(qv, ',')) AS q_hash
      FROM q ORDER BY vec_id"""),
    Q("q81_column_profile", q81, Unbenched, """
      SELECT * FROM (
        SELECT 'lang' AS "column", count(*) AS n_rows, count(lang) AS n_nonnull,
          count(DISTINCT lang) AS n_distinct,
          CAST(min(lang) AS VARCHAR) AS min_val,
          CAST(max(lang) AS VARCHAR) AS max_val
        FROM documents
        UNION ALL
        SELECT 'source', count(*), count(source), count(DISTINCT source),
          CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
        FROM documents
        UNION ALL
        SELECT 'n_chars', count(*), count(n_chars), count(DISTINCT n_chars),
          CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
        FROM documents)
      ORDER BY "column""""),
    Q("q82_passage_dup", q82, Unbenched, """
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      w0 AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
          generate_series(1, len(t) - 7),
          i -> md5(array_to_string(t[i:i+7], ' '))))) AS h
        FROM toks WHERE len(t) >= 8),
      byh AS (SELECT h, count(DISTINCT doc_id) AS nd FROM w0 GROUP BY h),
      per AS (
        SELECT doc_id, count(*) AS n_windows,
          sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_shared
        FROM w0 JOIN byh USING (h) GROUP BY doc_id)
      SELECT doc_id, CAST(n_windows AS BIGINT) AS n_windows,
        CAST(n_shared AS BIGINT) AS n_shared,
        round(CAST(n_shared AS DOUBLE) / CAST(n_windows AS DOUBLE), 4) AS dup_frac
      FROM per ORDER BY doc_id"""),
    Q("q83_incremental_agg", q83, Unbenched, """
      SELECT event_type, count(*) AS n_events,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY event_type"""),
    Q("q84_scd2_merge", q84, Unbenched, """
      WITH cur AS (SELECT c_custkey, c_mktsegment, c_nationkey FROM customer),
      upd AS (
        SELECT c_custkey,
          CASE WHEN c_custkey % 10 = 0 THEN 'MACHINERY' ELSE c_mktsegment END AS c_mktsegment,
          c_nationkey
        FROM cur WHERE c_custkey % 97 <> 0
        UNION ALL
        SELECT c_custkey + 1000000, 'BUILDING', c_nationkey
        FROM cur WHERE c_custkey % 101 = 0),
      j AS (
        SELECT coalesce(c.c_custkey, u.c_custkey) AS k,
          c.c_mktsegment AS cs, c.c_nationkey AS cn,
          u.c_mktsegment AS us, u.c_nationkey AS un,
          (c.c_custkey IS NOT NULL) AS has_c, (u.c_custkey IS NOT NULL) AS has_u
        FROM cur c FULL OUTER JOIN upd u ON c.c_custkey = u.c_custkey),
      ch AS (
        SELECT *, has_c AND has_u AND
          (cs IS DISTINCT FROM us OR cn IS DISTINCT FROM un) AS changed
        FROM j)
      SELECT k AS c_custkey, cs AS c_mktsegment, cn AS c_nationkey,
        '1900-01-01' AS valid_from, '2024-02-01' AS valid_to, FALSE AS is_current
      FROM ch WHERE has_c AND (NOT has_u OR changed)
      UNION ALL
      SELECT k, cs, cn, '1900-01-01', '9999-12-31', TRUE
      FROM ch WHERE has_c AND has_u AND NOT changed
      UNION ALL
      SELECT k, us, un, '2024-02-01', '9999-12-31', TRUE
      FROM ch WHERE has_u AND (NOT has_c OR changed)
      ORDER BY c_custkey, valid_from"""),
    Q("q85_vocab_encode", q85, Unbenched, """
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      pos AS (
        SELECT doc_id, u.pos, u.tok FROM (
          SELECT doc_id, unnest(list_transform(generate_series(1, len(t)),
            i -> {'pos': i, 'tok': t[i]})) AS u
          FROM toks)),
      vocab AS (
        SELECT tok AS token, row_number() OVER (ORDER BY cnt DESC, tok) AS tid
        FROM (SELECT tok, count(*) AS cnt FROM pos GROUP BY tok
              ORDER BY cnt DESC, tok LIMIT 100)),
      enc AS (
        SELECT p.doc_id, p.pos, coalesce(v.tid, 0) AS tid
        FROM pos p LEFT JOIN vocab v ON p.tok = v.token)
      SELECT doc_id, count(*) AS n_tokens,
        CAST(sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos)) AS ids_hash
      FROM enc GROUP BY doc_id ORDER BY doc_id"""),
    Q("q86_chunk_stride", q86, Unbenched, """
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      st AS (
        SELECT doc_id, t, unnest(generate_series(1, len(t), 32)) AS s
        FROM toks)
      SELECT doc_id, CAST((s - 1) / 32 AS BIGINT) AS chunk_id,
        CAST(len(t[s:s+63]) AS BIGINT) AS n_chunk_tokens,
        md5(array_to_string(t[s:s+63], ' ')) AS chunk_hash
      FROM st
      WHERE s = 1 OR (s - 1) - 32 + 64 < len(t)
      ORDER BY doc_id, chunk_id"""),
    Q("q87_corpus_prep", q87, Extra, raw"""
      WITH f AS (
        SELECT doc_id, lang, source,
          CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS DOUBLE) AS nt,
          CAST(len(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))) AS DOUBLE) AS nd,
          CAST(len(text) AS DOUBLE) AS chars,
          CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha
        FROM documents),
      q AS (
        SELECT doc_id, lang, source, CAST(nt AS BIGINT) AS n_tokens,
          round(least(greatest(
            0.4 * least(nt / 50.0, 1.0) +
            0.3 * coalesce(nd / nullif(nt, 0.0), 0.0) +
            0.3 * coalesce(alpha / nullif(chars, 0.0), 0.0), 0.0), 1.0), 4) AS quality
        FROM f),
      thr AS (SELECT lang, quantile_cont(quality, 0.25) AS t FROM q GROUP BY lang),
      kept AS (
        SELECT q.* FROM q JOIN thr ON q.lang IS NOT DISTINCT FROM thr.lang
        WHERE quality >= t),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY source ORDER BY
          ${hashPosSql("source", "CAST(doc_id AS VARCHAR)")},
          doc_id) AS rk
        FROM kept),
      capped AS (SELECT * FROM ranked WHERE rk <= 20),
      c AS (
        SELECT doc_id, lang, n_tokens, quality,
          CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM capped)
      SELECT lang,
        CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin_id,
        count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
        CAST(sum(CAST(quality AS DECIMAL(18,4))) AS DOUBLE) AS quality_sum
      FROM c GROUP BY 1, 2 ORDER BY lang, bin_id"""),
    Q("q88_hard_negatives", q88, Unbenched, """
      WITH scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS item_id,
          list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
            CAST(c.embedding AS DOUBLE[])) AS cos
        FROM embeddings q JOIN embeddings c ON c.label != q.label
        WHERE q.vec_id < 10)
      SELECT query_id, item_id,
        CAST(row_number() OVER w AS BIGINT) AS rank, round(cos, 4) AS cosine
      FROM scored
      WINDOW w AS (PARTITION BY query_id ORDER BY round(cos, 6) DESC, item_id)
      QUALIFY rank <= 5 ORDER BY query_id, rank"""),
    Q("q89_stream_landing", q89, Unbenched, """
      SELECT event_type, count(*) AS n_events,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY event_type"""),
    Q("q90_zorder_curve", q90, Unbenched, q90Oracle),
    Q("q91_bloom_pruned_join", q91, Extra, """
      SELECT l_returnflag, count(*) AS n_items,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'
      GROUP BY 1 ORDER BY l_returnflag"""),
    Q("q92_negative_sampling", q92, Unbenched, raw"""
      WITH pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS item_id,
          ${hashPosSql("CAST(q.vec_id AS VARCHAR)", "CAST(c.vec_id AS VARCHAR)")} AS pos
        FROM embeddings q JOIN embeddings c ON c.label != q.label
        WHERE q.vec_id < 10)
      SELECT query_id, item_id,
        CAST(row_number() OVER (PARTITION BY query_id ORDER BY pos, item_id)
          AS BIGINT) AS rank
      FROM pairs QUALIFY rank <= 5 ORDER BY query_id, rank"""),
    Q("q93_simpson_diversity", q93, Extra, """
      WITH tok AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents),
      cnt AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2)
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        1.0 - CAST(sum(c * c) AS DOUBLE) / CAST(sum(c) * sum(c) AS DOUBLE)
          AS simpson
      FROM cnt GROUP BY doc_id ORDER BY doc_id"""),
    // Oracle over the file q94 lands (the generator is not expressible in
    // DuckDB SQL — splitmix64 needs 64-bit wraparound); the predicate is
    // applied HERE while the engine pushed it into the V2 scan.
    Q("q94_docgen_source", q94, Unbenched, s"""
      SELECT lang, count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM read_parquet('$q94LandPath/*.parquet')
      WHERE doc_id >= 1000 AND doc_id < 4000
      GROUP BY lang ORDER BY lang"""),
    Q("q95_funnel", q95, Extra, funnelOracle),
    Q("q96_manifest_landing", q96, Unbenched, """
      SELECT event_type, count(*) AS n_events,
        min(event_id) AS min_id, max(event_id) AS max_id
      FROM events GROUP BY 1 ORDER BY event_type"""),
    // the streaming funnel must reproduce the batch funnel exactly
    Q("q97_funnel_stream", q97, Unbenched, funnelOracle),
    Q("q98_winsorize", q98, Unbenched, """
      WITH r AS (
        SELECT event_id, event_type, value,
          row_number() OVER (PARTITION BY event_type
            ORDER BY value NULLS FIRST, event_id) AS rn,
          count(*) OVER (PARTITION BY event_type) AS n
        FROM events),
      thr AS (
        SELECT event_type AS s,
          min(CASE WHEN rn = greatest(CAST(ceil(0.05 * n) AS BIGINT), 1)
            THEN value END) AS lo,
          max(CASE WHEN rn = greatest(CAST(ceil(0.95 * n) AS BIGINT), 1)
            THEN value END) AS hi
        FROM r
        WHERE rn = greatest(CAST(ceil(0.05 * n) AS BIGINT), 1)
           OR rn = greatest(CAST(ceil(0.95 * n) AS BIGINT), 1)
        GROUP BY 1)
      SELECT e.event_id, e.event_type, e.value,
        least(greatest(e.value, t.lo), t.hi) AS clamped
      FROM events e JOIN thr t ON e.event_type IS NOT DISTINCT FROM t.s
      ORDER BY event_id"""),
    Q("q99_correlation", q99, Unbenched, """
      WITH m AS (
        SELECT l_returnflag,
          CAST(count(*) AS DOUBLE) AS n,
          -- decimal->double via VARCHAR: DuckDB's direct decimal cast
          -- rounds twice (int128->double, then /10^scale) and can land 1
          -- ulp off Spark's correctly-rounded BigDecimal cast once the
          -- scaled sum needs > 53 mantissa bits; the string parse is
          -- correctly rounded in both engines
          CAST(CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sx,
          CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sy,
          CAST(CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sxx,
          CAST(CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS syy,
          CAST(CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sxy
        FROM lineitem GROUP BY 1)
      SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
        (n * sxy - sx * sy) /
          sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr_qty_price
      FROM m ORDER BY l_returnflag"""),
    Q("q100_stream_static_join", q100, Unbenched, """
      WITH p AS (
        SELECT user_id, count(*) AS user_events,
          CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS user_value
        FROM events GROUP BY 1)
      SELECT e.event_id, e.user_id, e.value, p.user_events, p.user_value
      FROM events e JOIN p USING (user_id)
      WHERE e.event_type = 'purchase'
      ORDER BY event_id"""),
    Q("q101_pagerank", q101, Unbenched, q101Oracle),
    Q("q102_funnel_n", q102, Unbenched, q102Oracle),
    Q("q103_ann_ivf_probe2", q103, Unbenched, """
      WITH cent AS (
        SELECT label AS cell, embedding AS cvec FROM embeddings
        QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) = 1),
      assign AS (
        SELECT e.vec_id AS item_id, e.embedding AS vec, c.cell
        FROM embeddings e CROSS JOIN cent c
        QUALIFY row_number() OVER (PARTITION BY e.vec_id
          ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
            CAST(c.cvec AS DOUBLE[])), 6) DESC, c.cell) = 1),
      probes AS (
        SELECT e.vec_id AS query_id, e.embedding AS qvec, c.cell
        FROM embeddings e CROSS JOIN cent c
        WHERE e.vec_id < 10
        QUALIFY row_number() OVER (PARTITION BY e.vec_id
          ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
            CAST(c.cvec AS DOUBLE[])), 6) DESC, c.cell) <= 2),
      scored AS (
        SELECT q.query_id, a.item_id,
          list_cosine_similarity(CAST(q.qvec AS DOUBLE[]),
            CAST(a.vec AS DOUBLE[])) AS cos
        FROM assign a JOIN probes q ON a.cell = q.cell
          AND a.item_id != q.query_id)
      SELECT query_id, item_id,
        CAST(row_number() OVER w AS BIGINT) AS rank, round(cos, 4) AS cosine
      FROM scored
      WINDOW w AS (PARTITION BY query_id ORDER BY round(cos, 6) DESC, item_id)
      QUALIFY rank <= 5 ORDER BY query_id, rank"""),
    Q("q104_funnel_landing", q104, Unbenched, funnelOracle),
    Q("q105_temperature_mix", q105, Extra, """
      WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
      s AS (
        SELECT source, n_docs,
          CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER () AS DOUBLE) AS share
        FROM c),
      m AS (SELECT source, n_docs, share, sqrt(share) AS sm FROM s)
      SELECT source, n_docs, share, sm / max(sm) OVER () AS mix_weight
      FROM m ORDER BY source"""),
    // BM25 with the rational (log-free) Robertson idf; every arithmetic
    // step mirrors the engine's two-operand IEEE op order exactly, and the
    // k1+1 numerator is written as (1.2 + 1.0) so both engines derive the
    // identical double from the same literals.
    Q("q106_bm25_terms", q106, Extra, """
      WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents),
      dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS tot FROM dl),
      tf AS (SELECT doc_id, tok AS term, count(*) AS tf FROM toks
             WHERE tok IN ('data', 'query', 'stream') GROUP BY 1, 2),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      scored AS (
        SELECT t.term, t.doc_id, t.tf,
          ((CAST(s.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5) /
            (CAST(f.df AS DOUBLE) + 0.5) + 1.0) *
          (CAST(t.tf AS DOUBLE) * (1.2 + 1.0) /
            (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE) /
              (CAST(s.tot AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))) AS bm25
        FROM tf t JOIN dl d ON t.doc_id = d.doc_id
        JOIN dfreq f ON t.term = f.term CROSS JOIN stats s)
      SELECT term, CAST(row_number() OVER w AS BIGINT) AS rank, doc_id, tf,
        round(bm25, 4) AS bm25
      FROM scored WINDOW w AS (PARTITION BY term ORDER BY bm25 DESC, doc_id)
      QUALIFY rank <= 5 ORDER BY term, rank"""),
    Q("q107_containment_pairs", q107, Extra, """
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        FROM documents),
      sh AS (
        SELECT doc_id, unnest(list_distinct([array_to_string(tk[i:i+2], ' ')
          for i in range(1, len(tk) - 1)])) AS s
        FROM toks WHERE len(tk) >= 3),
      keepers AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 50),
      inf AS (SELECT sh.doc_id, sh.s FROM sh JOIN keepers USING (s)),
      sizes AS (SELECT doc_id AS id_a, count(*) AS size_a FROM inf GROUP BY 1),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        FROM inf a JOIN inf b ON a.s = b.s AND a.doc_id != b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b, n_shared, size_a,
        round(CAST(n_shared AS DOUBLE) / CAST(size_a AS DOUBLE), 4) AS containment
      FROM inter JOIN sizes USING (id_a)
      WHERE CAST(n_shared AS DOUBLE) / CAST(size_a AS DOUBLE) >= 0.5
      ORDER BY id_a, id_b"""),
    Q("q108_gopher_rules", q108, Extra, """
      WITH m AS (
        SELECT doc_id,
          len(tk) AS n_words,
          CAST(len(array_to_string(tk, '')) AS DOUBLE) /
            CAST(len(tk) AS DOUBLE) AS mean_word_len,
          CAST(len([w for w in tk if regexp_matches(w, '[a-z]')]) AS DOUBLE) /
            CAST(len(tk) AS DOUBLE) AS alpha_frac,
          ((len(text) - len(replace(text, '#', ''))) +
            (len(text) - len(replace(text, '...', ''))) / 3) /
            CAST(len(tk) AS DOUBLE) AS symbol_ratio,
          len(list_intersect(tk,
            ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS stop_hits
        FROM (SELECT doc_id, text,
          regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM documents))
      SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        round(mean_word_len, 4) AS mean_word_len,
        round(alpha_frac, 4) AS alpha_frac,
        round(symbol_ratio, 4) AS symbol_ratio,
        CAST(stop_hits AS BIGINT) AS stop_hits,
        n_words >= 20 AND n_words <= 100000 AS words_ok,
        mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS word_len_ok,
        alpha_frac > 0.8 AS alpha_ok,
        symbol_ratio < 0.1 AS symbol_ok,
        stop_hits >= 2 AS stop_ok,
        n_words >= 20 AND n_words <= 100000
          AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
          AND alpha_frac > 0.8 AND symbol_ratio < 0.1
          AND stop_hits >= 2 AS keep
      FROM m ORDER BY doc_id"""),
    // q109 is the bloom-prefiltered restatement of q66: its output is
    // identical by construction (bloom false positives die in the exact
    // join), so the SAME oracle gates that the prefilter dropped nothing.
    Q("q109_bloom_decontaminate", q109, Extra, q66Oracle),
    // q110: q52's components become split GROUPS — near-dups never
    // straddle train/eval. Boundaries interpolated from the SAME Scala
    // computation the operator uses (Sampling.splitBounds), so no float
    // arithmetic crosses engines.
    Q("q110_leakage_free_split", q110, Extra, {
      val b = graft.ops.Sampling.splitBounds(Seq(0.8, 0.1, 0.1))
      s"""$q52CompCte,
      keyed AS (
        SELECT d.doc_id, coalesce(c.component, d.doc_id) AS group_key
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
      pos AS (SELECT doc_id, group_key,
        ${hashPosSql("'split'", "CAST(group_key AS VARCHAR)")} AS p
        FROM keyed)
      SELECT doc_id, group_key,
        CASE WHEN p < ${b(0)} THEN 'train' WHEN p < ${b(1)} THEN 'val'
             ELSE 'test' END AS split
      FROM pos ORDER BY doc_id"""
    }),
    // Semantic dedup: cosine-threshold edges (boundary margin measured at
    // 7e-6 minimum across SFs — see q111's scaladoc), recursive-CTE
    // components, min-id representative.
    Q("q111_semantic_dedup", q111, Extra, """
      WITH RECURSIVE p AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
          CAST(b.embedding AS DOUBLE[])) >= 0.25),
      sym AS (
        SELECT id_a AS s, id_b AS d FROM p
        UNION ALL SELECT id_b, id_a FROM p),
      reach(id, r) AS (
        SELECT DISTINCT s, s FROM sym
        UNION
        SELECT reach.id, sym.d FROM reach JOIN sym ON reach.r = sym.s),
      comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
      SELECT component, min(id) AS keep_id, count(*) AS n_members
      FROM comp GROUP BY component ORDER BY component"""),
    Q("q112_temperature_rebalance", q112, Extra, raw"""
      WITH cnt AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
      sh AS (
        SELECT source,
          CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER () AS DOUBLE) AS share
        FROM cnt),
      m AS (SELECT source, sqrt(share) AS sm FROM sh),
      w AS (SELECT source, sm / max(sm) OVER () * 2.0 AS wt FROM m),
      j AS (
        SELECT d.doc_id, d.source, w.wt,
          ${hashPosSql("d.source", "CAST(d.doc_id AS VARCHAR)")} AS h
        FROM documents d JOIN w ON d.source = w.source),
      c AS (
        SELECT doc_id, source,
          CAST(floor(wt) AS BIGINT) +
            CASE WHEN h < CAST(floor((wt - floor(wt)) * 4294967296.0) AS BIGINT)
                 THEN 1 ELSE 0 END AS copies
        FROM j)
      SELECT doc_id, source, unnest(generate_series(0, copies - 1)) AS copy
      FROM c WHERE copies > 0
      ORDER BY doc_id, copy"""),
    // The identity-preservation oracle: three distinct engine paths must
    // reproduce the events table EXACTLY — q113 (streaming dedup of a
    // doubled delivery), q116 (compaction rewrite), q117 (versioned-CSV
    // export -> newest-pick -> import).
    Q("q113_stream_dedup", q113, Extra, eventsIdentityOracle),
    // Quantized shortlist scored by exact integer dot (both engines
    // quantize and sum identically — no float until the re-rank).
    Q("q114_quantized_ann", q114, Extra, """
      WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings),
      s8 AS (
        SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS ma
        FROM v),
      q8 AS (
        SELECT vec_id,
          CASE WHEN ma = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT))
               ELSE list_transform(e, x -> CAST(round(x / (ma / 127.0)) AS BIGINT))
          END AS qv
        FROM s8),
      short AS (
        SELECT q.vec_id AS query_id, c.vec_id AS item_id,
          CAST(list_sum([q.qv[i] * c.qv[i]
            for i in range(1, len(q.qv) + 1)]) AS BIGINT) AS qdot
        FROM q8 q JOIN q8 c ON c.vec_id != q.vec_id
        WHERE q.vec_id < 10
        QUALIFY row_number() OVER (PARTITION BY q.vec_id
          ORDER BY qdot DESC, c.vec_id) <= 50),
      rr AS (
        SELECT s.query_id, s.item_id, s.qdot,
          list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
            CAST(ce.embedding AS DOUBLE[])) AS cos
        FROM short s JOIN embeddings qe ON qe.vec_id = s.query_id
        JOIN embeddings ce ON ce.vec_id = s.item_id)
      SELECT query_id, item_id, CAST(row_number() OVER w AS BIGINT) AS rank,
        qdot, round(cos, 4) AS cosine
      FROM rr
      WINDOW w AS (PARTITION BY query_id ORDER BY round(cos, 6) DESC, item_id)
      QUALIFY rank <= 5 ORDER BY query_id, rank"""),
    // Curation v2 capstone: gopher keep -> containment drop (host wins)
    // -> source-grouped hash split; boundaries from Sampling.splitBounds.
    Q("q115_curation_v2", q115, Extra, {
      val b = graft.ops.Sampling.splitBounds(Seq(0.8, 0.1, 0.1))
      raw"""
      WITH base AS (
        SELECT doc_id, source, text,
          regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        FROM documents),
      m AS (
        SELECT doc_id, source, tk,
          len(tk) AS n_words,
          CAST(len(array_to_string(tk, '')) AS DOUBLE) /
            CAST(len(tk) AS DOUBLE) AS mean_word_len,
          CAST(len([w for w in tk if regexp_matches(w, '[a-z]')]) AS DOUBLE) /
            CAST(len(tk) AS DOUBLE) AS alpha_frac,
          ((len(text) - len(replace(text, '#', ''))) +
            (len(text) - len(replace(text, '...', ''))) / 3) /
            CAST(len(tk) AS DOUBLE) AS symbol_ratio,
          len(list_intersect(tk,
            ['the', 'a', 'data', 'table', 'row', 'key', 'value', 'join'])) AS stop_hits
        FROM base),
      kept AS (
        SELECT doc_id, source, tk FROM m
        WHERE n_words >= 20 AND n_words <= 100000
          AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
          AND alpha_frac > 0.8 AND symbol_ratio < 0.1 AND stop_hits >= 2),
      sh AS (
        SELECT doc_id, unnest(list_distinct([array_to_string(tk[i:i+2], ' ')
          for i in range(1, len(tk) - 1)])) AS s
        FROM kept WHERE len(tk) >= 3),
      keepers AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 50),
      inf AS (SELECT sh.doc_id, sh.s FROM sh JOIN keepers USING (s)),
      sizes AS (SELECT doc_id, count(*) AS sz FROM inf GROUP BY 1),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        FROM inf a JOIN inf b ON a.s = b.s AND a.doc_id != b.doc_id
        GROUP BY 1, 2),
      drops AS (
        SELECT DISTINCT id_a AS doc_id
        FROM inter JOIN sizes sa ON inter.id_a = sa.doc_id
        JOIN sizes sb ON inter.id_b = sb.doc_id
        WHERE CAST(n_shared AS DOUBLE) / CAST(sa.sz AS DOUBLE) >= 0.8
          AND (sb.sz > sa.sz OR (sb.sz = sa.sz AND id_b < id_a))),
      surv AS (
        SELECT k.doc_id, k.source FROM kept k
        WHERE k.doc_id NOT IN (SELECT doc_id FROM drops))
      SELECT doc_id, source,
        CASE WHEN ${hashPosSql("'split'", "source")} < ${b(0)} THEN 'train'
             WHEN ${hashPosSql("'split'", "source")} < ${b(1)} THEN 'val'
             ELSE 'test' END AS split
      FROM surv ORDER BY doc_id"""
    }),
    Q("q116_compaction_roundtrip", q116, Extra, eventsIdentityOracle),
    Q("q117_versioned_csv_roundtrip", q117, Extra, eventsIdentityOracle),
    Q("q118_jdbc_roundtrip", q118, Extra, eventsIdentityOracle),
    // The streaming sessionizer must reproduce the batch lag/sum sessions
    // exactly (same gap, same (ts, event_id) tiebreak).
    Q("q119_stream_sessionize", q119, Extra, """
      WITH g AS (
        SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
          lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
            (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_us
        FROM events),
      m AS (
        SELECT user_id, event_id, us,
          CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
            THEN 1 ELSE 0 END AS is_new
        FROM g),
      sess AS (
        SELECT user_id, us,
          sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM m)
      SELECT user_id, CAST(min(us) AS BIGINT) AS start_us,
        CAST(max(us) AS BIGINT) AS end_us, count(*) AS n_events
      FROM sess GROUP BY user_id, sid
      ORDER BY user_id, start_us"""),
    Q("q120_incremental_load", q120, Extra, eventsIdentityOracle),
    Q("q121_personalized_pagerank", q121, Extra, q121Oracle),
    Q("q122_cohort_retention", q122, Extra, """
      WITH weeks AS (
        SELECT DISTINCT user_id,
          CAST(date_trunc('week', ts) AS DATE) AS week FROM events),
      cohorts AS (
        SELECT user_id, min(week) AS cohort_week FROM weeks GROUP BY 1),
      cells AS (
        SELECT c.cohort_week,
          CAST((w.week - c.cohort_week) // 7 AS BIGINT) AS week_offset,
          count(DISTINCT w.user_id) AS n_active
        FROM weeks w JOIN cohorts c USING (user_id) GROUP BY 1, 2),
      sizes AS (
        SELECT cohort_week, count(*) AS cohort_size FROM cohorts GROUP BY 1)
      SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
        week_offset, n_active, cohort_size,
        round(CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE), 4)
          AS retention
      FROM cells JOIN sizes USING (cohort_week)
      ORDER BY 1, 2"""),
    Q("q123_resample_ffill", q123, Extra, """
      WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_events,
          max(value) AS day_max
        FROM events GROUP BY 1, 2),
      spans AS (
        SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
      cal AS (
        SELECT user_id, CAST(unnest(generate_series(d0, d1,
          INTERVAL 1 DAY)) AS DATE) AS day FROM spans)
      SELECT c.user_id, strftime(c.day, '%Y-%m-%d') AS day,
        coalesce(d.n_events, 0) AS n_events,
        last_value(d.day_max IGNORE NULLS) OVER (
          PARTITION BY c.user_id ORDER BY c.day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill,
        d.n_events IS NULL AS is_gap
      FROM cal c LEFT JOIN daily d
        ON c.user_id = d.user_id AND c.day = d.day
      ORDER BY 1, 2"""),
    Q("q124_bm25_search", q124, Extra, """
      WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents),
      dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS tot FROM dl),
      tf AS (SELECT doc_id, tok AS term, count(*) AS tf FROM toks
             WHERE tok IN ('data', 'query', 'stream') GROUP BY 1, 2),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      scored AS (
        SELECT t.term, t.doc_id,
          ((CAST(s.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5) /
            (CAST(f.df AS DOUBLE) + 0.5) + 1.0) *
          (CAST(t.tf AS DOUBLE) * (1.2 + 1.0) /
            (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE) /
              (CAST(s.tot AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))) AS bm25
        FROM tf t JOIN dl d ON t.doc_id = d.doc_id
        JOIN dfreq f ON t.term = f.term CROSS JOIN stats s),
      wide AS (
        SELECT doc_id,
          max(CASE WHEN term = 'data' THEN bm25 END) AS s1,
          max(CASE WHEN term = 'query' THEN bm25 END) AS s2,
          max(CASE WHEN term = 'stream' THEN bm25 END) AS s3
        FROM scored GROUP BY 1),
      ranked AS (
        SELECT doc_id,
          CAST((CASE WHEN s1 IS NOT NULL THEN 1 ELSE 0 END) +
               (CASE WHEN s2 IS NOT NULL THEN 1 ELSE 0 END) +
               (CASE WHEN s3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_terms,
          coalesce(s1, 0) + coalesce(s2, 0) + coalesce(s3, 0) AS raw
        FROM wide ORDER BY raw DESC, doc_id LIMIT 25)
      SELECT doc_id, n_terms, round(raw, 4) AS score FROM ranked
      ORDER BY raw DESC, doc_id"""),
    Q("q125_transition_matrix", q125, Extra, """
      WITH seq AS (
        SELECT event_type,
          lag(event_type) OVER (
            PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events)
      SELECT prev AS from_type, event_type AS to_type, count(*) AS n,
        round(CAST(count(*) AS DOUBLE) /
          CAST(sum(count(*)) OVER (PARTITION BY prev) AS DOUBLE), 4) AS p
      FROM seq WHERE prev IS NOT NULL
      GROUP BY 1, 2 ORDER BY 1, 2"""),
    Q("q126_rolling_window", q126, Extra, """
      WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_events
        FROM events GROUP BY 1, 2),
      spans AS (
        SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
      cal AS (
        SELECT user_id, CAST(unnest(generate_series(d0, d1,
          INTERVAL 1 DAY)) AS DATE) AS day FROM spans),
      grid AS (
        SELECT c.user_id, c.day, coalesce(d.n_events, 0) AS n_events
        FROM cal c LEFT JOIN daily d
          ON c.user_id = d.user_id AND c.day = d.day)
      SELECT user_id, strftime(day, '%Y-%m-%d') AS day, n_events,
        CAST(sum(n_events) OVER w AS BIGINT) AS n_window,
        count(*) OVER w AS days_in_window,
        round(CAST(sum(n_events) OVER w AS DOUBLE) /
          CAST(count(*) OVER w AS DOUBLE), 4) AS avg_daily
      FROM grid WINDOW w AS (PARTITION BY user_id ORDER BY day
        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      ORDER BY 1, 2"""),
    Q("q127_topk_list", q127, Extra, """
      WITH ranked AS (
        SELECT lang, source, CAST(doc_id AS VARCHAR) AS item,
          row_number() OVER (PARTITION BY lang, source
            ORDER BY n_chars DESC, CAST(doc_id AS VARCHAR)) AS pos
        FROM documents)
      SELECT lang, source, count(*) AS n_items,
        string_agg(item, ',' ORDER BY pos) AS top_items
      FROM ranked WHERE pos <= 3 GROUP BY 1, 2 ORDER BY 1, 2"""),
    Q("q128_sliding_windows", q128, Extra, slidingWindowOracle),
    Q("q129_outlier_days", q129, Extra, """
      WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
          CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_sum
        FROM events GROUP BY 1, 2),
      mom AS (
        SELECT user_id, CAST(count(*) AS DOUBLE) AS n,
          CAST(sum(CAST(day_sum AS DECIMAL(28,4))) AS DOUBLE) AS s,
          CAST(sum(CAST(day_sum * day_sum AS DECIMAL(28,4))) AS DOUBLE) AS ss
        FROM daily GROUP BY 1)
      SELECT d.user_id, strftime(d.day, '%Y-%m-%d') AS day, d.day_sum,
        round(s / n + 3.0 * sqrt(greatest(ss / n - (s / n) * (s / n), 0.0)), 4)
          + 0.0 AS threshold
      FROM daily d JOIN mom USING (user_id)
      WHERE d.day_sum > s / n + 3.0 * sqrt(greatest(ss / n - (s / n) * (s / n), 0.0))
      ORDER BY 1, 2"""),
    Q("q130_json_field_stats", q130, Extra, """
      WITH x AS (
        SELECT event_type,
          TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events)
      SELECT event_type, count(*) AS n, count(k) AS n_k,
        min(k) AS min_k, max(k) AS max_k,
        CAST(sum(k) AS BIGINT) AS sum_k,
        count(DISTINCT k) AS k_distinct
      FROM x GROUP BY 1 ORDER BY 1"""),
    Q("q131_time_weighted_avg", q131, Extra, """
      WITH seq AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
          epoch_us(ts) AS us, CAST(value AS DECIMAL(18,2)) AS v,
          lead(epoch_us(ts)) OVER (
            PARTITION BY user_id, CAST(ts AS DATE)
            ORDER BY ts, event_id) AS next_us
        FROM events),
      weighted AS (
        SELECT user_id, day,
          coalesce(next_us,
            epoch_us(CAST(day AS TIMESTAMP)) + 86400000000) - us AS dt, v
        FROM seq)
      SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        count(*) AS n_events,
        round(CAST(sum(v * dt) AS DOUBLE) / CAST(sum(dt) AS DOUBLE), 6)
          AS twap
      FROM weighted GROUP BY user_id, day ORDER BY 1, 2"""),
    Q("q132_gap_histogram", q132, Extra, """
      WITH seq AS (
        SELECT epoch_us(ts) AS us,
          lag(epoch_us(ts)) OVER (
            PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events)
      SELECT CAST(least((us - prev) // 60000000, 60) AS BIGINT)
          AS gap_minutes,
        count(*) AS n_gaps
      FROM seq WHERE prev IS NOT NULL
      GROUP BY 1 ORDER BY 1"""),
    Q("q133_gini_index", q133, Extra, """
      WITH ranked AS (
        SELECT source, n_chars AS x,
          CAST(row_number() OVER (PARTITION BY source
            ORDER BY n_chars, doc_id) AS BIGINT) AS i
        FROM documents),
      sums AS (
        SELECT source, count(*) AS n, CAST(sum(x) AS BIGINT) AS s0,
          CAST(sum(CAST(i * x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1
        FROM ranked GROUP BY 1)
      SELECT source, n,
        round(CASE WHEN s0 = 0 THEN NULL ELSE
          (2.0 * CAST(s1 AS DOUBLE) -
            CAST(n + 1 AS DOUBLE) * CAST(s0 AS DOUBLE)) /
          (CAST(n AS DOUBLE) * CAST(s0 AS DOUBLE)) END, 6) AS gini
      FROM sums ORDER BY 1"""),
    // zero-duplication composition: the frontier subquery IS q95's oracle
    Q("q134_funnel_timing", q134, Extra, s"""
      SELECT count(*) AS n_converted,
        round(CAST(sum(epoch_us(t_click) - epoch_us(t_view)) AS DOUBLE) /
          CAST(count(*) AS DOUBLE) / 1000000.0, 6) AS avg_view_click_sec,
        round(CAST(max(epoch_us(t_click) - epoch_us(t_view)) AS DOUBLE) /
          1000000.0, 6) AS max_view_click_sec,
        round(CAST(sum(epoch_us(t_purchase) - epoch_us(t_click)) AS DOUBLE) /
          CAST(count(*) AS DOUBLE) / 1000000.0, 6) AS avg_click_purchase_sec,
        round(CAST(max(epoch_us(t_purchase) - epoch_us(t_click)) AS DOUBLE) /
          1000000.0, 6) AS max_click_purchase_sec
      FROM ($funnelOracle) f"""),
    Q("q135_copurchase_lift", q135, Extra, """
      WITH items AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
      nb AS (SELECT count(DISTINCT b) AS n_baskets FROM items),
      sup AS (SELECT i, count(*) AS n FROM items GROUP BY 1),
      pairs AS (
        SELECT a.i AS item_a, c.i AS item_b, count(*) AS n_ab
        FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
        GROUP BY 1, 2 HAVING count(*) >= 2)
      SELECT p.item_a, p.item_b, p.n_ab, sa.n AS n_a, sb.n AS n_b,
        round(CAST(CAST(p.n_ab AS DECIMAL(19,0)) * nb.n_baskets AS DOUBLE) /
          CAST(CAST(sa.n AS DECIMAL(19,0)) * sb.n AS DOUBLE), 6) AS lift
      FROM pairs p
      JOIN sup sa ON p.item_a = sa.i
      JOIN sup sb ON p.item_b = sb.i
      CROSS JOIN nb
      ORDER BY 1, 2"""),
    // the streamed sliding windows must reproduce the batch ones exactly
    Q("q136_sliding_windows_stream", q136, Extra, slidingWindowOracle),
    Q("q137_knn_graph", q137, Extra, knnGraphOracle),
    Q("q138_label_propagation", q138, Extra, q138Oracle),
    Q("q139_neighbor_mean", q139, Extra, """
      WITH p AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
          list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
            CAST(b.embedding AS DOUBLE[])) AS cos
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id),
      sym AS (
        SELECT ia AS node, ib AS nbr, cos FROM p
        UNION ALL
        SELECT ib AS node, ia AS nbr, cos FROM p),
      knn AS (
        SELECT node, nbr FROM sym
        QUALIFY row_number() OVER (PARTITION BY node
          ORDER BY round(cos, 6) DESC, nbr) <= 3),
      cells AS (
        SELECT k.node, t.i AS dim,
          CAST(e.embedding[t.i] AS DOUBLE) AS v
        FROM knn k JOIN embeddings e ON k.nbr = e.vec_id
        CROSS JOIN range(1, 9) t(i))
      SELECT node, dim, count(v) AS n_nbrs,
        round(CAST(sum(CAST(v AS DECIMAL(28,12))) AS DOUBLE) /
          CAST(count(v) AS DOUBLE), 6) + 0.0 AS mean_v
      FROM cells GROUP BY 1, 2 ORDER BY 1, 2"""),
    // Spark's native session_window must reproduce the lag/sum rollup
    Q("q140_native_session_window", q140, Extra, sessionizeOracle),
    Q("q141_quartile_bins", q141, Extra, """
      WITH q AS (
        SELECT lang, n_chars,
          CAST(ntile(4) OVER (PARTITION BY lang
            ORDER BY n_chars, doc_id) AS BIGINT) AS quartile
        FROM documents)
      SELECT lang, quartile, count(*) AS n_docs,
        min(n_chars) AS min_chars, max(n_chars) AS max_chars
      FROM q GROUP BY 1, 2 ORDER BY 1, 2"""),
    // the incrementally-maintained graph must equal the full recompute
    Q("q142_knn_incremental", q142, Extra, knnGraphOracle),
    Q("q143_percentile_ranks", q143, Extra, """
      WITH r AS (
        SELECT lang, doc_id, n_chars,
          round(percent_rank() OVER w, 6) AS pct_rank,
          round(cume_dist() OVER w, 6) AS cume
        FROM documents
        WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id))
      SELECT lang, doc_id, n_chars, pct_rank, cume
      FROM r WHERE doc_id % 25 = 0 ORDER BY lang, doc_id"""),
    // q144 streams the same corpus in micro-batches; the landed graph
    // must equal the full recompute — the merge law composed, so the
    // oracle is shared verbatim (q140's shared-oracle pattern)
    Q("q144_knn_stream", q144, Extra, knnGraphOracle),
    Q("q145_canonical_by_priority", q145, Extra, {
      val values = sourcePriority
        .map { case (s, p) => s"('$s', $p)" }.mkString(", ")
      s"""$q52CompCte,
      pri(source, priority) AS (VALUES $values),
      mem AS (
        SELECT c.component, d.doc_id AS id, d.source, p.priority
        FROM comp c JOIN documents d ON c.id = d.doc_id
        JOIN pri p ON d.source = p.source),
      ranked AS (
        SELECT *, row_number() OVER (
          PARTITION BY component ORDER BY priority, id) AS rn
        FROM mem)
      SELECT component, CAST(count(*) AS BIGINT) AS n_docs,
        max(CASE WHEN rn = 1 THEN id END) AS keep_id,
        max(CASE WHEN rn = 1 THEN source END) AS keep_source,
        CAST(max(CASE WHEN rn = 1 THEN priority END) AS BIGINT)
          AS keep_priority
      FROM ranked GROUP BY component ORDER BY component"""
    }),
    // q146: q25's brute-force CTE (truth) + q37's IVF CTE (approx) +
    // rational metrics — recall@5 and first-relevant reciprocal rank
    Q("q146_retrieval_metrics", q146, Extra, s"""$q146Cte
      SELECT query_id, CAST(count(*) AS BIGINT) AS n_returned,
        CAST(sum(rel) AS BIGINT) AS hits,
        round(CAST(sum(rel) AS DOUBLE) / 5.0, 6) AS recall_at_5,
        round(coalesce(1.0 / CAST(min(CASE WHEN rel = 1 THEN rank END)
          AS DOUBLE), 0.0), 6) AS reciprocal_rank
      FROM marked GROUP BY query_id ORDER BY query_id"""),
    Q("q147_histogram_drift", q147, Extra, driftOracle),
    // q148: q66's shingle CTE, scored as a per-doc coverage ratio
    Q("q148_coverage_score", q148, Extra, """
      WITH toks AS (
        SELECT doc_id, source, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        FROM documents),
      sh AS (
        SELECT doc_id, source, unnest(list_distinct([array_to_string(tk[i:i+2], ' ')
          for i in range(1, len(tk) - 1)])) AS s
        FROM toks WHERE len(tk) >= 3),
      ref AS (SELECT DISTINCT s FROM sh WHERE source = 'src0'),
      m AS (
        SELECT c.doc_id, CASE WHEN r.s IS NOT NULL THEN 1 ELSE 0 END AS k
        FROM sh c LEFT JOIN ref r ON c.s = r.s
        WHERE c.source != 'src0')
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        CAST(sum(k) AS BIGINT) AS n_known,
        round(CAST(sum(k) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
          AS coverage
      FROM m GROUP BY doc_id ORDER BY doc_id"""),
    // q149: decimal-exact squared-component sums, IEEE sqrt (safe), 9dp
    // rounding before the decimal mean — the q99 idiom throughout
    Q("q149_embedding_health", q149, Extra, """
      WITH comp AS (
        SELECT label, vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x
        FROM embeddings),
      nsq0 AS (
        SELECT vec_id,
          CAST(sum(CAST(x * x AS DECIMAL(28,18))) AS DOUBLE) AS nsq
        FROM comp GROUP BY 1),
      -- left join back so null/empty embedding arrays (dropped by unnest)
      -- count as norm-0 vectors, mirroring the engine's explode_outer
      nsq AS (
        SELECT e.label, e.vec_id, coalesce(n.nsq, 0.0) AS nsq
        FROM embeddings e LEFT JOIN nsq0 n ON e.vec_id = n.vec_id),
      norms AS (SELECT label, sqrt(nsq) AS nm FROM nsq)
      SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
        round(min(nm), 6) AS min_norm, round(max(nm), 6) AS max_norm,
        round(CAST(sum(CAST(round(nm, 9) AS DECIMAL(28,12))) AS DOUBLE) /
          CAST(count(*) AS DOUBLE), 6) AS mean_norm,
        CAST(sum(CASE WHEN abs(nm - 1.0) <= 0.001 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_unit
      FROM norms GROUP BY label ORDER BY label"""),
    Q("q150_drift_stream", q150, Extra, driftOracle),
    // q151: token bigrams via list comprehension — same tokenization as
    // the shingle CTEs (trim/lower/split on \s+)
    Q("q151_bpe_pair_mining", q151, Extra, """
      WITH toks AS (
        SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        FROM documents),
      pairs AS (
        SELECT unnest([tk[i] || ' ' || tk[i+1]
          for i in range(1, len(tk))]) AS pair
        FROM toks WHERE len(tk) >= 2),
      counted AS (
        SELECT pair, CAST(count(*) AS BIGINT) AS n FROM pairs GROUP BY 1)
      SELECT CAST(row_number() OVER w AS BIGINT) AS rank, pair, n
      FROM counted
      WINDOW w AS (ORDER BY n DESC, pair)
      QUALIFY rank <= 20 ORDER BY rank"""),
    Q("q152_skew_report", q152, Extra, skewOracle),
    // q153: q147's fold per consecutive-day pair — full outer join of the
    // day histogram against itself shifted one day
    Q("q153_drift_series", q153, Extra, """
      WITH binned AS (
        SELECT event_type AS g, CAST(ts AS DATE) AS day,
          least(greatest(CAST(floor(value / 25.0) AS BIGINT), 0), 19) AS bin
        FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
      counts AS (
        SELECT g, day, bin, CAST(count(*) AS BIGINT) AS n
        FROM binned GROUP BY 1, 2, 3),
      j AS (
        SELECT coalesce(c.g, p.g) AS g,
          coalesce(c.day, p.day + 1) AS day,
          coalesce(c.bin, p.bin) AS bin,
          coalesce(p.n, 0) AS na, coalesce(c.n, 0) AS nb
        FROM counts c FULL OUTER JOIN counts p
          ON c.g = p.g AND c.day = p.day + 1 AND c.bin = p.bin),
      tot AS (
        SELECT g, day, CAST(sum(na) AS BIGINT) AS ta,
          CAST(sum(nb) AS BIGINT) AS tb
        FROM j GROUP BY 1, 2),
      props AS (
        SELECT j.g, j.day, j.na, j.nb, t.ta, t.tb,
          CAST(j.na AS DOUBLE) / CAST(t.ta AS DOUBLE) AS p,
          CAST(j.nb AS DOUBLE) / CAST(t.tb AS DOUBLE) AS q
        FROM j JOIN tot t ON j.g = t.g AND j.day = t.day
        WHERE t.ta > 0 AND t.tb > 0),
      terms AS (
        SELECT g, day, ta, tb,
          CASE WHEN na + nb > 0
            THEN (p - q) * (p - q) / (p + q) ELSE 0.0 END AS term
        FROM props)
      SELECT g AS event_type, strftime(day, '%Y-%m-%d') AS day,
        CAST(count(*) AS BIGINT) AS n_bins, max(ta) AS n_ref,
        max(tb) AS n_cur,
        round(CAST(sum(CAST(round(term, 12) AS DECIMAL(28,14))) AS DOUBLE),
          6) AS drift
      FROM terms GROUP BY 1, 2 ORDER BY event_type, day"""),
    // q154: q98's order-statistic contract with a single global stratum
    Q("q154_winsorize_global", q154, Extra, """
      WITH r AS (
        SELECT event_id, value,
          row_number() OVER (ORDER BY value NULLS FIRST, event_id) AS rn,
          count(*) OVER () AS n
        FROM events),
      thr AS (
        SELECT
          min(CASE WHEN rn = greatest(CAST(ceil(0.01 * n) AS BIGINT), 1)
            THEN value END) AS lo,
          max(CASE WHEN rn = greatest(CAST(ceil(0.99 * n) AS BIGINT), 1)
            THEN value END) AS hi
        FROM r
        WHERE rn = greatest(CAST(ceil(0.01 * n) AS BIGINT), 1)
           OR rn = greatest(CAST(ceil(0.99 * n) AS BIGINT), 1))
      SELECT e.event_id, e.value,
        least(greatest(e.value, t.lo), t.hi) AS clamped
      FROM events e CROSS JOIN thr t
      ORDER BY event_id"""),
    // q155: per-vector self-join on aligned subscripts (i <= j), products
    // summed in DECIMAL — the q99 idiom; engine generates the same cells
    // map-side
    Q("q155_gram_matrix", q155, Extra, """
      WITH comp AS (
        SELECT label, vec_id,
          unnest(CAST(embedding AS DOUBLE[])) AS x,
          generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS idx
        FROM embeddings),
      pairs AS (
        SELECT a.label, a.idx - 1 AS i, b.idx - 1 AS j,
          CAST(a.x * b.x AS DECIMAL(28,18)) AS p
        FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.idx <= b.idx)
      SELECT label, CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
        CAST(count(*) AS BIGINT) AS n_terms,
        round(CAST(sum(p) AS DOUBLE), 6) + 0.0 AS s
      FROM pairs GROUP BY 1, 2, 3 ORDER BY label, i, j"""),
    // q156: q148's shingle CTE at batch grain — batch = the numeric
    // suffix of source, min(batch) per shingle marks first appearance
    Q("q156_shingle_novelty", q156, Extra, raw"""
      WITH toks AS (
        SELECT CAST(substr(source, 4) AS INTEGER) AS batch,
          regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        FROM documents),
      sh AS (
        SELECT DISTINCT batch, s FROM (
          SELECT batch, unnest(list_distinct([array_to_string(tk[i:i+2], ' ')
            for i in range(1, len(tk) - 1)])) AS s
          FROM toks WHERE len(tk) >= 3)),
      first AS (SELECT s, min(batch) AS fb FROM sh GROUP BY 1)
      SELECT sh.batch AS batch, CAST(count(*) AS BIGINT) AS n_shingles,
        CAST(sum(CASE WHEN f.fb = sh.batch THEN 1 ELSE 0 END) AS BIGINT)
          AS n_novel,
        round(CAST(sum(CASE WHEN f.fb = sh.batch THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS novelty
      FROM sh JOIN first f ON sh.s = f.s
      GROUP BY 1 ORDER BY 1"""),
    // q157: q52's CC oracle folded to the size histogram, plus the
    // singleton row (corpus count minus grouped docs) that closes the
    // Σ n_docs = |documents| conservation law the Scala side states
    Q("q157_dedup_size_histogram", q157, Extra, """
      WITH RECURSIVE toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
          for i in range(1, len(tk) - 1)]) AS s
        FROM toks WHERE len(tk) >= 3),
      sig AS (
        SELECT doc_id, s,
          flatten([[list_min([md5(CAST(sd AS VARCHAR) || '|' || x)[j*4+1 : j*4+4]
            for x in s]) for j in range(0, 8)] for sd in range(0, 2)]) AS sg
        FROM sh),
      banded AS (
        SELECT doc_id, s, band,
          md5(array_to_string(sg[band*4+1:band*4+4], '|')) AS bucket
        FROM sig, range(0, 4) r(band)),
      cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          first(a.s) AS sa, first(b.s) AS sb
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
      edges AS (
        SELECT id_a, id_b FROM cand
        WHERE CAST(len(list_intersect(sa, sb)) AS DOUBLE) /
              CAST(len(list_distinct(list_concat(sa, sb))) AS DOUBLE) >= 0.5),
      sym AS (
        SELECT id_a AS s, id_b AS d FROM edges
        UNION ALL SELECT id_b, id_a FROM edges),
      reach(id, r) AS (
        SELECT DISTINCT s, s FROM sym
        UNION
        SELECT reach.id, sym.d FROM reach JOIN sym ON reach.r = sym.s),
      comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
      sizes AS (
        SELECT component, CAST(count(*) AS BIGINT) AS sz
        FROM comp GROUP BY 1),
      hist AS (
        SELECT sz AS component_size, CAST(count(*) AS BIGINT) AS n_components,
          CAST(sum(sz) AS BIGINT) AS n_docs
        FROM sizes GROUP BY 1),
      acc AS (
        SELECT (SELECT count(*) FROM documents)
             - COALESCE((SELECT sum(sz) FROM sizes), 0) AS m)
      SELECT component_size, n_components, n_docs FROM hist
      UNION ALL
      SELECT CAST(1 AS BIGINT), CAST(m AS BIGINT), CAST(m AS BIGINT)
      FROM acc WHERE m > 0
      ORDER BY component_size"""),
    // q158: the STREAMED skew monitor lands the same integer counts and
    // runs the same finishing fold — shares q152's oracle verbatim
    Q("q158_skew_stream", q158, Extra, skewOracle),
    // q159: q137's kNN CTE → undirected edge set → triangles via plain
    // id-order (a<b<c) joins — the same triangle set the engine's
    // degree-ordered orientation finds (orientation-invariant)
    Q("q159_triangle_count", q159, Extra, """
      WITH p AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
          list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
            CAST(b.embedding AS DOUBLE[])) AS cos
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id),
      sym AS (
        SELECT ia AS node, ib AS nbr, cos FROM p
        UNION ALL
        SELECT ib AS node, ia AS nbr, cos FROM p),
      knn AS (
        SELECT node, nbr FROM (
          SELECT node, nbr, row_number() OVER w AS rank
          FROM sym
          WINDOW w AS (PARTITION BY node ORDER BY round(cos, 6) DESC, nbr))
        WHERE rank <= 3),
      und AS (
        SELECT DISTINCT least(node, nbr) AS a, greatest(node, nbr) AS b
        FROM knn WHERE node <> nbr),
      tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
      deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
          SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        GROUP BY 1),
      tcnt AS (
        SELECT node, CAST(count(*) AS BIGINT) AS t FROM (
          SELECT x AS node FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri)
        GROUP BY 1)
      SELECT d.node, d.degree,
        CAST(COALESCE(c.t, 0) AS BIGINT) AS n_triangles,
        round(CASE WHEN d.degree >= 2
          THEN 2.0 * COALESCE(c.t, 0) /
               (CAST(d.degree AS DOUBLE) * CAST(d.degree - 1 AS DOUBLE))
          ELSE 0.0 END, 6) AS clustering
      FROM deg d LEFT JOIN tcnt c ON d.node = c.node
      ORDER BY d.node"""),
    // q160: doc_id self-join restates the engine's map-side pair
    // generation; PMI = ln of the q135 DECIMAL-ratio idiom
    Q("q160_token_pmi", q160, Extra, raw"""
      WITH dt AS (
        SELECT DISTINCT doc_id,
          unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents),
      nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      pc AS (
        SELECT a.tok AS token_a, b.tok AS token_b,
          CAST(count(*) AS BIGINT) AS n_ab
        FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY 1, 2 HAVING count(*) >= 20),
      f AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM dt GROUP BY 1)
      SELECT p.token_a, p.token_b, p.n_ab, fa.n AS n_a, fb.n AS n_b,
        round(ln(CAST(CAST(p.n_ab AS DECIMAL(19,0)) * nd.n AS DOUBLE) /
          CAST(CAST(fa.n AS DECIMAL(19,0)) * fb.n AS DOUBLE)), 6) AS pmi
      FROM pc p
      JOIN f fa ON p.token_a = fa.tok
      JOIN f fb ON p.token_b = fb.tok
      CROSS JOIN nd
      ORDER BY 1, 2"""),
    // q161: q21's signature CTE with the 16 minima carried per candidate
    // pair — agreement count vs exact Jaccard, q149's round-9 DECIMAL-sum
    // mean idiom
    Q("q161_lsh_calibration", q161, Extra, raw"""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
          for i in range(1, len(tk) - 1)]) AS s
        FROM toks WHERE len(tk) >= 3),
      sig AS (
        SELECT doc_id, s,
          flatten([[list_min([md5(CAST(sd AS VARCHAR) || '|' || x)[j*4+1 : j*4+4]
            for x in s]) for j in range(0, 8)] for sd in range(0, 2)]) AS sg
        FROM sh),
      banded AS (
        SELECT doc_id, s, sg, band,
          md5(array_to_string(sg[band*4+1:band*4+4], '|')) AS bucket
        FROM sig, range(0, 4) r(band)),
      cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          first(a.s) AS sa, first(b.s) AS sb,
          first(a.sg) AS sga, first(b.sg) AS sgb
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
      per AS (
        SELECT CAST(list_sum([CASE WHEN sga[j] = sgb[j] THEN 1 ELSE 0 END
            for j in range(1, 17)]) AS BIGINT) AS n_match,
          CAST(len(list_intersect(sa, sb)) AS DOUBLE) /
            CAST(len(list_distinct(list_concat(sa, sb))) AS DOUBLE) AS j
        FROM cand)
      SELECT n_match, round(CAST(n_match AS DOUBLE) / 16.0, 6) AS est_jaccard,
        CAST(count(*) AS BIGINT) AS n_pairs,
        round(CAST(sum(CAST(round(j, 9) AS DECIMAL(28,12))) AS DOUBLE) /
          CAST(count(*) AS DOUBLE), 6) AS mean_jaccard,
        CAST(sum(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
      FROM per GROUP BY 1 ORDER BY 1"""),
    // q162: q155's gram CTE unrounded + per-dim DECIMAL sums; covariance
    // is the identical two-division expression tree the engine computes
    Q("q162_covariance_matrix", q162, Extra, """
      WITH comp AS (
        SELECT label, vec_id,
          unnest(CAST(embedding AS DOUBLE[])) AS x,
          generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS idx
        FROM embeddings),
      pairs AS (
        SELECT a.label, a.idx - 1 AS i, b.idx - 1 AS j,
          CAST(a.x * b.x AS DECIMAL(28,18)) AS p
        FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.idx <= b.idx),
      gram AS (
        SELECT label, CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
          CAST(count(*) AS BIGINT) AS n_terms, sum(p) AS s
        FROM pairs GROUP BY 1, 2, 3),
      dims AS (
        SELECT label, CAST(idx - 1 AS BIGINT) AS d,
          CAST(count(*) AS BIGINT) AS n,
          sum(CAST(x AS DECIMAL(28,18))) AS m
        FROM comp GROUP BY 1, 2)
      SELECT g.label, g.i, g.j, g.n_terms,
        round(CAST(g.s AS DOUBLE) / CAST(g.n_terms AS DOUBLE)
          - (CAST(di.m AS DOUBLE) / CAST(di.n AS DOUBLE))
            * (CAST(dj.m AS DOUBLE) / CAST(dj.n AS DOUBLE)), 6) + 0.0 AS cov
      FROM gram g
      JOIN dims di ON g.label = di.label AND g.i = di.d
      JOIN dims dj ON g.label = dj.label AND g.j = dj.d
      ORDER BY g.label, g.i, g.j"""),
    // q163: q155's round-6 gram mirrored to full symmetry, two unrolled
    // matvec+normalize rounds; sums via round-9 -> DECIMAL(28,12), the
    // DuckDB double comes off the VARCHAR parse (q99's correctly-rounded
    // cast note)
    Q("q163_pca_power_iteration", q163, Extra, """
      WITH comp AS (
        SELECT label, vec_id,
          unnest(CAST(embedding AS DOUBLE[])) AS x,
          generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS idx
        FROM embeddings),
      prs AS (
        SELECT a.label, a.idx - 1 AS i, b.idx - 1 AS j,
          CAST(a.x * b.x AS DECIMAL(28,18)) AS p
        FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.idx <= b.idx),
      gram AS (
        SELECT label, i, j, round(CAST(sum(p) AS DOUBLE), 6) + 0.0 AS s
        FROM prs GROUP BY 1, 2, 3),
      m AS (
        SELECT label, i, j, s FROM gram
        UNION ALL
        SELECT label, j, i, s FROM gram WHERE i <> j),
      w1 AS (
        SELECT label, i AS dim,
          CAST(CAST(sum(CAST(round(s * 1.0, 9) AS DECIMAL(28,12)))
            AS VARCHAR) AS DOUBLE) AS w
        FROM m GROUP BY 1, 2),
      n1 AS (
        SELECT label, sqrt(CAST(CAST(sum(CAST(round(w * w, 9)
            AS DECIMAL(28,12))) AS VARCHAR) AS DOUBLE)) AS nrm
        FROM w1 GROUP BY 1),
      v1 AS (
        SELECT w1.label, w1.dim, w1.w / n1.nrm AS v
        FROM w1 JOIN n1 ON w1.label = n1.label),
      w2 AS (
        SELECT m.label, m.i AS dim,
          CAST(CAST(sum(CAST(round(m.s * v1.v, 9) AS DECIMAL(28,12)))
            AS VARCHAR) AS DOUBLE) AS w
        FROM m JOIN v1 ON m.label = v1.label AND m.j = v1.dim
        GROUP BY 1, 2),
      n2 AS (
        SELECT label, sqrt(CAST(CAST(sum(CAST(round(w * w, 9)
            AS DECIMAL(28,12))) AS VARCHAR) AS DOUBLE)) AS nrm
        FROM w2 GROUP BY 1)
      SELECT w2.label, CAST(w2.dim AS BIGINT) AS dim,
        round(w2.w / n2.nrm, 6) + 0.0 AS component,
        round(n2.nrm, 6) + 0.0 AS eigenvalue
      FROM w2 JOIN n2 ON w2.label = n2.label
      ORDER BY w2.label, dim"""),
    // q164: q159's und/deg CTEs folded to the symmetric moment
    // correlation — degrees are integers, every sum exact
    Q("q164_degree_assortativity", q164, Extra, """
      WITH p AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
          list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
            CAST(b.embedding AS DOUBLE[])) AS cos
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id),
      sym0 AS (
        SELECT ia AS node, ib AS nbr, cos FROM p
        UNION ALL
        SELECT ib AS node, ia AS nbr, cos FROM p),
      knn AS (
        SELECT node, nbr FROM (
          SELECT node, nbr, row_number() OVER w AS rank
          FROM sym0
          WINDOW w AS (PARTITION BY node ORDER BY round(cos, 6) DESC, nbr))
        WHERE rank <= 3),
      und AS (
        SELECT DISTINCT least(node, nbr) AS a, greatest(node, nbr) AS b
        FROM knn WHERE node <> nbr),
      deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
          SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        GROUP BY 1),
      sym AS (
        SELECT a AS x, b AS y FROM und
        UNION ALL SELECT b, a FROM und),
      d AS (
        SELECT dx.degree AS ddx, dy.degree AS ddy
        FROM sym JOIN deg dx ON sym.x = dx.node
        JOIN deg dy ON sym.y = dy.node),
      mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n_edges,
          CAST(count(*) AS DOUBLE) AS n,
          CAST(sum(CAST(ddx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
          CAST(sum(CAST(ddy AS DECIMAL(38,0))) AS DOUBLE) AS sy,
          CAST(sum(CAST(ddx * ddx AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
          CAST(sum(CAST(ddy * ddy AS DECIMAL(38,0))) AS DOUBLE) AS syy,
          CAST(sum(CAST(ddx * ddy AS DECIMAL(38,0))) AS DOUBLE) AS sxy
        FROM d)
      SELECT n_edges,
        round((n * sxy - sx * sy) /
          sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) + 0.0
          AS assortativity
      FROM mom"""),
    // q165: positional window pairs via nested list comprehensions;
    // probabilities over windows (Np) and occurrences (Nt), DECIMAL(38,0)
    // products before the one division + ln
    Q("q165_skipgram_pmi", q165, Extra, raw"""
      WITH toks AS (
        SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        FROM documents),
      prs AS (
        SELECT unnest(flatten([[ [least(tk[i], tk[i+k]),
            greatest(tk[i], tk[i+k])]
          for i in range(1, len(tk) - k + 1)] for k in [1, 2]])) AS pr
        FROM toks WHERE len(tk) >= 2),
      pc AS (
        SELECT pr[1] AS token_a, pr[2] AS token_b,
          CAST(count(*) AS BIGINT) AS n_ab
        FROM prs GROUP BY 1, 2 HAVING count(*) >= 20),
      uni AS (SELECT unnest(tk) AS w FROM toks),
      uc AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM uni GROUP BY 1),
      np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM prs),
      nt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM uni)
      SELECT p.token_a, p.token_b, p.n_ab, ua.n AS n_a, ub.n AS n_b,
        round(ln(
          CAST(CAST(p.n_ab AS DECIMAL(38,0)) * nt.nt * nt.nt AS DOUBLE) /
          CAST(CAST(ua.n AS DECIMAL(38,0)) * ub.n * np.np AS DOUBLE)), 6)
          + 0.0 AS pmi
      FROM pc p
      JOIN uc ua ON p.token_a = ua.w
      JOIN uc ub ON p.token_b = ub.w
      CROSS JOIN np CROSS JOIN nt
      ORDER BY 1, 2"""),
    // q166: q108's metric CTE folded to the cumulative-rule funnel
    Q("q166_curation_funnel", q166, Extra, raw"""
      WITH m AS (
        SELECT doc_id,
          len(tk) AS n_words,
          CAST(len(array_to_string(tk, '')) AS DOUBLE) /
            CAST(len(tk) AS DOUBLE) AS mean_word_len,
          CAST(len([w for w in tk if regexp_matches(w, '[a-z]')]) AS DOUBLE) /
            CAST(len(tk) AS DOUBLE) AS alpha_frac,
          ((len(text) - len(replace(text, '#', ''))) +
            (len(text) - len(replace(text, '...', ''))) / 3) /
            CAST(len(tk) AS DOUBLE) AS symbol_ratio,
          len(list_intersect(tk,
            ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']))
            AS stop_hits
        FROM (SELECT doc_id, text,
          regexp_split_to_array(trim(lower(text)), '\s+') AS tk
          FROM documents)),
      f AS (
        SELECT
          n_words >= 20 AND n_words <= 100000 AS c1,
          n_words >= 20 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS c2,
          n_words >= 20 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND alpha_frac > 0.8 AS c3,
          n_words >= 20 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND alpha_frac > 0.8 AND symbol_ratio < 0.1 AS c4,
          n_words >= 20 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND alpha_frac > 0.8 AND symbol_ratio < 0.1
            AND stop_hits >= 2 AS c5
        FROM m),
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n0,
          CAST(sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          CAST(sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
          CAST(sum(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
          CAST(sum(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
          CAST(sum(CASE WHEN c5 THEN 1 ELSE 0 END) AS BIGINT) AS n5
        FROM f)
      SELECT stage, rule, n_docs,
        round(CAST(n_docs AS DOUBLE) / CAST(n0 AS DOUBLE), 6) AS pass_rate
      FROM (
        SELECT CAST(0 AS BIGINT) AS stage, 'total' AS rule, n0 AS n_docs, n0 FROM agg
        UNION ALL SELECT 1, 'words_ok', n1, n0 FROM agg
        UNION ALL SELECT 2, 'word_len_ok', n2, n0 FROM agg
        UNION ALL SELECT 3, 'alpha_ok', n3, n0 FROM agg
        UNION ALL SELECT 4, 'symbol_ok', n4, n0 FROM agg
        UNION ALL SELECT 5, 'stop_ok', n5, n0 FROM agg)
      ORDER BY stage"""),
    // q167: q28's quality formula (unrounded) -> fixed-threshold tiers ->
    // per-tier rank -> round-robin position
    Q("q167_curriculum_interleave", q167, Extra, raw"""
      WITH f AS (
        SELECT doc_id,
          CAST(len(tk) AS DOUBLE) AS nt,
          CAST(len(list_distinct(tk)) AS DOUBLE) AS nd,
          CAST(len(text) AS DOUBLE) AS chars,
          CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
            AS alpha
        FROM (SELECT doc_id, text,
          regexp_split_to_array(trim(lower(text)), '\s+') AS tk
          FROM documents)),
      q AS (
        SELECT doc_id, least(greatest(
          0.4 * least(nt / 50.0, 1.0) +
          0.3 * coalesce(nd / nullif(nt, 0.0), 0.0) +
          0.3 * coalesce(alpha / nullif(chars, 0.0), 0.0), 0.0), 1.0)
          AS quality
        FROM f),
      t AS (
        SELECT doc_id, CAST(least(floor(quality * 4), 3) AS BIGINT) AS tier
        FROM q),
      r AS (
        SELECT doc_id, tier,
          row_number() OVER (PARTITION BY tier ORDER BY doc_id) AS rn
        FROM t)
      SELECT doc_id, tier, CAST((rn - 1) * 4 + tier AS BIGINT) AS position
      FROM r ORDER BY position"""),
    // q168: q105's weight CTE + Hamilton allocation; sum(alloc) = total
    // exactly
    Q("q168_budget_allocation", q168, Extra, """
      WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
      s AS (
        SELECT source, n_docs,
          CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER () AS DOUBLE) AS share
        FROM c),
      m AS (SELECT source, n_docs, share, sqrt(share) AS sm FROM s),
      mw AS (SELECT source, sm / max(sm) OVER () AS w FROM m),
      sw AS (
        SELECT CAST(sum(CAST(round(w, 9) AS DECIMAL(28,12))) AS DOUBLE) AS sw
        FROM mw),
      b AS (
        SELECT source, w, 1000000.0 * w / sw AS ideal
        FROM mw CROSS JOIN sw),
      fr AS (
        SELECT source, w, ideal, CAST(floor(ideal) AS BIGINT) AS base,
          ideal - floor(ideal) AS frac
        FROM b),
      r AS (
        SELECT source, w, ideal, base,
          row_number() OVER (ORDER BY frac DESC, source) AS rk,
          (SELECT 1000000 - sum(base) FROM fr) AS rem
        FROM fr)
      SELECT source, round(w, 6) AS weight, round(ideal, 6) AS ideal,
        CAST(base + CASE WHEN rk <= rem THEN 1 ELSE 0 END AS BIGINT) AS alloc
      FROM r ORDER BY source"""),
    // q169: fixed 16-round unrolled peel ≡ the engine's early-stopped
    // fixpoint (rounds past convergence are the identity)
    Q("q169_kcore", q169, Extra, kCoreOracleSql(k = 75, rounds = 16)),
    // q170: distinct-name grain + first-token blocking + classic
    // Levenshtein — both engines' levenshtein is unit-cost edit distance
    Q("q170_fuzzy_match", q170, Extra, raw"""
      WITH keys AS (
        SELECT p_name AS name, regexp_split_to_array(p_name, '\s+')[1] AS blk,
          CAST(count(*) AS BIGINT) AS n
        FROM part GROUP BY 1, 2)
      SELECT a.name AS name_a, b.name AS name_b,
        CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
        a.n AS n_a, b.n AS n_b
      FROM keys a JOIN keys b ON a.blk = b.blk AND a.name < b.name
      WHERE levenshtein(a.name, b.name) <= 3
      ORDER BY 1, 2"""),
    // q171: q25's brute-force scored CTE with labels joined on both ends;
    // rates are one integer ratio, suspect = integer majority comparison
    Q("q171_label_disagreement", q171, Extra, """
      WITH scored AS (
        SELECT q.vec_id AS query_id, q.label AS qlbl,
          c.vec_id AS item_id, c.label AS ilbl,
          list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
            CAST(c.embedding AS DOUBLE[])) AS cos
        FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
        WHERE q.vec_id < 50),
      knn AS (
        SELECT query_id, qlbl, ilbl,
          row_number() OVER (PARTITION BY query_id
            ORDER BY round(cos, 6) DESC, item_id) AS rank
        FROM scored QUALIFY rank <= 5)
      SELECT query_id, qlbl AS label,
        CAST(count(*) AS BIGINT) AS n_nbrs,
        CAST(sum(CASE WHEN ilbl <> qlbl THEN 1 ELSE 0 END) AS BIGINT)
          AS n_disagree,
        round(CAST(sum(CASE WHEN ilbl <> qlbl THEN 1 ELSE 0 END) AS DOUBLE) /
          CAST(count(*) AS DOUBLE), 6) AS disagree_rate,
        sum(CASE WHEN ilbl <> qlbl THEN 1 ELSE 0 END) * 2 >= count(*)
          AS suspect
      FROM knn GROUP BY 1, 2 ORDER BY query_id"""),
    // q172: exact interpolated medians (quantile_cont ≡ Spark percentile,
    // the q46 idiom) for center and spread; flags are one double compare
    Q("q172_mad_outliers", q172, Extra, """
      WITH base AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
        FROM events),
      med AS (SELECT g, quantile_cont(v, 0.5) AS med FROM base GROUP BY 1),
      dev AS (
        SELECT b.g, b.v, m.med, abs(b.v - m.med) AS ad
        FROM base b JOIN med m ON b.g = m.g),
      stats AS (
        SELECT g, min(med) AS med, quantile_cont(ad, 0.5) AS mad,
          CAST(count(*) AS BIGINT) AS n
        FROM dev GROUP BY g)
      SELECT d.g AS event_type, round(min(s.med), 4) AS med,
        round(min(s.mad), 4) AS mad, min(s.n) AS n,
        CAST(sum(CASE WHEN d.ad > 3.0 * s.mad THEN 1 ELSE 0 END) AS BIGINT)
          AS n_outliers,
        round(CAST(sum(CASE WHEN d.ad > 3.0 * s.mad THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(min(s.n) AS DOUBLE), 6) AS outlier_rate
      FROM dev d JOIN stats s ON d.g = s.g
      GROUP BY d.g ORDER BY event_type"""),
    // q173: marginal products summed DECIMAL-exact; po/pe/kappa the
    // identical IEEE tree; kappa NULL when pe = 1 (vacuous agreement)
    Q("q173_cohens_kappa", q173, Extra, raw"""
      WITH base AS (
        SELECT CASE WHEN n_chars >= 150 THEN 'good' ELSE 'bad' END AS a,
          CASE WHEN len(regexp_split_to_array(trim(lower(text)), '\s+')) >= 30
            THEN 'good' ELSE 'bad' END AS b
        FROM documents),
      tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
        FROM base),
      ma AS (SELECT a AS c, count(*) AS na FROM base GROUP BY 1),
      mb AS (SELECT b AS c, count(*) AS nb FROM base GROUP BY 1),
      pen AS (
        SELECT COALESCE(sum(CAST(ma.na * mb.nb AS DECIMAL(38,0))),
          CAST(0 AS DECIMAL(38,0))) AS pe_num
        FROM ma JOIN mb ON ma.c = mb.c)
      SELECT n, n_agree,
        round(CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
        round(CAST(pe_num AS DOUBLE) /
          (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
        CASE WHEN CAST(pe_num AS DOUBLE) /
            (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) = 1.0 THEN NULL
          ELSE round(
            (CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE) -
             CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) /
            (1.0 - CAST(pe_num AS DOUBLE) /
             (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6) + 0.0 END AS kappa
      FROM tot CROSS JOIN pen"""),
    // q174: token-grain join of occurrences onto vocab counts; the rarity
    // test is one integer comparison so the gate is exact
    Q("q174_rare_token_ratio", q174, Extra, raw"""
      WITH toks AS (
        SELECT doc_id,
          unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents),
      f AS (SELECT tok, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM toks)
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        CAST(sum(CASE WHEN f.f * 64 < tot.total THEN 1 ELSE 0 END) AS BIGINT)
          AS n_rare,
        round(CAST(sum(CASE WHEN f.f * 64 < tot.total THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS rare_ratio
      FROM toks t JOIN f ON t.tok = f.tok CROSS JOIN tot
      GROUP BY t.doc_id ORDER BY t.doc_id"""),
    // q175: exact-cosine top-50 (q25 idiom) ⊕ int8-dot top-50 (q114's q8
    // CTE), fused by 1/(60+rank) — two IEEE divisions on integer ranks,
    // round-9 ranking + id tie-break
    Q("q175_rrf_hybrid", q175, Extra, """
      WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings),
      s8 AS (
        SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS ma
        FROM v),
      q8 AS (
        SELECT vec_id,
          CASE WHEN ma = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT))
               ELSE list_transform(e, x -> CAST(round(x / (ma / 127.0)) AS BIGINT))
          END AS qv
        FROM s8),
      ea AS (
        SELECT q.vec_id AS query_id, c.vec_id AS item_id,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
              CAST(c.embedding AS DOUBLE[])), 6) DESC, c.vec_id) AS ra
        FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
        WHERE q.vec_id < 10
        QUALIFY ra <= 50),
      eb AS (
        SELECT q.vec_id AS query_id, c.vec_id AS item_id,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY CAST(list_sum([q.qv[i] * c.qv[i]
              for i in range(1, len(q.qv) + 1)]) AS BIGINT) DESC,
              c.vec_id) AS rb
        FROM q8 q JOIN q8 c ON c.vec_id != q.vec_id
        WHERE q.vec_id < 10
        QUALIFY rb <= 50),
      f AS (
        SELECT COALESCE(a.query_id, b.query_id) AS query_id,
          COALESCE(a.item_id, b.item_id) AS item_id,
          COALESCE(1.0 / (60.0 + CAST(a.ra AS DOUBLE)), 0.0) +
          COALESCE(1.0 / (60.0 + CAST(b.rb AS DOUBLE)), 0.0) AS s
        FROM ea a FULL OUTER JOIN eb b
          ON a.query_id = b.query_id AND a.item_id = b.item_id)
      SELECT query_id, item_id, CAST(row_number() OVER w AS BIGINT) AS rank,
        round(s, 6) AS rrf_score
      FROM f
      WINDOW w AS (PARTITION BY query_id ORDER BY round(s, 9) DESC, item_id)
      QUALIFY rank <= 10 ORDER BY query_id, rank"""),
    // q176: distinct (source, shingle) postings; pair fanout per shingle
    // bounded by |sources|; jaccard = shared/(na+nb-shared), integer-fed
    Q("q176_source_overlap", q176, Extra, raw"""
      WITH toks AS (
        SELECT source, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        FROM documents),
      post AS (
        SELECT DISTINCT source, unnest([array_to_string(tk[i:i+2], ' ')
          for i in range(1, len(tk) - 1)]) AS s
        FROM toks WHERE len(tk) >= 3),
      sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM post
        GROUP BY 1),
      shared AS (
        SELECT a.source AS source_a, b.source AS source_b,
          CAST(count(*) AS BIGINT) AS n_shared
        FROM post a JOIN post b ON a.s = b.s AND a.source < b.source
        GROUP BY 1, 2)
      SELECT sh.source_a, sh.source_b, sh.n_shared,
        sa.n AS n_a, sb.n AS n_b,
        round(CAST(sh.n_shared AS DOUBLE) /
          CAST(sa.n + sb.n - sh.n_shared AS DOUBLE), 6) AS jaccard
      FROM shared sh
      JOIN sizes sa ON sh.source_a = sa.source
      JOIN sizes sb ON sh.source_b = sb.source
      ORDER BY 1, 2"""),
    // q177: two leads in one per-user window (q125's ordering); full
    // trigrams only; top-20 with the path tie-break
    Q("q177_path_trigrams", q177, Extra, """
      WITH seq AS (
        SELECT event_type AS t1,
          lead(event_type, 1) OVER w AS t2,
          lead(event_type, 2) OVER w AS t3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      paths AS (
        SELECT t1 || '>' || t2 || '>' || t3 AS path,
          CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        GROUP BY 1)
      SELECT CAST(row_number() OVER (ORDER BY n DESC, path) AS BIGINT)
          AS rank, path, n
      FROM paths
      QUALIFY rank <= 20 ORDER BY rank"""),
    // q178: c·ln(c) terms rounded to 9dp and DECIMAL-summed (the
    // q149/q161 idiom), then one division + subtraction
    Q("q178_token_entropy", q178, Extra, raw"""
      WITH toks AS (
        SELECT doc_id,
          unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents),
      c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM toks
        GROUP BY 1, 2)
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        CAST(count(*) AS BIGINT) AS n_distinct,
        round(ln(CAST(sum(c) AS DOUBLE)) -
          CAST(sum(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)), 9)
            AS DECIMAL(28,12))) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
          AS entropy
      FROM c GROUP BY doc_id ORDER BY doc_id"""),
    // q179: NOT EXISTS per direction ≡ the engine's left_anti (NULL child
    // keys count as orphans in both)
    Q("q179_integrity_audit", q179, Extra, """
      WITH rels AS (
        SELECT 'lineitem->orders' AS relation,
          (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_children,
          (SELECT CAST(count(*) AS BIGINT) FROM lineitem l WHERE NOT EXISTS
            (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
            AS n_orphans,
          (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_parents,
          (SELECT CAST(count(*) AS BIGINT) FROM orders o WHERE NOT EXISTS
            (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey))
            AS n_unreferenced
        UNION ALL
        SELECT 'lineitem->part',
          (SELECT count(*) FROM lineitem),
          (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
            (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)),
          (SELECT count(*) FROM part),
          (SELECT count(*) FROM part p WHERE NOT EXISTS
            (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey))
        UNION ALL
        SELECT 'lineitem->supplier',
          (SELECT count(*) FROM lineitem),
          (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
            (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)),
          (SELECT count(*) FROM supplier),
          (SELECT count(*) FROM supplier s WHERE NOT EXISTS
            (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey))
        UNION ALL
        SELECT 'orders->customer',
          (SELECT count(*) FROM orders),
          (SELECT count(*) FROM orders o WHERE NOT EXISTS
            (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
          (SELECT count(*) FROM customer),
          (SELECT count(*) FROM customer c WHERE NOT EXISTS
            (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)))
      SELECT relation, n_children, n_orphans,
        round(CAST(n_orphans AS DOUBLE) / CAST(n_children AS DOUBLE), 6)
          AS orphan_rate,
        n_parents, n_unreferenced,
        round(CAST(n_parents - n_unreferenced AS DOUBLE) /
          CAST(n_parents AS DOUBLE), 6) AS coverage_rate
      FROM rels ORDER BY relation"""),
    // q180: digit from the cents-integer string (no runtime log10 on the
    // gate); Benford expectations are Scala-injected literals
    Q("q180_benford_digits", q180, Extra, {
      val exp = (1 to 9).map(d => math.log10(1.0 + 1.0 / d))
      val expList = exp.mkString("[", ", ", "]")
      s"""
      WITH d AS (
        SELECT event_type,
          CAST(substring(CAST(CAST(round(CAST(value AS DOUBLE) * 100.0)
            AS DECIMAL(38,0)) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM events WHERE round(CAST(value AS DOUBLE) * 100.0) >= 1.0),
      c AS (
        SELECT event_type, digit, CAST(count(*) AS BIGINT) AS n
        FROM d GROUP BY 1, 2)
      SELECT event_type, digit, n,
        round(CAST(n AS DOUBLE) /
          CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE), 6) AS share,
        round($expList[CAST(digit AS INT)], 6) AS expected,
        round(CAST(n AS DOUBLE) /
          CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE) -
          $expList[CAST(digit AS INT)], 6) + 0.0 AS deviation
      FROM c ORDER BY event_type, digit"""
    }),
    // q181: FULL OUTER on the key; IS NOT DISTINCT FROM ≡ the engine's
    // null-safe <=>; changed_cols built from the same sorted column order
    Q("q181_snapshot_diff", q181, Extra, """
      WITH oldv AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus, o_orderpriority
        FROM orders WHERE o_orderkey % 7 <> 0),
      newv AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
               ELSE o_totalprice END AS o_totalprice,
          o_orderstatus, o_orderpriority
        FROM orders WHERE o_orderkey % 5 <> 0),
      j AS (
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
          CASE WHEN o.o_orderkey IS NULL THEN 'added'
               WHEN n.o_orderkey IS NULL THEN 'removed'
               WHEN NOT (o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority)
                 OR NOT (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus)
                 OR NOT (o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
                 THEN 'changed' END AS change,
          CASE WHEN o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
            THEN concat_ws(',',
              CASE WHEN NOT (o.o_orderpriority IS NOT DISTINCT FROM
                n.o_orderpriority) THEN 'o_orderpriority' END,
              CASE WHEN NOT (o.o_orderstatus IS NOT DISTINCT FROM
                n.o_orderstatus) THEN 'o_orderstatus' END,
              CASE WHEN NOT (o.o_totalprice IS NOT DISTINCT FROM
                n.o_totalprice) THEN 'o_totalprice' END) END AS cols
        FROM oldv o FULL OUTER JOIN newv n ON o.o_orderkey = n.o_orderkey)
      SELECT o_orderkey, change,
        CASE WHEN change = 'changed' THEN cols END AS changed_cols
      FROM j WHERE change IS NOT NULL ORDER BY o_orderkey"""),
    // q182: rank window over the VOCAB; ln terms round-9 → decimal-sum;
    // slope/intercept the identical IEEE tree
    Q("q182_zipf_fit", q182, Extra, raw"""
      WITH toks AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents),
      f AS (SELECT tok, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY 1),
      ranked AS (
        SELECT ln(CAST(row_number() OVER (ORDER BY f DESC, tok) AS DOUBLE))
            AS x,
          ln(CAST(f AS DOUBLE)) AS y, f
        FROM f),
      sums AS (
        SELECT CAST(count(*) AS BIGINT) AS n_types,
          CAST(sum(f) AS BIGINT) AS n_tokens,
          CAST(count(*) AS DOUBLE) AS n,
          CAST(sum(CAST(round(x, 9) AS DECIMAL(28,12))) AS DOUBLE) AS sx,
          CAST(sum(CAST(round(y, 9) AS DECIMAL(28,12))) AS DOUBLE) AS sy,
          CAST(sum(CAST(round(x * x, 9) AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
          CAST(sum(CAST(round(x * y, 9) AS DECIMAL(28,12))) AS DOUBLE) AS sxy
        FROM ranked)
      SELECT n_types, n_tokens,
        round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0 AS slope,
        round((sy - sx * ((n * sxy - sx * sy) / (n * sxx - sx * sx))) / n, 6)
          + 0.0 AS intercept
      FROM sums"""),
    // q183: integer x, fixed-point y — every moment sum DECIMAL-exact,
    // VARCHAR hop on the casts (the q99 >53-bit caveat)
    Q("q183_hourly_trend", q183, Extra, """
      WITH base AS (
        SELECT event_type AS g, CAST(hour(CAST(ts AS TIMESTAMP))
            AS DECIMAL(18,0)) AS x,
          CAST(value AS DECIMAL(18,4)) AS y
        FROM events),
      sums AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n,
          CAST(count(*) AS DOUBLE) AS nd,
          CAST(CAST(sum(CAST(x AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sx,
          CAST(CAST(sum(CAST(y AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sy,
          CAST(CAST(sum(CAST(x * x AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)
            AS sxx,
          CAST(CAST(sum(CAST(x * y AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)
            AS sxy
        FROM base GROUP BY g)
      SELECT g AS event_type, n,
        CASE WHEN nd * sxx - sx * sx = 0.0 THEN NULL
          ELSE round((nd * sxy - sx * sy) / (nd * sxx - sx * sx), 6) + 0.0 END
          AS slope,
        CASE WHEN nd * sxx - sx * sx = 0.0 THEN NULL
          ELSE round((sy - sx * ((nd * sxy - sx * sy) /
            (nd * sxx - sx * sx))) / nd, 6) + 0.0 END AS intercept
      FROM sums ORDER BY event_type"""),
    Q("q184_weighted_pagerank", q184, Extra, q184Oracle),
    // q185: two basket equi-joins over the distinct frame, a<b<c; count
    // + the (n desc, triple asc) total order
    Q("q185_frequent_triples", q185, Extra, """
      WITH items AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
      tri AS (
        SELECT a.i AS item_a, b.i AS item_b, c.i AS item_c,
          CAST(count(*) AS BIGINT) AS n
        FROM items a
        JOIN items b ON a.b = b.b AND a.i < b.i
        JOIN items c ON a.b = c.b AND b.i < c.i
        GROUP BY 1, 2, 3)
      SELECT CAST(row_number() OVER (
          ORDER BY n DESC, item_a, item_b, item_c) AS BIGINT) AS rank,
        item_a, item_b, item_c, n
      FROM tri QUALIFY rank <= 100 ORDER BY rank"""),
    // q186: ntile boundaries from the metric-then-id total order (the
    // standard quotient-remainder fill both engines implement)
    Q("q186_rfm_scores", q186, Extra, """
      WITH pu AS (
        SELECT user_id, max(ts) AS last_ts,
          CAST(count(*) AS BIGINT) AS frequency,
          CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS monetary
        FROM events GROUP BY 1),
      cm AS (SELECT max(last_ts) AS cmax FROM pu),
      base AS (
        SELECT user_id,
          CAST(date_diff('day', CAST(last_ts AS DATE), CAST(cmax AS DATE))
            AS BIGINT) AS recency_days,
          frequency, monetary
        FROM pu CROSS JOIN cm),
      t AS (
        SELECT user_id, recency_days, frequency, monetary,
          CAST(ntile(5) OVER (ORDER BY recency_days DESC, user_id)
            AS BIGINT) AS r,
          CAST(ntile(5) OVER (ORDER BY frequency ASC, user_id)
            AS BIGINT) AS f,
          CAST(ntile(5) OVER (ORDER BY monetary ASC, user_id)
            AS BIGINT) AS m
        FROM base)
      SELECT user_id, recency_days, frequency, round(monetary, 4) AS monetary,
        r, f, m,
        CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR) AS rfm
      FROM t ORDER BY user_id"""),
    // q187: the >= t0 condition lives IN the left join (cohort keeps
    // never-converting users); day frame + one cumulative window
    Q("q187_survival_curve", q187, Extra, """
      WITH st AS (
        SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t0
        FROM events WHERE event_type = 'view' GROUP BY 1),
      cv AS (
        SELECT s.user_id, s.t0, min(CAST(e.ts AS TIMESTAMP)) AS tc
        FROM st s LEFT JOIN events e ON e.user_id = s.user_id
          AND e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= s.t0
        GROUP BY 1, 2),
      gaps AS (
        SELECT CAST(date_diff('day', CAST(t0 AS DATE), CAST(tc AS DATE))
          AS BIGINT) AS gap FROM cv),
      coh AS (SELECT CAST(count(*) AS BIGINT) AS n FROM gaps),
      bygap AS (
        SELECT gap, CAST(count(*) AS BIGINT) AS c FROM gaps
        WHERE gap IS NOT NULL GROUP BY 1),
      days AS (SELECT CAST(range AS BIGINT) AS day FROM range(0, 15)),
      cum AS (
        SELECT d.day, COALESCE(b.c, 0) AS dc
        FROM days d LEFT JOIN bygap b ON d.day = b.gap)
      SELECT day, coh.n AS n_cohort,
        CAST(sum(dc) OVER w AS BIGINT) AS n_converted,
        round(CAST(coh.n - sum(dc) OVER w AS DOUBLE) /
          CAST(coh.n AS DOUBLE), 6) AS survival
      FROM cum CROSS JOIN coh
      WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
      ORDER BY day"""),
    // q188: min/max in one grouped agg; modal brand = per-name count
    // argmax with the smallest-value tie-break
    Q("q188_golden_record", q188, Extra, """
      WITH agg AS (
        SELECT p_name, CAST(count(*) AS BIGINT) AS n_records,
          min(p_partkey) AS min_p_partkey,
          round(max(p_retailprice), 2) AS max_p_retailprice
        FROM part GROUP BY 1),
      modal AS (
        SELECT p_name, p_brand AS modal_p_brand FROM (
          SELECT p_name, p_brand,
            row_number() OVER (PARTITION BY p_name
              ORDER BY count(*) DESC, p_brand) AS rn
          FROM part WHERE p_brand IS NOT NULL
          GROUP BY p_name, p_brand)
        WHERE rn = 1)
      SELECT a.p_name, a.n_records, a.min_p_partkey, a.max_p_retailprice,
        m.modal_p_brand
      FROM agg a LEFT JOIN modal m ON a.p_name = m.p_name
      ORDER BY a.p_name"""),
    // q189: running-max islanding in epoch micros; covered_seconds by
    // exact integer division both sides
    Q("q189_interval_merge", q189, Extra, """
      WITH base AS (
        SELECT user_id, ts, event_id,
          epoch_us(CAST(ts AS TIMESTAMP)) AS s,
          epoch_us(CAST(ts AS TIMESTAMP)) + 300000000 AS e
        FROM events),
      flagged AS (
        SELECT user_id, ts, event_id, s, e,
          max(e) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        FROM base),
      isl AS (
        SELECT user_id, s, e,
          sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged)
      SELECT user_id, CAST(island AS BIGINT) AS island,
        make_timestamp(min(s)) AS island_start,
        make_timestamp(max(e)) AS island_end,
        CAST(count(*) AS BIGINT) AS n_events,
        CAST((max(e) - min(s)) // 1000000 AS BIGINT) AS covered_seconds
      FROM isl GROUP BY 1, 2 ORDER BY 1, 2"""),
    // q190: the engine's sequential fold restated as a linear recursive
    // CTE — rn -> rn+1 per user, kept-clock carried in the walk
    Q("q190_debounce", q190, Extra, q190Oracle),
    // q191: the reconstruction law — the oracle IS the source frames
    // (pre-merge table tagged before, post-merge tagged after)
    Q("q191_scd2_asof", q191, Extra, """
      SELECT c_custkey, c_mktsegment, c_nationkey, 'before' AS state
      FROM customer
      UNION ALL
      SELECT c_custkey,
        CASE WHEN c_custkey % 10 = 0 THEN 'MACHINERY'
             ELSE c_mktsegment END,
        c_nationkey, 'after'
      FROM customer WHERE c_custkey % 97 <> 0
      UNION ALL
      SELECT c_custkey + 1000000, 'BUILDING', c_nationkey, 'after'
      FROM customer WHERE c_custkey % 101 = 0
      ORDER BY state, c_custkey"""),
    // q192: q28's score + q178's entropy feed the skyline; survive iff
    // y = G(x) (same-x max) and y > M(x) (strictly-greater-x max)
    Q("q192_pareto_frontier", q192, Extra, raw"""
      WITH f AS (
        SELECT doc_id,
          CAST(len(tk) AS DOUBLE) AS nt,
          CAST(len(list_distinct(tk)) AS DOUBLE) AS nd,
          CAST(len(text) AS DOUBLE) AS chars,
          CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
            AS alpha
        FROM (SELECT doc_id, text,
          regexp_split_to_array(trim(lower(text)), '\s+') AS tk
          FROM documents)),
      q AS (
        SELECT doc_id, round(least(greatest(
          0.4 * least(nt / 50.0, 1.0) +
          0.3 * coalesce(nd / nullif(nt, 0.0), 0.0) +
          0.3 * coalesce(alpha / nullif(chars, 0.0), 0.0), 0.0), 1.0), 6)
          AS x
        FROM f),
      toks AS (
        SELECT doc_id,
          unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents),
      c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM toks
        GROUP BY 1, 2),
      ent AS (
        SELECT doc_id, round(ln(CAST(sum(c) AS DOUBLE)) -
          CAST(sum(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)), 9)
            AS DECIMAL(28,12))) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS y
        FROM c GROUP BY doc_id),
      base AS (
        SELECT q.doc_id AS id, q.x, e.y FROM q JOIN ent e
          ON q.doc_id = e.doc_id),
      g AS (SELECT x, max(y) AS gy FROM base GROUP BY 1),
      m AS (
        SELECT x, gy, max(gy) OVER (ORDER BY x DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m
        FROM g)
      SELECT b.id AS doc_id, b.x AS quality, b.y AS entropy
      FROM base b JOIN m ON b.x = m.x
      WHERE b.y = m.gy AND (m.m IS NULL OR b.y > m.m)
      ORDER BY doc_id"""),
    // q193: ntile over the (score, id) total order; round-9 decimal mean
    Q("q193_reliability_bins", q193, Extra, q193Oracle),
    // q194: Mann–Whitney with tied-rank averaging — half-integer avg
    // ranks carried in DECIMAL(38,1)
    Q("q194_auc", q194, Extra, q194Oracle),
    // q195: q27's prediction CASE + class-grain folds off the confusion
    // cells; null metrics where the denominator (or tp) is zero
    Q("q195_classifier_metrics", q195, Extra, q195Oracle),
    // q196: the streamed twin shares q190's oracle VERBATIM — under the
    // event-time-monotone batch boundary, stateful streaming debounce
    // must equal the batch fold on the union (q140/q136's device)
    Q("q196_debounce_stream", q196, Extra, q190Oracle),
    // q197: user equi-join with the range predicate; q168's integer
    // largest-remainder split — base cents to all touches, the first
    // (c mod n) in (time, id) order take one extra; Σ ≡ cents exactly
    Q("q197_linear_attribution", q197, Extra, """
      WITH conv AS (
        SELECT user_id AS u, event_id AS pid,
          epoch_us(CAST(ts AS TIMESTAMP)) AS pt,
          CAST(round(CAST(value AS DOUBLE) * 100.0) AS BIGINT) AS c
        FROM events WHERE event_type = 'purchase'),
      touch AS (
        SELECT user_id AS tu, event_id AS tid,
          epoch_us(CAST(ts AS TIMESTAMP)) AS ct
        FROM events WHERE event_type = 'click'),
      pairs AS (
        SELECT c.u, c.pid, c.c, t.ct, t.tid
        FROM conv c JOIN touch t ON t.tu = c.u
          AND t.ct >= c.pt - 604800000000 AND t.ct < c.pt),
      credited AS (
        SELECT u, ct,
          c // count(*) OVER (PARTITION BY pid) +
          CASE WHEN row_number() OVER (PARTITION BY pid
              ORDER BY ct ASC, tid ASC) <=
            c % count(*) OVER (PARTITION BY pid) THEN 1 ELSE 0 END AS credit
        FROM pairs)
      SELECT u AS user_id,
        strftime(make_timestamp(ct), '%Y-%m-%d') AS day,
        CAST(count(*) AS BIGINT) AS n_touches,
        CAST(sum(credit) AS BIGINT) AS credit_cents
      FROM credited GROUP BY 1, 2 ORDER BY 1, 2"""),
    // q198: three-level DECIMAL-exact sums; shares are IEEE divisions of
    // the exact sums with the q99 VARCHAR hop
    Q("q198_contribution_shares", q198, Extra, """
      WITH base AS (
        SELECT r.r_name AS region, n.n_name AS nation,
          CAST(l.l_extendedprice AS DECIMAL(18,4)) AS m
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey),
      cm AS (
        SELECT region, nation, sum(CAST(m AS DECIMAL(38,8))) AS cm
        FROM base GROUP BY 1, 2),
      lv AS (
        SELECT region, nation, cm,
          sum(cm) OVER (PARTITION BY region) AS pm,
          sum(cm) OVER () AS tm,
          CAST(row_number() OVER (PARTITION BY region
            ORDER BY cm DESC, nation ASC) AS BIGINT) AS rank_in_parent
        FROM cm)
      SELECT region, nation,
        round(CAST(CAST(cm AS VARCHAR) AS DOUBLE), 4) AS measure,
        round(CAST(CAST(cm AS VARCHAR) AS DOUBLE) /
          CAST(CAST(pm AS VARCHAR) AS DOUBLE), 6) AS share_of_parent,
        round(CAST(CAST(pm AS VARCHAR) AS DOUBLE) /
          CAST(CAST(tm AS VARCHAR) AS DOUBLE), 6) AS parent_share,
        rank_in_parent
      FROM lv ORDER BY region, nation"""),
    // q199: q32's session expressions folded to the one-row report
    Q("q199_session_report", q199, Extra, """
      WITH seq AS (
        SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
          lag(epoch_us(CAST(ts AS TIMESTAMP)), 1) OVER (
            PARTITION BY user_id
            ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_us
        FROM events),
      flagged AS (
        SELECT user_id, event_id, us,
          CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
            THEN 1 ELSE 0 END AS is_new
        FROM seq),
      numbered AS (
        SELECT user_id, us,
          sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
            ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged),
      sess AS (
        SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n,
          max(us) - min(us) AS dur_us
        FROM numbered GROUP BY 1, 2)
      SELECT CAST(count(*) AS BIGINT) AS n_sessions,
        CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
        round(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
          CAST(count(*) AS DOUBLE), 6) AS bounce_rate,
        round(CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
          AS events_per_session,
        round(CAST(sum(CAST(dur_us AS DECIMAL(38,0))) AS DOUBLE) /
          1000000.0 / CAST(count(*) AS DOUBLE), 6) AS mean_duration_s
      FROM sess"""),
    // q200: the composition gate — each arm's oracle verbatim as a
    // subquery, melted to (metric, key, value)
    Q("q200_eval_report", q200, Extra, s"""
      SELECT 'auc' AS metric, CAST(NULL AS VARCHAR) AS key, auc AS value
      FROM ($q194Oracle)
      UNION ALL
      SELECT 'bin_pos_rate', CAST(bin AS VARCHAR), pos_rate
      FROM ($q193Oracle)
      UNION ALL
      SELECT 'precision', lang, precision FROM ($q195Oracle)
      UNION ALL
      SELECT 'recall', lang, recall FROM ($q195Oracle)
      UNION ALL
      SELECT 'f1', lang, f1 FROM ($q195Oracle)
      ORDER BY metric, key NULLS FIRST"""),
    // q201: RANGE frames include all value peers — tie-order-independent
    // by construction; DECIMAL band sums
    Q("q201_range_frame", q201, Extra, """
      SELECT event_id, event_type, value,
        CAST(count(*) OVER w AS BIGINT) AS n_in_band,
        round(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE), 4)
          AS sum_in_band
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY value
        RANGE BETWEEN 100.0 PRECEDING AND CURRENT ROW)
      ORDER BY event_id"""),
    // q202: DuckDB ASOF LEFT JOIN (>= semantics, right side collapsed to
    // unique (user, ts) with arg_max) + the staleness CASE
    Q("q202_asof_tolerance", q202, Extra, """
      WITH clicks AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS cts,
          max(event_id) AS click_id, arg_max(value, event_id) AS click_value
        FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      o AS (
        SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ots
        FROM events WHERE event_type <> 'click')
      SELECT o.event_id, o.user_id, o.event_type,
        CASE WHEN c.cts IS NOT NULL AND
            epoch_us(o.ots) - epoch_us(c.cts) <= 3600000000
          THEN c.click_id END AS click_id,
        CASE WHEN c.cts IS NOT NULL AND
            epoch_us(o.ots) - epoch_us(c.cts) <= 3600000000
          THEN round(c.click_value, 4) END AS click_value
      FROM o ASOF LEFT JOIN clicks c
        ON o.user_id = c.user_id AND o.ots >= c.cts
      ORDER BY event_id"""),
    // q203: quantile_cont list boundaries (≡ Spark percentile array);
    // bucket = 1 + Σ (v > boundary_i), identical IEEE compares
    Q("q203_equidepth_histogram", q203, Extra, """
      WITH base AS (
        SELECT event_type AS g, CAST(value AS DOUBLE) AS v FROM events),
      bounds AS (
        SELECT g, quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7,
          0.8, 0.9]) AS b
        FROM base GROUP BY 1),
      assigned AS (
        SELECT base.g, v,
          1 + CAST(len([x for x in b.b if v > round(x, 6)]) AS BIGINT)
            AS bucket
        FROM base JOIN bounds b ON base.g = b.g)
      SELECT g AS event_type, bucket, CAST(count(*) AS BIGINT) AS n,
        round(min(v), 4) AS min_v, round(max(v), 4) AS max_v
      FROM assigned GROUP BY 1, 2 ORDER BY 1, 2"""),
    // q204: q67's packing CTE folded to the per-lang efficiency readout
    Q("q204_packing_efficiency", q204, Extra, raw"""
      WITH f AS (
        SELECT doc_id, lang,
          CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
            AS BIGINT) AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, lang, n_tokens,
          CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM f),
      packed AS (
        SELECT lang, n_tokens,
          CAST((cum_tokens - n_tokens) // 2048 AS BIGINT) AS bin_id,
          CAST((cum_tokens - 1) // 2048 AS BIGINT) >
            CAST((cum_tokens - n_tokens) // 2048 AS BIGINT) AS spans
        FROM c)
      SELECT lang, CAST(count(DISTINCT bin_id) AS BIGINT) AS n_bins,
        CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        CAST(sum(CASE WHEN spans THEN 1 ELSE 0 END) AS BIGINT)
          AS n_spanning,
        round(CAST(sum(n_tokens) AS DOUBLE) /
          CAST(count(DISTINCT bin_id) * 2048 AS DOUBLE), 6) AS fill_ratio
      FROM packed GROUP BY lang ORDER BY lang"""),
    // q205: the CDC resolution restated directly — final state = updated
    // rows for mod-3, dropped for mod-5, inserts otherwise
    Q("q205_cdc_apply", q205, Extra, q205CdcOracle),
    // q206: q159's knn CTE; wedges via the symmetric self-join, 1-hop
    // and self excluded, distinct targets counted
    Q("q206_two_hop_reach", q206, Extra, """
      WITH p AS MATERIALIZED (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
          list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
            CAST(b.embedding AS DOUBLE[])) AS cos
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id),
      symc AS (
        SELECT ia AS node, ib AS nbr, cos FROM p
        UNION ALL
        SELECT ib AS node, ia AS nbr, cos FROM p),
      knn AS (
        SELECT node, nbr FROM (
          SELECT node, nbr, row_number() OVER w AS rank
          FROM symc
          WINDOW w AS (PARTITION BY node ORDER BY round(cos, 6) DESC, nbr))
        WHERE rank <= 3),
      und AS MATERIALIZED (
        SELECT DISTINCT least(node, nbr) AS a, greatest(node, nbr) AS b
        FROM knn WHERE node <> nbr),
      sym AS MATERIALIZED (
        SELECT a AS x, b AS y FROM und UNION ALL SELECT b, a FROM und),
      deg AS (SELECT x AS node, CAST(count(*) AS BIGINT) AS n1 FROM sym
        GROUP BY 1),
      two AS (
        SELECT DISTINCT s1.x AS a0, s2.y AS b0
        FROM sym s1 JOIN sym s2 ON s1.y = s2.x
        WHERE s1.x <> s2.y),
      twoonly AS (
        SELECT a0, b0 FROM two
        WHERE NOT EXISTS (SELECT 1 FROM sym WHERE sym.x = two.a0
          AND sym.y = two.b0)),
      n2 AS (SELECT a0 AS node, CAST(count(*) AS BIGINT) AS n2
        FROM twoonly GROUP BY 1)
      SELECT d.node, d.n1, COALESCE(n2.n2, 0) AS n2,
        2 * d.n1 + COALESCE(n2.n2, 0) AS reach_x2
      FROM deg d LEFT JOIN n2 ON d.node = n2.node
      ORDER BY d.node"""),
    // q207: two unrolled BPE rounds — pair mining + recursive merge walk
    Q("q207_bpe_rounds", q207, Extra, q207Oracle),
    // q208: the streamed twin shares q205's oracle VERBATIM — per-key
    // frontier state across micro-batches must converge to the batch
    // resolution for any log partitioning
    Q("q208_cdc_stream", q208, Extra, q205CdcOracle),
    // q209: DECIMAL-exact moments broadcast onto rows; population
    // variance; constant groups null; VARCHAR hop on the big sums
    Q("q209_feature_scale", q209, Extra, """
      WITH base AS (
        SELECT event_type AS g, event_id AS id,
          CAST(value AS DECIMAL(18,4)) AS v
        FROM events),
      stats AS (
        SELECT g,
          CAST(min(v) AS DOUBLE) AS mn, CAST(max(v) AS DOUBLE) AS mx,
          CAST(count(*) AS DOUBLE) AS n,
          CAST(CAST(sum(CAST(v AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)
            AS s,
          CAST(CAST(sum(CAST(v * v AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)
            AS ss
        FROM base GROUP BY 1)
      SELECT b.g AS event_type, b.id AS event_id,
        CAST(b.v AS DOUBLE) AS value,
        CASE WHEN st.mx = st.mn THEN NULL
          ELSE round((CAST(b.v AS DOUBLE) - st.mn) / (st.mx - st.mn), 6)
          END AS minmax,
        CASE WHEN st.ss / st.n - (st.s / st.n) * (st.s / st.n) <= 0.0
          THEN NULL
          ELSE round((CAST(b.v AS DOUBLE) - st.s / st.n) /
            sqrt(st.ss / st.n - (st.s / st.n) * (st.s / st.n)), 6) + 0.0
          END AS zscore
      FROM base b JOIN stats st ON b.g = st.g
      ORDER BY event_id"""),
    // q210: daily integer counts; consecutive-day self-join; the q164
    // integer-moment Pearson idiom
    Q("q210_lag1_autocorr", q210, Extra, """
      WITH daily AS (
        SELECT event_type AS g, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      pairs AS (
        SELECT a.g, a.c AS x, b.c AS y
        FROM daily a JOIN daily b ON a.g = b.g AND b.d = a.d + 1),
      sums AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n_pairs,
          CAST(count(*) AS DOUBLE) AS n,
          CAST(CAST(sum(CAST(x AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
            AS sx,
          CAST(CAST(sum(CAST(y AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
            AS sy,
          CAST(CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
            AS sxx,
          CAST(CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
            AS syy,
          CAST(CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
            AS sxy
        FROM pairs GROUP BY g)
      SELECT g AS event_type, n_pairs,
        CASE WHEN n_pairs < 2 OR
            sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) = 0.0
          THEN NULL
          ELSE round((n * sxy - sx * sy) /
            sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) + 0.0 END
          AS autocorr
      FROM sums ORDER BY event_type"""),
    // q211: the CLUSTER-blocked truth over the SQL-derived clustered
    // vectors (cluster = vec_id % n_clusters, n_clusters capped so cell
    // population stays ~200) — the engine blocks by geometric cell
    // assignment instead, so hash equality IS the recall-1.0 proof for
    // bounded cell blocking
    Q("q211_knn_bounded", q211, Extra, q211Oracle),
    // q212: the stats recomputed from the closed-form dimension rule the
    // engine ENCODED the PNGs at — hash equality proves the real
    // javax.imageio decode round-trips every dimension exactly
    Q("q212_real_codec_roundtrip", q212, Extra, """
      WITH dims AS (
        SELECT CAST(doc_id AS BIGINT) AS asset_id,
          CAST(16 + (CAST(doc_id AS BIGINT) * 7) % 120 AS INT) AS width,
          CAST(16 + (CAST(doc_id AS BIGINT) * 13) % 90 AS INT) AS height
        FROM documents WHERE doc_id < 200)
      SELECT asset_id, width, height, CAST(3 AS INT) AS channels,
        round(CAST(width AS DOUBLE) /
          nullif(CAST(height AS DOUBLE), 0.0), 4) AS aspect,
        (width > 1024 OR height > 1024) AS needs_resize,
        CAST(CAST(width AS BIGINT) * height AS BIGINT) AS pixels,
        CAST(floor(width * (CASE WHEN greatest(width, height) <= 64
            THEN 1.0 ELSE 64.0 / CAST(greatest(width, height) AS DOUBLE)
            END)) AS INT) AS out_width,
        CAST(floor(height * (CASE WHEN greatest(width, height) <= 64
            THEN 1.0 ELSE 64.0 / CAST(greatest(width, height) AS DOUBLE)
            END)) AS INT) AS out_height
      FROM dims ORDER BY asset_id"""),
    // q213: q146's retrieval chain through `marked` (q146Cte), then
    // AP@5/NDCG@5 with the ENGINE-injected literal discount and
    // ideal-DCG tables (Eval.rankingMetrics computes the same lists)
    Q("q213_ranking_metrics", q213, Extra, {
      val gains = (1 to 5).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0)))
      val idcg = gains.scanLeft(0.0)(_ + _)
      val gainList = gains.mkString("[", ", ", "]")
      val idcgList = idcg.mkString("[", ", ", "]")
      s"""$q146Cte,
      g AS (
        SELECT query_id, rank, rel,
          sum(rel) OVER (PARTITION BY query_id ORDER BY rank
            ROWS UNBOUNDED PRECEDING) AS hits_upto
        FROM marked),
      rsz AS (SELECT query_id, CAST(count(*) AS BIGINT) AS r
              FROM truth GROUP BY 1),
      agg AS (
        SELECT query_id, CAST(count(*) AS BIGINT) AS n_returned,
          CAST(sum(rel) AS BIGINT) AS hits,
          CAST(sum(CAST(round(CASE WHEN rel = 1
              THEN CAST(hits_upto AS DOUBLE) / CAST(rank AS DOUBLE)
              ELSE 0.0 END, 9) AS DECIMAL(28,12))) AS DOUBLE) AS apn,
          CAST(sum(CAST(round(CAST(rel AS DOUBLE) *
              ($gainList)[CAST(rank AS INT)], 9)
              AS DECIMAL(28,12))) AS DOUBLE) AS dcg
        FROM g GROUP BY 1)
      SELECT a.query_id, a.n_returned, a.hits,
        round(a.apn / CAST(least(rsz.r, 5) AS DOUBLE), 6) AS ap,
        round(a.dcg / ($idcgList)[CAST(least(rsz.r, 5) AS INT) + 1], 6)
          AS ndcg
      FROM agg a JOIN rsz ON a.query_id = rsz.query_id
      ORDER BY a.query_id"""
    }),
    // q214: the incremental cell-blocked graph must equal the full
    // cell-blocked recompute (the q142 merge law under the bounded key),
    // which on the clustered fixture is q211's truth VERBATIM
    Q("q214_knn_bounded_incremental", q214, Extra, q211Oracle),
    Q("q215_pr_auc", q215, Extra, q215Oracle),
    Q("q216_calibration_summary", q216, Extra, q216Oracle),
    Q("q217_hits", q217, Extra, q217Oracle),
    Q("q218_ewma_daily", q218, Extra, q218Oracle),
    Q("q219_group_kfold", q219, Extra, s"""
      SELECT doc_id, source,
        CAST((${hashPosSql("'fold'", "source")} * 5) // 4294967296
          AS BIGINT) AS fold
      FROM documents ORDER BY doc_id"""),
    // q220: the same ε-pair predicate as q111, then neighbor counts →
    // cores → recursive-CTE components over the CORE subgraph →
    // min-cluster border adoption; cluster ids are min member ids on
    // both sides (CC's label contract), so the triage is deterministic.
    Q("q220_dbscan", q220, Extra, """
      WITH RECURSIVE p AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
          CAST(b.embedding AS DOUBLE[])) >= 0.25),
      sym AS (
        SELECT id_a AS s, id_b AS d FROM p
        UNION ALL SELECT id_b, id_a FROM p),
      nc AS (SELECT s AS node, count(*) AS nn FROM sym GROUP BY 1),
      core AS (SELECT node FROM nc WHERE nn + 1 >= 3),
      ce AS (
        SELECT p.id_a, p.id_b FROM p
        JOIN core c1 ON p.id_a = c1.node
        JOIN core c2 ON p.id_b = c2.node),
      cesym AS (
        SELECT id_a AS s, id_b AS d FROM ce
        UNION ALL SELECT id_b, id_a FROM ce),
      reach(id, r) AS (
        SELECT DISTINCT s, s FROM cesym
        UNION
        SELECT reach.id, cesym.d FROM reach JOIN cesym ON reach.r = cesym.s),
      comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
      corec AS (
        SELECT c.node, coalesce(m.component, c.node) AS comp
        FROM core c LEFT JOIN comp m ON c.node = m.id),
      border AS (
        SELECT sym.s AS node, min(k.comp) AS comp
        FROM sym JOIN corec k ON sym.d = k.node
        WHERE sym.s NOT IN (SELECT node FROM core)
        GROUP BY 1)
      SELECT e.vec_id,
        CASE WHEN k.node IS NOT NULL THEN 'core'
             WHEN b.node IS NOT NULL THEN 'border'
             ELSE 'noise' END AS role,
        CAST(coalesce(k.comp, b.comp) AS BIGINT) AS cluster,
        CAST(coalesce(n.nn, 0) AS BIGINT) AS n_nbrs
      FROM embeddings e
      LEFT JOIN corec k ON e.vec_id = k.node
      LEFT JOIN border b ON e.vec_id = b.node
      LEFT JOIN nc n ON e.vec_id = n.node
      ORDER BY e.vec_id"""),
    // q221: DuckDB replays FakePcmCodec sample-for-sample — frame j's 8
    // int16s are hex fields of md5(text || '|' || j), energies/peaks
    // pure integers.
    Q("q221_audio_frame_energy", q221, Extra, """
      WITH base AS (
        SELECT doc_id, text, octet_length(encode(text)) AS bl
        FROM documents),
      fr AS (
        SELECT doc_id, text, least(bl // 256 + 1, 4) AS nf FROM base),
      fj AS (
        SELECT doc_id, text, nf, unnest(generate_series(0, nf - 1)) AS j
        FROM fr),
      hx AS (
        SELECT doc_id, nf, j,
          md5(text || '|' || CAST(j AS VARCHAR)) AS h
        FROM fj),
      sm AS (
        SELECT doc_id, nf, j, i,
          ('0x' || substring(h, i * 4 + 1, 4))::BIGINT AS u
        FROM hx, range(0, 8) r(i)),
      sg AS (
        SELECT doc_id, nf, j,
          CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
        FROM sm),
      fe AS (
        SELECT doc_id, nf, j, sum(abs(s)) AS energy, max(abs(s)) AS peak
        FROM sg GROUP BY 1, 2, 3)
      SELECT doc_id AS asset_id, CAST(max(nf) AS BIGINT) AS n_frames,
        CAST(sum(energy) AS BIGINT) AS total_energy,
        CAST(max(peak) AS BIGINT) AS peak
      FROM fe GROUP BY doc_id ORDER BY asset_id"""),
    // q222 streams the same daily series through GroupState; the landed
    // table must equal the batch EWMA fold — the oracle is q218's
    // generated chain VERBATIM (q136/q140's shared-oracle pattern)
    Q("q222_ewma_stream", q222, Extra, q218Oracle),
    Q("q223_unigram_lm_score", q223, Extra, raw"""
      WITH toks AS (
        SELECT doc_id,
          unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        FROM documents),
      freq AS (SELECT token, count(*) AS f FROM toks GROUP BY 1),
      tot AS (SELECT count(*) AS N FROM toks),
      j AS (
        SELECT t.doc_id, f.f, tot.N
        FROM toks t JOIN freq f ON t.token = f.token CROSS JOIN tot)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        round(CAST(sum(CAST(round(CAST(f AS DOUBLE) / CAST(N AS DOUBLE), 9)
            AS DECIMAL(28,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
          AS mean_prob,
        round(CAST(min(f) AS DOUBLE) / CAST(max(N) AS DOUBLE), 6)
          AS min_prob
      FROM j GROUP BY doc_id ORDER BY doc_id"""),
    // q224: the Poisson CDF thresholds are the SAME Scala-computed Longs
    // the engine compares against — pure integer replica counts
    Q("q224_bootstrap", q224, Extra, {
      val cases = graft.ops.Sampling.poissonBounds(8)
        .map(t => s"(CASE WHEN h >= $t THEN 1 ELSE 0 END)").mkString(" + ")
      s"""
      WITH b AS (
        SELECT doc_id, source,
          ${hashPosSql("'boot'", "CAST(doc_id AS VARCHAR)")} AS h
        FROM documents),
      c AS (SELECT doc_id, source, ($cases) AS copies FROM b)
      SELECT doc_id, source,
        unnest(generate_series(0, copies - 1)) AS copy
      FROM c WHERE copies > 0 ORDER BY doc_id, copy"""
    }),
    Q("q225_ks_drift", q225, Extra, """
      WITH base AS (
        SELECT value AS s, event_type = 'purchase' AS p FROM events
        WHERE event_type IN ('click', 'purchase')),
      per AS (
        SELECT s, count(*) AS n,
          sum(CASE WHEN p THEN 1 ELSE 0 END) AS np
        FROM base GROUP BY 1),
      cum AS (
        SELECT s, n, np,
          sum(n) OVER (ORDER BY s) AS cn,
          sum(np) OVER (ORDER BY s) AS cnp
        FROM per),
      tot AS (
        SELECT CAST(sum(np) AS BIGINT) AS na,
          CAST(sum(n) - sum(np) AS BIGINT) AS nb
        FROM per)
      SELECT t.na AS n_a, t.nb AS n_b,
        CASE WHEN t.na = 0 OR t.nb = 0 THEN NULL ELSE
          round(max(abs(CAST(c.cnp AS DOUBLE) / CAST(t.na AS DOUBLE) -
            CAST(c.cn - c.cnp AS DOUBLE) / CAST(t.nb AS DOUBLE))), 6)
        END AS ks
      FROM cum c CROSS JOIN tot t GROUP BY t.na, t.nb"""),
    // q226: the three greedy MMR steps unrolled from ONE generated
    // template (q101's device): step t scores every unpicked shortlist
    // item against the picked set via greatest(), the same rdz-rounded
    // ordering the engine's rank window uses.
    Q("q226_mmr_diversify", q226, Extra, s"""
      WITH $mmrCtes
      SELECT query_id, CAST(1 AS BIGINT) AS rank, item_id,
        round(score, 6) + 0.0 AS score FROM p1
      UNION ALL SELECT query_id, CAST(2 AS BIGINT), item_id,
        round(score, 6) + 0.0 FROM p2
      UNION ALL SELECT query_id, CAST(3 AS BIGINT), item_id,
        round(score, 6) + 0.0 FROM p3
      ORDER BY query_id, rank"""),
    Q("q227_bfs_distance", q227, Extra, """
      WITH RECURSIVE e AS (
        SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src,
          's' || CAST(l_suppkey AS VARCHAR) AS dst FROM lineitem
        UNION
        SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR),
          'p' || CAST(l_partkey AS VARCHAR) FROM lineitem),
      sd AS (SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR) AS node
             FROM supplier WHERE s_suppkey <= 3),
      d(node, dist) AS (
        SELECT node, 0 FROM sd
        UNION
        SELECT e.dst, d.dist + 1 FROM d JOIN e ON d.node = e.src
        WHERE d.dist < 4)
      SELECT node, CAST(min(dist) AS BIGINT) AS dist
      FROM d GROUP BY node ORDER BY node"""),
    Q("q228_seasonal_profile", q228, Extra, """
      WITH daily AS (
        SELECT event_type AS key, CAST(ts AS DATE) AS day,
          count(*) AS cnt
        FROM events GROUP BY 1, 2),
      bd AS (
        SELECT key, CAST(dayofweek(day) AS BIGINT) AS dow,
          CAST(count(*) AS BIGINT) AS n_days,
          CAST(sum(cnt) AS BIGINT) AS n_events
        FROM daily GROUP BY 1, 2),
      tot AS (SELECT key, sum(n_events) AS tt FROM bd GROUP BY 1)
      SELECT bd.key AS event_type, bd.dow, bd.n_days, bd.n_events,
        round(CAST(bd.n_events AS DOUBLE) / CAST(bd.n_days AS DOUBLE), 6)
          AS mean_daily,
        round(CAST(bd.n_events AS DOUBLE) / CAST(t.tt AS DOUBLE), 6)
          AS share
      FROM bd JOIN tot t ON bd.key = t.key ORDER BY event_type, dow"""),
    Q("q229_changepoint", q229, Extra, """
      WITH daily AS (
        SELECT event_type AS key, CAST(ts AS DATE) AS day,
          sum(CAST(value AS DECIMAL(18,2))) AS ds
        FROM events GROUP BY 1, 2),
      g AS (
        SELECT key, day,
          CAST(row_number() OVER wo AS BIGINT) AS k,
          CAST(sum(CAST(ds AS DECIMAL(28,2))) OVER (PARTITION BY key
            ORDER BY day ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS sk,
          CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS n,
          CAST(sum(CAST(ds AS DECIMAL(28,2))) OVER (PARTITION BY key)
            AS DOUBLE) AS sn
        FROM daily WINDOW wo AS (PARTITION BY key ORDER BY day ASC)),
      st AS (
        SELECT key, day, n,
          abs(sk - (CAST(k AS DOUBLE) * sn) / CAST(n AS DOUBLE)) AS stat
        FROM g)
      SELECT key AS event_type, strftime(day, '%Y-%m-%d') AS change_day,
        n AS n_days, round(stat, 4) + 0.0 AS stat
      FROM st
      QUALIFY row_number() OVER (PARTITION BY key
        ORDER BY stat DESC, day ASC) = 1
      ORDER BY event_type"""),
    Q("q230_orc_roundtrip", q230, Extra, eventsIdentityOracle),
    Q("q231_spearman", q231, Extra, raw"""
      WITH f AS (
        SELECT lang, n_chars,
          CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
            AS BIGINT) AS tc
        FROM documents),
      r AS (
        SELECT lang,
          2 * rank() OVER (PARTITION BY lang ORDER BY n_chars) +
            count(*) OVER (PARTITION BY lang, n_chars) - 1 AS rx,
          2 * rank() OVER (PARTITION BY lang ORDER BY tc) +
            count(*) OVER (PARTITION BY lang, tc) - 1 AS ry
        FROM f),
      m AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n,
          CAST(count(*) AS DOUBLE) AS nd,
          CAST(sum(CAST(rx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
          CAST(sum(CAST(ry AS DECIMAL(38,0))) AS DOUBLE) AS sy,
          CAST(sum(CAST(rx * rx AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
          CAST(sum(CAST(ry * ry AS DECIMAL(38,0))) AS DOUBLE) AS syy,
          CAST(sum(CAST(rx * ry AS DECIMAL(38,0))) AS DOUBLE) AS sxy
        FROM r GROUP BY 1)
      SELECT lang, n,
        CASE WHEN n < 2 OR nd * sxx = sx * sx OR nd * syy = sy * sy
          THEN NULL
          ELSE round((nd * sxy - sx * sy) /
            sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)), 6) + 0.0
        END AS spearman
      FROM m ORDER BY lang"""),
    // q232: the q195 language-detector CTE collapsed to the is-English
    // binary, then the identical report-card trees
    Q("q232_binary_card", q232, Extra, raw"""
      WITH sc AS (
        SELECT lang,
          len(list_filter(tk, t -> t IN ('the','a','of','and','to'))) AS s_en,
          len(list_filter(tk, t -> t IN ('el','la','de','que','y'))) AS s_es,
          len(list_filter(tk, t -> t IN ('le','la','de','et','un'))) AS s_fr,
          len(list_filter(tk, t -> t IN ('der','die','und','das','ein'))) AS s_de,
          len(list_filter(tk, t -> t IN ('的','了','是','我','不'))) AS s_zh
        FROM (SELECT lang,
          regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM documents)),
      pred AS (
        SELECT lang = 'en' AS ac, (CASE
          WHEN s_en = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_en > 0 THEN 'en'
          WHEN s_es = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_es > 0 THEN 'es'
          WHEN s_fr = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_fr > 0 THEN 'fr'
          WHEN s_de = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_de > 0 THEN 'de'
          WHEN s_zh = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_zh > 0 THEN 'zh'
          ELSE 'und' END) = 'en' AS pr
        FROM sc),
      cm AS (
        SELECT
          CAST(sum(CASE WHEN pr AND ac THEN 1 ELSE 0 END) AS BIGINT) AS tp,
          CAST(sum(CASE WHEN pr AND NOT ac THEN 1 ELSE 0 END) AS BIGINT) AS fp,
          CAST(sum(CASE WHEN NOT pr AND ac THEN 1 ELSE 0 END) AS BIGINT) AS fn,
          CAST(sum(CASE WHEN NOT pr AND NOT ac THEN 1 ELSE 0 END) AS BIGINT) AS tn
        FROM pred)
      SELECT tp, fp, fn, tn,
        round(CAST(tp + tn AS DOUBLE) /
          CAST(tp + fp + fn + tn AS DOUBLE), 6) AS accuracy,
        CASE WHEN tp + fn = 0 OR tn + fp = 0 THEN NULL ELSE
          round((CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) +
                 CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE)) / 2.0, 6)
        END AS balanced_accuracy,
        CASE WHEN tp + fn = 0 OR tn + fp = 0 THEN NULL ELSE
          round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) +
                CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE) - 1.0, 6) + 0.0
        END AS youden_j,
        CASE WHEN tp + fp = 0 OR tp + fn = 0 OR tn + fp = 0 OR tn + fn = 0
          THEN NULL ELSE
          round(CAST(tp * tn - fp * fn AS DOUBLE) /
            sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE) *
                 CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)), 6) + 0.0
        END AS mcc
      FROM cm"""),
    // q233: the snapshot-pinned read must equal the FIRST landing alone —
    // the odd event_ids — even though the table has since grown
    Q("q233_manifest_time_travel", q233, Extra, """
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        min(event_id) AS min_id, max(event_id) AS max_id
      FROM events WHERE event_id % 2 = 1
      GROUP BY event_type ORDER BY event_type"""),
    // q234 streams the same sufficient statistic through a Complete-mode
    // aggregation and shares the batch fold — oracle VERBATIM below
    Q("q234_ks_drift_stream", q234, Extra, """
      WITH base AS (
        SELECT value AS s, event_type = 'purchase' AS p FROM events
        WHERE event_type IN ('click', 'purchase')),
      per AS (
        SELECT s, count(*) AS n,
          sum(CASE WHEN p THEN 1 ELSE 0 END) AS np
        FROM base GROUP BY 1),
      cum AS (
        SELECT s, n, np,
          sum(n) OVER (ORDER BY s) AS cn,
          sum(np) OVER (ORDER BY s) AS cnp
        FROM per),
      tot AS (
        SELECT CAST(sum(np) AS BIGINT) AS na,
          CAST(sum(n) - sum(np) AS BIGINT) AS nb
        FROM per)
      SELECT t.na AS n_a, t.nb AS n_b,
        CASE WHEN t.na = 0 OR t.nb = 0 THEN NULL ELSE
          round(max(abs(CAST(c.cnp AS DOUBLE) / CAST(t.na AS DOUBLE) -
            CAST(c.cn - c.cnp AS DOUBLE) / CAST(t.nb AS DOUBLE))), 6)
        END AS ks
      FROM cum c CROSS JOIN tot t GROUP BY t.na, t.nb"""),
    // q235: q226's greedy template composed with q213's metric
    // arithmetic against the brute-force top-5 truth — the
    // diversification-cost readout; shared CTEs mean the constituents
    // cannot drift from their own gates
    Q("q235_mmr_eval", q235, Extra, {
      val k = 3
      val gains = (1 to k).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0)))
      val idcg = gains.scanLeft(0.0)(_ + _)
      val gainList = gains.mkString("[", ", ", "]")
      val idcgList = idcg.mkString("[", ", ", "]")
      s"""
      WITH $mmrCtes,
      truth AS (
        SELECT query_id, item_id FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS item_id,
            list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
              CAST(c.embedding AS DOUBLE[])) AS cos
          FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
          WHERE q.vec_id < 10)
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY round(cos, 6) DESC, item_id) <= 5),
      retr AS (
        SELECT query_id, item_id, CAST(1 AS BIGINT) AS rank FROM p1
        UNION ALL SELECT query_id, item_id, CAST(2 AS BIGINT) FROM p2
        UNION ALL SELECT query_id, item_id, CAST(3 AS BIGINT) FROM p3),
      marked AS (
        SELECT r.query_id, r.rank,
          CASE WHEN t.item_id IS NOT NULL THEN 1 ELSE 0 END AS rel
        FROM retr r LEFT JOIN truth t
          ON r.query_id = t.query_id AND r.item_id = t.item_id),
      g AS (
        SELECT query_id, rank, rel,
          sum(rel) OVER (PARTITION BY query_id ORDER BY rank
            ROWS UNBOUNDED PRECEDING) AS hits_upto
        FROM marked),
      rsz AS (SELECT query_id, CAST(count(*) AS BIGINT) AS r
              FROM truth GROUP BY 1),
      agg AS (
        SELECT query_id, CAST(count(*) AS BIGINT) AS n_returned,
          CAST(sum(rel) AS BIGINT) AS hits,
          CAST(sum(CAST(round(CASE WHEN rel = 1
              THEN CAST(hits_upto AS DOUBLE) / CAST(rank AS DOUBLE)
              ELSE 0.0 END, 9) AS DECIMAL(28,12))) AS DOUBLE) AS apn,
          CAST(sum(CAST(round(CAST(rel AS DOUBLE) *
              ($gainList)[CAST(rank AS INT)], 9)
              AS DECIMAL(28,12))) AS DOUBLE) AS dcg
        FROM g GROUP BY 1)
      SELECT a.query_id, a.n_returned, a.hits,
        round(a.apn / CAST(least(rsz.r, $k) AS DOUBLE), 6) AS ap,
        round(a.dcg / ($idcgList)[CAST(least(rsz.r, $k) AS INT) + 1], 6)
          AS ndcg
      FROM agg a JOIN rsz ON a.query_id = rsz.query_id
      ORDER BY a.query_id"""
    }),
    // q236 streams the daily counts and screens against q228's frozen
    // baseline — the oracle embeds the profile arithmetic verbatim
    Q("q236_seasonal_anomaly_stream", q236, Extra, """
      WITH daily AS (
        SELECT event_type AS key, CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
      bd AS (
        SELECT key, CAST(dayofweek(day) AS BIGINT) AS dow,
          CAST(count(*) AS BIGINT) AS n_days,
          CAST(sum(cnt) AS BIGINT) AS n_events
        FROM daily GROUP BY 1, 2),
      prof AS (
        SELECT key, dow,
          round(CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE), 6)
            AS mean_daily
        FROM bd),
      f AS (
        SELECT d.key, d.day, p.dow, d.cnt, p.mean_daily
        FROM daily d JOIN prof p
          ON d.key = p.key AND CAST(dayofweek(d.day) AS BIGINT) = p.dow)
      SELECT key AS event_type, strftime(day, '%Y-%m-%d') AS day, dow,
        cnt, mean_daily
      FROM f WHERE CAST(cnt AS DOUBLE) > CAST(1.05 AS DOUBLE) * mean_daily
      ORDER BY event_type, day"""),
    // q237: the CLUSTER-blocked DBSCAN truth over q211's SQL-derived
    // clustered vectors (ε = 0.55 in the measured mixture gap) — the
    // engine blocks by capped multi-probe cell assignment instead, so
    // hash equality IS the ε-recall-1.0 proof for bounded-cell DBSCAN;
    // per-node degrees pin the pair set itself, not just the triage
    Q("q237_dbscan_cells", q237, Extra, s"""
      WITH RECURSIVE $clusteredVecsCte,
      p AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM cl a JOIN cl b
          ON a.clabel = b.clabel AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.cvec, b.cvec) >= 0.55),
      sym AS (
        SELECT id_a AS s, id_b AS d FROM p
        UNION ALL SELECT id_b, id_a FROM p),
      nc2 AS (SELECT s AS node, count(*) AS nn FROM sym GROUP BY 1),
      core AS (SELECT node FROM nc2 WHERE nn + 1 >= 3),
      ce AS (
        SELECT p.id_a, p.id_b FROM p
        JOIN core c1 ON p.id_a = c1.node
        JOIN core c2 ON p.id_b = c2.node),
      cesym AS (
        SELECT id_a AS s, id_b AS d FROM ce
        UNION ALL SELECT id_b, id_a FROM ce),
      reach(id, r) AS (
        SELECT DISTINCT s, s FROM cesym
        UNION
        SELECT reach.id, cesym.d FROM reach JOIN cesym ON reach.r = cesym.s),
      comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
      corec AS (
        SELECT c.node, coalesce(m.component, c.node) AS comp
        FROM core c LEFT JOIN comp m ON c.node = m.id),
      border AS (
        SELECT sym.s AS node, min(k.comp) AS comp
        FROM sym JOIN corec k ON sym.d = k.node
        WHERE sym.s NOT IN (SELECT node FROM core)
        GROUP BY 1)
      SELECT e.vec_id,
        CASE WHEN k.node IS NOT NULL THEN 'core'
             WHEN b.node IS NOT NULL THEN 'border'
             ELSE 'noise' END AS role,
        CAST(coalesce(k.comp, b.comp) AS BIGINT) AS cluster,
        CAST(coalesce(n.nn, 0) AS BIGINT) AS n_nbrs
      FROM embeddings e
      LEFT JOIN corec k ON e.vec_id = k.node
      LEFT JOIN border b ON e.vec_id = b.node
      LEFT JOIN nc2 n ON e.vec_id = n.node
      ORDER BY e.vec_id"""),
    // q238: energy/peak recomputed from the closed-form sample rule —
    // the engine's WAV encode→decode must return every PCM sample
    // bit-exactly for the hash to match (frames of 8, partial last kept)
    Q("q238_wav_roundtrip", q238, Extra, """
      WITH ids AS (
        SELECT doc_id AS id FROM documents WHERE doc_id < 200),
      idx AS (
        SELECT id, unnest(range(0, 11 + id % 50)) AS i FROM ids),
      smp AS (
        SELECT id, i, ((id * 131 + i * 7919) % 65536) - 32768 AS s,
          i // 8 AS f
        FROM idx),
      fe AS (
        SELECT id, f, sum(abs(s)) AS energy, max(abs(s)) AS peak
        FROM smp GROUP BY 1, 2)
      SELECT id AS asset_id, CAST(count(*) AS BIGINT) AS n_frames,
        CAST(sum(energy) AS BIGINT) AS total_energy,
        CAST(max(peak) AS BIGINT) AS peak
      FROM fe GROUP BY id ORDER BY asset_id"""),
    // q239: silhouette replayed from the same rdz-rounded centroid
    // cosines — assignment is the LABEL, centroids its min-id seeds, so
    // misfits are real and the gate pins the triage row-for-row
    Q("q239_silhouette", q239, Extra, """
      WITH cent AS (
        SELECT label AS cell, embedding AS cvec FROM embeddings
        QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) = 1),
      sc AS (
        SELECT e.vec_id, e.label, c.cell,
          round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
            CAST(c.cvec AS DOUBLE[])), 6) + 0.0 AS cos
        FROM embeddings e CROSS JOIN cent c),
      per AS (
        SELECT vec_id, label,
          max(CASE WHEN cell = label THEN cos END) AS cown,
          max(CASE WHEN cell <> label THEN cos END) AS cbest
        FROM sc GROUP BY 1, 2),
      sil AS (
        SELECT label,
          CASE WHEN greatest(1 - cown, 1 - cbest) <= 0 THEN 0.0
            ELSE round(((1 - cbest) - (1 - cown)) /
              greatest(1 - cown, 1 - cbest), 6) + 0.0
          END AS s
        FROM per)
      SELECT label AS cell, CAST(count(*) AS BIGINT) AS n,
        round(CAST(sum(CAST(round(s, 9) AS DECIMAL(28,12))) AS DOUBLE) /
          count(*), 6) + 0.0 AS mean_sil,
        CAST(sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_misfit
      FROM sil GROUP BY 1 ORDER BY cell"""),
    // q240: the KMV estimator replayed from the same md5 positions —
    // exact integers end-to-end, one rounded division at the readout
    Q("q240_kmv_distinct", q240, Extra, s"""
      WITH h AS (
        SELECT DISTINCT ${hashPosSql("'kmv'", "CAST(l_partkey AS VARCHAR)")}
          AS hv
        FROM lineitem),
      m AS (SELECT hv FROM h ORDER BY hv LIMIT 256)
      SELECT CAST(count(*) AS BIGINT) AS n_min,
        CAST(max(hv) AS BIGINT) AS kth_pos,
        CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
             WHEN max(hv) = 0 THEN NULL
             ELSE round(255.0 * 4294967296.0 / max(hv), 4) END
          AS est_distinct
      FROM m"""),
    // q241/q242: the chunk stream replayed boundary-for-boundary from
    // the shared CTE (same windowed md5 predicate, same lag arithmetic)
    Q("q241_content_chunks", q241, Extra, s"""$chunkCte
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        CAST(sum(clen) AS BIGINT) AS total_len,
        CAST(max(clen) AS BIGINT) AS max_chunk_len,
        min(chash) AS min_chunk_hash
      FROM cc GROUP BY 1 ORDER BY doc_id"""),
    Q("q242_chunk_dedup", q242, Extra, s"""$chunkCte,
      per AS (SELECT chash, count(*) AS n FROM cc GROUP BY 1)
      SELECT CAST(sum(n) AS BIGINT) AS n_instances,
        CAST(count(*) AS BIGINT) AS n_distinct,
        CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
          AS n_dup_instances,
        round(CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS DOUBLE) /
          CAST(sum(n) AS DOUBLE), 6) AS dup_ratio
      FROM per"""),
    // q243: the streamed fold must land on the batch sketch exactly
    // (merge law) - q240's oracle verbatim
    Q("q243_kmv_stream", q243, Extra, s"""
      WITH h AS (
        SELECT DISTINCT ${hashPosSql("'kmv'", "CAST(l_partkey AS VARCHAR)")}
          AS hv
        FROM lineitem),
      m AS (SELECT hv FROM h ORDER BY hv LIMIT 256)
      SELECT CAST(count(*) AS BIGINT) AS n_min,
        CAST(max(hv) AS BIGINT) AS kth_pos,
        CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
             WHEN max(hv) = 0 THEN NULL
             ELSE round(255.0 * 4294967296.0 / max(hv), 4) END
          AS est_distinct
      FROM m"""),
    // q244: postings from the shared chunk CTE, df-capped, self-joined
    // - integer counts, one rounded division
    Q("q244_chunk_overlap", q244, Extra, s"""$chunkCte,
      post AS (SELECT DISTINCT doc_id, chash FROM cc),
      keep AS (SELECT chash FROM post GROUP BY 1 HAVING count(*) <= 64),
      inf AS (SELECT p.doc_id, p.chash FROM post p JOIN keep k
        ON p.chash = k.chash),
      sz AS (SELECT doc_id, count(*) AS n FROM inf GROUP BY 1),
      pr AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        FROM inf a JOIN inf b ON a.chash = b.chash AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 2)
      SELECT pr.id_a, pr.id_b, CAST(pr.n_shared AS BIGINT) AS n_shared,
        CAST(sa.n AS BIGINT) AS size_a, CAST(sb.n AS BIGINT) AS size_b,
        round(CAST(pr.n_shared AS DOUBLE) /
          CAST(sa.n + sb.n - pr.n_shared AS DOUBLE), 6) AS jaccard
      FROM pr JOIN sz sa ON pr.id_a = sa.doc_id
      JOIN sz sb ON pr.id_b = sb.doc_id
      ORDER BY id_a, id_b"""),
    Q("q245_regional_revenue", q245, Extra, """
      SELECT n_name,
        CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
          AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue,
        count(DISTINCT o_orderkey) AS n_orders
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey
        AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY n_name ORDER BY n_name"""),
    // q246: q168's largest-remainder chain over TOKEN-share temperature
    // weights, with the epoch ratio readout
    Q("q246_epoch_plan", q246, Extra, """
      WITH c AS (
        SELECT source,
          CAST(sum(len(regexp_split_to_array(trim(lower(text)), '\s+')))
            AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1),
      s AS (
        SELECT source, n_tokens,
          CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE)
            AS share
        FROM c),
      m AS (SELECT source, n_tokens, share, sqrt(share) AS sm FROM s),
      mw AS (
        SELECT source, n_tokens, share, sm / max(sm) OVER () AS w FROM m),
      sw AS (
        SELECT CAST(sum(CAST(round(w, 9) AS DECIMAL(28,12))) AS DOUBLE)
          AS sw
        FROM mw),
      b AS (
        SELECT source, n_tokens, share, w, 500000.0 * w / sw AS ideal
        FROM mw CROSS JOIN sw),
      fr AS (
        SELECT source, n_tokens, share, w, ideal,
          CAST(floor(ideal) AS BIGINT) AS base,
          ideal - floor(ideal) AS frac
        FROM b),
      r AS (
        SELECT source, n_tokens, share, w, base,
          row_number() OVER (ORDER BY frac DESC, source) AS rk,
          (SELECT 500000 - sum(base) FROM fr) AS rem
        FROM fr)
      SELECT source, n_tokens, round(share, 6) AS share,
        round(w, 6) AS mix_weight,
        CAST(base + CASE WHEN rk <= rem THEN 1 ELSE 0 END AS BIGINT)
          AS alloc_tokens,
        round(CAST(base + CASE WHEN rk <= rem THEN 1 ELSE 0 END AS DOUBLE) /
          CAST(n_tokens AS DOUBLE), 6) AS epochs
      FROM r ORDER BY source"""),
    // q247: the landed store must BE the batch distinct chunk set -
    // the set-union law, row-for-row
    Q("q247_chunk_store_stream", q247, Extra, s"""$chunkCte
      SELECT DISTINCT chash AS chunk_hash FROM cc ORDER BY chunk_hash"""),
    // q248: q244's pair predicate (HAVING + rounded-jaccard threshold)
    // then the recursive reach CTE - min-id components, q220's pattern
    Q("q248_chunk_dup_groups", q248, Extra,
      s"""${chunkCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
      post AS (SELECT DISTINCT doc_id, chash FROM cc),
      keep AS (SELECT chash FROM post GROUP BY 1 HAVING count(*) <= 64),
      inf AS (SELECT p.doc_id, p.chash FROM post p JOIN keep k
        ON p.chash = k.chash),
      sz AS (SELECT doc_id, count(*) AS n FROM inf GROUP BY 1),
      pr AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ns
        FROM inf a JOIN inf b ON a.chash = b.chash AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 2),
      pj AS (
        SELECT pr.id_a, pr.id_b
        FROM pr JOIN sz sa ON pr.id_a = sa.doc_id
        JOIN sz sb ON pr.id_b = sb.doc_id
        WHERE round(CAST(pr.ns AS DOUBLE) /
          CAST(sa.n + sb.n - pr.ns AS DOUBLE), 6) >= 0.5),
      sym AS (
        SELECT id_a AS s, id_b AS d FROM pj
        UNION ALL SELECT id_b, id_a FROM pj),
      reach(id, r) AS (
        SELECT DISTINCT s, s FROM sym
        UNION
        SELECT reach.id, sym.d FROM reach JOIN sym ON reach.r = sym.s)
      SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS dup_group
      FROM reach GROUP BY id ORDER BY doc_id"""),
    // q249: every CMS cell rebuilt from the same four salted md5 draws
    Q("q249_cms_build", q249, Extra, s"""WITH
      ${cmsCellsSql("lineitem", "CAST(l_partkey AS VARCHAR)")}
      SELECT r, c, CAST(cnt AS BIGINT) AS cnt FROM cms ORDER BY r, c"""),
    // q250: probe coords replay the same draws over the keys frame;
    // est = min over rows, missing cell = 0; exact joined for the
    // one-sided-error readout
    Q("q250_cms_estimate", q250, Extra, s"""WITH
      ${cmsCellsSql("lineitem", "CAST(l_suppkey AS VARCHAR)")},
      probe AS (
        SELECT s_suppkey AS key, CAST(rw.r AS INTEGER) AS r,
          ${hashPosSql("'cms' || CAST(rw.r AS VARCHAR)",
            "CAST(s_suppkey AS VARCHAR)")} % 64 AS c
        FROM supplier CROSS JOIN rows_ rw),
      est AS (
        SELECT p.key, min(coalesce(m.cnt, 0)) AS est_count
        FROM probe p LEFT JOIN cms m ON p.r = m.r AND p.c = m.c
        GROUP BY 1),
      exact AS (
        SELECT l_suppkey AS key, count(*) AS exact_count
        FROM lineitem GROUP BY 1)
      SELECT e.key, CAST(e.est_count AS BIGINT) AS est_count,
        CAST(coalesce(x.exact_count, 0) AS BIGINT) AS exact_count,
        CAST(e.est_count - coalesce(x.exact_count, 0) AS BIGINT) AS overcount
      FROM est e LEFT JOIN exact x ON e.key = x.key ORDER BY e.key"""),
    // q251: the streamed fold must land on the batch sketch EXACTLY -
    // q249's oracle verbatim (cell-wise-sum merge law)
    Q("q251_cms_stream", q251, Extra, s"""WITH
      ${cmsCellsSql("lineitem", "CAST(l_partkey AS VARCHAR)")}
      SELECT r, c, CAST(cnt AS BIGINT) AS cnt FROM cms ORDER BY r, c"""),
    // q252: the 3-iteration GD unroll lands on the same weight bits
    Q("q252_linear_probe", q252, Extra, s"""$probeTrainCte
      SELECT 0 AS ord, 'bias' AS feature, w0 AS weight FROM w3
      UNION ALL SELECT 1, 'chars', w1 FROM w3
      UNION ALL SELECT 2, 'spaces', w2 FROM w3
      ORDER BY ord"""),
    // q253: re-train through the shared chain, score with the same
    // sigma tree rounded at 9, fold to the fit readout
    Q("q253_probe_eval", q253, Extra, s"""$probeTrainCte,
      scz AS (
        SELECT f.y,
          (w.w0 * f.x0) + (w.w1 * f.x1) + (w.w2 * f.x2) AS z
        FROM feats f CROSS JOIN w3 w),
      sc AS (
        SELECT y, round(0.5 * (1.0 + z / (1.0 + abs(z))), 9) AS score
        FROM scz),
      m AS (
        SELECT count(*) AS n,
          sum(CASE WHEN (CASE WHEN score >= 0.5 THEN CAST(1.0 AS DOUBLE)
                         ELSE CAST(0.0 AS DOUBLE) END) = y
              THEN 1 ELSE 0 END) AS n_correct,
          CAST(sum(CAST(abs(y - score) AS DECIMAL(28,18))) AS DOUBLE) AS sr
        FROM sc)
      SELECT CAST(n AS BIGINT) AS n, CAST(n_correct AS BIGINT) AS n_correct,
        round(CAST(n_correct AS DOUBLE) / CAST(n AS DOUBLE), 6) AS accuracy,
        round(sr / CAST(n AS DOUBLE), 6) AS mean_abs_resid
      FROM m"""),
    // q254: pairs within the TRUE clusters (q237's equality argument:
    // the engine's capped multi-probe candidates must recover exactly
    // these, extras dying on the threshold), recursive reach, min-id
    // groups, kept = id == group
    Q("q254_semantic_dedup", q254, Extra, s"""
      WITH RECURSIVE $clusteredVecsCte,
      p AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM cl a JOIN cl b
          ON a.clabel = b.clabel AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.cvec, b.cvec) >= 0.55),
      sym AS (
        SELECT id_a AS s, id_b AS d FROM p
        UNION ALL SELECT id_b, id_a FROM p),
      reach(id, r) AS (
        SELECT DISTINCT s, s FROM sym
        UNION
        SELECT reach.id, sym.d FROM reach JOIN sym ON reach.r = sym.s),
      comp AS (SELECT id, min(r) AS g FROM reach GROUP BY id)
      SELECT e.vec_id AS id,
        CAST(coalesce(m.g, e.vec_id) AS BIGINT) AS dup_group,
        CAST(CASE WHEN coalesce(m.g, e.vec_id) = e.vec_id
          THEN 1 ELSE 0 END AS INTEGER) AS kept
      FROM embeddings e LEFT JOIN comp m ON e.vec_id = m.id
      ORDER BY id"""),
    // q255: the smoothed ratio replayed term-for-term (same 4-node IEEE
    // tree over integer-fed doubles, same round-9 decimal sums)
    Q("q255_importance_weights", q255, Extra, raw"""
      WITH toks AS (
        SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
          unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents),
      freq AS (
        SELECT tok, count(*) AS fa, sum(tgt) AS ft FROM toks GROUP BY 1),
      tot AS (
        SELECT sum(fa) AS na, sum(ft) AS nt, count(*) AS v FROM freq),
      r AS (
        SELECT t.doc_id,
          (CAST(f.ft + 1 AS DOUBLE) * CAST(o.na + o.v AS DOUBLE)) /
          (CAST(f.fa + 1 AS DOUBLE) * CAST(o.nt + o.v AS DOUBLE)) AS ratio
        FROM toks t JOIN freq f ON t.tok = f.tok CROSS JOIN tot o),
      d AS (
        SELECT doc_id, count(*) AS n_tokens,
          CAST(sum(CAST(round(ratio, 9) AS DECIMAL(28,12))) AS DOUBLE) AS rs
        FROM r GROUP BY 1)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        round(rs / CAST(n_tokens AS DOUBLE), 6) AS importance
      FROM d ORDER BY importance DESC, doc_id LIMIT 50"""),
    // q256: the k smallest salted positions, ties by id — replayed from
    // the same md5 draw
    Q("q256_uniform_sample", q256, Extra, s"""
      SELECT doc_id, lang, source,
        ${hashPosSql("'sample'", "CAST(doc_id AS VARCHAR)")} AS __pos
      FROM documents ORDER BY __pos, doc_id LIMIT 64"""),
    // q257: the streamed fold must land on the batch sample EXACTLY -
    // q256's oracle verbatim (top-k merge law with payload)
    Q("q257_sample_stream", q257, Extra, s"""
      SELECT doc_id, lang, source,
        ${hashPosSql("'sample'", "CAST(doc_id AS VARCHAR)")} AS __pos
      FROM documents ORDER BY __pos, doc_id LIMIT 64"""),
    // q258: the decorrelated Q17 shape — per-part threshold agg join,
    // decimal-exact sums, one IEEE threshold tree
    Q("q258_small_qty_revenue", q258, Extra, """
      WITH lp AS (
        SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand = 'Brand#4'),
      th AS (
        SELECT l_partkey AS pk,
          CAST(0.2 AS DOUBLE) *
            (CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) /
             CAST(count(*) AS DOUBLE)) AS th
        FROM lp GROUP BY 1),
      f AS (
        SELECT lp.l_extendedprice FROM lp JOIN th ON lp.l_partkey = th.pk
        WHERE lp.l_quantity < th.th)
      SELECT CAST(count(*) AS BIGINT) AS n_small,
        round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
          / 7.0, 2) + 0.0 AS avg_yearly
      FROM f"""),
    // q259: sketch prefilter (est*64 >= N, integer) then exact verify
    // of candidates only — one-sided error = no missed heavy hitter
    Q("q259_cms_heavy_hitters", q259, Extra, s"""WITH
      ${cmsCellsSql("lineitem", "CAST(l_suppkey AS VARCHAR)")},
      probe AS (
        SELECT s_suppkey AS key, CAST(rw.r AS INTEGER) AS r,
          ${hashPosSql("'cms' || CAST(rw.r AS VARCHAR)",
            "CAST(s_suppkey AS VARCHAR)")} % 64 AS c
        FROM supplier CROSS JOIN rows_ rw),
      est AS (
        SELECT p.key, min(coalesce(m.cnt, 0)) AS est_count
        FROM probe p LEFT JOIN cms m ON p.r = m.r AND p.c = m.c
        GROUP BY 1),
      tot AS (SELECT count(*) AS n FROM lineitem),
      cand AS (
        SELECT e.key, e.est_count FROM est e CROSS JOIN tot
        WHERE e.est_count * 64 >= tot.n),
      exact AS (
        SELECT l_suppkey AS key, count(*) AS exact_count
        FROM lineitem WHERE l_suppkey IN (SELECT key FROM cand)
        GROUP BY 1)
      SELECT cd.key, CAST(cd.est_count AS BIGINT) AS est_count,
        CAST(coalesce(x.exact_count, 0) AS BIGINT) AS exact_count,
        CAST(CASE WHEN coalesce(x.exact_count, 0) * 64 >= tot.n
          THEN 1 ELSE 0 END AS INTEGER) AS is_true
      FROM cand cd LEFT JOIN exact x ON cd.key = x.key CROSS JOIN tot
      ORDER BY cd.key"""),
    // q260: fit offline, score the stream — stateless map, so the
    // streamed landing must equal the batch scoring row-for-row
    Q("q260_probe_score_stream", q260, Extra, s"""$probeTrainCte,
      scz AS (
        SELECT f.doc_id,
          (w.w0 * f.x0) + (w.w1 * f.x1) + (w.w2 * f.x2) AS z
        FROM feats f CROSS JOIN w3 w),
      sc AS (
        SELECT doc_id, round(0.5 * (1.0 + z / (1.0 + abs(z))), 9) AS score
        FROM scz)
      SELECT doc_id, score,
        CAST(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS INTEGER)
          AS predicted
      FROM sc ORDER BY doc_id"""),
    // q261: KMV set algebra — both min-k sets, the union sketch, and
    // the n_both/|U| Jaccard replayed from the same md5 positions;
    // est_intersection multiplies the two already-rounded components
    Q("q261_kmv_jaccard", q261, Extra, s"""
      WITH ha AS (
        SELECT DISTINCT ${hashPosSql("'kmv'", "CAST(l_partkey AS VARCHAR)")}
          AS hv
        FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-06-01'),
      sa AS (SELECT hv FROM ha ORDER BY hv LIMIT 256),
      hb AS (
        SELECT DISTINCT ${hashPosSql("'kmv'", "CAST(l_partkey AS VARCHAR)")}
          AS hv
        FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-06-01'),
      sb AS (SELECT hv FROM hb ORDER BY hv LIMIT 256),
      u AS (
        SELECT DISTINCT hv FROM (
          SELECT hv FROM sa UNION ALL SELECT hv FROM sb)
        ORDER BY hv LIMIT 256),
      f AS (
        SELECT hv,
          CASE WHEN hv IN (SELECT hv FROM sa)
                AND hv IN (SELECT hv FROM sb) THEN 1 ELSE 0 END AS inb
        FROM u),
      m AS (
        SELECT CAST(count(*) AS BIGINT) AS n_union_min,
          CAST(sum(inb) AS BIGINT) AS n_both,
          round(CAST(sum(inb) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
            AS jaccard_est,
          CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
               WHEN max(hv) = 0 THEN NULL
               ELSE round(255.0 * 4294967296.0 / max(hv), 4) END
            AS est_union
        FROM f)
      SELECT n_union_min, n_both, jaccard_est, est_union,
        round(jaccard_est * est_union, 4) AS est_intersection
      FROM m"""),
    // q262: the 72-cell md5 grid, every gradient-sign bit, the 8 row
    // bands and the BIGINT reassembly — all exact integers
    Q("q262_image_dhash", q262, Extra, """
      WITH cells AS (
        SELECT d.doc_id, t.i,
          ('0x' || substring(md5(d.text || '|g' || CAST(t.i AS VARCHAR)),
            1, 2))::BIGINT AS v
        FROM documents d, range(72) t(i)
        WHERE d.text IS NOT NULL),
      bits AS (
        SELECT a.doc_id, a.i // 9 AS r, a.i % 9 AS c,
          CASE WHEN a.v > b.v THEN 1 ELSE 0 END AS bit
        FROM cells a JOIN cells b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        WHERE a.i % 9 < 8),
      bands AS (
        SELECT doc_id, r, CAST(sum(bit * (1::BIGINT << c)) AS BIGINT) AS band
        FROM bits GROUP BY 1, 2)
      SELECT doc_id AS asset_id,
        string_agg(printf('%02x', band), '' ORDER BY r) AS dhash
      FROM bands GROUP BY 1 ORDER BY asset_id"""),
    // q263: planted one-cell variants, the 4x16-bit pigeonhole band
    // join, XOR popcount distance — the base<->variant pairs and ONLY
    // those survive maxDist 3
    Q("q263_image_neardup", q263, Extra, s"""WITH $dhashPairsCte
      SELECT id_a, id_b, hamming FROM ham
      WHERE hamming <= 3 ORDER BY id_a, id_b"""),
    // q264: 16 Poisson-weighted resamples, each AUC'd with the exact
    // weighted tied-rank identity — thresholds are the SAME Scala longs
    Q("q264_bootstrap_auc", q264, Extra,
      bootstrapAucOracle(withSummary = false)),
    // q265: q264's replicate frame folded to the (mean, lo, hi) readout
    Q("q265_bootstrap_auc_ci", q265, Extra,
      bootstrapAucOracle(withSummary = true)),
    // q266: the 6-iteration BPE trainer unrolled relationally — same
    // pair counts, same lexicographic argmax, same greedy replace
    Q("q266_bpe_merges", q266, Extra, bpeMergesOracle(6)),
    // q267: the pinned tokenizer as the identical literal replace chain
    Q("q267_bpe_encode", q267, Extra, bpeEncodeOracle(pinnedBpeMerges)),
    // q268: the same candidate synthesis, split-explode, and integer
    // Luhn fold — validity classes and their extreme runs
    Q("q268_pii_luhn", q268, Extra, """
      WITH txt AS (
        SELECT o_orderkey,
          'order card 45320151' ||
          lpad(CAST(o_orderkey % 100000000 AS VARCHAR), 8, '0') ||
          ' ref 1234' AS text
        FROM orders),
      runs AS (
        SELECT DISTINCT o_orderkey AS doc_id, run FROM (
          SELECT o_orderkey,
            unnest(string_split_regex(
              regexp_replace(text, '([0-9])[ -]([0-9])', '\1\2', 'g'),
              '[^0-9]+')) AS run
          FROM txt)
        WHERE len(run) BETWEEN 13 AND 19),
      pos AS (
        SELECT doc_id, run,
          unnest(generate_series(0, len(run) - 1)) AS i
        FROM runs),
      d AS (
        SELECT doc_id, run, i,
          CAST(substring(reverse(run), i + 1, 1) AS INT) AS dg
        FROM pos),
      s AS (
        SELECT doc_id, run,
          sum(CASE WHEN i % 2 = 0 THEN dg
              ELSE 2 * dg - CASE WHEN dg > 4 THEN 9 ELSE 0 END END) AS tot
        FROM d GROUP BY 1, 2)
      SELECT (tot % 10 = 0) AS luhn_ok, CAST(count(*) AS BIGINT) AS n,
        min(run) AS first_run, max(run) AS last_run
      FROM s GROUP BY 1 ORDER BY luhn_ok"""),
    // q269: identical integer counting contracts (marker device for
    // vowel groups), two IEEE divisions, round 4
    Q("q269_readability", q269, Extra, """
      WITH f AS (
        SELECT doc_id,
          len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
            x -> x <> '')) AS w,
          greatest(len(list_filter(string_split_regex(text, '[.!?]+'),
            x -> trim(x) <> '')), 1) AS sn,
          len(m) - len(replace(m, '#', '')) AS sy
        FROM (
          SELECT doc_id, text,
            regexp_replace(replace(lower(text), '#', ''),
              '[aeiouy]+', '#', 'g') AS m
          FROM documents))
      SELECT doc_id, CAST(w AS INT) AS n_words,
        CAST(sn AS INT) AS n_sentences, CAST(sy AS INT) AS n_syllables,
        CASE WHEN w = 0 THEN NULL
          ELSE round(206.835 - 1.015 * (CAST(w AS DOUBLE) /
            CAST(sn AS DOUBLE)) - 84.6 * (CAST(sy AS DOUBLE) /
            CAST(w AS DOUBLE)), 4) END AS flesch
      FROM f ORDER BY doc_id"""),
    // q270: q263's pairs closed to duplicate groups by a recursive CTE
    // (min reachable id = the canonical group)
    Q("q270_image_dedup_groups", q270, Extra, s"""WITH RECURSIVE $dhashPairsCte,
      pj AS (SELECT id_a, id_b FROM ham WHERE hamming <= 3),
      sym AS (
        SELECT id_a AS s, id_b AS d FROM pj
        UNION ALL SELECT id_b, id_a FROM pj),
      reach(id, r) AS (
        SELECT DISTINCT s, s FROM sym
        UNION
        SELECT reach.id, sym.d FROM reach JOIN sym ON reach.r = sym.s)
      SELECT id AS asset_id, CAST(min(r) AS BIGINT) AS dup_group
      FROM reach GROUP BY id ORDER BY asset_id"""),
    // q271: both CMS chains are the same sketch (self inner product);
    // the dot per hash row, the min, and the exact sum-of-squares truth
    Q("q271_cms_join_size", q271, Extra, s"""
      WITH ${cmsCellsSql("lineitem", "CAST(l_partkey AS VARCHAR)")},
      dots AS (
        SELECT a.r, CAST(sum(a.cnt * b.cnt) AS BIGINT) AS dot
        FROM cms a JOIN cms b ON a.r = b.r AND a.c = b.c
        GROUP BY 1),
      e AS (SELECT CAST(min(dot) AS BIGINT) AS est FROM dots),
      x AS (
        SELECT CAST(sum(n * n) AS BIGINT) AS exact FROM (
          SELECT count(*) AS n FROM lineitem GROUP BY l_partkey))
      SELECT e.est AS est_join_size, x.exact AS exact_join_size,
        round(CAST(e.est AS DOUBLE) / CAST(x.exact AS DOUBLE), 4)
          AS overcount_ratio
      FROM e CROSS JOIN x"""),
    // q272: the streamed pair log must equal the batch pairs exactly —
    // q263's oracle verbatim
    Q("q272_image_neardup_stream", q272, Extra, s"""WITH $dhashPairsCte
      SELECT id_a, id_b, hamming FROM ham
      WHERE hamming <= 3 ORDER BY id_a, id_b"""),
    // q273: the same deterministic reservoir (pos, id tie) and the
    // same interpolated quantiles on both the sample and the corpus
    Q("q273_sample_quantiles", q273, Extra, s"""
      WITH li AS (
        SELECT CAST(l_orderkey AS VARCHAR) || '-' ||
          CAST(l_linenumber AS VARCHAR) AS id,
          CAST(l_extendedprice AS DOUBLE) AS v
        FROM lineitem),
      sm AS (
        SELECT v FROM (
          SELECT v, ${hashPosSql("'sample'", "id")} AS pos, id FROM li)
        ORDER BY pos, id LIMIT 1024),
      e AS (SELECT quantile_cont(v, [0.25, 0.5, 0.75, 0.9]) AS l FROM sm),
      x AS (SELECT quantile_cont(v, [0.25, 0.5, 0.75, 0.9]) AS l FROM li),
      i AS (SELECT unnest([1, 2, 3, 4]) AS i)
      SELECT CASE i.i WHEN 1 THEN 0.25 WHEN 2 THEN 0.5
        WHEN 3 THEN 0.75 ELSE 0.9 END AS p,
        round(e.l[i.i], 4) AS est_quantile,
        round(x.l[i.i], 4) AS exact_quantile,
        round(abs(e.l[i.i] - x.l[i.i]), 4) AS abs_err
      FROM i CROSS JOIN e CROSS JOIN x ORDER BY p"""),
    // q274: per-group min-k via a PARTITIONED rank over the deduped
    // (group, position) frame; q240's estimator per group; exact truth
    Q("q274_kmv_by_group", q274, Extra, s"""
      WITH pos AS (
        SELECT DISTINCT event_type AS grp,
          ${hashPosSql("'kmv'", "CAST(user_id AS VARCHAR)")} AS hv
        FROM events),
      rk AS (
        SELECT grp, hv,
          row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn
        FROM pos),
      m AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n_min,
          CAST(max(hv) AS BIGINT) AS kth_pos
        FROM rk WHERE rn <= 64 GROUP BY 1),
      est AS (
        SELECT grp, n_min, kth_pos,
          CASE WHEN n_min < 64 THEN CAST(n_min AS DOUBLE)
               WHEN kth_pos = 0 THEN NULL
               ELSE round(63.0 * 4294967296.0 / kth_pos, 4) END
            AS est_distinct
        FROM m),
      ex AS (
        SELECT event_type AS grp,
          CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
        FROM events GROUP BY 1)
      SELECT est.grp AS event_type, n_min, kth_pos, est_distinct,
        exact_distinct,
        round(est_distinct / CAST(exact_distinct AS DOUBLE), 4)
          AS est_ratio
      FROM est JOIN ex ON est.grp = ex.grp ORDER BY event_type"""),
    // q275: samples from the md5 PCM rule (q221's device), the planted
    // one-sample bump, sign-bit bands, and the same pigeonhole +
    // popcount pipeline; equal-frame-count constraint mirrors the
    // engine's null-padded zip_with drop
    Q("q275_audio_neardup", q275, Extra, """
      WITH base AS (
        SELECT doc_id, text, octet_length(encode(text)) AS bl
        FROM documents WHERE text IS NOT NULL),
      fr AS (
        SELECT doc_id, text, least(bl // 256 + 1, 4) AS nf FROM base),
      fj AS (
        SELECT doc_id, text, nf, unnest(generate_series(0, nf - 1)) AS j
        FROM fr),
      hx AS (
        SELECT doc_id, nf, j,
          md5(text || '|' || CAST(j AS VARCHAR)) AS h
        FROM fj),
      sm AS (
        SELECT doc_id, nf, j, r.i,
          ('0x' || substring(h, r.i * 4 + 1, 4))::BIGINT AS u
        FROM hx, range(0, 8) r(i)),
      sg0 AS (
        SELECT doc_id, nf, j, i,
          CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
        FROM sm),
      vsg AS (
        SELECT s0.doc_id + 4611686018427387904 AS doc_id, s0.nf, s0.j, s0.i,
          CASE WHEN s0.j = 0 AND s0.i = s0.doc_id % 8 THEN s0.s + 1
               ELSE s0.s END AS s
        FROM sg0 s0 WHERE s0.doc_id % 17 = 0),
      sg AS (
        SELECT doc_id, nf, j, i, s FROM sg0
        UNION ALL SELECT doc_id, nf, j, i, s FROM vsg),
      sb AS (
        SELECT a.doc_id, a.nf, a.j,
          CAST(sum(CASE WHEN b.s > a.s THEN
            (1::BIGINT << ((CASE b.i - a.i WHEN 1 THEN 0 WHEN 2 THEN 7
              WHEN 3 THEN 13 ELSE 18 END) + a.i))
            ELSE 0 END) AS BIGINT) AS band
        FROM sg a JOIN sg b
          ON a.doc_id = b.doc_id AND a.j = b.j
          AND b.i > a.i AND b.i - a.i <= 4
        GROUP BY 1, 2, 3),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sb a JOIN sb b
          ON a.j = b.j AND a.band = b.band AND a.nf = b.nf
          AND a.doc_id < b.doc_id
        WHERE a.nf >= 2),
      ham AS (
        SELECT c.id_a, c.id_b,
          CAST(sum(bit_count(xor(x.band, y.band))) AS INT) AS hamming
        FROM cand c
        JOIN sb x ON x.doc_id = c.id_a
        JOIN sb y ON y.doc_id = c.id_b AND y.j = x.j
        GROUP BY 1, 2)
      SELECT id_a, id_b, hamming FROM ham
      WHERE hamming <= 8 ORDER BY id_a, id_b"""),
    // q276: three Bradley-Terry rounds unrolled to the same score bits
    Q("q276_bradley_terry", q276, Extra, bradleyTerryOracle(3)),
    // q277: the Q21 shape — EXISTS/NOT EXISTS in the oracle, the
    // engine's semi/anti equi-joins must land on the same waiters
    Q("q277_waiting_orders", q277, Extra, """
      WITH lo AS (
        SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate,
          o.o_orderdate, o.o_orderstatus
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      late AS (
        SELECT l_orderkey, l_suppkey FROM lo
        WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY),
      l1 AS (
        SELECT l_orderkey, l_suppkey FROM lo
        WHERE o_orderstatus = 'F'
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY),
      w AS (
        SELECT * FROM l1
        WHERE EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
            SELECT 1 FROM late l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey))
      SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
      FROM w JOIN supplier s ON w.l_suppkey = s.s_suppkey
      GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 25"""),
    // q278: the Q2 correlated-min shape decorrelated — round-4 unit
    // price BEFORE the min so both engines compare identical bits
    Q("q278_min_cost_supplier", q278, Extra, """
      WITH lp AS (
        SELECT l.l_partkey, l.l_suppkey,
          round(CAST(l.l_extendedprice AS DOUBLE) /
            CAST(l.l_quantity AS DOUBLE), 4) AS uc
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_size <= 10 AND l.l_quantity > 0),
      m AS (SELECT l_partkey, min(uc) AS min_unit_cost FROM lp GROUP BY 1)
      SELECT lp.l_partkey AS p_partkey,
        CAST(min(lp.l_suppkey) AS BIGINT) AS best_suppkey,
        m.min_unit_cost
      FROM lp JOIN m ON lp.l_partkey = m.l_partkey
        AND lp.uc = m.min_unit_cost
      GROUP BY 1, 3 ORDER BY p_partkey"""),
    // q279: per-group weighted tied-rank AUC — windows partitioned by
    // the group on the oracle side, grouped banded device on the engine
    Q("q279_grouped_auc", q279, Extra, """
      WITH per AS (
        SELECT source AS grp, CAST(n_chars % 97 AS INT) AS s,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
            AS np
        FROM documents GROUP BY 1, 2),
      cum AS (
        SELECT grp, n, np,
          sum(n) OVER (PARTITION BY grp ORDER BY s) - n AS below
        FROM per),
      ag AS (
        SELECT grp, CAST(sum(np) AS BIGINT) AS n_pos,
          CAST(sum(n - np) AS BIGINT) AS n_neg,
          sum(CAST(np AS DECIMAL(38,0)) *
            (CAST(2 * below + n + 1 AS DECIMAL(38,1)) / 2)) AS sr
        FROM cum GROUP BY 1)
      SELECT grp AS source, n_pos, n_neg,
        CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
          ELSE round((CAST(sr AS DOUBLE) -
            CAST(n_pos * (n_pos + 1) AS DOUBLE) / 2.0) /
            CAST(n_pos * n_neg AS DOUBLE), 6) END AS auc
      FROM ag ORDER BY source"""),
    // q280: q267's replace chain folded per language — the fertility
    // readout from the same integer counts
    Q("q280_tokenizer_fertility", q280, Extra, {
      val sp =
        raw"'  ' || trim(regexp_replace(word, '(.)', ' \1 ', 'g')) || '  '"
      val chain = pinnedBpeMerges.foldLeft(sp) { case (acc, (l, r)) =>
        s"replace($acc, ' $l  $r ', ' $l$r ')"
      }
      s"""
      WITH words AS (
        SELECT lang, word FROM (
          SELECT lang,
            unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word
          FROM documents)
        WHERE word <> ''),
      enc AS (
        SELECT lang, len(word) AS wl,
          len(string_split(trim($chain), '  ')) AS nt
        FROM words),
      g AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
          CAST(sum(nt) AS BIGINT) AS n_tokens,
          CAST(sum(wl) AS BIGINT) AS n_chars
        FROM enc GROUP BY 1)
      SELECT lang, n_words, n_tokens,
        round(CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE), 4)
          AS fertility,
        round(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4)
          AS chars_per_token
      FROM g ORDER BY lang"""
    }),
    // q281: the fixed Luhn contracts replayed — separator collapse
    // inside digit groups, DISTINCT (doc, run) before the checksum
    Q("q281_luhn_formatted", q281, Extra, """
      WITH txt AS (
        SELECT o_orderkey,
          'pay 4111 1111 1111 1111 then 4111-1111-1111-1116 and ' ||
          'again 4111 1111 1111 1111 ref 4111-1111-1111-1116 order ' ||
          '45320151' ||
          lpad(CAST(o_orderkey % 100000000 AS VARCHAR), 8, '0') AS text
        FROM orders),
      runs AS (
        SELECT DISTINCT o_orderkey AS doc_id, run FROM (
          SELECT o_orderkey,
            unnest(string_split_regex(
              regexp_replace(text, '([0-9])[ -]([0-9])', '\1\2', 'g'),
              '[^0-9]+')) AS run
          FROM txt)
        WHERE len(run) BETWEEN 13 AND 19),
      pos AS (
        SELECT doc_id, run,
          unnest(generate_series(0, len(run) - 1)) AS i
        FROM runs),
      d AS (
        SELECT doc_id, run, i,
          CAST(substring(reverse(run), i + 1, 1) AS INT) AS dg
        FROM pos),
      s AS (
        SELECT doc_id, run,
          sum(CASE WHEN i % 2 = 0 THEN dg
              ELSE 2 * dg - CASE WHEN dg > 4 THEN 9 ELSE 0 END END) AS tot
        FROM d GROUP BY 1, 2)
      SELECT (tot % 10 = 0) AS luhn_ok, CAST(count(*) AS BIGINT) AS n,
        min(run) AS first_run, max(run) AS last_run
      FROM s GROUP BY 1 ORDER BY luhn_ok"""),
    // q282: 256 unrolled full-recount rounds vs the engine's
    // incremental pair-delta trainer — any drifted delta fails the hash
    Q("q282_bpe_deep", q282, Unbenched, bpeMergesOracle(256, """
          SELECT substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8) AS word,
            CAST(count(*) AS BIGINT) AS cnt
          FROM orders GROUP BY 1""")),
    // q283: the trained-encode law — w96 read directly (see
    // bpeEncodeTrainedOracle); gates the native rank-loop encoder
    Q("q283_bpe_encode_trained", q283, Unbenched, bpeEncodeTrainedOracle(96, """
          SELECT substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8) AS word,
            CAST(count(*) AS BIGINT) AS cnt
          FROM orders GROUP BY 1""")),
    // q284: channel sums recomputed from the closed-form pixel rule —
    // equality proves the AVI container round trip is pixel-exact
    Q("q284_avi_roundtrip", q284, Extra, """
      WITH ids AS (
        SELECT CAST(doc_id AS BIGINT) AS id FROM documents
        WHERE doc_id < 200),
      fr AS (
        SELECT id, f FROM ids, (SELECT unnest(range(6)) AS f)
        WHERE f < 2 + id % 5 AND f % 2 = 0),
      px AS (
        SELECT id, f, x, y FROM fr,
          (SELECT unnest(range(10)) AS x), (SELECT unnest(range(6)) AS y)),
      s AS (
        SELECT id, f,
          CAST(sum((id * 7 + f * 13 + y * 10 + x) % 256) AS BIGINT) AS sum_r,
          CAST(sum((id * 11 + f * 17 + x * 3 + y * 5) % 256) AS BIGINT)
            AS sum_g,
          CAST(sum((id * 13 + f * 19 + x * 7 + y * 11) % 256) AS BIGINT)
            AS sum_b
        FROM px GROUP BY 1, 2)
      SELECT id AS asset_id, CAST(f AS INT) AS frame_idx,
        10 AS width, 6 AS height, sum_r, sum_g, sum_b
      FROM s ORDER BY asset_id, frame_idx"""),
    // q285: the tiled generator must land on q155's oracle verbatim —
    // identical cells, identical DECIMAL sums, different fan-out shape
    Q("q285_gram_tiled", q285, Extra, """
      WITH comp AS (
        SELECT label, vec_id,
          unnest(CAST(embedding AS DOUBLE[])) AS x,
          generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS idx
        FROM embeddings),
      pairs AS (
        SELECT a.label, a.idx - 1 AS i, b.idx - 1 AS j,
          CAST(a.x * b.x AS DECIMAL(28,18)) AS p
        FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.idx <= b.idx)
      SELECT label, CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
        CAST(count(*) AS BIGINT) AS n_terms,
        round(CAST(sum(p) AS DOUBLE), 6) + 0.0 AS s
      FROM pairs GROUP BY 1, 2, 3 ORDER BY label, i, j"""),
    // q286: q276's unrolled fit over the 20k-item md5 duel log
    Q("q286_bradley_terry_scale", q286, Extra,
      bradleyTerryOracle(2, q286PairsSql)),
    Q("q287_pq_quant_error", q287, Extra, s"""
      WITH ${pqTrainCtes(8, 8)},
      err AS (
        SELECT su.sub, ${pqL2Sql("su.subvec", "b.cvec", 8)} AS d2
        FROM subs su
        JOIN pqcodes c ON c.item_id = su.item_id AND c.sub = su.sub
        JOIN books1 b ON b.sub = c.sub AND b.cell = c.cell)
      SELECT sub, CAST(count(*) AS BIGINT) AS n_vectors,
        round(CAST(sum(d2) AS DOUBLE) / count(*), 6) AS mean_sq_err,
        round(CAST(max(d2) AS DOUBLE), 6) AS max_sq_err
      FROM err GROUP BY sub ORDER BY sub"""),
    // q288: Q20's correlated shipped-sum as a conditional aggregate
    // over the pair enumeration; EXISTS legs as the semi chain
    Q("q288_excess_stock", q288, Extra, """
      WITH pairs AS (
        SELECT l_partkey, l_suppkey,
          sum(CAST(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1997-01-01'
            THEN l_quantity ELSE 0 END AS DECIMAL(18,2))) AS sq
        FROM lineitem GROUP BY 1, 2),
      excess AS (
        SELECT l_partkey, l_suppkey FROM pairs
        WHERE sq > 0 AND
          CAST((l_partkey * 7 + l_suppkey * 13) % 100 + 50 AS DOUBLE) >
            0.5 * CAST(sq AS DOUBLE)),
      ep AS (
        SELECT DISTINCT e.l_suppkey FROM excess e
        WHERE EXISTS (SELECT 1 FROM part p
          WHERE p.p_partkey = e.l_partkey AND p.p_name LIKE 'large%'))
      SELECT s_suppkey, s_name FROM supplier
      WHERE EXISTS (SELECT 1 FROM nation
          WHERE n_nationkey = s_nationkey AND n_name IN ('NATION_1',
            'NATION_3', 'NATION_7', 'NATION_12', 'NATION_18'))
        AND EXISTS (SELECT 1 FROM ep WHERE ep.l_suppkey = s_suppkey)
      ORDER BY s_suppkey"""),
    // q289: train FROM the streamed word-count fold; the oracle trains
    // from the whole corpus — exact-statistic equality across 3 seams
    Q("q289_bpe_stream_wordcounts", q289, Extra, bpeMergesOracle(8)),
    Q("q290_pq_codebooks", q290, Extra, s"""
      WITH ${pqTrainCtes(8, 8)},
      norms AS (
        SELECT sub, cell,
          sqrt(CAST(sum(CAST(avg_val*avg_val AS DECIMAL(27,12))) AS DOUBLE))
            AS centroid_norm
        FROM perdim GROUP BY sub, cell),
      members AS (
        SELECT sub, cell, count(*) AS n_members FROM pqcodes GROUP BY sub, cell)
      SELECT n.sub, n.cell, coalesce(m.n_members, 0) AS n_members,
        round(n.centroid_norm, 6) AS centroid_norm
      FROM norms n LEFT JOIN members m ON n.sub = m.sub AND n.cell = m.cell
      ORDER BY n.sub, n.cell"""),
    Q("q291_pq_adc_ann", q291, Extra, s"""
      WITH ${pqTrainCtes(8, 8)},
      q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id = 7),
      qsubs AS (
        SELECT q.query_id, s.sub, (q.qv)[s.sub*8+1 : s.sub*8+8] AS qs
        FROM q CROSS JOIN subsrange s),
      dt AS (
        SELECT qs.query_id, qs.sub, b.cell,
          ${pqL2Sql("qs.qs", "b.cvec", 8)} AS dtv
        FROM qsubs qs JOIN books1 b ON qs.sub = b.sub),
      short AS (
        SELECT c.item_id, sum(d.dtv) AS approx
        FROM pqcodes c JOIN dt d ON c.sub = d.sub AND c.cell = d.cell
        WHERE c.item_id <> d.query_id
        GROUP BY c.item_id
        ORDER BY approx, c.item_id LIMIT 10),
      ex AS (
        SELECT s.item_id, s.approx,
          list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS cos
        FROM short s JOIN embeddings e ON e.vec_id = s.item_id CROSS JOIN q)
      SELECT CAST(row_number() OVER w AS BIGINT) AS rank, item_id,
        round(CAST(approx AS DOUBLE), 6) AS approx_d2,
        round(cos, 4) AS cosine
      FROM ex WINDOW w AS (ORDER BY round(cos, 6) DESC, item_id)
      ORDER BY rank"""),
    Q("q292_bigram_lm", q292, Extra, raw"""
      WITH arrs AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      toks AS MATERIALIZED (
        SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS w
        FROM arrs),
      big AS MATERIALIZED (
        SELECT a.doc_id, a.w AS w1, b.w AS w2
        FROM toks a JOIN toks b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
      c2 AS MATERIALIZED (
        SELECT w1, w2, count(*) AS c2 FROM big GROUP BY 1, 2),
      c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY 1),
      v AS (SELECT count(DISTINCT w) AS V FROM toks),
      j AS (
        SELECT g.doc_id,
          round(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + v.V AS DOUBLE), 9)
            AS p
        FROM big g JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        round(CAST(sum(CAST(p AS DECIMAL(28,12))) AS DOUBLE)
          / CAST(count(*) AS DOUBLE), 6) AS mean_p,
        round(min(p), 6) AS min_p
      FROM j GROUP BY doc_id ORDER BY doc_id"""),
    Q("q293_html_extract", q293, Extra, s"""
      WITH $htmlExtractCtes
      SELECT doc_id, CAST(len(vis) AS INTEGER) AS n_lines,
        CAST(len(kept) AS INTEGER) AS n_kept,
        array_to_string(kept, ' ') AS main_text
      FROM hkept ORDER BY doc_id"""),
    Q("q294_ivfpq_ann", q294, Extra, s"""
      WITH cseeds AS MATERIALIZED (
        SELECT label AS ccell, CAST(embedding AS DOUBLE[]) AS ccv
        FROM embeddings
        QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) = 1),
      cassign AS MATERIALIZED (
        SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.ccell, c.ccv
        FROM embeddings e CROSS JOIN cseeds c
        QUALIFY row_number() OVER (PARTITION BY e.vec_id
          ORDER BY round(list_cosine_similarity(
            CAST(e.embedding AS DOUBLE[]), c.ccv), 6) DESC, c.ccell) = 1),
      resid AS MATERIALIZED (
        SELECT vec_id,
          [v[i] - ccv[i] FOR i IN generate_series(1, 64)] AS embedding,
          ccell AS label
        FROM cassign),
      ${pqTrainCtes(8, 8, "resid")},
      q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id = 7),
      probes AS MATERIALIZED (
        SELECT q.query_id, c.ccell,
          [q.qv[i] - c.ccv[i] FOR i IN generate_series(1, 64)] AS qres
        FROM q CROSS JOIN cseeds c
        QUALIFY row_number() OVER (PARTITION BY q.query_id
          ORDER BY round(list_cosine_similarity(q.qv, c.ccv), 6) DESC,
            c.ccell) <= 2),
      qsubs AS (
        SELECT p.query_id, p.ccell, s.sub,
          (p.qres)[s.sub*8+1 : s.sub*8+8] AS qs
        FROM probes p CROSS JOIN subsrange s),
      dt AS MATERIALIZED (
        SELECT qs.query_id, qs.ccell, qs.sub, b.cell,
          ${pqL2Sql("qs.qs", "b.cvec", 8)} AS dtv
        FROM qsubs qs JOIN books1 b ON qs.sub = b.sub),
      shortl AS (
        SELECT c.item_id, sum(d.dtv) AS approx
        FROM pqcodes c
        JOIN cassign a ON a.vec_id = c.item_id
        JOIN dt d ON d.ccell = a.ccell AND d.sub = c.sub AND d.cell = c.cell
        WHERE c.item_id <> d.query_id
        GROUP BY c.item_id
        ORDER BY approx, c.item_id LIMIT 10),
      ex AS (
        SELECT s.item_id, s.approx,
          list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS cos
        FROM shortl s JOIN embeddings e ON e.vec_id = s.item_id CROSS JOIN q)
      SELECT CAST(row_number() OVER w AS BIGINT) AS rank, item_id,
        round(CAST(approx AS DOUBLE), 6) AS approx_d2,
        round(cos, 4) AS cosine
      FROM ex WINDOW w AS (ORDER BY round(cos, 6) DESC, item_id)
      ORDER BY rank"""),
    Q("q295_pq_code_stream", q295, Extra, s"""
      WITH ${pqTrainCtes(8, 8)}
      SELECT item_id, sub, cell FROM pqcodes ORDER BY item_id, sub"""),
    Q("q296_prefix_dim_recall", q296, Extra, """
      WITH fullk AS (
        SELECT q.vec_id AS query_id, c.vec_id AS item_id
        FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
        WHERE q.vec_id < 10
        QUALIFY row_number() OVER (PARTITION BY q.vec_id
          ORDER BY round(list_cosine_similarity(
            CAST(q.embedding AS DOUBLE[]),
            CAST(c.embedding AS DOUBLE[])), 6) DESC, c.vec_id) <= 5),
      prek AS (
        SELECT q.vec_id AS query_id, c.vec_id AS item_id
        FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
        WHERE q.vec_id < 10
        QUALIFY row_number() OVER (PARTITION BY q.vec_id
          ORDER BY round(list_cosine_similarity(
            (CAST(q.embedding AS DOUBLE[]))[1:16],
            (CAST(c.embedding AS DOUBLE[]))[1:16]), 6) DESC,
            c.vec_id) <= 5),
      common AS (
        SELECT f.query_id, count(*) AS n_common
        FROM fullk f JOIN prek p
          ON f.query_id = p.query_id AND f.item_id = p.item_id
        GROUP BY 1)
      SELECT q.vec_id AS query_id, coalesce(c.n_common, 0) AS n_common
      FROM embeddings q LEFT JOIN common c ON c.query_id = q.vec_id
      WHERE q.vec_id < 10 ORDER BY query_id"""),
    Q("q297_sdc_closest_pairs", q297, Extra, s"""
      WITH ${pqTrainCtes(8, 8)},
      cseeds AS (
        SELECT label AS ccell, CAST(embedding AS DOUBLE[]) AS ccv
        FROM embeddings
        QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) = 1),
      cassign AS MATERIALIZED (
        SELECT e.vec_id, c.ccell
        FROM embeddings e CROSS JOIN cseeds c
        QUALIFY row_number() OVER (PARTITION BY e.vec_id
          ORDER BY round(list_cosine_similarity(
            CAST(e.embedding AS DOUBLE[]), c.ccv), 6) DESC, c.ccell) = 1),
      sdc AS MATERIALIZED (
        SELECT a.sub, a.cell AS cell_a, b.cell AS cell_b,
          ${pqL2Sql("a.cvec", "b.cvec", 8)} AS d2
        FROM books1 a JOIN books1 b ON a.sub = b.sub),
      prs AS (
        SELECT x.vec_id AS id_a, y.vec_id AS id_b
        FROM cassign x JOIN cassign y
          ON x.ccell = y.ccell AND x.vec_id < y.vec_id),
      scored AS (
        SELECT p.id_a, p.id_b, sum(s.d2) AS approx
        FROM prs p
        JOIN pqcodes ca ON ca.item_id = p.id_a
        JOIN pqcodes cb ON cb.item_id = p.id_b AND cb.sub = ca.sub
        JOIN sdc s ON s.sub = ca.sub AND s.cell_a = ca.cell
          AND s.cell_b = cb.cell
        GROUP BY p.id_a, p.id_b
        ORDER BY approx, id_a, id_b LIMIT 20)
      SELECT id_a, id_b, round(CAST(approx AS DOUBLE), 6) AS approx_d2
      FROM scored ORDER BY approx, id_a, id_b"""),
    Q("q298_jsonl_roundtrip", q298, Extra, """
      SELECT doc_id, text, lang, source, n_chars
      FROM documents ORDER BY doc_id"""),
    Q("q299_mixed_language", q299, Extra, raw"""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      ch AS (
        SELECT doc_id, t[s:s+31] AS ck
        FROM (SELECT doc_id, t,
          unnest(generate_series(1, len(t), 32)) AS s FROM toks)),
      sc AS (
        SELECT doc_id,
          len(list_filter(ck, x -> x IN ('the','a','of','and','to'))) AS s_en,
          len(list_filter(ck, x -> x IN ('el','la','de','que','y'))) AS s_es,
          len(list_filter(ck, x -> x IN ('le','la','de','et','un'))) AS s_fr,
          len(list_filter(ck, x -> x IN ('der','die','und','das','ein'))) AS s_de,
          len(list_filter(ck, x -> x IN ('的','了','是','我','不'))) AS s_zh
        FROM ch),
      pred AS (
        SELECT doc_id, CASE
          WHEN s_en = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_en > 0 THEN 'en'
          WHEN s_es = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_es > 0 THEN 'es'
          WHEN s_fr = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_fr > 0 THEN 'fr'
          WHEN s_de = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_de > 0 THEN 'de'
          WHEN s_zh = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_zh > 0 THEN 'zh'
          ELSE 'und' END AS clang
        FROM sc),
      agg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
          CAST(count(DISTINCT clang) AS BIGINT) AS n_langs
        FROM pred GROUP BY 1),
      maj AS (
        SELECT doc_id, clang AS majority_lang FROM (
          SELECT doc_id, clang, count(*) AS c FROM pred GROUP BY 1, 2)
        QUALIFY row_number() OVER (PARTITION BY doc_id
          ORDER BY c DESC, clang) = 1)
      SELECT a.doc_id, a.n_chunks, a.n_langs, m.majority_lang,
        a.n_langs > 1 AS mixed
      FROM agg a JOIN maj m ON a.doc_id = m.doc_id
      ORDER BY a.doc_id"""),
    Q("q300_curation_funnel_e2e", q300, Extra, s"""
      WITH $htmlExtractCtes,
      extj AS (
        SELECT k.doc_id, d.source,
          array_to_string(k.kept, ' ') AS main_text
        FROM hkept k JOIN documents d ON k.doc_id = d.doc_id),
      feats AS (
        SELECT doc_id, source, main_text,
          CAST(len(tk) AS DOUBLE) AS nt,
          CAST(len(list_distinct(tk)) AS DOUBLE) AS nd,
          CAST(len(main_text) AS DOUBLE) AS chars,
          CAST(len(regexp_replace(main_text, '[^a-zA-Z]', '', 'g'))
            AS DOUBLE) AS alpha
        FROM (SELECT doc_id, source, main_text,
          regexp_split_to_array(trim(lower(main_text)), '\\s+') AS tk
          FROM extj)),
      st AS (
        SELECT doc_id, source, main_text,
          main_text <> '' AS extracted,
          main_text <> '' AND round(least(greatest(
            0.4 * least(nt / 50.0, 1.0) +
            0.3 * coalesce(nd / nullif(nt, 0.0), 0.0) +
            0.3 * coalesce(alpha / nullif(chars, 0.0), 0.0),
            0.0), 1.0), 4) >= 0.5 AS quality
        FROM feats),
      kp AS (
        SELECT doc_id,
          row_number() OVER (PARTITION BY md5(main_text)
            ORDER BY doc_id) = 1 AS kept
        FROM st WHERE quality)
      SELECT s.source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN s.extracted THEN 1 ELSE 0 END) AS BIGINT)
          AS n_extracted,
        CAST(sum(CASE WHEN s.quality THEN 1 ELSE 0 END) AS BIGINT)
          AS n_quality,
        CAST(sum(CASE WHEN coalesce(k.kept, false) THEN 1 ELSE 0 END)
          AS BIGINT) AS n_kept,
        round(CAST(sum(CASE WHEN coalesce(k.kept, false) THEN 1 ELSE 0 END)
            AS DOUBLE) / count(*), 4) AS keep_rate
      FROM st s LEFT JOIN kp k ON s.doc_id = k.doc_id
      GROUP BY s.source ORDER BY s.source"""),
    Q("q301_nb_model", q301, Extra, nbModelSql),
    Q("q302_nb_predict", q302, Extra, nbPredictSql),
    Q("q303_nb_confusion", q303, Extra, s"""
      WITH $nbModelCtes,
      nbj AS (
        SELECT p.doc_id, p.pred_class, d.lang AS true_lang
        FROM nbpred p JOIN documents d ON p.doc_id = d.doc_id),
      nbcells AS (
        SELECT true_lang, pred_class, CAST(count(*) AS BIGINT) AS n
        FROM nbj GROUP BY 1, 2),
      nbtot AS (
        SELECT true_lang, count(*) AS tot FROM nbj GROUP BY 1)
      SELECT c.true_lang, c.pred_class, c.n,
        round(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS frac
      FROM nbcells c JOIN nbtot t ON c.true_lang = t.true_lang
      ORDER BY c.true_lang, c.pred_class"""),
    Q("q304_platt_fit", q304, Extra, s"""
      WITH $plattCtes
      SELECT 0 AS ord, 'bias' AS feature, a0 AS weight FROM cw12
      UNION ALL SELECT 1, 'score', a1 FROM cw12
      ORDER BY ord"""),
    Q("q305_platt_calibration", q305, Extra, plattCalibrationSql),
    Q("q306_url_canonical_dedup", q306, Extra, s"""
      WITH $urlFixtureCtes
      SELECT curl AS canonical_url, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
        min(doc_id) AS keeper
      FROM ucanon GROUP BY 1 ORDER BY 1"""),
    Q("q307_domain_stats", q307, Extra, s"""
      WITH $urlFixtureCtes,
      qf AS (
        SELECT u.doc_id, u.domain, u.host,
          round(least(greatest(
            0.4 * least(nt / 50.0, 1.0) +
            0.3 * coalesce(nd / nullif(nt, 0.0), 0.0) +
            0.3 * coalesce(alpha / nullif(chars, 0.0), 0.0), 0.0), 1.0), 6)
            AS q
        FROM (
          SELECT doc_id, domain, host,
            CAST(len(tk) AS DOUBLE) AS nt,
            CAST(len(list_distinct(tk)) AS DOUBLE) AS nd,
            CAST(len(text) AS DOUBLE) AS chars,
            CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
              AS DOUBLE) AS alpha
          FROM (SELECT doc_id, domain, host, text,
            regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
            FROM ucanon)) u)
      SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
        round(CAST(sum(CAST(q AS DECIMAL(28,12))) AS DOUBLE) /
          CAST(count(*) AS DOUBLE), 6) AS mean_quality
      FROM qf GROUP BY 1 ORDER BY 1"""),
    Q("q308_blocklist_funnel", q308, Extra, s"""
      WITH $urlFixtureCtes,
      bf AS (
        SELECT source,
          domain = 'blogspot.com' AS dom_b,
          (NOT domain = 'blogspot.com') AND path LIKE '/ads/%' AS path_b
        FROM ucanon)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN dom_b THEN 1 ELSE 0 END) AS BIGINT)
          AS n_domain_blocked,
        CAST(sum(CASE WHEN path_b THEN 1 ELSE 0 END) AS BIGINT)
          AS n_path_blocked,
        CAST(sum(CASE WHEN NOT dom_b AND NOT path_b THEN 1 ELSE 0 END)
          AS BIGINT) AS n_kept,
        round(CAST(sum(CASE WHEN NOT dom_b AND NOT path_b THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS keep_rate
      FROM bf GROUP BY 1 ORDER BY 1"""),
    Q("q309_k_anonymity", q309, Extra, """
      WITH g AS (
        SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS sz
        FROM customer GROUP BY 1, 2)
      SELECT sz AS group_size, CAST(count(*) AS BIGINT) AS n_groups,
        CAST(sum(sz) AS BIGINT) AS n_rows, sz < 5 AS at_risk
      FROM g GROUP BY sz ORDER BY sz"""),
    Q("q310_l_diversity", q310, Extra, """
      WITH g AS (
        SELECT c_nationkey, c_mktsegment,
          CAST(count(DISTINCT floor(c_acctbal / 1000.0)) AS BIGINT) AS l,
          CAST(count(*) AS BIGINT) AS sz
        FROM customer GROUP BY 1, 2)
      SELECT l AS l_distinct, CAST(count(*) AS BIGINT) AS n_groups,
        CAST(sum(sz) AS BIGINT) AS n_rows, l < 2 AS at_risk
      FROM g GROUP BY l ORDER BY l"""),
    Q("q311_cv_probe_sweep", q311, Extra, cvSweepSql),
    // q312 streams the identical stateless scoring one file per
    // trigger — the landed frame must equal the batch result verbatim
    Q("q312_nb_score_stream", q312, Extra, nbPredictSql),
    // q313 folds the same counts batch-by-batch and trains from state —
    // the result must equal the batch model verbatim
    Q("q313_nb_state_stream", q313, Extra, nbModelSql),
    // q314: the synthesized coordinates, the equirectangular metric and
    // the argmin are all replayed from the same md5 draws and IEEE
    // arithmetic; ties resolved (min d2, then min cid) on both sides
    Q("q314_geo_nearest", q314, Extra, s"""
      WITH $geoCtes,
      mn AS (SELECT pid, min(d2) AS d2 FROM pr GROUP BY 1),
      best AS (
        SELECT pr.pid, pr.d2, min(pr.cid) AS cid
        FROM pr JOIN mn ON pr.pid = mn.pid AND pr.d2 = mn.d2
        GROUP BY pr.pid, pr.d2)
      SELECT c.n_name, CAST(count(*) AS BIGINT) AS n_pts,
        round(CAST(sum(CAST(round(sqrt(best.d2), 9) AS DECIMAL(28,12)))
            AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_km,
        round(min(sqrt(best.d2)), 6) AS min_km,
        round(max(sqrt(best.d2)), 6) AS max_km
      FROM best JOIN cc c ON best.cid = c.cid
      GROUP BY 1 ORDER BY 1"""),
    // q315: the oracle computes the UNBLOCKED global argmin filtered to
    // the radius — the gate proves the 3x3 grid join loses nothing
    Q("q315_geo_radius_grid", q315, Extra, s"""
      WITH $geoCtes,
      flt AS (SELECT * FROM pr WHERE d2 <= 250000.0),
      mn AS (SELECT pid, min(d2) AS d2 FROM flt GROUP BY 1),
      best AS (
        SELECT f.pid, f.d2, min(f.cid) AS cid
        FROM flt f JOIN mn ON f.pid = mn.pid AND f.d2 = mn.d2
        GROUP BY f.pid, f.d2),
      j AS (
        SELECT p.pid, b.cid, b.d2 FROM p LEFT JOIN best b ON p.pid = b.pid)
      SELECT coalesce(c.n_name, '(none)') AS n_name,
        CAST(count(*) AS BIGINT) AS n_pts,
        round(CAST(sum(CAST(round(sqrt(j.d2), 9) AS DECIMAL(28,12)))
            AS DOUBLE) / CAST(count(j.d2) AS DOUBLE), 6) AS mean_km
      FROM j LEFT JOIN cc c ON j.cid = c.cid
      GROUP BY 1 ORDER BY 1"""),
    // q316: q223's unigram-LM CTEs at source grain, then the DoReMi-lite
    // weight math unrolled — the (1 + eta*x)^2 no-libm surrogate, decimal
    // normalization, 6-dp weights
    Q("q316_doremi_mix", q316, Extra, raw"""
      WITH toks AS (
        SELECT doc_id,
          unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        FROM documents),
      freq AS (SELECT token, count(*) AS f FROM toks GROUP BY 1),
      tot AS (SELECT count(*) AS N FROM toks),
      j AS (
        SELECT t.doc_id, f.f, tot.N
        FROM toks t JOIN freq f ON t.token = f.token CROSS JOIN tot),
      perdoc AS (
        SELECT doc_id,
          round(CAST(sum(CAST(round(CAST(f AS DOUBLE) / CAST(N AS DOUBLE), 9)
              AS DECIMAL(28,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
            AS mean_prob
        FROM j GROUP BY doc_id),
      lossc AS (
        SELECT d.source AS domain,
          round(1.0 - CAST(sum(CAST(p.mean_prob AS DECIMAL(28,12)))
              AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS loss
        FROM perdoc p JOIN documents d ON p.doc_id = d.doc_id GROUP BY 1),
      ref AS (
        SELECT CAST(sum(CAST(round(loss, 9) AS DECIMAL(28,12))) AS DOUBLE) /
            CAST(count(*) AS DOUBLE) AS refv,
          CAST(count(*) AS BIGINT) AS k
        FROM lossc),
      ex AS (
        SELECT l.domain, l.loss,
          greatest(0.0, round(l.loss - r.refv, 9)) AS excess, r.k
        FROM lossc l CROSS JOIN ref r),
      rw AS (
        SELECT domain, loss, excess, k,
          round((1.0 + 10.0 * excess) * (1.0 + 10.0 * excess), 9) AS rawv
        FROM ex),
      tt AS (
        SELECT CAST(sum(CAST(rawv AS DECIMAL(28,12))) AS DOUBLE) AS tot
        FROM rw)
      SELECT rw.domain, round(rw.loss, 6) AS loss,
        round(rw.excess, 6) AS excess,
        round(0.9 * (rw.rawv / tt.tot) + 0.1 / CAST(rw.k AS DOUBLE), 6)
          AS weight,
        CAST(round(round(0.9 * (rw.rawv / tt.tot) +
          0.1 / CAST(rw.k AS DOUBLE), 6) * 1000000.0, 0) AS BIGINT)
          AS tokens_alloc
      FROM rw CROSS JOIN tt ORDER BY domain"""),
    // q317: Q18 written the classic way (HAVING subquery + re-join);
    // the engine's single-scan plan must land on the identical rows
    Q("q317_q18_big_orders", q317, Extra, """
      WITH oq AS (
        SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        FROM lineitem GROUP BY 1
        HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 240)
      SELECT c.c_name, c.c_custkey, o.o_orderkey,
        strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
        o.o_totalprice, CAST(oq.qty AS DOUBLE) AS total_qty
      FROM oq JOIN orders o ON oq.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      ORDER BY o.o_totalprice DESC, o_orderdate, o.o_orderkey
      LIMIT 100"""),
    // q318: Q22 written the classic way (scalar subquery + NOT EXISTS);
    // the engine decorrelates into a broadcast scalar + anti join
    Q("q318_q22_idle_customers", q318, Extra, """
      WITH sel AS (
        SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        WHERE c_nationkey IN (1, 3, 7, 12, 18)),
      av AS (
        SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) /
          CAST(count(*) AS DOUBLE) AS a
        FROM sel WHERE c_acctbal > 0.0),
      f AS (
        SELECT s.c_nationkey, s.c_acctbal FROM sel s CROSS JOIN av
        WHERE s.c_acctbal > av.a
          AND NOT EXISTS (
            SELECT 1 FROM orders o WHERE o.o_custkey = s.c_custkey
              AND o.o_orderdate >= TIMESTAMP '2001-01-01'))
      SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
        round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE), 2)
          + 0.0 AS totacctbal
      FROM f GROUP BY 1 ORDER BY 1"""),
    // q319: the planting rule, the replace-and-measure occurrence
    // counts, and the flag rule all replayed verbatim
    Q("q319_encoding_audit", q319, Extra, {
      val moji = graft.ops.TextAnalysis.MojibakePatterns
      val occ = (p: String) =>
        s"CAST((len(text) - len(replace(text, '$p', ''))) / ${p.length} AS BIGINT)"
      s"""
      WITH planted AS (
        SELECT doc_id, source,
          text ||
            (CASE WHEN doc_id % 7 = 0 THEN ' donâ€™t cafÃ© niÃ±o'
              ELSE '' END) ||
            (CASE WHEN doc_id % 11 = 0 THEN ' bad�byte' ELSE '' END)
            AS text
        FROM documents),
      audit AS (
        SELECT doc_id, source, len(text) AS n_chars,
          ${occ("�")} AS n_repl,
          ${moji.map(occ).mkString("(", " + ", ")")} AS n_moji
        FROM planted),
      fl AS (
        SELECT source, n_repl, n_moji,
          n_repl > 0 OR (CASE WHEN n_chars > 0
            THEN round(CAST(n_repl + n_moji AS DOUBLE) /
              CAST(n_chars AS DOUBLE), 6) ELSE 0.0 END) > 0.001 AS flagged
        FROM audit)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
          AS n_flagged,
        CAST(sum(n_repl) AS BIGINT) AS tot_repl,
        CAST(sum(n_moji) AS BIGINT) AS tot_moji
      FROM fl GROUP BY 1 ORDER BY 1"""
    }),
    // q320: the automaton's per-keyword counts replayed keyword-by-
    // keyword as RE2 non-overlapping regex counts (the documented
    // contract), then the same integer folds
    Q("q320_keyword_risk", q320, Extra, {
      val occ = kwList.map(k =>
        s"CAST(len(regexp_extract_all(lower(text), '${k}')) AS BIGINT)")
      val hits = occ.mkString("(", " + ", ")")
      val score = kwWeights.zip(occ)
        .map { case (w, o) => s"$w * $o" }.mkString("(", " + ", ")")
      s"""
      WITH sc AS (
        SELECT source, $hits AS hits, $score AS score
        FROM documents)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_risky,
        CAST(sum(hits) AS BIGINT) AS tot_hits,
        CAST(sum(score) AS BIGINT) AS tot_score
      FROM sc GROUP BY 1 ORDER BY 1"""
    }),
    // q321: every edge's crossing test replayed from the SAME
    // interpolated vertex constants; first-match CASE order as the
    // engine's fold
    Q("q321_geo_zone_tag", q321, Extra, {
      val cases = geoZones.map { case (n, poly) =>
        s"WHEN ${pipSql(poly)} THEN '$n'"
      }.mkString("\n          ")
      s"""
      WITH $geoCtes,
      z AS (
        SELECT p.pid, p.plat, p.plon,
          CASE $cases ELSE '(none)' END AS zone
        FROM p)
      SELECT zone, CAST(count(*) AS BIGINT) AS n_pts,
        round(CAST(sum(CAST(round(plat, 9) AS DECIMAL(28,12))) AS DOUBLE) /
          CAST(count(*) AS DOUBLE), 6) AS mean_lat,
        round(CAST(sum(CAST(round(plon, 9) AS DECIMAL(28,12))) AS DOUBLE) /
          CAST(count(*) AS DOUBLE), 6) AS mean_lon
      FROM z GROUP BY 1 ORDER BY 1"""
    }),
    // q322: the NB training chain (nbChainCtes — q301's oracle logic
    // verbatim, instantiated on the planted-label fixture) stitched
    // into the q300 funnel CTEs; the heuristic flag replays q300's
    // quality arithmetic on the planted text
    Q("q322_model_curation_funnel", q322, Extra, {
      val plant = s"' ${q322PlantTail.trim}'"
      raw"""
      WITH fplant AS (
        SELECT doc_id, source,
          text || (CASE WHEN doc_id % 5 = 0 THEN $plant ELSE '' END)
            AS text,
          CASE WHEN doc_id % 5 = 0 THEN 'low' ELSE 'high' END AS class
        FROM documents),
      ftrain AS (
        SELECT doc_id, class, text FROM fplant WHERE doc_id % 2 = 0),
      fscore_in AS (SELECT doc_id, text FROM fplant),
      ${nbChainCtes("f", "ftrain", "fscore_in")},
      ffeats AS (
        SELECT doc_id,
          CAST(len(tk) AS DOUBLE) AS nt,
          CAST(len(list_distinct(tk)) AS DOUBLE) AS nd,
          CAST(len(text) AS DOUBLE) AS chars,
          CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
            AS DOUBLE) AS alpha
        FROM (SELECT doc_id, text,
          regexp_split_to_array(trim(lower(text)), '\s+') AS tk
          FROM fplant)),
      fheur AS (
        SELECT doc_id,
          round(least(greatest(
            0.4 * least(nt / 50.0, 1.0) +
            0.3 * coalesce(nd / nullif(nt, 0.0), 0.0) +
            0.3 * coalesce(alpha / nullif(chars, 0.0), 0.0),
            0.0), 1.0), 4) >= 0.5 AS heur_keep
        FROM ffeats),
      fst AS (
        SELECT p.doc_id, p.source, p.text,
          r.pred_class = 'high' AS model_keep, h.heur_keep
        FROM fplant p JOIN fpred r ON p.doc_id = r.doc_id
        JOIN fheur h ON p.doc_id = h.doc_id),
      fkp AS (
        SELECT doc_id,
          row_number() OVER (PARTITION BY md5(text)
            ORDER BY doc_id) = 1 AS kept
        FROM fst WHERE model_keep)
      SELECT s.source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN s.model_keep THEN 1 ELSE 0 END) AS BIGINT)
          AS n_model_kept,
        CAST(sum(CASE WHEN s.heur_keep THEN 1 ELSE 0 END) AS BIGINT)
          AS n_heur_kept,
        CAST(sum(CASE WHEN s.model_keep <> s.heur_keep THEN 1 ELSE 0 END)
          AS BIGINT) AS n_disagree,
        CAST(sum(CASE WHEN coalesce(k.kept, false) THEN 1 ELSE 0 END)
          AS BIGINT) AS n_kept,
        round(CAST(sum(CASE WHEN coalesce(k.kept, false) THEN 1 ELSE 0 END)
            AS DOUBLE) / count(*), 4) AS keep_rate
      FROM fst s LEFT JOIN fkp k ON s.doc_id = k.doc_id
      GROUP BY s.source ORDER BY s.source"""
    }),
    // q323: the same ~200-row PSL rule list interpolated and the FULL
    // algorithm replayed generically — rule normalization (plain /
    // '*.' wildcard / '!' exception), last-k candidate tails, the
    // exception-first-then-longest winner, the '*' default and the
    // host-is-a-suffix NULL
    Q("q323_psl_domain", q323, Extra, {
      val rules = graft.ops.Web.pslSuffixes.map(s => s"'$s'").mkString(",")
      def pat(k: Int): String =
        "(" + Seq.fill(k)("[^.]+").mkString("\\.") + ")$"
      val candSelects = (1 to 4).map { k =>
        s"""SELECT doc_id, host, $k AS k,
          regexp_extract(host, '${pat(k)}', 1) AS key,
          nullif(regexp_extract(host, '${pat(k + 1)}', 1), '') AS reg1,
          nullif(regexp_extract(host, '${pat(k + 2)}', 1), '') AS reg2
        FROM hosts"""
      }.mkString("\n        UNION ALL ")
      raw"""
      WITH psl AS (SELECT unnest([$rules]) AS rule),
      rules AS (
        SELECT CASE WHEN rule LIKE '!%' THEN substr(rule, 2)
                    WHEN rule LIKE '*.%' THEN substr(rule, 3)
                    ELSE rule END AS key,
               CASE WHEN rule LIKE '!%' THEN 2
                    WHEN rule LIKE '*.%' THEN 1 ELSE 0 END AS kind
        FROM psl),
      hosts AS (
        SELECT doc_id,
          CASE WHEN doc_id % 8 = 0 THEN source || '.portal.gov.br'
               WHEN doc_id % 8 = 1 THEN source || '.example.com'
               WHEN doc_id % 8 = 2 THEN 'www.' || source ||
                 '.schools.k12.ca.us'
               WHEN doc_id % 8 = 3 THEN source || '.uni.edu.au'
               WHEN doc_id % 8 = 4 THEN source || '.startup.xyz'
               WHEN doc_id % 8 = 5 THEN 'com.br'
               WHEN doc_id % 8 = 6 THEN 'w' ||
                 CAST(CAST(floor((doc_id % 16) / 8) AS BIGINT) AS VARCHAR)
                 || '.mall.ck'
               ELSE 'www.ck' END AS host
        FROM documents),
      cands AS (
        $candSelects),
      hits AS (
        SELECT c.doc_id,
          CASE WHEN r.kind = 2 THEN 1 ELSE 0 END AS exc,
          c.k + CASE WHEN r.kind = 1 THEN 1 WHEN r.kind = 2 THEN -1
                ELSE 0 END AS efflen,
          CASE WHEN r.kind = 0 THEN c.reg1
               WHEN r.kind = 1 THEN c.reg2
               ELSE c.key END AS reg
        FROM cands c JOIN rules r ON c.key = r.key AND c.key <> ''
        WHERE NOT (r.kind = 1 AND c.reg1 IS NULL)),
      best AS (
        SELECT doc_id, reg FROM hits
        QUALIFY row_number() OVER (PARTITION BY doc_id
          ORDER BY exc DESC, efflen DESC, reg DESC NULLS LAST) = 1),
      rd AS (
        SELECT h.doc_id, h.host,
          CASE WHEN b.doc_id IS NOT NULL THEN b.reg
               WHEN len(string_split(h.host, '.')) >= 2
               THEN regexp_extract(h.host, '([^.]+\.[^.]+)$$', 1)
               ELSE NULL END AS registered_domain
        FROM hosts h LEFT JOIN best b ON h.doc_id = b.doc_id)
      SELECT coalesce(registered_domain, '(none)') AS registered_domain,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
      FROM rd GROUP BY 1 ORDER BY 1"""
    }),
    // q324: the UNBLOCKED all-zones containment test replayed per zone
    // from the same interpolated vertex constants (pipSql — q321's
    // device over the 40-zone table); the gate proves the bbox-grid
    // candidate join loses no (point, zone) pair
    Q("q324_zone_table_pip", q324, Extra, {
      val conds = q324Zones.map { case (n, poly) => (n, pipSql(poly)) }
      val pairSelects = conds.map { case (n, c) =>
        s"SELECT p.pid, p.plat, p.plon, '$n' AS zone FROM p WHERE $c"
      }.mkString("\n        UNION ALL ")
      val anyCond = conds.map(_._2).mkString("(", " OR ", ")")
      s"""
      WITH $geoCtes,
      zpairs AS (
        $pairSelects),
      ztag AS (
        SELECT zone, plat, plon FROM zpairs
        UNION ALL
        SELECT '(none)', p.plat, p.plon FROM p WHERE NOT $anyCond)
      SELECT zone, CAST(count(*) AS BIGINT) AS n_pts,
        round(CAST(sum(CAST(round(plat, 9) AS DECIMAL(28,12))) AS DOUBLE) /
          CAST(count(*) AS DOUBLE), 6) AS mean_lat,
        round(CAST(sum(CAST(round(plon, 9) AS DECIMAL(28,12))) AS DOUBLE) /
          CAST(count(*) AS DOUBLE), 6) AS mean_lon
      FROM ztag GROUP BY 1 ORDER BY 1"""
    }),
    // q325: Q13 written the classic way (LEFT OUTER with the anti-
    // filter in the join condition, count per customer, histogram);
    // the engine's pre-aggregated-orders plan must land on the
    // identical distribution, zero-order customers included
    Q("q325_q13_custdist", q325, Extra, """
      WITH oc AS (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c LEFT OUTER JOIN orders o
          ON c.c_custkey = o.o_custkey
          AND o.o_orderpriority NOT LIKE '%URGENT%'
        GROUP BY c.c_custkey)
      SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
      FROM oc GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC"""),
    // q326 streams the identical frozen-map scoring one file per
    // trigger and folds the landed rows through the same summaries —
    // the streamed twin shares q305's oracle verbatim
    Q("q326_calibration_drift_stream", q326, Extra, plattCalibrationSql),
    // q327: both windows' value-bin curves replayed from the q28
    // quality arithmetic, full-outer-joined on the bin key
    Q("q327_calib_bins_drift", q327, Extra, raw"""
      WITH qs AS (
        SELECT doc_id, lang = 'en' AS p,
          round(least(greatest(
            0.4 * least(nt / 50.0, 1.0) +
            0.3 * coalesce(nd / nullif(nt, 0.0), 0.0) +
            0.3 * coalesce(alpha / nullif(chars, 0.0), 0.0),
            0.0), 1.0), 6) AS s
        FROM (
          SELECT doc_id, lang,
            CAST(len(tk) AS DOUBLE) AS nt,
            CAST(len(list_distinct(tk)) AS DOUBLE) AS nd,
            CAST(len(text) AS DOUBLE) AS chars,
            CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
              AS DOUBLE) AS alpha
          FROM (SELECT doc_id, lang, text,
            regexp_split_to_array(trim(lower(text)), '\s+') AS tk
            FROM documents))),
      bb AS (
        SELECT least(greatest(CAST(floor(s * 10) AS BIGINT), 0), 9)
            AS bin,
          CAST(count(*) AS BIGINT) AS n,
          round(CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS DOUBLE) /
            CAST(count(*) AS DOUBLE), 6) AS pr
        FROM qs WHERE doc_id % 2 = 0 GROUP BY 1),
      cb AS (
        SELECT least(greatest(CAST(floor(s * 10) AS BIGINT), 0), 9)
            AS bin,
          CAST(count(*) AS BIGINT) AS n,
          round(CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS DOUBLE) /
            CAST(count(*) AS DOUBLE), 6) AS pr
        FROM qs WHERE doc_id % 2 = 1 GROUP BY 1)
      SELECT coalesce(b.bin, c.bin) AS bin,
        coalesce(b.n, 0) AS n_base, coalesce(c.n, 0) AS n_cur,
        b.pr AS pos_rate_base, c.pr AS pos_rate_cur,
        round(c.pr - b.pr, 6) + 0.0 AS drift,
        coalesce(abs(c.pr - b.pr) >= 0.05, false) AS flagged
      FROM bb b FULL OUTER JOIN cb c ON b.bin = c.bin
      ORDER BY 1"""),
    // q328: the NB language model (nbChainCtes on q301's train split,
    // scored over the WHOLE corpus) beside the q27 marker heuristic and
    // the true lang label, rolled up per source
    Q("q328_model_lang_gate", q328, Extra, raw"""
      WITH gtrain AS (
        SELECT doc_id, lang AS class, text FROM documents
        WHERE doc_id % 2 = 0 AND lang IS NOT NULL),
      gscore_in AS (SELECT doc_id, text FROM documents),
      ${nbChainCtes("g", "gtrain", "gscore_in")},
      gsc AS (
        SELECT doc_id,
          len(list_filter(tk, t -> t IN ('the','a','of','and','to'))) AS s_en,
          len(list_filter(tk, t -> t IN ('el','la','de','que','y'))) AS s_es,
          len(list_filter(tk, t -> t IN ('le','la','de','et','un'))) AS s_fr,
          len(list_filter(tk, t -> t IN ('der','die','und','das','ein')))
            AS s_de,
          len(list_filter(tk, t -> t IN ('的','了','是','我','不'))) AS s_zh
        FROM (SELECT doc_id,
          regexp_split_to_array(trim(lower(text)), '\s+') AS tk
          FROM documents)),
      gheur AS (
        SELECT doc_id, CASE
          WHEN s_en = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_en > 0
            THEN 'en'
          WHEN s_es = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_es > 0
            THEN 'es'
          WHEN s_fr = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_fr > 0
            THEN 'fr'
          WHEN s_de = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_de > 0
            THEN 'de'
          WHEN s_zh = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_zh > 0
            THEN 'zh'
          ELSE 'und' END AS lang_pred
        FROM gsc),
      gst AS (
        SELECT d.source,
          p.pred_class = 'en' AS model_keep,
          h.lang_pred = 'en' AS heur_keep,
          coalesce(d.lang, 'und') = 'en' AS true_en
        FROM documents d JOIN gpred p ON d.doc_id = p.doc_id
        JOIN gheur h ON d.doc_id = h.doc_id)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN model_keep THEN 1 ELSE 0 END) AS BIGINT)
          AS n_model_en,
        CAST(sum(CASE WHEN heur_keep THEN 1 ELSE 0 END) AS BIGINT)
          AS n_heur_en,
        CAST(sum(CASE WHEN true_en THEN 1 ELSE 0 END) AS BIGINT)
          AS n_true_en,
        CAST(sum(CASE WHEN model_keep <> heur_keep THEN 1 ELSE 0 END)
          AS BIGINT) AS n_disagree,
        CAST(sum(CASE WHEN model_keep = true_en THEN 1 ELSE 0 END)
          AS BIGINT) AS n_model_correct,
        CAST(sum(CASE WHEN heur_keep = true_en THEN 1 ELSE 0 END)
          AS BIGINT) AS n_heur_correct
      FROM gst GROUP BY source ORDER BY source"""),
    // q329: Q16 written the classic way (NOT IN subquery); the engine
    // decorrelates into a broadcast anti join before the distinct agg
    Q("q329_q16_supplier_cnt", q329, Extra, """
      SELECT p_brand, p_type, p_size,
        CAST(count(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
      JOIN part ON p_partkey = ps.l_partkey
      WHERE p_brand <> 'Brand#1' AND p_type <> 'MEDIUM'
        AND p_size IN (1, 4, 7, 10, 15, 23, 45, 49)
        AND ps.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier
          WHERE s_acctbal < 0 AND s_suppkey IS NOT NULL)
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""),
    // q330: Q15 written the classic way (revenue view probed by its own
    // scalar max); the engine decorrelates into a broadcast equi-join
    // on the decimal revenue — ties preserved on both sides
    Q("q330_q15_top_supplier", q330, Extra, """
      WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
          sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)))
            AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY 1)
      SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
      FROM supplier JOIN revenue ON s_suppkey = supplier_no
      WHERE total_rev = (SELECT max(total_rev) FROM revenue)
      ORDER BY s_suppkey"""),
    // q331: Q11 written the classic way (HAVING > scalar subquery over
    // the same grouped relation); the engine broadcasts the scalar back
    // over the checkpointed per-part frame. Identical bounded-precision
    // decimal compare on both sides: 2·val·n > 3·total at (26,2)×(8,0).
    Q("q331_q11_important_parts", q331, Extra, """
      WITH pv AS (
        SELECT l_partkey,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
            AS DECIMAL(26,2)) AS val
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
        GROUP BY l_partkey)
      SELECT l_partkey, CAST(val AS DOUBLE) AS value
      FROM pv
      WHERE val * 2 * (SELECT CAST(count(*) AS DECIMAL(8,0)) FROM pv)
          > (SELECT CAST(sum(val) AS DECIMAL(26,2)) FROM pv) * 3
      ORDER BY value DESC, l_partkey"""),
    // q332: first-batch-wins over the q306 fixture — batch b holds
    // doc_id ≡ b (mod 3); a canonical key is claimed by the earliest
    // batch containing it, by the min doc_id within that batch
    Q("q332_url_frontier_stream", q332, Extra, s"""
      WITH $urlFixtureCtes,
      fc AS (
        SELECT doc_id, doc_id % 3 AS b, curl FROM ucanon
        WHERE curl IS NOT NULL),
      fbat AS (SELECT curl, min(b) AS b FROM fc GROUP BY 1),
      fcl AS (
        SELECT c.curl, min(c.doc_id) AS claimed_by, c.b
        FROM fc c JOIN fbat f ON c.curl = f.curl AND c.b = f.b
        GROUP BY c.curl, c.b)
      SELECT curl AS canonical_url, claimed_by, CAST(b AS BIGINT) AS batch
      FROM fcl ORDER BY canonical_url"""),
    // q333: Q7 written the classic way (nation pair disjunction in the
    // WHERE); the engine broadcasts both nation legs and filters the
    // join output — identical groups either way
    Q("q333_q7_trade_volume", q333, Extra, """
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        year(l_shipdate) AS l_year, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
          AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
         OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3')
      GROUP BY 1, 2, 3
      ORDER BY supp_nation, cust_nation, l_year"""),
    // q334: Q19 written the classic way — the OR of three mixed
    // (part × lineitem) clauses in one WHERE
    Q("q334_q19_disjunctive_revenue", q334, Extra, """
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
          AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
          AND l_quantity BETWEEN 1 AND 20)
         OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
          AND l_quantity BETWEEN 10 AND 30)
         OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
          AND l_quantity BETWEEN 20 AND 40)"""),
    // q335/q336: ONE oracle string for the batch sketch and its
    // streamed maintainer — bin-wise sums are batching-invariant
    Q("q335_qbin_quantiles", q335, Extra, qbinOracle),
    Q("q336_qbin_stream", q336, Extra, qbinOracle),
    // q337: the grouped QBIN — per-source cumulative counts and the
    // same rounded interpolation tree, every CTE keyed by source
    // q337/q342: ONE oracle string for the batch grouped sketch and its
    // streamed maintainer — per-group bin-wise sums are batching-
    // invariant exactly (the q335/q336 discipline, grouped flavor)
    Q("q337_qbin_by_source", q337, Extra, qbinByOracle),
    // q338: q328's report card with the NB chain instantiated on the
    // char-3-gram tokenizer (charGramListSql) — the heuristic CTEs are
    // the q328 strings verbatim (shared rule, different model)
    Q("q338_charngram_lang_gate", q338, Extra, raw"""
      WITH cgtrain AS (
        SELECT doc_id, lang AS class, text FROM documents
        WHERE doc_id % 2 = 0 AND lang IS NOT NULL),
      cgscore_in AS (SELECT doc_id, text FROM documents),
      ${nbChainCtes("cg", "cgtrain", "cgscore_in", charGramListSql _)},
      cgsc AS (
        SELECT doc_id,
          len(list_filter(tk, t -> t IN ('the','a','of','and','to'))) AS s_en,
          len(list_filter(tk, t -> t IN ('el','la','de','que','y'))) AS s_es,
          len(list_filter(tk, t -> t IN ('le','la','de','et','un'))) AS s_fr,
          len(list_filter(tk, t -> t IN ('der','die','und','das','ein')))
            AS s_de,
          len(list_filter(tk, t -> t IN ('的','了','是','我','不'))) AS s_zh
        FROM (SELECT doc_id,
          regexp_split_to_array(trim(lower(text)), '\s+') AS tk
          FROM documents)),
      cgheur AS (
        SELECT doc_id, CASE
          WHEN s_en = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_en > 0
            THEN 'en'
          WHEN s_es = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_es > 0
            THEN 'es'
          WHEN s_fr = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_fr > 0
            THEN 'fr'
          WHEN s_de = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_de > 0
            THEN 'de'
          WHEN s_zh = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_zh > 0
            THEN 'zh'
          ELSE 'und' END AS lang_pred
        FROM cgsc),
      cgst AS (
        SELECT d.source,
          p.pred_class = 'en' AS model_keep,
          h.lang_pred = 'en' AS heur_keep,
          coalesce(d.lang, 'und') = 'en' AS true_en
        FROM documents d JOIN cgpred p ON d.doc_id = p.doc_id
        JOIN cgheur h ON d.doc_id = h.doc_id)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN model_keep THEN 1 ELSE 0 END) AS BIGINT)
          AS n_model_en,
        CAST(sum(CASE WHEN heur_keep THEN 1 ELSE 0 END) AS BIGINT)
          AS n_heur_en,
        CAST(sum(CASE WHEN true_en THEN 1 ELSE 0 END) AS BIGINT)
          AS n_true_en,
        CAST(sum(CASE WHEN model_keep <> heur_keep THEN 1 ELSE 0 END)
          AS BIGINT) AS n_disagree,
        CAST(sum(CASE WHEN model_keep = true_en THEN 1 ELSE 0 END)
          AS BIGINT) AS n_model_correct,
        CAST(sum(CASE WHEN heur_keep = true_en THEN 1 ELSE 0 END)
          AS BIGINT) AS n_heur_correct
      FROM cgst GROUP BY source ORDER BY source"""),
    // q339: Q4 written the classic way (EXISTS subquery); the engine
    // decorrelates into a left-semi join with both filters pushed
    Q("q339_q4_order_priority", q339, Extra, """
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        AND o_orderdate < TIMESTAMP '1996-10-01'
        AND EXISTS (SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),
    // q340: Q8 written the classic way (conditional numerator over the
    // all_nations subquery); the engine folds both legs in one pass
    Q("q340_q8_market_share", q340, Extra, """
      WITH all_nations AS (
        SELECT year(o_orderdate) AS o_year,
          l_extendedprice * (1.0 - l_discount) AS volume,
          n1.n_name AS supp_nation
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        JOIN region ON n2.n_regionkey = r_regionkey
        WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01')
      SELECT o_year,
        round(CAST(sum(CAST(CASE WHEN supp_nation = 'NATION_3'
              THEN volume ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) /
          CAST(sum(CAST(volume AS DECIMAL(18,6))) AS DOUBLE), 9)
          AS mkt_share,
        CAST(sum(CAST(CASE WHEN supp_nation = 'NATION_3' THEN volume
            ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) AS nation_volume,
        CAST(sum(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS total_volume
      FROM all_nations GROUP BY o_year ORDER BY o_year"""),
    // q341: Q9 written the classic way (profit CTE over the five-way
    // join); p_retailprice*0.6 stands in for ps_supplycost
    Q("q341_q9_profit", q341, Extra, """
      WITH profit AS (
        SELECT n_name AS nation, year(o_orderdate) AS o_year,
          l_extendedprice * (1.0 - l_discount)
            - p_retailprice * 0.6 * l_quantity AS amount
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%red%')
      SELECT nation, o_year, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(amount AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
      FROM profit GROUP BY nation, o_year
      ORDER BY nation, o_year DESC"""),
    Q("q342_qbin_by_source_stream", q342, Extra, qbinByOracle),
    // q343: the post-delete table must hash-equal the anti-join of the
    // raw documents (the erased id range restated as NOT BETWEEN);
    // pruning/time-travel facts are required in-query, not here
    Q("q343_erase_keys", q343, Extra, """
      SELECT source, coalesce(lang, 'und') AS lang,
        CAST(count(*) AS BIGINT) AS n_docs,
        min(doc_id) AS min_id, max(doc_id) AS max_id
      FROM documents
      WHERE doc_id NOT BETWEEN 100 AND 149
      GROUP BY 1, 2
      ORDER BY source, lang"""),
    // q344: q343's erase followed by snapshot expiry — the kept
    // generation must still hash-equal the anti-join; physical-purge
    // facts (files gone, expired snapshot refuses, zero leaked keys on
    // disk) are required in-query
    Q("q344_erase_then_expire", q344, Extra, """
      SELECT source, coalesce(lang, 'und') AS lang,
        CAST(count(*) AS BIGINT) AS n_docs,
        min(doc_id) AS min_id, max(doc_id) AS max_id
      FROM documents
      WHERE doc_id NOT BETWEEN 200 AND 299
      GROUP BY 1, 2
      ORDER BY source, lang"""),
    // q345: Q3 written the classic way; o_orderpriority stands in for
    // o_shippriority; ties at the top-10 boundary break on
    // (o_orderdate, l_orderkey)
    Q("q345_q3_shipping_priority", q345, Extra, """
      SELECT l_orderkey, o_orderdate, o_orderpriority,
        CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
          AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1996-03-15'
        AND l_shipdate > TIMESTAMP '1996-03-15'
      GROUP BY 1, 2, 3
      ORDER BY revenue DESC, o_orderdate, l_orderkey
      LIMIT 10"""),
    // q346: Q6 — the single-table predicate aggregate
    Q("q346_q6_forecast_revenue", q346, Extra, """
      SELECT CAST(sum(CAST(l_extendedprice * l_discount
          AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""),
    // q347: Q10 — the per-customer rollup and top-20 run before the dim
    // join on both sides (the dim join is 1:1, top-k commutes with it)
    Q("q347_q10_returned_items", q347, Extra, """
      WITH rev AS (
        SELECT o_custkey,
          CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
            AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-10-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY o_custkey
        ORDER BY revenue DESC, o_custkey LIMIT 20)
      SELECT c_custkey, c_name, revenue, c_acctbal, n_name
      FROM rev
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      ORDER BY revenue DESC, c_custkey"""),
    // q348: Q12 — l_returnflag ∈ {A,R} stands in for the shipmode IN,
    // l_linestatus = 'F' for the late-delivery predicate
    Q("q348_q12_shipmode_priority", q348, Extra, """
      SELECT l_returnflag AS shipmode,
        CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
          THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
          THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_returnflag IN ('A', 'R') AND l_linestatus = 'F'
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY 1 ORDER BY 1"""),
    // q349: Q14 — conditional numerator and denominator in one pass
    // (the q340 quotient discipline, single-group flavor)
    Q("q349_q14_promo_revenue", q349, Extra, """
      SELECT round(100.0 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
            THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END
            AS DECIMAL(18,6))) AS DOUBLE)
          / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
            AS DECIMAL(18,6))) AS DOUBLE), 9) AS promo_pct,
        CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
          THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END
          AS DECIMAL(18,6))) AS DOUBLE) AS promo_revenue,
        CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
          AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-09-01'
        AND l_shipdate < TIMESTAMP '1996-10-01'"""),
    // q350: the pruned lake read must hash-equal the predicate restated
    // over the raw documents; the file-skipping facts (skipped > 0,
    // pruned ≡ full+filter) are required in-query
    Q("q350_lake_pruned_scan", q350, Extra, """
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        min(doc_id) AS min_id, max(doc_id) AS max_id,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents
      WHERE doc_id >= 100 AND doc_id < 200
      GROUP BY source ORDER BY source"""),
    // q351: q343's erasure oracle verbatim — the columnar lane must land
    // on the same post-delete table as the text lane
    Q("q351_lake_erase", q351, Extra, """
      SELECT source, coalesce(lang, 'und') AS lang,
        CAST(count(*) AS BIGINT) AS n_docs,
        min(doc_id) AS min_id, max(doc_id) AS max_id
      FROM documents
      WHERE doc_id NOT BETWEEN 100 AND 149
      GROUP BY 1, 2
      ORDER BY source, lang"""),
    // q352: evolution restated — even docs landed without lang (NULL
    // after the add-column), odd docs with theirs; source reads under
    // its post-rename name; the erased range drops
    Q("q352_lake_schema_evolution", q352, Extra, """
      SELECT source AS origin, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN doc_id % 2 = 0 OR lang IS NULL
          THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_missing,
        min(doc_id) AS min_id, max(doc_id) AS max_id
      FROM documents
      WHERE doc_id NOT BETWEEN 100 AND 149
      GROUP BY 1 ORDER BY 1"""),
    // q353: compaction is content-INVARIANT — the post-compact table
    // must hash-equal the post-erase table (q351's oracle verbatim);
    // the compaction/skipping/expiry facts are required in-query
    Q("q353_lake_compact", q353, Extra, """
      SELECT source, coalesce(lang, 'und') AS lang,
        CAST(count(*) AS BIGINT) AS n_docs,
        min(doc_id) AS min_id, max(doc_id) AS max_id
      FROM documents
      WHERE doc_id NOT BETWEEN 100 AND 149
      GROUP BY 1, 2
      ORDER BY source, lang"""),
    // q354: the snapshot increment IS the second landing — the odd half
    Q("q354_lake_incremental", q354, Extra, """
      SELECT source, coalesce(lang, 'und') AS lang,
        CAST(count(*) AS BIGINT) AS n_docs,
        min(doc_id) AS min_id, max(doc_id) AS max_id
      FROM documents
      WHERE doc_id % 2 = 1
      GROUP BY 1, 2
      ORDER BY source, lang"""),
    // q355: the z-ordered lake slice must hash-equal the user-range
    // predicate restated over raw events; the BOTH-dimensions-prune
    // facts are required in-query
    Q("q355_lake_zorder_scan", q355, Extra, """
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events
      WHERE user_id BETWEEN 3 AND 5
      GROUP BY 1 ORDER BY 1"""),
    // q356: two racing landings must converge on the FULL table — the
    // oracle is the whole-documents rollup, which hash-fails if the
    // lost-update window ever reopens (either half vanishing from HEAD)
    Q("q356_lake_concurrent_land", q356, Unbenched, """
      SELECT source, coalesce(lang, 'und') AS lang,
        CAST(count(*) AS BIGINT) AS n_docs,
        min(doc_id) AS min_id, max(doc_id) AS max_id
      FROM documents
      GROUP BY 1, 2
      ORDER BY source, lang"""),
    // q357: the streamed lake table must hash-equal the id-range slice
    // restated over raw events; the replay-idempotence, batch-twin and
    // pruning facts are required in-query
    Q("q357_lake_stream_land", q357, Unbenched, """
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events
      WHERE event_id >= 100 AND event_id < 300
      GROUP BY 1 ORDER BY 1"""))
}
