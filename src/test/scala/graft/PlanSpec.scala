package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape checks — the properties that matter at 100 TB:
  * predicate/projection pushdown into the parquet scan, broadcast joins for
  * dimensions, whole-stage codegen coverage, no accidental cartesian
  * products on the pairwise ops.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  /** One construction per gated query, shared by BOTH mechanical
    * sweeps: constructing a query runs its checkpoint/training phases
    * (q282/q283 train at construction — minutes each), so each extra
    * full-registry pass would re-pay that.
    */
  private lazy val allExecutedPlans
      : Seq[(String, org.apache.spark.sql.execution.SparkPlan)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, dir).queryExecution.executedPlan
    }

  test("q02 pushes filters and prunes columns at the parquet scan") {
    val p = plan("q02_filter_pushdown")
    assert(p.contains("PushedFilters: ["), s"no pushed filters in:\n$p")
    assert(p.contains("l_shipdate"), "shipdate predicate not pushed")
    // projection pruning: the scan must not read all 11 lineitem columns
    assert(!p.contains("l_returnflag"), "unused column not pruned from scan")
  }

  test("q03 star join broadcasts the dimension tables") {
    val p = plan("q03_star_join_revenue")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("q01 aggregates with a map-side partial before the shuffle") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("HashAggregate"), s"no hash aggregate in:\n$p")
    assert(p.contains("partial_sum"), "no partial (map-side) aggregation")
  }

  test("q05 anti join is a real join, not a cartesian filter") {
    val p = plan("q05_anti_join_orders")
    assert(p.contains("LeftAnti"), s"no anti join in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("pairwise ops never degenerate into cartesian products") {
    Seq("q21_minhash_lsh_pairs", "q22_jaccard_pairs_topk",
      "q24_cosine_pairs_topk", "q26_ann_lsh_topk",
      "q62_ann_multiprobe_topk", "q66_decontaminate",
      "q74_incremental_dedup").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
    }
  }

  test("q63 stratified sample filters at the scan stage, no pre-filter shuffle") {
    val p = plan("q63_stratified_sample")
    // the md5-threshold filter is a per-row predicate: it must run before
    // any Exchange in DATAFLOW order. The plan prints root-first, so every
    // Exchange must appear ABOVE the Filter — i.e. even the LAST Exchange
    // occurrence sits at a smaller string index than the Filter.
    val filterIdx = p.indexOf("Filter")
    assert(filterIdx >= 0, s"no filter in plan:\n$p")
    assert(p.lastIndexOf("Exchange") < filterIdx,
      s"sample filter runs after a shuffle:\n$p")
  }

  test("q24 cosine pairs use the codegen'd cosine expression") {
    val p = plan("q24_cosine_pairs_topk")
    assert(p.contains("cosine_similarity"), s"custom expression not used:\n$p")
  }

  test("q39 length histogram scans only the two needed document columns") {
    val p = plan("q39_length_histogram")
    assert(p.contains("lang") && p.contains("n_chars"))
    assert(!p.contains("ReadSchema") || !p.contains("doc_id"),
      s"doc_id/text not pruned from the scan:\n$p")
  }

  test("wide-array self-joins build shuffled hash maps, not driver broadcasts") {
    Seq("q22_jaccard_pairs_topk", "q24_cosine_pairs_topk").foreach { q =>
      val p = plan(q)
      assert(p.contains("ShuffledHashJoin"), s"$q lost its shuffle_hash pin:\n$p")
    }
  }

  test("q107 containment: cached postings, shuffled self-join, no __h window") {
    // the posting self-join's build side is corpus-sized (every shingle of
    // every doc) — must be a shuffled build; the df-cap must be an
    // aggregate, not a Window over the shingle hash (which would funnel a
    // hot shingle's whole posting list into one task's sort)
    val p = plan("q107_containment_pairs")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"q107 self-join lost its shuffled pin:\n$p")
    assert(p.contains("InMemoryRelation"),
      s"q107 posting set is no longer cached (chain recomputes 4x):\n$p")
    assert(!p.contains("Window"), s"q107 caps df with a Window:\n$p")
  }

  test("pair-join strategy is config-gated: merge mode plans SMJ, no cartesian") {
    // cluster profiles set spark.graft.pairJoin.hint=merge for spill-safety
    // (a pinned shuffle-hash build can OOM where SMJ spills, and AQE cannot
    // override an explicit hint); both modes must stay cartesian-free
    spark.conf.set(GraftConf.PairJoinHintKey, "merge")
    try {
      Seq("q03_star_join_revenue", "q22_jaccard_pairs_topk",
        "q24_cosine_pairs_topk").foreach { q =>
        val p = plan(q)
        assert(p.contains("SortMergeJoin"), s"$q merge mode lost SMJ:\n$p")
        assert(!p.contains("CartesianProduct"), s"$q plans a cartesian")
      }
    } finally spark.conf.unset(GraftConf.PairJoinHintKey)
    val p = plan("q22_jaccard_pairs_topk")
    assert(p.contains("ShuffledHashJoin"), "default mode lost shuffle_hash")
  }

  test("minhash verify joins never broadcast an array-bearing build side") {
    // the scale contract: `candidates` (two longs/row) may broadcast, but
    // any build side carrying the hashed-shingle arrays must be a shuffled
    // build — on a dup-heavy corpus the candidate-pair list scales with the
    // dup rate and a driver-side broadcast of pair×array rows OOMs.
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    import org.apache.spark.sql.types.ArrayType
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def audit(df: org.apache.spark.sql.DataFrame, label: String): Unit = {
      df.collect() // finalize the adaptive plan before inspecting it
      val exec = df.queryExecution.executedPlan
      val offenders = helper.collect(exec) {
        case b: BroadcastExchangeExec
            if b.output.exists(_.dataType.isInstanceOf[ArrayType]) => b
      }
      assert(offenders.isEmpty,
        s"$label broadcasts an array-bearing build side:\n${offenders.mkString("\n")}")
      assert(helper.collect(exec) { case s: ShuffledHashJoinExec => s }.nonEmpty,
        s"$label verify join lost its shuffled hash build")
    }
    audit(SparkEntry.queries("q21_minhash_lsh_pairs")(spark, dir), "q21")
    import spark.implicits._
    val docs = (0 until 40).map { i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta token$i end of document")
    }.toDF("doc_id", "text")
    audit(graft.ops.Dedup.minhashLshPairs(docs, docs("doc_id"), docs("text")),
      "Dedup.minhashLshPairs")
  }

  test("q44 native as-of join survives optimization and stays in the plan") {
    val p = plan("q44_asof_native")
    assert(p.contains("AsOfJoin"), s"native operator missing:\n$p")
  }

  test("q43 binned interval join plans equi-joins only") {
    val p = plan("q43_interval_join_binned")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join degenerated:\n$p")
  }

  test("q14 global top-k plans as TakeOrderedAndProject, not a full sort") {
    val p = plan("q14_topk_lineitems")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator:\n$p")
  }

  test("q135 co-purchase pair space is a basket equi-join, not a cartesian") {
    val p = plan("q135_copurchase_lift")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"co-occurrence degenerated:\n$p")
  }

  test("q124 BM25 search top-k plans as TakeOrderedAndProject") {
    val p = plan("q124_bm25_search")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator:\n$p")
  }

  test("q126 rolling windows compute in ONE Window node over one sort") {
    val p = plan("q126_rolling_window")
    // all three rolling expressions share a window spec: exactly one
    // Window operator may appear (plus none hidden behind a second sort)
    val windows = "(?m)^.*Window".r.findAllIn(p).size
    assert(windows === 1, s"expected 1 Window node, got $windows:\n$p")
  }

  test("q131 TWAP window sort is reused by the aggregation (no extra exchange)") {
    val p = plan("q131_time_weighted_avg")
    // one exchange for the (key, day) window; the groupBy on the same key
    // must not add a second shuffle of the event stream
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"TWAP shuffles too much ($exchanges):\n$p")
  }

  test("q151 pair mining is join-free: bigrams come from a map-side zip_with") {
    val p = plan("q151_bpe_pair_mining")
    assert(!p.contains("Join"),
      s"q151 grew a join (positional self-join regression):\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"q151 top-20 is not a TakeOrdered:\n$p")
  }

  test("q152 skew report: TakeOrdered top-k, total rides a broadcast") {
    val p = plan("q152_skew_report")
    assert(p.contains("TakeOrderedAndProject"),
      s"q152 top-5 is not a TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"q152 total joined without broadcast:\n$p")
  }

  test("q148 coverage join is an equi-join on the shingle hash, no cartesian") {
    val p = plan("q148_coverage_score")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q148 reference join degenerated:\n$p")
  }

  test("no gated query plans an unpartitioned row-grain Window (mechanical)") {
    // the permanent form of the r6 verdict's findings 2–4 (q186 ntiles,
    // q182 vocab rank, q220-family triage): an unpartitioned WindowExec
    // serializes its whole input through ONE task's sort — fine after a
    // limit (k rows), a scale cliff anywhere else. Sweep EVERY gated
    // query's physical plan; a post-limit window (GlobalLimit /
    // TakeOrderedAndProject below it) is exempt, nothing else is.
    import org.apache.spark.sql.execution.{GlobalLimitExec, SparkPlan,
      TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.window.WindowExecBase
    val helper =
      new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def postLimit(p: SparkPlan): Boolean = p.exists {
      case _: GlobalLimitExec => true
      case _: TakeOrderedAndProjectExec => true
      case _ => false
    }
    val offenders = allExecutedPlans
      .flatMap { case (name, exec) =>
        helper.collect(exec) {
          case w: WindowExecBase
              if w.partitionSpec.isEmpty && !postLimit(w.child) =>
            s"$name: ${w.nodeName} over [${w.orderSpec.mkString(", ")}]"
        }
      }
    assert(offenders.isEmpty,
      s"unpartitioned row-grain windows:\n${offenders.mkString("\n")}")
  }

  test("no gated query runs mapPartitions on an unspread file scan (mechanical)") {
    // the permanent form of the bug class the 10× probe found THREE
    // times across rounds 6–7 (q163 gram explode, q263 dHash decode,
    // the r6 dhash pipeline): documents/embeddings parquet arrives as
    // ONE file → one partition, and a mapPartitions codec/compute stage
    // fed by it silently runs the whole corpus on one core. Sweep EVERY
    // gated query's physical plan: a MapPartitions whose input subtree
    // reaches a ≤1-file parquet scan WITHOUT crossing a shuffle
    // (repartition/Dedup.spread) or an RDD leaf (checkpoint) is an
    // offender — it must spread first.
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    val helper =
      new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def reachesUnspreadScan(p: SparkPlan): Boolean = p match {
      case _: ShuffleExchangeLike => false // a shuffle re-spreads
      case _: BroadcastExchangeLike => false // doesn't bound parallelism
      case s: FileSourceScanExec => s.relation.location.inputFiles.length <= 1
      case q: QueryStageExec => reachesUnspreadScan(q.plan)
      case a: AdaptiveSparkPlanExec => reachesUnspreadScan(a.executedPlan)
      case other => other.children.exists(reachesUnspreadScan)
    }
    val offenders = allExecutedPlans
      .flatMap { case (name, exec) =>
        helper.collect(exec) {
          case m: MapPartitionsExec if reachesUnspreadScan(m.child) =>
            s"$name: MapPartitions over an unspread single-file scan"
        }
      }
    assert(offenders.isEmpty,
      s"codec/compute stages that would run single-core:\n${offenders.mkString("\n")}")
  }

  test("q258 Q17 shape: fact enters once (checkpoint), both legs reuse it") {
    val p = plan("q258_small_qty_revenue")
    // the shared lineitem∙part scan materialized at checkpoint time, so
    // the returned plan must contain ZERO parquet scans — the threshold
    // aggregate and the row-grain filter both read the ExistingRDD
    val scans = "FileScan parquet|Scan parquet".r.findAllIn(p).length
    assert(scans == 0,
      s"fact re-scanned: $scans parquet scans in the join-back plan:\n$p")
    val rdd = "Scan ExistingRDD".r.findAllIn(p).length
    assert(rdd == 2, s"expected both legs on the checkpointed frame:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q288 Q20 shape: one lineitem scan, semi-join chain, no cartesian") {
    val p = plan("q288_excess_stock")
    val scans = "FileScan parquet|Scan parquet".r.findAllIn(p).length
    assert(scans == 4,
      s"expected 4 parquet scans (lineitem/part/supplier/nation once each), got $scans:\n$p")
    assert(p.contains("LeftSemi"), s"EXISTS legs not semi joins:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q245 Q5 shape: dims broadcast, date predicate pushed, no cartesian") {
    val p = plan("q245_regional_revenue")
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    val pf = p.indexOf("PushedFilters: [")
    assert(pf >= 0 && p.indexOf("o_orderdate", pf) >= 0,
      s"date predicate not pushed to the orders scan:\n$p")
    assert(!p.contains("CartesianProduct"), "local-supply cycle degenerated")
  }

  test("q277 Q21 shape: EXISTS/NOT EXISTS run as semi/anti equi-joins") {
    val p = plan("q277_waiting_orders")
    assert(p.contains("LeftSemi"), s"EXISTS leg not a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS leg not an anti join:\n$p")
    assert(!p.contains("CartesianProduct"),
      "supplier-inequality predicate degenerated to a cartesian")
  }

  test("q317 Q18 shape: one lineitem scan serves HAVING and output sum") {
    val p = plan("q317_q18_big_orders")
    val scans = "FileScan parquet|Scan parquet".r.findAllIn(p).length
    assert(scans == 3,
      s"expected 3 parquet scans (lineitem/orders/customer once each), " +
        s"got $scans:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q318 Q22 shape: scalar broadcast, NOT EXISTS as anti, date pushed") {
    val p = plan("q318_q22_idle_customers")
    assert(p.contains("LeftAnti"), s"NOT EXISTS leg not an anti join:\n$p")
    val scans = "FileScan parquet|Scan parquet".r.findAllIn(p).length
    assert(scans == 1,
      s"expected only the orders scan (customer behind the checkpoint), " +
        s"got $scans:\n$p")
    val rdd = "Scan ExistingRDD".r.findAllIn(p).length
    assert(rdd == 2,
      s"expected scalar + main legs on the checkpointed customers:\n$p")
    val pf = p.indexOf("PushedFilters: [")
    assert(pf >= 0 && p.indexOf("o_orderdate", pf) >= 0,
      s"date predicate not pushed into the anti leg's scan:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q325 Q13 shape: outer join survives, orders pre-aggregated") {
    val p = plan("q325_q13_custdist")
    // the null group is the point of Q13: planning must NOT collapse
    // the left outer into an inner join
    assert(p.contains("LeftOuter"), s"outer join collapsed:\n$p")
    assert(!p.contains("CartesianProduct"))
    // the orders side aggregates to customer grain BELOW the join
    // (children print after their parent): at least the partial+final
    // pair of the per-customer count must appear after the join node
    val ji = p.indexOf("LeftOuter")
    val below = "HashAggregate".r.findAllIn(p.substring(ji)).length
    assert(below >= 2,
      s"orders not pre-aggregated below the outer join:\n$p")
  }

  test("q329 Q16 shape: NOT IN runs as broadcast anti, dims broadcast") {
    val p = plan("q329_q16_supplier_cnt")
    assert(p.contains("LeftAnti"), s"NOT IN leg not an anti join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"part dim / complaint set not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q330 Q15 shape: one lineitem scan feeds both the view and its max") {
    val p = plan("q330_q15_top_supplier")
    val scans = "FileScan parquet|Scan parquet".r.findAllIn(p).length
    assert(scans == 1,
      s"expected only the supplier scan (revenue view behind the " +
        s"checkpoint), got $scans:\n$p")
    val rdd = "Scan ExistingRDD".r.findAllIn(p).length
    assert(rdd == 2,
      s"expected scalar-max + probe legs on the checkpointed view:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"max probe not a broadcast equi-join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q331 Q11 shape: scalar broadcasts over the checkpointed per-part frame") {
    val p = plan("q331_q11_important_parts")
    val scans = "FileScan parquet|Scan parquet".r.findAllIn(p).length
    assert(scans == 0,
      s"expected no parquet scans (per-part frame behind the " +
        s"checkpoint), got $scans:\n$p")
    val rdd = "Scan ExistingRDD".r.findAllIn(p).length
    assert(rdd == 2,
      s"expected scalar + HAVING legs on the checkpointed frame:\n$p")
    assert(!p.contains("CartesianProduct"),
      "the one-row scalar join degenerated to a cartesian")
  }

  test("q333 Q7 shape: nation pair disjunction never degenerates to a cartesian") {
    val p = plan("q333_q7_trade_volume")
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      "the symmetric (n1, n2) disjunction degenerated to a cartesian")
  }

  test("q334 Q19 shape: part-only arm of the OR pushes into the part scan") {
    val p = plan("q334_q19_disjunctive_revenue")
    assert(p.contains("BroadcastHashJoin"), s"part dim not broadcast:\n$p")
    // Catalyst must extract the implied part-side filter from the
    // disjunction and push it to the scan: the part scan's pushed
    // filters must mention p_brand (as an In or Or), not just nulls
    val scanAt = p.indexOf("part.parquet")
    assert(scanAt >= 0, s"no part scan in:\n$p")
    val pf = p.indexOf("PushedFilters: [", scanAt)
    assert(pf >= 0, s"no pushed filters on the part scan:\n$p")
    // toString truncates long filter lists mid-entry — read a bounded
    // window rather than seeking the (possibly absent) closing bracket
    val pushed = p.substring(pf, math.min(p.length, pf + 400))
      .takeWhile(_ != '\n')
    assert(pushed.contains("p_brand"),
      s"part-only arm of the OR not pushed to the part scan: $pushed\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q339 Q4 shape: EXISTS runs as a semi join with both filters pushed") {
    val p = plan("q339_q4_order_priority")
    assert(p.contains("LeftSemi"), s"EXISTS leg not a semi join:\n$p")
    assert(!p.contains("CartesianProduct"))
    // the quarter range reaches the orders scan...
    val oScan = p.indexOf("orders.parquet")
    assert(oScan >= 0, s"no orders scan in:\n$p")
    val oPf = p.indexOf("PushedFilters: [", oScan)
    assert(oPf >= 0 && p.substring(oPf, math.min(p.length, oPf + 400))
        .takeWhile(_ != '\n').contains("o_orderdate"),
      s"order-date range not pushed to the orders scan:\n$p")
    // ...and the lineitem-local problem predicate reaches the fact scan
    val lScan = p.indexOf("lineitem.parquet")
    assert(lScan >= 0, s"no lineitem scan in:\n$p")
    val lPf = p.indexOf("PushedFilters: [", lScan)
    assert(lPf >= 0 && p.substring(lPf, math.min(p.length, lPf + 400))
        .takeWhile(_ != '\n').contains("l_returnflag"),
      s"returnflag predicate not pushed to the lineitem scan:\n$p")
  }

  test("q340 Q8 shape: one fact pass, dims broadcast, no cartesian") {
    val p = plan("q340_q8_market_share")
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    // conditional numerator and denominator fold in ONE aggregation over
    // the joined fact: exactly one partial+final pair, one lineitem scan
    val liScans = "lineitem.parquet".r.findAllIn(p).length
    assert(liScans == 1, s"expected one lineitem scan, got $liScans:\n$p")
  }

  test("q341 Q9 shape: the LIKE filter reaches the part scan") {
    val p = plan("q341_q9_profit")
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    val scanAt = p.indexOf("part.parquet")
    assert(scanAt >= 0, s"no part scan in:\n$p")
    val pf = p.indexOf("PushedFilters: [", scanAt)
    assert(pf >= 0, s"no pushed filters on the part scan:\n$p")
    val pushed = p.substring(pf, math.min(p.length, pf + 400))
      .takeWhile(_ != '\n')
    assert(pushed.contains("p_name"),
      s"p_name LIKE not pushed to the part scan: $pushed\n$p")
  }

  test("q345 Q3 shape: top-10 is a TakeOrdered, both date filters pushed") {
    val p = plan("q345_q3_shipping_priority")
    assert(p.contains("TakeOrderedAndProject"),
      s"q345 top-10 is not a TakeOrdered:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"customer dim not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    def pushed(table: String): String = {
      val at = p.indexOf(s"$table.parquet")
      assert(at >= 0, s"no $table scan in:\n$p")
      val pf = p.indexOf("PushedFilters: [", at)
      assert(pf >= 0, s"no pushed filters on the $table scan:\n$p")
      p.substring(pf, math.min(p.length, pf + 400)).takeWhile(_ != '\n')
    }
    assert(pushed("orders").contains("o_orderdate"),
      s"order-date cutoff not pushed to the orders scan:\n$p")
    assert(pushed("lineitem").contains("l_shipdate"),
      s"ship-date cutoff not pushed to the lineitem scan:\n$p")
  }

  test("q346 Q6 shape: every predicate pushed, map-side partial fold") {
    val p = plan("q346_q6_forecast_revenue")
    val at = p.indexOf("lineitem.parquet")
    assert(at >= 0, s"no lineitem scan in:\n$p")
    val pf = p.indexOf("PushedFilters: [", at)
    assert(pf >= 0, s"no pushed filters:\n$p")
    val pushed = p.substring(pf, math.min(p.length, pf + 500))
      .takeWhile(_ != '\n')
    Seq("l_shipdate", "l_discount", "l_quantity").foreach(c =>
      assert(pushed.contains(c), s"$c not pushed to the scan: $pushed"))
    assert(p.contains("partial_sum"), s"no map-side partial:\n$p")
    assert(!p.contains("Join"), s"Q6 grew a join:\n$p")
  }

  test("q347 Q10 shape: top-20 before the dim join, TakeOrdered, " +
      "broadcast") {
    val p = plan("q347_q10_returned_items")
    assert(p.contains("TakeOrderedAndProject"),
      s"q347 top-20 is not a TakeOrdered:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"20-row top-k not broadcast to the customer side:\n$p")
    assert(!p.contains("CartesianProduct"))
    val at = p.indexOf("lineitem.parquet")
    val pf = p.indexOf("PushedFilters: [", at)
    assert(pf >= 0 && p.substring(pf, math.min(p.length, pf + 400))
        .takeWhile(_ != '\n').contains("l_returnflag"),
      s"returnflag not pushed to the lineitem scan:\n$p")
  }

  test("q348 Q12 shape: fact-local filters pushed, one conditional " +
      "aggregation pass") {
    val p = plan("q348_q12_shipmode_priority")
    assert(!p.contains("CartesianProduct"))
    val at = p.indexOf("lineitem.parquet")
    assert(at >= 0, s"no lineitem scan in:\n$p")
    val pf = p.indexOf("PushedFilters: [", at)
    val pushed = p.substring(pf, math.min(p.length, pf + 500))
      .takeWhile(_ != '\n')
    assert(pushed.contains("l_returnflag") && pushed.contains("l_linestatus"),
      s"fact-local filters not pushed: $pushed")
    val liScans = "lineitem.parquet".r.findAllIn(p).length
    assert(liScans == 1, s"expected one lineitem scan, got $liScans:\n$p")
    assert(p.contains("partial_sum"), s"no map-side partial:\n$p")
  }

  test("q349 Q14 shape: part broadcast, one fact pass, month pushed") {
    val p = plan("q349_q14_promo_revenue")
    assert(p.contains("BroadcastHashJoin"), s"part dim not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    val liScans = "lineitem.parquet".r.findAllIn(p).length
    assert(liScans == 1, s"expected one lineitem scan, got $liScans:\n$p")
    val at = p.indexOf("lineitem.parquet")
    val pf = p.indexOf("PushedFilters: [", at)
    assert(pf >= 0 && p.substring(pf, math.min(p.length, pf + 400))
        .takeWhile(_ != '\n').contains("l_shipdate"),
      s"month range not pushed to the lineitem scan:\n$p")
  }

  test("q147 drift: histogram counts aggregate with map-side partials") {
    val p = plan("q147_histogram_drift")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"q147 histogram lost its map-side combine:\n$p")
    assert(!p.contains("row_number"),
      s"q147 grew a rank window over row-grain data:\n$p")
  }
}
