package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-engine BPE tokenizer TRAINING — the other trainable artifact of a
  * data pipeline beside [[Train]]'s quality probe: learn the merge
  * table from the corpus itself, inside the engine, so tokenizer
  * vocabulary induction runs where the corpus lives.
  *
  * The classic algorithm (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units"): start from
  * characters, repeatedly count adjacent symbol pairs ACROSS THE WORD
  * VOCABULARY (weighted by word frequency — never the raw corpus) and
  * merge the most frequent pair everywhere. The word-count table is the
  * sufficient statistic: Zipf-small relative to tokens, so each
  * iteration is a vocab-grain aggregation no matter how big the corpus
  * that produced it — the one corpus-scale pass is the initial word
  * count.
  *
  * Representation: a word is its SPACED form "␣␣c1␣␣c2␣␣…␣␣cN␣␣" —
  * tokens separated (and bounded) by double spaces. A merge of pair
  * (l, r) is then the literal string replacement "␣l␣␣r␣" → "␣lr␣",
  * whose left-to-right non-overlapping scan IS greedy BPE application
  * (overlaps like "a a a" merge the leftmost pair only, because the
  * match consumes one space of the next boundary) — one engine-portable
  * primitive both Spark's `replace` and any SQL engine's `replace`
  * execute identically, which is what makes a fixed-iteration trainer
  * run differentially gateable.
  *
  * TRAINING SCALE (round-8 rewrite): the trainer is INCREMENTAL — pair
  * counts are maintained as a persisted frame plus per-round deltas,
  * and each round rewrites ONLY the words that contain the winning
  * pair (a map-side `contains` filter; everything else passes through
  * untouched). Per-round SHUFFLE therefore tracks the affected-word
  * count, not the vocabulary: the only full-vocab work between
  * compactions is a columnar map-side scan (the contains filter) and,
  * every `compactEvery` rounds, one re-materialization that folds the
  * accumulated deltas and cuts the union lineage. The pre-rewrite
  * trainer re-exploded and re-shuffled EVERY adjacent position of
  * EVERY word EVERY round — O(vocab tokens) shuffle per merge — which
  * is why it was capped at 64 merges; this one runs thousands.
  *
  * Determinism: pair counts are exact integer sums; the winning pair is
  * (max count, then lexicographically smallest left, then right) — a
  * total order, so ties cannot make two engines learn different
  * tokenizers. Tokens must stay space-free: [[wordCounts]] restricts
  * the alphabet to [a-z0-9]+.
  */
object Bpe {

  /** The corpus-scale pass: lowercase [a-z0-9]+ word frequencies. One
    * explode + one groupBy; everything downstream is vocab-grain.
    */
  // r13: a spread-before-fold here was MEASURED AND REVERTED — the
  // per-batch text shuffle cost q289 +0.7 s while the benched batch BPE
  // queries were flat (their wall is the merge rounds, not this fold);
  // the map-side partial agg already shrinks the shuffle to vocab grain.
  def wordCounts(df: DataFrame, text: Column): DataFrame = df
    .select(explode(split(lower(text), "[^a-z0-9]+")).as("word"))
    .filter(col("word") =!= "")
    .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** A word column in spaced form: "  c  h  a  r  s  ". */
  private def spaced(word: Column): Column =
    concat(lit(" "), regexp_replace(word, "(.)", " $1 "), lit(" "))

  /** Adjacent-pair frame (l, r, weighted count) of a spaced vocab. Every
    * adjacent position counts (runs like "aaa" contribute both (a,a)
    * positions) — the standard counting rule; only the MERGE is
    * greedy-non-overlapping.
    */
  private def rawPairs(voc: DataFrame): DataFrame = {
    val toks = voc.select(col("__n"),
      split(trim(col("__w")), "  ").as("__t"))
    toks
      .select(col("__n"),
        slice(col("__t"), lit(1), size(col("__t")) - 1).as("__a"),
        slice(col("__t"), lit(2), size(col("__t")) - 1).as("__b"))
      .select(col("__n"),
        explode(arrays_zip(col("__a"), col("__b"))).as("__pr"))
      .select(col("__n"), col("__pr").getField("__a").as("__l"),
        col("__pr").getField("__b").as("__r"))
  }

  private def pairCounts(voc: DataFrame): DataFrame =
    rawPairs(voc)
      .groupBy(col("__l"), col("__r")).agg(sum(col("__n")).as("__c"))

  /** Train `iters` merges over a (word, count) vocabulary. Returns the
    * merge table (ord, left, right, merged, pair_count) in learn order —
    * the tokenizer artifact [[encodeSpaced]] / [[encode]] applies. The
    * driver holds only the per-round winning pair (the iterative-driver
    * scalar pattern). Stops early when no pair occurs twice.
    *
    * Incremental round structure (the affected-words device):
    *  1. winner = argmax over (persisted pair frame + pending deltas) —
    *     a map-side-combined aggregation into a TakeOrdered(1);
    *  2. `affected` = words containing the literal "␣l␣␣r␣" — ONE
    *     map-side contains filter, checkpointed (it seeds both delta
    *     legs and the vocab union; an uncut lineage would re-run the
    *     filter chain per consumer per round);
    *  3. pair deltas = +pairs(rewritten affected) − pairs(affected) —
    *     shuffle bounded by affected words, NOT the vocab;
    *  4. vocab = (vocab minus affected) ∪ rewritten — lazy map-side
    *     union, so untouched words are never rewritten or shuffled.
    * Every `compactEvery` rounds both frames fold and re-materialize
    * (cutting lineage and retiring the interim checkpoints); the cost
    * of that one vocab-grain map-side pass amortizes across the window.
    *
    * Exactness of the delta law: a pair's adjacency in the token list
    * is EXACTLY the literal "␣l␣␣r␣" in the spaced form, so the
    * affected filter captures every word whose pair multiset changes,
    * and +new−old over just those words reproduces the full recount —
    * bit-identical to the pre-rewrite full-scan trainer (q266's oracle
    * pins that on the 6-merge prefix; q282 at 256 merges).
    */
  def bpeMerges(words: DataFrame, word: Column, cnt: Column,
                iters: Int, compactEvery: Int = 16): DataFrame = {
    require(iters >= 1 && iters <= 8192,
      s"iters must be in [1, 8192], got $iters")
    require(compactEvery >= 1 && compactEvery <= 256,
      s"compactEvery must be in [1, 256], got $compactEvery")
    val s = words.sparkSession
    import s.implicits._
    var voc = words
      .select(spaced(word).as("__w"), cnt.cast("long").as("__n"))
      .localCheckpoint()
    var pc = pairCounts(voc).localCheckpoint()
    // checkpoints superseded at the NEXT compaction (the lazy plans
    // reference them until the fold re-materializes)
    var retired = List.empty[DataFrame]
    var live = List(voc, pc)
    val learned = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var it = 0
    var dry = false
    var sinceCompact = 0
    while (it < iters && !dry) {
      val top = pc.groupBy(col("__l"), col("__r"))
        .agg(sum(col("__c")).as("__c"))
        .filter(col("__c") >= 2L)
        .orderBy(col("__c").desc, col("__l").asc, col("__r").asc)
        .limit(1).collect()
      if (top.isEmpty) dry = true
      else {
        val (l, r, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        require(l.matches("[a-z0-9]+") && r.matches("[a-z0-9]+"),
          s"tokens must be space-free [a-z0-9]+, got '$l'/'$r'")
        learned += ((it, l, r, l + r, c))
        val pat = s" $l  $r "
        // coalesce BEFORE the checkpoint: a filter preserves its
        // parent's partitioning, and the vocab union re-adds the
        // rewritten partitions each round, so without the bound the
        // partition count DOUBLES per round (2^iters tasks by round 15
        // — measured; the scan itself still runs at full parallelism,
        // coalesce only merges its output)
        val par = math.max(1, s.sparkContext.defaultParallelism)
        val affected = voc.filter(col("__w").contains(pat))
          .coalesce(par)
          .localCheckpoint()
        live ::= affected
        val rewritten = affected.withColumn("__w",
          replace(col("__w"), lit(pat), lit(s" ${l + r} ")))
        // ONE materialized frame per round for the pair delta (+new
        // −old folded through a single affected-grain shuffle): the
        // next rounds' argmax then aggregates over CHECKPOINTED leaves
        // only. Keeping the two delta legs lazy instead re-executes
        // every prior round's explode+shuffle inside every argmax —
        // the quadratic re-execution that motivated this structure.
        val delta = rawPairs(rewritten)
          .unionByName(rawPairs(affected).withColumn("__n", -col("__n")))
          .groupBy(col("__l"), col("__r")).agg(sum(col("__n")).as("__c"))
          .filter(col("__c") =!= 0L)
          .localCheckpoint()
        live ::= delta
        pc = pc.unionByName(delta)
        voc = voc.filter(!col("__w").contains(pat)).unionByName(rewritten)
        sinceCompact += 1
        if (sinceCompact >= compactEvery) {
          voc = voc.coalesce(math.max(1, s.sparkContext.defaultParallelism))
            .localCheckpoint()
          pc = pc.groupBy(col("__l"), col("__r"))
            .agg(sum(col("__c")).as("__c"))
            .filter(col("__c") > 0L)
            .localCheckpoint()
          retired.foreach(_.unpersist())
          retired = live
          live = List(voc, pc)
          sinceCompact = 0
        }
        it += 1
      }
    }
    val out = learned.toSeq.toDF("ord", "left", "right", "merged",
      "pair_count")
    retired.foreach(_.unpersist())
    live.foreach(_.unpersist())
    out
  }

  /** Apply a FIXED merge table (the shipped tokenizer artifact) to a
    * WORD column ([a-z0-9]+ — tokenize/normalize upstream): spaced-form
    * replaces in learn order — one map-side expression chain, codegen'd,
    * zero shuffles; the corpus-scale serving leg. Returns the token
    * ARRAY column.
    *
    * The chain builds one expression node per merge, so it is the
    * right serving shape up to a few hundred merges (and the one a SQL
    * oracle replays literally); a production-depth artifact (30k
    * merges) would build a 30k-deep codegen tree — serve those through
    * [[encode]], whose single expression walks the whole table with a
    * rank map and is proven bit-identical on rank-consistent tables.
    */
  def encodeSpaced(word: Column, merges: Seq[(String, String)]): Column = {
    merges.foreach { case (l, r) =>
      require(l.matches("[a-z0-9]+") && r.matches("[a-z0-9]+"),
        s"merge tokens must be [a-z0-9]+, got '$l'/'$r'")
    }
    val folded = merges.foldLeft(spaced(word)) { case (acc, (l, r)) =>
      replace(acc, lit(s" $l  $r "), lit(s" ${l + r} "))
    }
    split(trim(folded), "  ")
  }

  /** Apply a FIXED merge table of ANY depth to a word column — the
    * production serving leg for trained artifacts too deep for
    * [[encodeSpaced]]'s literal chain: ONE native expression
    * ([[graft.functions.BpeEncode]]) holding the whole table as a
    * pair→ranks map, so a 30k-merge tokenizer costs one plan node
    * instead of a 30k-deep codegen tree. The expression EXACTLY
    * simulates the learn-order replace chain (pass-pointer jumps over
    * no-op passes — see [[graft.functions.BpeCodec.encode]]), so it is
    * bit-identical to [[encodeSpaced]] on ANY table; q283 gates that
    * against a trained table's training trace.
    */
  def encode(word: Column, merges: Seq[(String, String)]): Column =
    graft.functions.BpeEncode.of(word, merges)
}
