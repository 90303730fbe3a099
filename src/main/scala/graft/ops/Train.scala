package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
// DuckDB-exact rounding shadow for every round() call site (Readout)
import graft.Readout.round

/** In-engine model training — the "quality classifier" leg of a
  * training-data pipeline: fit a small linear probe over cheap document
  * features entirely inside the engine, so corpus-scale filtering
  * decisions (keep/drop by predicted quality) never leave Spark.
  *
  * The design constraint that shapes everything here is the repo's
  * differential gate: every arithmetic step must be REPLAYABLE by
  * another engine bit-for-bit. That rules out `exp` (libm divergence —
  * the q106 measurement banned `log`/`exp` from gate paths), so the
  * link function is the ELLIOTT sigmoid `σ(z) = ½(1 + z/(1+|z|))` — the
  * classic rational squashing function: same shape, σ(0)=½, strictly
  * monotone, and composed ONLY of IEEE add/mul/div/abs, which are
  * exactly-rounded and therefore identical in every IEEE-754 engine.
  * Gradient sums ride the repo's decimal(28,18) order-free device
  * (pageRank's discipline), and each weight update is rounded with the
  * DuckDB-exact readout, so a fixed-iteration unrolled SQL oracle lands
  * on the SAME weight bits.
  *
  * Scale shape per iteration: ONE map-side pass over the feature frame
  * (the z/σ/residual expressions are codegen'd projections) into a
  * single all-columns aggregation — shuffle is one row per partition
  * (the partial gradient), driver state is the weight vector (a few
  * doubles), exactly the iterative-driver scalar pattern the graph
  * family uses. No step depends on row count beyond the linear scan, so
  * the loop costs `iters` corpus scans at ANY scale — at 100 TB you
  * train on a stratified sample ([[Sampling.stratifiedSample]]) and
  * SCORE the corpus with the one-pass [[linearProbeScore]].
  */
object Train {

  /** Fit weights by `iters` rounds of full-batch gradient descent from
    * w = 0, update `w_j ← rd(w_j + rate·Σᵢ(yᵢ−pᵢ)·xᵢⱼ / n, 12)`.
    * `features` are (name, column) pairs; pass `lit(1.0)` for the bias.
    * Labels must be 0/1 (cast to double). Returns the weight vector
    * driver-side — the scalar state of the iteration, like
    * [[Graph]]'s per-round tolerance read. An EMPTY frame returns the
    * all-zero init (the empty law: no evidence, no update).
    *
    * Determinism: z and the per-row gradient terms are fixed-shape IEEE
    * expression trees over exactly-represented inputs (integer-valued
    * features, 12-dp-rounded weights); per-feature gradient sums cast to
    * decimal(28,18) so partition order cannot move a bit; the update's
    * divide-then-round matches the oracle's `round(w + rate*g/n, 12)`.
    *
    * Cost contract at corpus scale: each iteration is ONE full scan of
    * `df` (the localCheckpoint'd feature frame), so `iters` iterations
    * cost `iters` scans — fit on a labeled/held-out SAMPLE sized to a
    * few scans' budget (the [[naiveBayesModel]] "train on a labeled
    * sample, score the corpus" statement applies verbatim to this whole
    * GD family, [[plattFit]] included) and push only the one-pass
    * [[linearProbeScore]]/[[plattApply]] legs over the full corpus.
    */
  def linearProbeWeights(df: DataFrame, label: Column,
                         features: Seq[(String, Column)],
                         iters: Int, rate: Double): Seq[(String, Double)] = {
    require(features.nonEmpty, "at least one feature required")
    require(iters >= 0 && iters <= 64, s"iters must be in [0,64], got $iters")
    val names = features.map(_._1)
    val feats = Dedup.spread(df)
      .select(label.cast("double").as("__y") +:
        features.map { case (n, c) => c.cast("double").as(n) }: _*)
      .localCheckpoint() // scanned once per iteration
    var w = Array.fill(names.size)(0.0d)
    var it = 0
    while (it < iters) {
      val z = names.zip(w).map { case (n, wj) => lit(wj) * col(n) }
        .reduce(_ + _)
      val p = lit(0.5d) * (lit(1.0d) + z / (lit(1.0d) + abs(z)))
      val resid = (col("__y") - p).as("__r")
      val grads = names.map(n =>
        sum((col("__r") * col(n)).cast("decimal(28,18)"))
          .cast("double").as(s"__g_$n"))
      val aggExprs = count(lit(1)).as("__n") +: grads
      val agg = feats.select(col("__y") +: names.map(col) :+ resid: _*)
        .agg(aggExprs.head, aggExprs.tail: _*)
      val updated = agg.select(names.zip(w).map { case (n, wj) =>
        when(col("__n") === 0L, lit(wj))
          .otherwise(round(lit(wj) + lit(rate) * col(s"__g_$n") /
            col("__n").cast("double"), 12)).as(n)
      }: _*).head()
      w = names.indices.map(updated.getDouble).toArray
      it += 1
    }
    names.zip(w)
  }

  /** [[linearProbeWeights]] as a gateable frame: one (feature, weight)
    * row per feature, in feature order (`ord` carries it through the
    * driver's name-sorted compare).
    */
  def linearProbe(df: DataFrame, label: Column,
                  features: Seq[(String, Column)],
                  iters: Int, rate: Double): DataFrame = {
    val w = linearProbeWeights(df, label, features, iters, rate)
    val s = df.sparkSession
    import s.implicits._
    w.zipWithIndex.map { case ((n, wj), i) => (i, n, wj) }
      .toDF("ord", "feature", "weight")
  }

  /** Score rows with a fitted probe: the SAME z/σ expression tree the
    * trainer used (so train-time and serve-time probabilities cannot
    * drift), as a one-pass map-side projection — this is the leg that
    * runs over the FULL corpus. Returns the input plus
    * (score = σ(z) rounded 9, predicted = score ≥ ½).
    */
  def linearProbeScore(df: DataFrame, features: Seq[(String, Column)],
                       weights: Seq[(String, Double)]): DataFrame = {
    require(features.map(_._1) == weights.map(_._1),
      s"feature/weight name mismatch: ${features.map(_._1)} vs ${weights.map(_._1)}")
    val z = features.zip(weights).map { case ((_, c), (_, wj)) =>
      lit(wj) * c.cast("double")
    }.reduce(_ + _)
    val p = lit(0.5d) * (lit(1.0d) + z / (lit(1.0d) + abs(z)))
    df.withColumn("score", round(p, 9))
      .withColumn("predicted", (col("score") >= lit(0.5d)).cast("int"))
  }

  /** Bradley–Terry preference fitting — per-ENTITY latent scores from
    * pairwise outcomes ("annotators preferred completion A over B",
    * "document A beat B in a quality duel"): the aggregation a
    * preference pipeline runs over its comparison log before any
    * downstream selection. Unlike [[linearProbeWeights]] (a fixed
    * feature vector in the driver), scores live in a FRAME — items can
    * number in the millions; each iteration is two equi-joins of the
    * pair log against the score frame plus one item-grain gradient
    * aggregation, the join-based-Pregel shape the graph family uses.
    *
    * Model: P(w beats l) = σ(s_w − s_l) with the ELLIOTT sigmoid
    * (rational IEEE only — [[linearProbeWeights]]'s libm ban), fit by
    * `iters` rounds of gradient ascent from s = 0:
    * `s_i ← rd(s_i + rate·g_i/n_i, 12)` where `g_i = Σ_{i wins}(1−p) −
    * Σ_{i loses}(1−p)` and `n_i` is the item's pair count. Gradient
    * sums ride decimal(28,18) (order-free); updates round through the
    * DuckDB-exact readout, so a fixed-iteration unrolled SQL oracle
    * lands on the same score bits. Scores are identified up to a
    * shared shift (the model only sees differences) — the zero init
    * pins the gauge deterministically.
    *
    * Returns (item, score, n_wins, n_losses), one row per distinct
    * item in the pair log. Each round localCheckpoints the score frame
    * (lineage, and hence re-scoring, cannot grow with rounds).
    */
  def bradleyTerryScores(pairs: DataFrame, winner: Column, loser: Column,
                         iters: Int, rate: Double,
                         scoreJoinHint: String = ""): DataFrame = {
    require(iters >= 0 && iters <= 64, s"iters must be in [0,64], got $iters")
    // checkpoint the PROJECTION, filter above the materialized strings:
    // filtering before the checkpoint lets Catalyst push the predicate
    // below the projection, re-inlining the caller's winner/loser
    // expressions into isNotNull/=!= — an expensive derivation (q286's
    // md5 duel draw) then evaluates ~6× per row on the pre-spread
    // partitions (measured 66 s vs 12 s at sf0.1). Above an RDD leaf
    // the filter is a trivial string compare per round read.
    // r14: the r13 pair-log co-location (checkpointPartitionedBy on __w)
    // is reverted — it double-materialized and fully shuffled the pair
    // log at setup to pre-partition a join leg whose other side (the
    // item-grain score frame) broadcasts or shuffle-hashes cheaply every
    // round anyway; measured 5.7 → 34.6 s on q286 at local[32]. A plain
    // localCheckpoint of the projection is the right shape.
    val pl = Dedup.spread(pairs)
      .select(winner.cast("string").as("__w"), loser.cast("string").as("__l"))
      .localCheckpoint() // read every round
      .filter(col("__w").isNotNull && col("__l").isNotNull &&
        col("__w") =!= col("__l"))
    val tallies = pl
      .select(col("__w").as("item"), lit(1L).as("__win"))
      .unionByName(pl.select(col("__l").as("item"), lit(0L).as("__win")))
      .groupBy(col("item"))
      .agg(sum(col("__win")).as("n_wins"),
        sum(lit(1L) - col("__win")).as("n_losses"))
      .localCheckpoint()
    // r13: the per-item pair count rides ON the score frame (attached
    // once) — the update divides by it every round, and re-joining the
    // never-changing tallies per round was an avoidable item-grain join;
    // the update arithmetic tree is unchanged (same long sum cast double)
    var scores = tallies.select(col("item"), lit(0.0d).as("score"),
      (col("n_wins") + col("n_losses")).as("__n")).localCheckpoint()
    var it = 0
    while (it < iters) {
      // at true item cardinality the score frame outgrows broadcast and
      // the rounds become shuffle equi-joins on the item key; q286 pins
      // that shape with scoreJoinHint = "shuffle_hash" (the config-
      // pinned fact-fact idiom) and measures it idle — q276's 20-item
      // table legitimately broadcasts, so the default stays unhinted
      def hinted(df: DataFrame): DataFrame =
        if (scoreJoinHint.isEmpty) df else df.hint(scoreJoinHint)
      val sw = hinted(
        scores.select(col("item").as("__w"), col("score").as("__sw")))
      val sl = hinted(
        scores.select(col("item").as("__l"), col("score").as("__sl")))
      val z = col("__sw") - col("__sl")
      val oneMinusP =
        lit(1.0d) - lit(0.5d) * (lit(1.0d) + z / (lit(1.0d) + abs(z)))
      // ONE pass over the joined pair log: each pair contributes
      // (+g to the winner, −g to the loser) via a 2-wide explode — a
      // union of two selects would recompute the joins twice
      val grads = pl.join(sw, "__w").join(sl, "__l")
        .withColumn("__g", oneMinusP)
        .select(explode(array(
          struct(col("__w").as("item"), col("__g").as("__gv")),
          struct(col("__l").as("item"), (-col("__g")).as("__gv"))))
          .as("__e"))
        .select(col("__e.item").as("item"),
          col("__e.__gv").cast("decimal(28,18)").as("__gc"))
        .groupBy(col("item"))
        .agg(sum(col("__gc")).cast("double").as("__grad"))
      val next = scores.join(grads, Seq("item"), "left")
        .select(col("item"),
          when(col("__grad").isNull, col("score"))
            .otherwise(round(col("score") + lit(rate) * col("__grad") /
              col("__n").cast("double"), 12))
            .as("score"), col("__n"))
        .localCheckpoint()
      scores.unpersist()
      scores = next
      it += 1
    }
    scores.join(tallies, Seq("item"))
      .select(col("item"), col("score"), col("n_wins"), col("n_losses"))
  }

  /** Training-fit readout for a fitted probe: one row of
    * (n, n_correct, accuracy, mean_abs_resid), decimal-summed and
    * readout-rounded. `accuracy` counts `σ(z) ≥ ½` as predicting 1.
    */
  def linearProbeEval(df: DataFrame, label: Column,
                      features: Seq[(String, Column)],
                      weights: Seq[(String, Double)]): DataFrame = {
    val scored = linearProbeScore(df, features, weights)
      .select(label.cast("double").as("__y"), col("score"),
        col("predicted"))
    scored.agg(count(lit(1)).as("n"),
        sum(when(col("predicted").cast("double") === col("__y"), 1L)
          .otherwise(0L)).as("n_correct"),
        sum(abs(col("__y") - col("score")).cast("decimal(28,18)"))
          .as("__sr"))
      .select(col("n"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n").cast("double"), 6)
          .as("accuracy"),
        round(col("__sr").cast("double") / col("n").cast("double"), 6)
          .as("mean_abs_resid"))
  }

  // ———————————————————————————————————————————————— Platt calibration

  /** Platt scaling — fit the 2-parameter recalibration map
    * `p_cal = σ(A·score + B)` on a held-out (score, label) frame: THE
    * standard post-hoc fix for a filter model whose ranking is good but
    * whose probabilities aren't (the reliability-bin diagnosis
    * [[Eval.reliabilityBins]] makes). Exactly a 2-feature
    * [[linearProbeWeights]] run (bias + the raw score), so it inherits
    * the whole determinism contract: Elliott sigmoid (no libm),
    * decimal(28,18) gradient sums, 12-dp readout-rounded updates — a
    * fixed-iteration unrolled SQL oracle lands on the same (A, B) bits.
    * Returns weights in the order (bias = B, score = A).
    *
    * Scale note: inherits [[linearProbeWeights]]' one-scan-per-iteration
    * cost, so calibration fits on a HELD-OUT SAMPLE of the scored frame
    * (Platt's own prescription — the map has 2 parameters; thousands of
    * rows saturate it), never on the full scored corpus; the fitted map
    * then applies corpus-wide as the stateless [[plattApply]] projection.
    */
  def plattFit(df: DataFrame, score: Column, label: Column,
               iters: Int, rate: Double): Seq[(String, Double)] =
    linearProbeWeights(df, label,
      Seq("bias" -> lit(1.0d), "score" -> score), iters, rate)

  /** Apply a [[plattFit]] map: `cal_score = rd(σ(B + A·s), 9)` as a pure
    * map-side projection (the serve leg — corpus-linear, stateless).
    */
  def plattApply(score: Column,
                 weights: Seq[(String, Double)]): Column = {
    require(weights.map(_._1) == Seq("bias", "score"),
      s"expected (bias, score) weights, got ${weights.map(_._1)}")
    val z = lit(weights(0)._2) + lit(weights(1)._2) * score.cast("double")
    round(lit(0.5d) * (lit(1.0d) + z / (lit(1.0d) + abs(z))), 9)
  }

  // ——————————————————————————————————————————— multinomial Naive Bayes

  /** Multinomial Naive Bayes over whitespace tokens — the fastText-shaped
    * bag-of-words text classifier every curation stack trains first (the
    * CCNet/GPT-3 "model-based quality filter" and the classic supervised
    * language identifier): per class c and vocab token t, the
    * Laplace-smoothed log-likelihood `ln((cnt(c,t)+1)/(tokens(c)+V))`,
    * plus the log-prior `ln(docs(c)/docs)`. Training is pure counting —
    * ONE token-grain shuffle with map-side combine over the labeled set
    * (at 100 TB you train on a labeled sample and score the corpus; both
    * legs below are corpus-size-linear) — so unlike the GD probes there
    * is no iteration at all: the sufficient statistic IS the model.
    *
    * Determinism: counts are integers; each ln lands on a double ratio of
    * exactly-represented integers and is rounded to 9 decimals before any
    * summation (the PMI/entropy gate idiom — rounding absorbs the ≤1-ulp
    * libm spread measured in [[TextAnalysis]]), so a SQL oracle replays
    * the model bit-for-bit.
    *
    * Returns the (class × vocab) model frame
    * `(class, token, logp, prior)` — a class-absent token carries the
    * smoothed floor `ln(1/(tokens(c)+V))`, so scoring is a single inner
    * equi-join with no OOV branch. Rows: C·V (C = #classes, V = vocab
    * after the `minCount` floor — the lever that bounds model size on a
    * web-scale vocab; df-style flooring is what fastText's `-minCount`
    * does).
    */
  def naiveBayesModel(train: DataFrame, label: Column, text: Column,
                      minCount: Int = 1): DataFrame =
    naiveBayesFromState(naiveBayesState(train, label, text), minCount)

  /** [[naiveBayesModel]] over a caller-chosen feature array instead of
    * the default whitespace tokens — the featurization axis: pass
    * [[graft.functions.charNgrams]] for language ID (q338),
    * [[graft.functions.wordShingles]] for phrase models, etc. The
    * model/state/score algebra (counts, Laplace grid, merge law,
    * argmax) is featurization-independent, so every chain law proven
    * for word tokens holds verbatim.
    */
  def naiveBayesModelTokens(train: DataFrame, label: Column, toks: Column,
                            minCount: Int = 1): DataFrame =
    naiveBayesFromState(naiveBayesStateTokens(train, label, toks), minCount)

  /** The MERGEABLE sufficient statistic behind [[naiveBayesModel]]: one
    * frame of (kind, class, token, cnt) rows — `kind = 'tok'` carries
    * the (class, token) occurrence counts, `kind = 'doc'` the per-class
    * document counts (token = ''). Pure integer counts, so
    * state(A ∪ B) = merge(state(A), state(B)) EXACTLY (the KMV/CMS
    * merge-law discipline) — which is what lets the streamed twin fold
    * batches forever and train the identical model from state.
    */
  def naiveBayesState(train: DataFrame, label: Column,
                      text: Column): DataFrame =
    naiveBayesStateTokens(train, label, graft.functions.tokens(text))

  /** [[naiveBayesState]] over a caller-supplied feature ARRAY column
    * (see [[naiveBayesModelTokens]]) — same (kind, class, token, cnt)
    * sufficient statistic, same exact merge law.
    */
  def naiveBayesStateTokens(train: DataFrame, label: Column,
                            toks: Column): DataFrame = {
    val base = Dedup.spread(train)
      .select(label.cast("string").as("class"), toks.as("__toks"))
      .filter(col("class").isNotNull)
      .localCheckpoint() // feeds token counts and doc counts
    val tok = base
      .select(col("class"), explode(col("__toks")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("class"), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .select(lit("tok").as("kind"), col("class"), col("token"), col("cnt"))
    val doc = base.groupBy(col("class"))
      .agg(count(lit(1)).as("cnt"))
      .select(lit("doc").as("kind"), col("class"), lit("").as("token"),
        col("cnt"))
    tok.unionByName(doc)
  }

  /** Exact merge of two [[naiveBayesState]] frames — integer count sums
    * on the (kind, class, token) key; associative and commutative.
    */
  def naiveBayesMergeStates(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("kind"), col("class"), col("token"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Train the (class × vocab) model from a sufficient-statistic frame —
    * the closed-form step (no corpus access): vocab floor, class token
    * totals, document priors and the Laplace grid all derive from the
    * counts. `naiveBayesModel = naiveBayesFromState ∘ naiveBayesState`
    * by construction, so a state maintained incrementally over batches
    * trains the bit-identical model (q313 gates this against q301's
    * batch oracle verbatim).
    */
  def naiveBayesFromState(state: DataFrame, minCount: Int = 1): DataFrame = {
    require(minCount >= 1, s"minCount must be ≥ 1, got $minCount")
    val st = state.localCheckpoint() // read by counts and doc rows
    val counts = st.filter(col("kind") === "tok")
      .select(col("class"), col("token"), col("cnt").as("__cnt"))
      .localCheckpoint() // feeds vocab, class totals and the grid join
    // vocab floor on the CORPUS count (sum over classes), then V
    val vocab = counts.groupBy(col("token"))
      .agg(sum(col("__cnt")).as("__tot"))
      .filter(col("__tot") >= minCount)
      .select(col("token"))
      .localCheckpoint() // read by the grid and the V scalar
    val vSize = vocab.agg(count(lit(1)).as("__v"))
    // class priors over DOCUMENT counts (not token counts)
    val docs = st.filter(col("kind") === "doc")
      .select(col("class"), col("cnt").as("__docs"))
    val nDocs = docs.agg(sum(col("__docs")).as("__n"))
    // class token totals over the RETAINED vocab only (standard
    // multinomial NB drops pruned counts): with minCount > 1 the Laplace
    // denominator tokens(c)+V must not keep vocab-floored token mass, or
    // the smoothed probabilities over the retained vocab stop summing
    // to 1 (Round10OpsSpec pins the mass law at minCount = 2; at the
    // gated minCount = 1 the join is the identity)
    val classTok = counts.join(vocab, Seq("token"))
      .groupBy(col("class"))
      .agg(sum(col("__cnt")).as("__ctok"))
    val classes = docs.join(classTok, Seq("class"), "left")
      .na.fill(0L, Seq("__ctok"))
      .crossJoin(broadcast(nDocs)).crossJoin(broadcast(vSize))
      .select(col("class"), col("__docs"), col("__ctok"), col("__v"),
        round(log(col("__docs").cast("double") / col("__n").cast("double")),
          9).as("prior"))
    // the full class × vocab grid: a broadcast of the (small) class list
    // against the vocab — absent (class, token) pairs take the floor
    vocab.crossJoin(broadcast(classes))
      .join(counts, Seq("class", "token"), "left")
      .select(col("class"), col("token"),
        round(log((coalesce(col("__cnt"), lit(0L)) + lit(1L)).cast("double") /
          (col("__ctok") + col("__v")).cast("double")), 9).as("logp"),
        col("prior"))
  }

  /** Score documents against a [[naiveBayesModel]]: explode tokens, inner
    * equi-join the model on the token key (vocab-absent tokens drop, the
    * standard multinomial treatment), per (doc, class) decimal-sum the
    * rounded log-likelihood terms plus the prior, keep the argmax class
    * (ties broken by class name — deterministic). A document with NO
    * in-vocab tokens falls back to the max-prior class (same
    * tie-break), flagged `in_vocab = false`.
    *
    * Scale shape: the token→model join co-partitions on the token key
    * (the unigramLmScore plan) and the model frame broadcasts whenever
    * C·V fits the threshold; everything else is one (doc, class)-grain
    * aggregation and one doc-grain argmax — corpus-linear, stateless,
    * which is why the streamed twin can reuse this verbatim per batch.
    */
  def naiveBayesScore(df: DataFrame, id: Column, text: Column,
                      model: DataFrame): DataFrame =
    naiveBayesScoreTokens(df, id, graft.functions.tokens(text), model)

  /** [[naiveBayesScore]] over a caller-supplied feature ARRAY column —
    * score with the SAME featurization the model was trained on (see
    * [[naiveBayesModelTokens]]); mixing featurizations silently drops
    * every feature to OOV.
    */
  def naiveBayesScoreTokens(df: DataFrame, id: Column, featToks: Column,
                            model: DataFrame): DataFrame = {
    // r14: pre-aggregate the term frequency per (doc, token) BEFORE the
    // model join — the join then fans out C model rows per DISTINCT
    // (doc, token) instead of per occurrence, and the likelihood sums
    // `tf · logp` in exact decimal, which equals the old occurrence-wise
    // repeated addition bit-for-bit (decimal(28,12) arithmetic is exact
    // at these magnitudes; sum of tf identical terms IS the product).
    // Guide §2.3 "aggregate before you shuffle" applied to a join fan-out:
    // char-gram featurizations repeat grams heavily per doc, so the
    // decimal-sum and join-probe work drops by the repeat factor.
    val toks = Dedup.spread(df)
      .select(id.as("doc_id"), explode(featToks).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("__tf"))
    // type discipline: decimal(18,12) × decimal(19,0) → decimal(38,12)
    // with NO precision-overflow scale reduction (28,12 × a bare long
    // would overflow precision 38 and Spark would round the product's
    // scale down to 6 — measured as a 1e-6-level drift on q302). |logp|
    // < 50 fits 6 integer digits; tf fits 19 digits at any scale.
    val scores = toks.join(model, Seq("token"))
      .groupBy(col("doc_id"), col("class"))
      .agg(sum(col("logp").cast("decimal(18,12)") *
          col("__tf").cast("decimal(19,0)")).as("__ll"),
        min(col("prior")).as("__prior"))
      .select(col("doc_id"), col("class"),
        round(col("__ll").cast("double") + col("__prior"), 9).as("__score"))
    // r14: per-doc argmax as min over (−score, class) structs — the
    // lexicographic struct MIN reproduces (score DESC, class ASC) exactly
    // on the unique (doc, class) rows and is a DeclarativeAggregate with
    // map-side partials, replacing the row_number window's full sort
    // (scores are finite and never NaN: rounded sums of finite logs).
    val best = scores
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("__score")).as("ns"), col("class").as("c")))
        .as("__b"))
      .select(col("doc_id"), col("__b").getField("c").as("__pred"),
        (-col("__b").getField("ns")).as("__s"))
    // prior-only fallback for docs with zero in-vocab tokens
    val fallback = model.select(col("class"), col("prior")).distinct()
      .orderBy(col("prior").desc, col("class").asc).limit(1)
      .select(col("class").as("__fb"), col("prior").as("__fbs"))
    df.select(id.as("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .crossJoin(broadcast(fallback))
      .select(col("doc_id"),
        coalesce(col("__pred"), col("__fb")).as("pred_class"),
        coalesce(col("__s"), col("__fbs")).as("score"),
        col("__pred").isNotNull.as("in_vocab"))
  }

  /** DoReMi-lite domain reweighting (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    * turn per-domain proxy losses into a training-mixture weight per
    * domain — domains with EXCESS loss over the cross-domain reference
    * get upweighted multiplicatively, then the whole mixture is smoothed
    * toward uniform. The full algorithm alternates proxy-model training
    * with weight updates; the in-engine lite keeps the weight-update
    * step (the part that is a data-pipeline operator) over a caller-
    * supplied loss column, with the reference loss taken as the
    * unweighted cross-domain mean.
    *
    *  - excess_d = max(0, loss_d − mean(loss))  (DoReMi's clamp)
    *  - raw_d    = (1 + η·excess_d)²            (see below)
    *  - weight_d = (1−ε)·raw_d/Σraw + ε/K       (uniform smoothing)
    *  - tokens_d = round(weight_d · tokenBudget)
    *
    * The multiplicative-weights `exp(η·excess)` is replaced by its
    * second-order expansion `(1 + η·excess)²` — the same no-libm
    * surrogate move as the Elliott sigmoid: strictly increasing,
    * positive, equal to exp to O((ηx)³) at DoReMi's step sizes
    * (η·excess ≪ 1), and composed only of exactly-rounded IEEE ops, so
    * the oracle replays the weights bit-for-bit. Excess losses and raw
    * weights are readout-rounded at 9 dp and normalized through the
    * decimal(28,12) order-free sum.
    *
    * Scale: the input is ALREADY per-domain (one row per domain — the
    * corpus-sized work happened in whatever produced `loss`), so every
    * join here is a broadcast of one- or K-row frames; cost is O(K).
    */
  def domainMixWeights(perDomain: DataFrame, domain: Column, loss: Column,
                       eta: Double, eps: Double,
                       tokenBudget: Long): DataFrame = {
    require(eta > 0.0, s"eta must be > 0, got $eta")
    require(eps >= 0.0 && eps < 1.0, s"eps must be in [0,1), got $eps")
    require(tokenBudget > 0L, s"tokenBudget must be > 0, got $tokenBudget")
    val d = perDomain.select(domain.cast("string").as("domain"),
      loss.cast("double").as("loss"))
    val ref = d.agg(
      (sum(round(col("loss"), 9).cast("decimal(28,12)")).cast("double") /
        count(lit(1)).cast("double")).as("__ref"),
      count(lit(1)).as("__k"))
    val ex = d.crossJoin(broadcast(ref))
      .withColumn("excess",
        greatest(lit(0.0d), round(col("loss") - col("__ref"), 9)))
      .withColumn("__base", lit(1.0d) + lit(eta) * col("excess"))
      .withColumn("__raw", round(col("__base") * col("__base"), 9))
    val tot = ex.agg(
      sum(col("__raw").cast("decimal(28,12)")).cast("double").as("__tot"))
    ex.crossJoin(broadcast(tot))
      .withColumn("weight", round(
        lit(1.0d - eps) * (col("__raw") / col("__tot")) +
          lit(eps) / col("__k").cast("double"), 6))
      .select(col("domain"), round(col("loss"), 6).as("loss"),
        round(col("excess"), 6).as("excess"), col("weight"),
        round(col("weight") * lit(tokenBudget.toDouble), 0)
          .cast("long").as("tokens_alloc"))
  }
}
