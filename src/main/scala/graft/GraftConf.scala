package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one tuning knob, the pair-join strategy read from the
  * Spark session conf so a deployment can retune without a rebuild, and
  * the registry of operator-internal caches.
  */
object GraftConf {

  /** Join-strategy hint for the self-joins whose build side carries wide
    * arrays (hashed shingle sets, embedding vectors) and for fact-fact
    * joins: q03 (lineitem⋈orders), q22 (jaccard pairs), q24 (cosine pairs).
    *
    * Default "shuffle_hash": on local[n] and well-provisioned executors the
    * per-partition parallel hash build beats both a driver-side broadcast
    * build (GC-sensitive, intermittently 3-4× slower with wide arrays) and
    * a sort-merge join (sorting wide-array rows costs more than hashing
    * them). Set to "merge" for cluster profiles where spill-safety beats
    * build speed — a pinned shuffle-hash build can OOM where SMJ would
    * spill, and AQE cannot override an explicit hint. Tradeoff notes in
    * ARCHITECTURE.md; PlanSpec asserts both modes plan without cartesian
    * products.
    */
  val PairJoinHintKey = "spark.graft.pairJoin.hint"

  /** Hints Spark actually implements for an equi-join build side. An
    * unknown hint string would be logged-and-IGNORED by the planner —
    * a typo'd cluster profile would silently fall back to whatever the
    * planner picks, which is the exact failure the flag guards against —
    * so unknown values fail fast here instead.
    */
  private val allowedHints = Set("shuffle_hash", "merge", "broadcast")

  def pairJoinHint(s: SparkSession): String = {
    val v = s.conf.get(PairJoinHintKey, "shuffle_hash")
    require(allowedHints(v),
      s"$PairJoinHintKey must be one of ${allowedHints.mkString("/")}, got '$v'")
    v
  }

  /** Apply the configured pair-join hint to the build side. */
  def hintPairJoin(df: DataFrame): DataFrame =
    df.hint(pairJoinHint(df.sparkSession))

  /** Registry of DataFrames the graft operators `.cache()` internally
    * (posting sets, survivor frames). The results those caches feed are
    * LAZY, so the operator itself has no point at which unpersisting is
    * safe — but a long-lived session invoking the operators repeatedly on
    * different inputs would otherwise accumulate cached blocks until
    * memory-pressure eviction. Callers release them explicitly once the
    * result frame has been materialized (written, collected, counted):
    *
    * {{{
    *   val pairs = Dedup.containmentPairs(docs, $"id", $"text")
    *   pairs.write.parquet(out)   // cache serves all internal reuses
    *   GraftConf.releaseCaches()  // then drop the operator caches
    * }}}
    *
    * Unpersist is lazily safe either way — a released frame recomputes if
    * re-used — so releasing "too early" costs time, never correctness.
    * The harness queries call this inside their own materialize-and-return
    * paths; `Bench`/`Verify` additionally clear the whole cache manager
    * between queries.
    */
  private val tracked =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Cache `df`, remember it for [[releaseCaches]], and return it. */
  private[graft] def trackCache(df: DataFrame): DataFrame = {
    df.cache()
    tracked.add(df)
    df
  }

  /** Unpersist every operator-internal cache registered since the last
    * release (non-blocking).
    */
  def releaseCaches(): Unit = {
    var df = tracked.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = tracked.poll()
    }
  }
}
