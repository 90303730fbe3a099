package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.withConfs

/** Runtime bloom-filter pruning (q91's scale story): when the dim side of a
  * shuffle join carries a selective predicate, Catalyst can build a bloom
  * filter from its join keys and inject a `bloom_filter_might_contain`
  * predicate into the FACT side's scan — rows that cannot match are dropped
  * before the shuffle, which at 100 TB is the difference between shuffling
  * the whole fact table and shuffling the ~matching slice.
  *
  * The feature is threshold-gated (creation side must be small, application
  * side big); the thresholds here are retuned to test scale. Results stay
  * oracle-checked regardless of injection (q91 in CORRECTNESS).
  */
class RuntimeFilterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private val tuned = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    // test-scale thresholds: any app-side scan qualifies, creation side
    // qualifies up to 64 MB
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "64MB",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  test("q91's fact scan gets an injected bloom filter from the dim predicate") {
    withConfs(tuned) {
      val df = SparkEntry.queries("q91_bloom_pruned_join")(spark, dir)
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"),
        s"no bloom filter injected in optimized plan:\n$opt")
      assert(df.count() > 0)
    }
  }

  test("bloom-filtered and unfiltered runs agree (the filter only prunes)") {
    val base = withConfs(Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false")) {
      SparkEntry.queries("q91_bloom_pruned_join")(spark, dir).collect().toSeq
    }
    val pruned = withConfs(tuned) {
      SparkEntry.queries("q91_bloom_pruned_join")(spark, dir).collect().toSeq
    }
    assert(pruned === base)
  }
}
