package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract-level checks over the sf0.001 test tables: every declared query
  * runs and returns a sane shape; the registry it is declared in is
  * well-formed.
  */
class EntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("entry flagship pipeline returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry names are unique and the bench tiers are well-formed") {
    // a duplicate name would silently shadow an entry in the derived maps
    val dups = SparkEntry.registry.groupBy(_.name).collect {
      case (n, qs) if qs.size > 1 => n
    }
    assert(dups.isEmpty, s"registered more than once: $dups")
    assert(Bench.headline.intersect(Bench.extra).isEmpty)
    assert(Bench.headline.size === 14)
  }

  test("all declared queries execute on sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, dir).count(); None }
        catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("key queries are non-empty on sf0.001") {
    val mustBeNonEmpty = Seq("q01_pricing_summary", "q03_star_join_revenue",
      "q10_latest_event_per_user", "q20_dedup_exact", "q28_quality_scores")
    mustBeNonEmpty.foreach { q =>
      assert(SparkEntry.queries(q)(spark, dir).count() > 0, s"$q was empty")
    }
  }
}
