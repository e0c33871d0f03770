package graft

import graft.tools.Inspect

/** The inspector's per-query routine: two runs timed through Bench's
  * routine, the second run's final adaptive plan, and Bench's sweep after
  * the query. The sweep must drop every CacheManager entry before it
  * unpersists: a stale entry makes the next run of a persisting query
  * recompute through it and never re-cache. q70 persists five frames. */
class InspectSpec extends SparkSpec {
  Seq("q70_funnel", "q03_join_chain").foreach { q =>
    test(s"$q: two positive timings, a final plan, nothing left cached") {
      val r = Inspect.inspect(spark, sf0001, q)
      assert(r.first > 0 && r.second > 0)
      assert(r.plan.contains("isFinalPlan=true"), r.plan)
      assert(spark.sharedState.cacheManager.isEmpty)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    }
  }
}
