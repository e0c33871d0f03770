package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.{Bench, GraftSession, SparkEntry}

/** Query inspector on the session the bench runs (GraftSession): for each
  * named query, two runs timed and swept exactly as Bench times them, then
  * the second run's final adaptive plan. Join strategies, AQEShuffleRead
  * coalescing and runtime broadcast conversions show only in that plan;
  * each scan's `PushedFilters` and `ReadSchema` show there too.
  *
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.tools.Inspect <sfDir> <query...>"
  */
object Inspect {

  /** One query's two timings (seconds) and its final adaptive plan. */
  final case class Report(first: Double, second: Double, plan: String)

  /** Times `name` twice at `sfDir` through [[Bench.timeOnce]], sweeping
    * after each run with [[Bench.sweep]]. The timed action is Bench's
    * count, whose own plan prunes every column a count does not read, so
    * the plan reported is the second run's frame collected after its
    * timed count, before the sweep. */
  def inspect(spark: SparkSession, sfDir: String, name: String): Report = {
    val fn = SparkEntry.queries(name)
    var frame: DataFrame = null
    try {
      val first = Bench.timeOnce(spark, sfDir, fn)
      Bench.sweep(spark)
      val second = Bench.timeOnce(spark, sfDir, (s, d) => { frame = fn(s, d); frame })
      frame.collect()
      val plan = frame.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => s"${a.simpleString(Int.MaxValue)}\n${a.executedPlan}"
        case p => p.toString
      }
      Report(first, second, plan)
    } finally Bench.sweep(spark)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.tools.Inspect <sfDir> <query...>")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    // JVM and codegen warm-up, so the first timing is the query's own
    spark.range(1000).selectExpr("sum(id)").collect()
    args.tail.foreach { q =>
      val r = inspect(spark, args.head, q)
      println(s"\n===================== $q =====================")
      println(f"[inspect] $q first  ${r.first}%.2f s")
      println(f"[inspect] $q second ${r.second}%.2f s")
      println(r.plan)
    }
    spark.stop()
  }
}
