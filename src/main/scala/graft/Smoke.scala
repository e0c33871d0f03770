package graft

/** Local smoke runner for the driver's t1 check: builds the session
  * through GraftSession, runs `SparkEntry.entry`, prints rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    df.printSchema()
    rows.foreach(r => println(r))
    println(s"[smoke] entry rows=${rows.length}")
    spark.stop()
  }
}
