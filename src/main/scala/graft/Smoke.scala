package graft

/** Local replica of the driver's t1 smoke: run [[SparkEntry.entry]] on
  * sf0.001 and require rows > 0. Also prints the physical plan so plan
  * regressions (lost broadcast, lost pushdown) are visible per run.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session()
    val df = SparkEntry.entry(spark)
    if (args.contains("--explain")) df.explain("formatted")
    val n = df.count()
    println(s"ENTRY_ROWS=$n")
    require(n > 0, "entry returned no rows")
    spark.stop()
  }
}
