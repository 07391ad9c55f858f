package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory for every runner (`Bench`, `Verify`,
  * `Smoke`, `QTime`, `ScaleUp`) and the test fixture `SparkSpec`:
  * `local[cores]` with the graft SQL extensions, one shuffle partition
  * per core, UTC, AQE on, UI off. Idempotent: `getOrCreate` hands a
  * second call the session the first one built.
  */
object Session {
  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
