package graft

/** The one session factory: idempotent, carrying the settings every
  * runner shares, and the source of the specs' own fixture session.
  */
class SessionSpec extends SparkSpec {
  test("a second call returns the session the first call built") {
    assert(Session(SparkSpec.Cores) eq Session(SparkSpec.Cores))
  }

  test("SparkSpec's fixture session comes from the factory") {
    assert(SparkSpec.session eq Session(SparkSpec.Cores))
    assert(spark.sparkContext.master == s"local[${SparkSpec.Cores}]")
  }

  test("one shuffle partition per core, UTC, AQE on") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == SparkSpec.Cores.toString)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("GraftExtensions functions resolve in SQL") {
    val v = spark.sql(
      """SELECT vector_dot(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>),
        |                  CAST(array(3.0, 4.0) AS ARRAY<FLOAT>))""".stripMargin)
      .head().getDouble(0)
    assert(v == 11.0)
  }
}
