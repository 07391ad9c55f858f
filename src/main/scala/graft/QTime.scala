/* Query timer: `runMain graft.QTime <sfDir> [prefix ...]` times every
 * SparkEntry query whose name starts with one of the prefixes (all
 * queries when none is given) under the Bench session config — for
 * adjudicating bench regressions without a full-suite run (the full
 * suite is itself a variable: 220+ queries of JVM/GC/page-cache history
 * ahead of any given query, and ambient load swings totals 2x; a fresh
 * idle-JVM isolation run answers whether a drifted query reproduces its
 * historical floor — if yes, the drift is suite pressure, not the
 * query's plan). Runs the same data-touching warmup as Bench so pass 1
 * doesn't absorb scan cold-start; SPARK_GRAFT_PASSES (default 4) passes
 * per query, pass 1 cold, per-pass times and the min printed.
 * GRAFT_EXPLAIN=1 also prints each query's final (post-AQE) plan.
 *
 * The object also holds the pieces Bench shares: the table warmup, the
 * per-query timer and the post-query unpersist sweep. */
package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object QTime {
  type Query = (SparkSession, String) => DataFrame

  /** Registered queries whose name starts with one of `prefixes`, in
    * name order; all of them when `prefixes` is empty. A prefix that
    * matches nothing is an error naming it. */
  def select(registry: Map[String, Query],
             prefixes: Seq[String]): Seq[(String, Query)] = {
    val unmatched = prefixes.filterNot(p => registry.keys.exists(_.startsWith(p)))
    require(unmatched.isEmpty, s"no registered query matches ${unmatched.mkString(", ")}")
    registry.toSeq.filter { case (k, _) =>
      prefixes.isEmpty || prefixes.exists(k.startsWith)
    }.sortBy(_._1)
  }

  /** Hash every column of every table once (`count()` alone would read
    * only parquet footers), so the first timed query doesn't absorb
    * page-cache faults and column-decode cold start. `events` needs its
    * dedicated loader (TIMESTAMP(NANOS) parquet is rejected by the
    * vectorized reader; Tables.events reads nanos-as-long). */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    graft.model.Tables.names.foreach { t =>
      try {
        val df =
          if (t == "events") graft.model.Tables.events(spark, sfDir)
          else graft.model.Tables.load(spark, sfDir, t)
        df.selectExpr("min(xxhash64(struct(*)))").count()
      } catch {
        case e: Throwable =>
          System.err.println(s"[warmup] failed for $t: ${e.getMessage}")
      }
    }

  /** Unpersist every cached/checkpointed RDD except the StageCache-pinned
    * shared stages, so blocks don't pile up across queries while the
    * shares hold (pass 1 cold, later passes warm, min = steady state). */
  def sweep(spark: SparkSession): Unit = {
    val pinned = graft.ext.StageCache.pinnedRddIds
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!pinned.contains(id)) rdd.unpersist(blocking = false)
    }
  }

  /** Timed passes per query: `SPARK_GRAFT_PASSES` when it is a positive
    * integer, else `default`. */
  def passes(default: Int): Int =
    sys.env.get("SPARK_GRAFT_PASSES").flatMap(_.toIntOption).filter(_ >= 1)
      .getOrElse(default)

  /** Seconds for `fn(spark, sfDir).count()`, or what it threw; the sweep
    * runs after the clock stops, so cleanup never lands in a timing. */
  def time(spark: SparkSession, sfDir: String,
           fn: Query): Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    try {
      fn(spark, sfDir).count()
      Right((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable => Left(e) }
    finally sweep(spark)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val queries = select(SparkEntry.queries, args.drop(1).toSeq)
    val nPasses = passes(default = 4)
    val explain = sys.env.get("GRAFT_EXPLAIN").contains("1")
    val spark = Session()
    spark.sparkContext.setLogLevel("ERROR")
    warmUp(spark, sfDir)
    queries.foreach { case (name, fn) =>
      val times = (1 to nPasses).map(_ => time(spark, sfDir, fn).toTry.get)
      println(f"TIMED $name%-28s min=${times.min}%.2f passes=${
        times.map(t => f"$t%.2f").mkString(",")}")
      if (explain) {
        val df = fn(spark, sfDir)
        // Run df's own plan (`count()` would run a derived one), so the
        // printed adaptive plan is the final one.
        df.queryExecution.toRdd.count()
        df.explain("formatted")
        sweep(spark)
      }
    }
    spark.stop()
  }
}
