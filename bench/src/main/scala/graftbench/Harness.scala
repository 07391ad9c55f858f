package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What a workload run reports back to [[Main]]. */
final case class Outcome(endToEnd: Seq[(String, Double, String)],
                         info: Seq[(String, Any)] = Nil,
                         layerCounts: Seq[(String, Double, String)] = Nil)

/** State shared by one workload run: the session, the tracer, the
  * operation counters and the correctness checks. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seconds: Double,
                val dataDir: String, val workDir: String) {
  var attempted = 0
  var failed = 0
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private val failures = mutable.ArrayBuffer.empty[String]

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"CHECK FAILED $name: $detail")
  }

  def failureNotes: Seq[String] = failures.toSeq

  /** Operations timed in the current pass: (name, seconds). */
  private var passOps = mutable.ArrayBuffer.empty[(String, Double)]

  /** Time one operation on the wall clock. A throw counts as a failed
    * operation (and no time); the run goes on with the next one. */
  def op(name: String)(body: => Unit): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      tracer.span(name, "op")(body)
      val t = (System.nanoTime() - t0) / 1e9
      println(f"# op $name $t%.4f")
      passOps += ((name, t))
      Some(t)
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        failed += 1
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        System.err.println(s"OPERATION FAILED $name: $e")
        None
    }
  }

  private val firstDigest = mutable.Map.empty[String, Timed.Digest]

  /** The timed action of every operation: [[Timed.full]] inside an
    * `exec` span. Passes repeat the same work on the same inputs, so every
    * result named `name` must equal the first one. */
  def full(name: String, df: DataFrame): Unit = {
    val d = tracer.span(name, "exec")(Timed.full(df))
    firstDigest.get(name) match {
      case None => firstDigest(name) = d
      case Some(first) => check(s"same_result.$name", d == first, s"$first then $d")
    }
  }

  /** The measurement loop every workload shares: its pass (a fixed
    * script of timed operations) runs once in the fresh JVM (cold), then
    * again at least [[Ctx.MinWarmPasses]] times, and more while one more
    * pass as long as the last still ends within `seconds` of the start
    * (warm). The warm pass time adds up each operation at its fastest warm
    * run, so a burst of interference that slows one pass does not count,
    * and the JIT compiler's warm-up, which goes on for several passes, is
    * mostly behind the pass that sets the minimum. Operation latencies are
    * reported for the operations named `<unit>.<...>`. */
  def passes(unit: String)(pass: => Unit): Outcome = {
    val start = System.nanoTime()
    def timed(): (Double, Seq[(String, Double)]) = {
      passOps = mutable.ArrayBuffer.empty
      val t0 = System.nanoTime()
      pass
      ((System.nanoTime() - t0) / 1e9, passOps.toSeq)
    }
    val (cold, _) = timed()
    val warm = mutable.ArrayBuffer.empty[(Double, Seq[(String, Double)])]
    def fits = (System.nanoTime() - start) / 1e9 + warm.last._1 <= seconds
    while (warm.size < Ctx.MinWarmPasses || fits) warm += timed()
    // A failed operation has no time; then the median pass time stands in.
    val warmPass =
      if (warm.map(_._2.map(_._1)).distinct.size == 1) warm.map(_._2.map(_._2)).transpose.map(_.min).sum
      else Stats.median(warm.map(_._1).toSeq)
    val lat = warm.flatMap(_._2).collect { case (n, t) if n.startsWith(s"$unit.") => t }.toSeq
    val (p, tail) = if (lat.isEmpty) (50, 0.0) else Stats.tail(lat)
    Outcome(
      Seq(("cold_pass_s", cold, "s"),
        ("warm_pass_s", warmPass, "s"),
        ("op_p50_s", if (lat.isEmpty) 0.0 else Stats.median(lat), "s")),
      Seq("op" -> unit, "warm_passes" -> warm.size, "op_samples" -> lat.size,
        s"op_tail_p${p}_s" -> tail))
  }
}

object Ctx {
  val MinWarmPasses = 3
}

object Timed {
  /** Rows of a result and the wrapping sum of their row hashes: equal for
    * equal results, whatever the row order. */
  final case class Digest(rows: Long, hash: Long)

  /** Runs `df`'s complete physical plan into the `noop` sink and returns
    * the digest of the rows it produced. Unlike `count()`, which lets the
    * optimizer drop the final sort, derived columns and non-key
    * aggregates, the sink consumes every column of every row; the digest
    * is taken on the way, from a hash of each whole row, so checking a
    * result never runs its plan a second time. */
  def full(df: DataFrame): Digest = {
    val sc = df.sparkSession.sparkContext
    val rows = sc.longAccumulator("graftbench.rows")
    val sum = sc.longAccumulator("graftbench.hash")
    val tap = udf { (h: Long) => rows.add(1); sum.add(h); true }.asNondeterministic()
    df.select(col("*"), tap(xxhash64(to_json(struct(col("*"))))).as("__digest"))
      .write.format("noop").mode("overwrite").save()
    Digest(rows.value, sum.value)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest whole percentile (at least the 50th) that leaves at least
    * ten samples above it, nearest-rank; (percentile, value). */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    val n = s.size
    val p = (99 to 50 by -1).find(p => n - math.ceil(p * n / 100.0).toInt >= 10).getOrElse(50)
    val rank = math.max(1, math.ceil(p * n / 100.0).toInt)
    (p, s(rank - 1))
  }
}
