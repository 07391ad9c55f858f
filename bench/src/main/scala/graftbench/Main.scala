package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark run in one JVM:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --data <input dir> --work <dir> --cores <n>
  *
  * Prints informational lines starting with `#` and, last, one line
  * `BENCH_RESULT {...}` that `run.py` turns into the benchmark's result.
  */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "daily_batch" -> DailyBatch.run,
    "market_analytics" -> QueryMix.Market.run,
    "staged_reuse" -> QueryMix.Staged.run)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val dataDir = new File(a("data")).getAbsolutePath
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = new File(a("work")).getAbsolutePath
    val cores = a.getOrElse("cores", "4")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val readyMs = System.currentTimeMillis()
    spark.sparkContext.setLogLevel("ERROR")
    println(s"# session_ready_ms $readyMs")
    spark.conf.getAll.toSeq.sorted.foreach { case (k, v) => println(s"# conf $k=$v") }

    // Table warm-up, part of set-up: every column of every input table
    // read once through the library's loaders.
    val tables = graft.model.Tables.names.filter(t => new File(s"$dataDir/$t.parquet").exists())
    val warmup0 = System.nanoTime()
    tables.foreach { t =>
      Timed.full(if (t == "events") graft.model.Tables.events(spark, dataDir)
        else graft.model.Tables.load(spark, dataDir, t))
    }
    val warmupS = (System.nanoTime() - warmup0) / 1e9
    println(s"# warmup_s $warmupS")

    val sortKept = sortSelfTest(spark, dataDir)

    val runId = s"$workload-seed$seed-${ProcessHandle.current().pid()}"
    val tracer = new Tracer(spark, traced, runId)
    val ctx = new Ctx(spark, tracer, seconds, dataDir, s"$work/out/$runId")
    ctx.check("timed_plan_keeps_sort", sortKept, "the noop-write plan lost its Sort")
    val cacheBefore = graft.ext.StageCache.stats
    val outcome = run(ctx)
    val cacheAfter = graft.ext.StageCache.stats
    tracer.drain()

    val moved = Seq(1, 2, 3, 4, 5, 6).exists(i =>
      cacheBefore.productElement(i) != cacheAfter.productElement(i))
    if (workload == "staged_reuse")
      ctx.check("stagecache_hits", cacheAfter._3 > cacheBefore._3, "no StageCache hit")
    else
      ctx.check("stagecache_untouched", !moved, s"StageCache moved: $cacheBefore -> $cacheAfter")

    val layers = if (traced) Layers.metrics(tracer, cacheBefore, cacheAfter, outcome) else Nil
    if (traced) {
      new File(s"$work/trace").mkdirs()
      tracer.write(s"$work/trace/$runId.jsonl")
      println(s"# trace_file trace/$runId.jsonl")
    }
    outcome.info.foreach { case (k, v) => println(s"# info $k=$v") }
    ctx.failureNotes.foreach(n => println(s"# failed_op $n"))
    val correct = ctx.checks.forall(_._2)
    ctx.checks.filterNot(_._2).foreach { case (n, _, d) => println(s"# check_failed $n: $d") }
    println(s"# checks_passed ${ctx.checks.count(_._2)}/${ctx.checks.size}")
    println("BENCH_RESULT " + Json.obj(Seq(
      "correct" -> correct,
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "session_ready_ms" -> readyMs,
      "warmup_s" -> warmupS,
      "end_to_end" -> outcome.endToEnd.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "per_layer" -> layers.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) })))
    spark.stop()
  }

  /** The timed action must run the whole plan: the plan a `noop` write
    * executes for an ORDER BY query still holds its Sort, while the plan
    * `count()` runs has none. */
  private def sortSelfTest(spark: SparkSession, dataDir: String): Boolean = {
    val df = graft.model.Tables.load(spark, dataDir, "customer")
      .filter(col("c_acctbal") > 0).orderBy(col("c_acctbal").desc, col("c_custkey"))
    val captured = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = captured.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      Timed.full(df)
      val qe = captured.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      def hasSort(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        p.collectFirst { case s: Sort => s }.isDefined
      val timedHasSort = qe != null && hasSort(qe.optimizedPlan)
      val countHasSort = hasSort(df.groupBy().count().queryExecution.optimizedPlan)
      println(s"# selftest noop_plan_has_sort=$timedHasSort count_plan_has_sort=$countHasSort")
      timedHasSort && !countHasSort
    } finally spark.listenerManager.unregister(l)
  }
}
