package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark: `layer` names the part of the
  * library the interval calls into (`op` for a whole operation). Times are
  * epoch milliseconds with sub-millisecond precision. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

final case class TaskRec(span: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long,
                         gcMs: Long, deserMs: Long, resultSerMs: Long, shuffleWrite: Long,
                         shuffleRead: Long, fetchWaitMs: Long, spill: Long, bytesWritten: Long)
final case class PlanRec(start: Double, analysisMs: Double, optimizerMs: Double, physicalMs: Double)

/** Spans recorded from the benchmark's side of each call into the library.
  *
  * With tracing off, `span` only runs its body: no listener is registered
  * and nothing is kept. With tracing on, each span publishes its id as the
  * `graftbench.span` local property, so the jobs, stages and tasks Spark
  * runs inside it are attributed to it by a [[SparkListener]]; a
  * [[QueryExecutionListener]] records the planning phases of every
  * executed query. Everything stays in memory until [[write]].
  */
final class Tracer(spark: SparkSession, enabled: Boolean, runId: String) {
  private val sc = spark.sparkContext
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  /** Span of every job started and every stage completed. */
  val jobs = new ConcurrentLinkedQueue[Int]()
  val stages = new ConcurrentLinkedQueue[Int]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private val SpanKey = "graftbench.span"

  private object Scheduler extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .flatMap(_.toIntOption).getOrElse(-1)
      e.stageIds.foreach(stageSpan.put(_, span))
      jobs.add(span)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(stageSpan.getOrDefault(e.stageInfo.stageId, -1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      val span = stageSpan.getOrDefault(e.stageId, -1)
      if (m == null) tasks.add(TaskRec(span, i.launchTime, i.finishTime, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
      else tasks.add(TaskRec(span, i.launchTime, i.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.executorDeserializeTime, m.resultSerializationTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten))
    }
  }

  private object Planning extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Double =
        ph.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
      plans.add(PlanRec(start, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(Scheduler)
    spark.listenerManager.register(Planning)
  }

  /** Run `body` inside a span; returns its result. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prevProp = sc.getLocalProperty(SpanKey)
      stack = id :: stack
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = now
      try body
      finally {
        spans += Span(id, name, layer, parent, t0, now)
        stack = stack.tail
        sc.setLocalProperty(SpanKey, prevProp)
      }
    }

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = if (enabled) {
    org.apache.spark.BenchAccess.drainListenerBus(sc)
    Thread.sleep(200) // the query-execution listener bus hands over asynchronously
    org.apache.spark.BenchAccess.drainListenerBus(sc)
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** Ancestor-or-self span ids for every span. */
  lazy val ancestors: Map[Int, List[Int]] = {
    val byId = spans.map(s => s.id -> s).toMap
    def up(id: Int): List[Int] = byId.get(id) match {
      case Some(s) => s.id :: up(s.parent)
      case None => Nil
    }
    byId.keys.map(id => id -> up(id)).toMap
  }

  /** Innermost span containing the instant `t`. */
  def innermostAt(t: Double): Int = {
    val c = spans.filter(s => s.start <= t && t <= s.end)
    if (c.isEmpty) -1 else c.minBy(_.dur).id
  }

  /** Write spans with their own scheduler counts, and the planning phases
    * of every executed query with the span it ran in, as JSON lines. */
  def write(path: String): Unit = if (enabled) {
    val jobsBy = jobs.asScala.groupBy(identity).view.mapValues(_.size).toMap
    val tasksBy = tasks.asScala.groupBy(_.span)
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.id).foreach { s =>
      val ts = tasksBy.getOrElse(s.id, Nil)
      out.println(Json.obj(Seq(
        "run" -> runId, "id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "start_ms" -> s.start, "end_ms" -> s.end,
        "self_jobs" -> jobsBy.getOrElse(s.id, 0), "self_tasks" -> ts.size,
        "self_task_run_ms" -> ts.map(_.runMs).sum,
        "self_shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum)))
    }
    finally out.close()
    val planOut = new java.io.PrintWriter(path.stripSuffix(".jsonl") + ".plans.jsonl", "UTF-8")
    try plans.asScala.foreach { p =>
      planOut.println(Json.obj(Seq(
        "run" -> runId, "span" -> innermostAt(p.start), "start_ms" -> p.start,
        "analysis_ms" -> p.analysisMs, "optimizer_ms" -> p.optimizerMs, "physical_ms" -> p.physicalMs)))
    }
    finally planOut.close()
  }
}
