package graftbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, computed from the spans the
  * benchmark recorded around its calls into the library and the
  * scheduler and planner events attributed to them.
  *
  * Times and counts named "per operation" are divided by the number of
  * timed operations (`op` spans); `stagecache.*` are deltas of
  * `StageCache.stats` over the run; `ingest.*` and `sinks.*` counts come
  * from the workload (zero where it has no such layer).
  */
object Layers {
  type Metric = (String, Double, String)
  type CacheStats = (Int, Long, Long, Long, Long, Long, Long)

  def metrics(t: Tracer, before: CacheStats, after: CacheStats,
              outcome: Outcome): Seq[Metric] = {
    val spans = t.allSpans
    val byId = spans.map(s => s.id -> s).toMap
    val anc = t.ancestors
    def within(span: Int, p: Span => Boolean): Boolean =
      anc.getOrElse(span, Nil).exists(id => byId.get(id).exists(p))
    val ops = spans.filter(_.layer == "op")
    val nOps = math.max(1, ops.size).toDouble
    val isOp: Span => Boolean = _.layer == "op"

    val jobs = t.jobs.asScala.toSeq.filter(within(_, isOp))
    val stages = t.stages.asScala.toSeq.filter(within(_, isOp))
    val tasks = t.tasks.asScala.toSeq.filter(k => within(k.span, isOp))
    val plans = t.plans.asScala.toSeq.filter(p => within(t.innermostAt(p.start), isOp))

    // Share of operation wall time with no task running: driver-side work.
    val opOf: Int => Option[Int] = s => anc.getOrElse(s, Nil).find(id => byId(id).layer == "op")
    val covered = tasks.groupBy(k => opOf(k.span)).collect { case (Some(op), ks) =>
      val o = byId(op)
      val iv = ks.map(k => (math.max(k.launch.toDouble, o.start), math.min(k.finish.toDouble, o.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curB.isNaN || a > curB) {
          if (!curB.isNaN) total += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curB.isNaN) total += curB - curA
      total
    }.sum
    val opWall = ops.map(_.dur).sum

    val builds = spans.filter(_.layer == "build")
    val buildJobs = jobs.count(within(_, _.layer == "build"))
    val delay = tasks.map(k => math.max(0L, (k.finish - k.launch) - k.runMs - k.deserMs - k.resultSerMs)).sum

    val graphOps = ops.filter(o => QueryMix.Iterative.exists(q => o.name == s"query.$q"))
    val graphJobs = jobs.count(within(_, s => graphOps.exists(_.id == s.id)))
    val graphBuild = builds.filter(b => within(b.id, s => graphOps.exists(_.id == s.id)))

    val sinkWrites = spans.filter(s => s.layer == "sinks" && s.name.startsWith("sinks.write"))
    val sinkTasks = t.tasks.asScala.toSeq.filter(k => within(k.span, _.layer == "sinks"))
    val compacts = spans.filter(_.name == "sinks.compact")
    val merges = spans.filter(_.name == "ingest.merge")
    val reports = spans.filter(_.layer == "report")

    val (hitsD, buildsD) = (after._3 - before._3, after._2 - before._2)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val counts = outcome.layerCounts.map { case (n, v, u) => n -> (v, u) }.toMap
    def count(n: String, unit: String): Metric = (n, counts.get(n).map(_._1).getOrElse(0.0), unit)

    // Every pass writes the same, and a run makes as many passes as fit its
    // time: sink bytes are counted per pass (cold and warm).
    val passes = outcome.info.collectFirst { case ("warm_passes", n: Int) => n + 1 }.getOrElse(1)
    val bytesWritten = sinkTasks.map(_.bytesWritten).sum.toDouble / passes
    val stored = counts.get("sinks.stored_bytes").map(_._1).getOrElse(0.0)
    Seq(
      ("plan.analysis_ms", plans.map(_.analysisMs).sum / nOps, "ms"),
      ("plan.optimizer_ms", plans.map(_.optimizerMs).sum / nOps, "ms"),
      ("plan.physical_ms", plans.map(_.physicalMs).sum / nOps, "ms"),
      ("build.s", builds.map(_.dur).sum / 1000 / nOps, "s"),
      ("build.jobs", buildJobs / nOps, "count"),
      ("sched.jobs", jobs.size / nOps, "count"),
      ("sched.stages", stages.size / nOps, "count"),
      ("sched.tasks", tasks.size / nOps, "count"),
      ("sched.delay_s", delay / 1000.0 / nOps, "s"),
      ("sched.driver_share", if (opWall > 0) 1 - covered / opWall else 0.0, "ratio"),
      ("exec.run_s", tasks.map(_.runMs).sum / 1000.0 / nOps, "s"),
      ("exec.cpu_s", tasks.map(_.cpuNs).sum / 1e9 / nOps, "s"),
      ("exec.gc_s", tasks.map(_.gcMs).sum / 1000.0 / nOps, "s"),
      ("shuffle.write_bytes", tasks.map(_.shuffleWrite).sum / nOps, "bytes"),
      ("shuffle.read_bytes", tasks.map(_.shuffleRead).sum / nOps, "bytes"),
      ("shuffle.fetch_wait_s", tasks.map(_.fetchWaitMs).sum / 1000.0 / nOps, "s"),
      ("spill.bytes", tasks.map(_.spill).sum / nOps, "bytes"),
      ("stagecache.builds", buildsD.toDouble, "count"),
      ("stagecache.hits", hitsD.toDouble, "count"),
      ("stagecache.hit_ratio", if (hitsD + buildsD > 0) hitsD.toDouble / (hitsD + buildsD) else 0.0, "ratio"),
      ("stagecache.evictions", (after._4 - before._4).toDouble, "count"),
      ("stagecache.dead_rebuilds", (after._5 - before._5).toDouble, "count"),
      ("stagecache.peak_bytes", after._7.toDouble, "bytes"),
      ("graph.jobs_per_query", if (graphOps.isEmpty) 0.0 else graphJobs.toDouble / graphOps.size, "count"),
      ("graph.build_s", mean(graphBuild.map(_.dur / 1000)), "s"),
      count("ingest.rows_in", "count"),
      count("ingest.rows_accepted", "count"),
      count("ingest.reject_ratio", "ratio"),
      count("ingest.state_rows", "count"),
      ("ingest.merge_s", mean(merges.map(_.dur / 1000)), "s"),
      ("sinks.write_s", mean(sinkWrites.map(_.dur / 1000)), "s"),
      ("sinks.bytes_written", bytesWritten, "bytes"),
      count("sinks.files_written", "count"),
      ("sinks.compact_s", mean(compacts.map(_.dur / 1000)), "s"),
      count("sinks.files_after_compact", "count"),
      ("sinks.write_amplification", if (stored > 0) bytesWritten / stored else 0.0, "ratio"),
      ("report.s", mean(reports.map(_.dur / 1000)), "s"),
      ("trace.op_p50_s", outcome.endToEnd.find(_._1 == "op_p50_s").map(_._2).getOrElse(0.0), "s"))
  }
}
