package graft.operators

import graft.SparkSpec
import org.apache.spark.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

/** The iterative graph operators read each round's convergence scalar
  * from the round's own staging job. Pins the jobs each loop starts on
  * a fixed small graph (at call and at collect) and checks that every
  * job at call is a labelled staging job, i.e. that no loop runs an
  * action of its own; checks that both hash-min callers still fail
  * loudly when capped short of convergence; and that every loop ends
  * on empty input instead of waiting on a metric that never arrives. */
class LoopJobsSpec extends SparkSpec with TimeLimits {
  import spark.implicits._
  import Stage.StageOps

  private implicit val signaler: Signaler = ThreadSignaler

  private def sc = spark.sparkContext

  // A 4-clique (1-4), a tail 4-5-6-7 and a separate pair 10-11. A
  // distinct literal keeps the StageCache'd symmetric adjacency fresh.
  private lazy val edges = Seq((1L, 2L, 5L), (1L, 3L, 1L), (1L, 4L, 2L),
      (2L, 3L, 3L), (2L, 4L, 1L), (3L, 4L, 4L), (4L, 5L, 2L), (5L, 6L, 3L),
      (6L, 7L, 1L), (10L, 11L, 2L)).toDF("u", "v", "s")
    .filter(lit(System.nanoTime()) > 0)
  private lazy val adj = edges.select(col("u").as("src"), col("v").as("dst"))
    .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
    .stage("spec:adj")

  /** (jobs while the call builds its result, their labels, jobs of
    * collecting it). */
  private def jobs(call: => DataFrame): (Int, Seq[String], Int) = {
    val (out, labels) = JobCounter.labelsIn(sc)(call)
    val (_, atCollect) = JobCounter.jobsIn(sc)(out.collect())
    (labels.size, labels, atCollect)
  }

  test("each loop runs a fixed number of jobs, all of them labelled stagings") {
    adj.count()
    Graph.symStaged(edges).count() // a StageCache hit from here on
    val got = Seq(
      "hopDistancesAdj" -> jobs(Bfs.hopDistancesAdj(adj,
        Seq(1L, 10L).toDF("seed"), maxHops = 4)),
      "groupEccentricity" -> jobs(Bfs.groupEccentricity(adj,
        Seq((1L, 0), (7L, 1), (10L, 1)).toDF("seed", "off"), maxHops = 4)),
      "sampledBetweenness" -> jobs(Graph.sampledBetweenness(edges)),
      "corenessHIndex" -> jobs(Graph.corenessHIndex(edges, rounds = 6)),
      "hits" -> jobs(Graph.hits(edges.select(col("u").as("c"),
        col("v").as("p")), rounds = 2)),
      "labelPropagation" -> jobs(
        ConnectedComponents.labelPropagation(edges, "u", "v")),
      "boruvkaForest" -> jobs(Graph.boruvkaForest(edges))
    ).toMap
    got.toSeq.sortBy(_._1).foreach { case (name, (c, labels, r)) =>
      info(s"$name: $c jobs at call, $r at collect; " +
        labels.map(l => Option(l).getOrElse("<unlabelled>")).mkString(" "))
    }
    val unlabelled = got.collect {
      case (name, (_, labels, _)) if labels.contains(null) => name }
    assert(unlabelled.isEmpty, "jobs at call outside any staging")
    // A separate action per round (the frontier `isEmpty`, the seed
    // count, the per-block Σc collect) would add a job per round here.
    assert(got.map { case (k, (c, _, r)) => k -> (c, r) } == Map(
      "hopDistancesAdj" -> (17, 1),
      "groupEccentricity" -> (30, 8),
      "sampledBetweenness" -> (46, 7),
      "corenessHIndex" -> (14, 9),
      "hits" -> (14, 9),
      "labelPropagation" -> (25, 1),
      "boruvkaForest" -> (64, 8)))
  }

  test("both hash-min callers fail loudly when capped short of convergence") {
    val chain = (1L to 6L).map(i => (i, i + 1, 1L)).toDF("u", "v", "s")
    val cc = intercept[IllegalStateException](
      ConnectedComponents.labelPropagation(chain, "u", "v", maxIter = 1))
    assert(cc.getMessage == "labelPropagation did not converge in 1 rounds " +
      "(6 labels still changing); use alternatingStar for deep components")
    val forest = intercept[IllegalArgumentException](
      Graph.boruvkaForest(chain, rounds = 1, mergeCap = 1))
    assert(forest.getMessage == "requirement failed: " +
      "boruvka merge did not converge within 1 hops (round 1)")
  }

  test("every loop ends on empty input") {
    val noEdges = Seq.empty[(Long, Long, Long)].toDF("u", "v", "s")
      .filter(lit(System.nanoTime()) > 0)
    val noAdj = noEdges.select(col("u").as("src"), col("v").as("dst"))
    def rows(call: => DataFrame): Seq[Row] =
      failAfter(120.seconds)(call.collect().toSeq)
    assert(rows(Bfs.hopDistancesAdj(adj, Seq.empty[Long].toDF("seed"), 4)).isEmpty)
    assert(rows(Bfs.groupEccentricity(adj,
      Seq.empty[(Long, Int)].toDF("seed", "off"), 4)).isEmpty)
    assert(rows(Bfs.hopDistancesAdj(noAdj, Seq(1L).toDF("seed"), 4)) ==
      Seq(Row(1L, 1L, 0)))
    assert(rows(Graph.corenessHIndex(noEdges)).isEmpty)
    assert(rows(Graph.hits(noEdges.select(col("u").as("c"), col("v").as("p")))).isEmpty)
    assert(rows(Graph.sampledBetweenness(noEdges)).isEmpty)
    assert(rows(ConnectedComponents.labelPropagation(noEdges, "u", "v")).isEmpty)
    assert(rows(Graph.boruvkaForest(noEdges)) ==
      (1 to 3).map(r => Row(r, 0L, 0L, 0L, 0L, 0L, 0L, 0L)))
  }
}
