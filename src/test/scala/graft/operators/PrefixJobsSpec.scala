package graft.operators

import graft.SparkSpec
import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the Spark jobs each prefix entry point starts on a fixed small
  * input: the eager jobs the call itself runs (staging, group index,
  * quantiles, per-range totals) and the jobs of collecting its result.
  * Prints every count, so a change in the work any call does shows up
  * here before it shows up in a timing. */
class PrefixJobsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val data = (0L until 240L)
    .map(i => (i, if (i % 3 == 0) "a" else "b", i % 11, (i * 7) % 17, i % 5))
    .toDF("id", "g", "v", "w", "amt")

  private val ranges = 4

  /** (jobs while the call builds its result, jobs of collecting it). */
  private def jobs(call: => DataFrame): (Int, Int) = {
    val sc = spark.sparkContext
    val (out, atCall) = JobCounter.jobsIn(sc)(call)
    val (_, atCollect) = JobCounter.jobsIn(sc)(out.collect())
    (atCall, atCollect)
  }

  private def exclusive = PrefixSum.exclusive(data, "v", descending = false,
    ties = Seq(col("id")), valueCol = "amt", outCol = "p", ranges = ranges)
  private def exclusiveMulti = PrefixSum.exclusiveMulti(data, "v",
    descending = true, ties = Seq(col("id")),
    valueCols = Seq("amt" -> "p", "w" -> "q"), ranges = ranges)
  private def groupedMulti = GroupedPrefix.exclusiveMulti(data, "g", "v",
    descending = false, ties = Seq(col("id")),
    valueCols = Seq("amt" -> "p", "w" -> "q"), ranges = ranges)
  private def rank(nCol: Option[String]) = GroupedPrefix.rankWithin(data,
    "g", "v", descending = false, ties = Seq(col("id")), rankCol = "rk",
    nCol = nCol, ranges = ranges)
  private def ranks(axes: Int) = GroupedPrefix.ranksMulti(data, "g",
    Seq(("v", false, "r1"), ("w", true, "r2"), ("amt", false, "r3"))
      .take(axes), ties = Seq(col("id")), nCol = Some("n"), ranges = ranges)

  test("each prefix entry point runs a fixed number of jobs") {
    val got = Seq(
      "PrefixSum.exclusive" -> jobs(exclusive),
      "PrefixSum.exclusiveMulti" -> jobs(exclusiveMulti),
      "GroupedPrefix.exclusiveMulti" -> jobs(groupedMulti),
      "GroupedPrefix.rankWithin" -> jobs(rank(None)),
      "GroupedPrefix.rankWithin(nCol)" -> jobs(rank(Some("n"))),
      "GroupedPrefix.ranksMulti(2 axes)" -> jobs(ranks(2)),
      "GroupedPrefix.ranksMulti(3 axes)" -> jobs(ranks(3))
    ).toMap
    got.toSeq.sortBy(_._1).foreach { case (name, (c, r)) =>
      info(s"$name: $c jobs at call, $r at collect") }
    assert(got == Map(
      "PrefixSum.exclusive" -> (7, 3),
      "PrefixSum.exclusiveMulti" -> (7, 3),
      "GroupedPrefix.exclusiveMulti" -> (10, 4),
      "GroupedPrefix.rankWithin" -> (10, 4),
      "GroupedPrefix.rankWithin(nCol)" -> (10, 5),
      "GroupedPrefix.ranksMulti(2 axes)" -> (15, 7),
      "GroupedPrefix.ranksMulti(3 axes)" -> (20, 9)))
    // More value columns cost no job; a group column adds only the
    // group-index jobs; nCol adds no job at call time (its count table
    // is broadcast at collect); each further rank axis adds only its own
    // totals pass, so every axis shares the staging, the group index
    // and ONE quantile job.
    val call = got.map { case (k, v) => k -> v._1 }
    val perAxis = call("GroupedPrefix.ranksMulti(3 axes)") -
      call("GroupedPrefix.ranksMulti(2 axes)")
    assert(call("GroupedPrefix.ranksMulti(2 axes)") -
      call("GroupedPrefix.rankWithin(nCol)") == perAxis)
    assert(call("GroupedPrefix.rankWithin(nCol)") ==
      call("GroupedPrefix.rankWithin"))
    assert(call("GroupedPrefix.exclusiveMulti") >
      call("PrefixSum.exclusiveMulti"))
  }
}
