package graft.operators

import java.io.File

import scala.io.Source

import graft.SparkSpec
import org.apache.spark.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The one staging primitive: it materializes like a bare
  * `localCheckpoint` (same jobs, same rows), stamps the staged relation
  * with its measured size, labels its jobs and restores the caller's job
  * description; iterative operators label every round; and no other
  * code under src/main checkpoints or observes a metric on its own.
  */
class StageSpec extends SparkSpec {
  import Stage.StageOps

  private def sc = spark.sparkContext

  // 50 rows aggregated out of 20,000: the plan's estimate is the scan's.
  private def aggregate: DataFrame = spark.range(20000)
    .groupBy((col("id") % 50).as("g")).agg(count(lit(1)).as("n"))

  private def size(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  test("a staged aggregate reports its measured size, below the bare estimate") {
    val staged = aggregate.stage("spec:size")
    val bare = aggregate.localCheckpoint()
    info(s"staged ${size(staged)} B, bare estimate ${size(bare)} B")
    assert(size(staged) > 0)
    assert(size(staged) < size(bare))
    assert(staged.collect().toSet == bare.collect().toSet)
    assert(staged.count() == 50)
  }

  test("staging runs the same jobs as a bare localCheckpoint") {
    val (_, bareJobs) = JobCounter.jobsIn(sc)(aggregate.localCheckpoint())
    val (_, stageJobs) = JobCounter.jobsIn(sc)(aggregate.stage("spec:jobs"))
    info(s"$stageJobs jobs staged, $bareJobs bare")
    assert(stageJobs == bareJobs)
    assert(stageJobs >= 1)
  }

  test("its jobs carry the label, and the caller's description is restored") {
    sc.setJobDescription("outer")
    try {
      val (staged, labels) = JobCounter.labelsIn(sc)(aggregate.stage("spec:r1"))
      assert(labels.nonEmpty && labels.forall(_ == "spec:r1"))
      assert(sc.getLocalProperty("spark.job.description") == "outer")
      val (_, after) = JobCounter.labelsIn(sc)(staged.collect())
      assert(after.nonEmpty && after.forall(_ == "outer"))
    } finally sc.setJobDescription(null)
    aggregate.stage("spec:unset")
    assert(sc.getLocalProperty("spark.job.description") == null)
  }

  test("empty and zero-partition inputs stage without error") {
    val schema = StructType(Seq(StructField("x", LongType)))
    val zeroPartitions =
      spark.createDataFrame(sc.emptyRDD[Row], schema)
    assert(zeroPartitions.rdd.getNumPartitions == 0)
    for (df <- Seq(spark.range(0).toDF("x"), zeroPartitions,
                   spark.range(10).toDF("x").filter(col("x") < 0))) {
      val staged = df.stage("spec:empty")
      assert(staged.count() == 0)
      assert(size(staged) > 0)
    }
  }

  test("kCorePeel, lpaLoop and hits label every round's jobs") {
    import spark.implicits._
    // A 4-clique (1-4) plus a tail 4-5-6; a distinct literal keeps the
    // StageCache'd lpaLoop/symStaged keys fresh, so they build here.
    val tag = System.nanoTime()
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
        (3L, 4L), (4L, 5L), (5L, 6L)).toDF("u", "v")
      .filter(lit(tag) > 0)
    def labels(body: => Any): Set[String] =
      JobCounter.labelsIn(sc)(body)._2.toSet

    assert(labels(Graph.kCorePeel(edges, 3, 3)) ==
      (0 to 3).map(r => s"kcore:r$r").toSet)
    assert(labels(Graph.lpaLoop(edges, 3)) ==
      Set("symStaged:sym") ++ (0 to 3).map(r => s"lpa:r$r"))
    assert(labels(Graph.hits(edges.toDF("c", "p"), rounds = 2)) ==
      Set("hits:edges") ++ (1 to 4).map(h => s"hits:h$h"))
  }

  test("no code under src/main checkpoints outside Stage") {
    def files(d: File): Seq[File] =
      Option(d.listFiles).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val all = files(new File("src/main/scala"))
    assert(all.exists(_.getName == "Stage.scala"))
    // A loop's per-round scalar is observed only through Stage.observed.
    def offenders(call: String) = for {
      f <- all if f.getName != "Stage.scala"
      code = {
        val s = Source.fromFile(f, "UTF-8")
        try s.mkString finally s.close()
      }.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
      if code.contains(call)
    } yield f.getPath
    assert(offenders("localCheckpoint(").isEmpty)
    assert(offenders("Observation(").isEmpty)
  }
}
