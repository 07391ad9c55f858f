package graft.operators

import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftExpressionBridge, Observation, Row}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD

/** The one eager staging of the library. Every intermediate that is
  * read more than once, or whose lineage a loop must cut, is staged by
  * [[local]] (or `.stage(label)`), which does three things:
  *
  *  - materializes it once with `localCheckpoint`: the same eager job or
  *    jobs, the same `LogicalRDD` root over blocks at MEMORY_AND_DISK.
  *    Not `persist`: a checkpoint cuts the lineage, and its blocks are
  *    released by the ContextCleaner once the DataFrame is garbage
  *    collected, where `persist` pins a CacheManager entry until an
  *    explicit `unpersist` that a lazily returned plan never schedules;
  *  - stamps the root with the MEASURED size of those blocks (memory +
  *    disk). A bare `localCheckpoint` keeps the origin plan's size
  *    ESTIMATE, which can be orders of magnitude off (a 50-row aggregate
  *    reads as 2.3 MiB) and, when a loop's state feeds back into itself,
  *    compounds across rounds. The row count is left unset: counting the
  *    rows needs an observed metric on the materializing job, measured
  *    at +6–14% per staging (Spark 4.1.2, `local[4]`, a 50-row
  *    aggregate), in a suite bound by driver time. A relation
  *    the block manager reports as 0 bytes keeps Spark's estimate, so an
  *    unmeasured relation never looks small enough to broadcast;
  *  - labels its jobs: `spark.job.description` is `label` while it runs
  *    and restored afterwards, so a profile or the Spark UI can group
  *    staging cost by operator and round. Labels read `operator:part`
  *    for a one-off staging and `operator:r<round>` inside a loop
  *    (`kcore:r7`, `hits:h3`, `lpa:r2`).
  *
  * A loop that needs a scalar of its round (a changed count, a norm, a
  * frontier size) stages that round with [[observed]], which reads the
  * scalar from the staging job itself. It pays the +6–14% above, so it
  * is used only where it replaces a separate action on the relation.
  */
private[graft] object Stage {
  private val DescriptionKey = "spark.job.description"

  def local(df: DataFrame, label: String): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val prior = sc.getLocalProperty(DescriptionKey)
    sc.setLocalProperty(DescriptionKey, label)
    val staged =
      try df.localCheckpoint()
      finally sc.setLocalProperty(DescriptionKey, prior)
    staged.queryExecution.logical match {
      case lr: LogicalRDD =>
        val bytes = storedBytes(lr.rdd)
        if (bytes <= 0) staged
        else GraftExpressionBridge.dataFrame(staged.sparkSession,
          lr.copy()(GraftExpressionBridge.classicSession(staged.sparkSession),
            Some(Statistics(sizeInBytes = bytes)), Some(lr.constraints)))
      case _ => staged
    }
  }

  /** Bytes (memory + disk) the block manager holds for `rdd`; 0 when it
    * holds none or cannot be asked. */
  def storedBytes(rdd: RDD[_]): Long =
    try GraftExpressionBridge.storageInfo(rdd).map(i => i.memSize + i.diskSize).sum
    catch { case NonFatal(_) => 0L }

  /** [[local]] that also returns `first` and `rest`, aggregates over
    * `df`'s rows, as one `Row` in their order, observed by the job that
    * materializes the staging. The unnamed `Observation` takes a fresh
    * UUID name, so repeated calls in one query (q285/q291's BFS passes)
    * never share one. */
  def observed(df: DataFrame, label: String, first: Column, rest: Column*)
      : (DataFrame, Row) = {
    val o = Observation()
    val staged = local(df.observe(o, first, rest: _*), label)
    (staged, GraftExpressionBridge.observedRow(o))
  }

  implicit final class StageOps(private val df: DataFrame) extends AnyVal {
    def stage(label: String): DataFrame = local(df, label)
  }
}
