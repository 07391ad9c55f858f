package graft.ext

import graft.{Bench, SparkSpec}
import graft.operators.Stage
import org.apache.spark.sql.execution.LogicalRDD

/** The staging memo's contract: one build per live key, keys scoped by
  * plan, parameters and session, invalidation, non-staged builds left
  * uncached, the builds + hits counter Bench reads to tell which
  * queries touched the cache, and the bytes of evicted entries whose
  * blocks are still stored.
  */
class StageCacheSpec extends SparkSpec {
  private var n = 0
  private def freshKey(): String = { n += 1; s"StageCacheSpec:$n:${System.nanoTime()}" }
  private def staged(rows: Int) = Stage.local(spark.range(rows).toDF("x"), "spec:staged")
  private def buildsHits: (Long, Long) = {
    val s = StageCache.stats
    (s._2, s._3)
  }

  test("one key: one build, then hits serving the same relation") {
    val key = freshKey()
    var built = 0
    val (b0, h0) = buildsHits
    val first = StageCache.getOrStage(key) { built += 1; staged(5) }
    val second = StageCache.getOrStage(key) { built += 1; staged(5) }
    val third = StageCache.getOrStage(key) { built += 1; staged(5) }
    assert(built == 1)
    assert((second eq first) && (third eq first))
    assert(buildsHits == ((b0 + 1, h0 + 2)))
    assert(third.count() == 5)
  }

  test("keys differ by parameters and by session, not by plan instance") {
    val df = spark.range(10).toDF("x")
    assert(StageCache.keyFor(df, "a", 1) != StageCache.keyFor(df, "a", 2))
    assert(StageCache.keyFor(df, "a") == StageCache.keyFor(spark.range(10).toDF("x"), "a"))
    assert(StageCache.keyFor(df, "a") != StageCache.keyFor(spark.range(11).toDF("x"), "a"))
    val other = spark.newSession()
    assert(StageCache.keyFor(other.range(10).toDF("x"), "a") != StageCache.keyFor(df, "a"))
  }

  test("invalidateAll forces a rebuild") {
    val key = freshKey()
    var built = 0
    StageCache.getOrStage(key) { built += 1; staged(3) }
    StageCache.invalidateAll()
    val again = StageCache.getOrStage(key) { built += 1; staged(3) }
    assert(built == 2)
    assert(again.count() == 3)
    StageCache.getOrStage(key) { built += 1; staged(3) }
    assert(built == 2)
  }

  test("a build that is not a LogicalRDD comes back uncached") {
    val key = freshKey()
    var built = 0
    val entries0 = StageCache.stats._1
    val df = StageCache.getOrStage(key) { built += 1; spark.range(3).toDF("x") }
    StageCache.getOrStage(key) { built += 1; spark.range(3).toDF("x") }
    assert(built == 2)
    assert(StageCache.stats._1 == entries0)
    assert(df.count() == 3)
  }

  test("the builds + hits count moves exactly when getOrStage runs") {
    val c0 = Bench.stageCalls
    spark.range(4).toDF("x").localCheckpoint().count()
    assert(Bench.stageCalls == c0)
    val key = freshKey()
    StageCache.getOrStage(key)(staged(2)) // build
    assert(Bench.stageCalls == c0 + 1)
    StageCache.getOrStage(key)(staged(2)) // hit
    assert(Bench.stageCalls == c0 + 2)
    StageCache.getOrStage(freshKey())(spark.range(2).toDF("x")) // uncached
    assert(Bench.stageCalls == c0 + 3)
    StageCache.keyFor(spark.range(2).toDF("x"), "no-call")
    StageCache.pinnedRddIds
    assert(Bench.stageCalls == c0 + 3)
  }

  test("evicted entries count as forgotten bytes until their blocks are dropped") {
    StageCache.invalidateAll()
    assert(StageCache.forgottenBytes == 0)
    val first = StageCache.getOrStage(freshKey())(staged(1))
    val evictions0 = StageCache.stats._4
    (1 to StageCache.MaxEntries).foreach(_ => StageCache.getOrStage(freshKey())(staged(1)))
    assert(StageCache.stats._4 == evictions0 + 1)
    assert(StageCache.forgottenBytes > 0)
    assert(StageCache.peakForgotten >= StageCache.forgottenBytes)
    assert(first.count() == 1) // the evicted relation still serves its holder
    first.queryExecution.logical match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = true)
      case other => fail(s"not staged: $other")
    }
    assert(StageCache.forgottenBytes == 0)
    StageCache.invalidateAll()
  }
}
