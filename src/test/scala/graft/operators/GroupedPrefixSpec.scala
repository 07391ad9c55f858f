package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins the GROUPED two-pass prefix/rank machinery to the
  * partition-by-group window reference semantics — the window shape it
  * exists to replace — under ties, group skew, both directions, and
  * range counts from degenerate (1) to more-than-rows, plus the
  * ntile / percent_rank / cume_dist recovery formulas against Spark's
  * own window functions. */
class GroupedPrefixSpec extends SparkSpec {
  import spark.implicits._

  // 3 groups with very different sizes (the low-cardinality-skew case
  // the operator exists for), heavy key ties (v repeats every 7), a
  // unique tie column.
  private lazy val data = scala.util.Random.shuffle((0L until 600L).toList)
    .map(i => (i, if (i % 10 < 7) "big" else if (i % 10 < 9) "mid" else "sml",
      i % 7, (i % 13) + 1))
    .toDF("id", "g", "v", "amt")

  private def refRank(descending: Boolean): Map[Long, (Long, Long)] = {
    val ord = if (descending) Seq(col("v").desc, col("id"))
      else Seq(col("v").asc, col("id"))
    val w = Window.partitionBy("g").orderBy(ord: _*)
    val cw = Window.partitionBy("g")
    data.withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(cw))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(4), r.getLong(5))).toMap
  }

  test("grouped rank + group count match the partitioned window, any range count") {
    for (desc <- Seq(false, true); n <- Seq(1, 4, 32, 1000)) {
      val ref = refRank(desc)
      val got = GroupedPrefix.rankWithin(data, "g", "v", descending = desc,
          ties = Seq(col("id")), rankCol = "rk", nCol = Some("n"),
          ranges = n)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(4), r.getLong(5))).toMap
      assert(got == ref, s"desc=$desc ranges=$n diverged")
    }
  }

  test("grouped exclusive value prefix matches the partitioned window") {
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ref = data.withColumn("p", coalesce(sum(col("amt")).over(w), lit(0L)))
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    for (n <- Seq(1, 5, 32)) {
      val got = GroupedPrefix.exclusiveMulti(data, "g", "v",
          descending = true, ties = Seq(col("id")),
          valueCols = Seq("amt" -> "p"), ranges = n)
        .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
      assert(got == ref, s"ranges=$n diverged")
    }
  }

  test("ranksMulti over 2 and 3 axes equals one partitioned row_number per axis, plus the group count") {
    // different keys, mixed directions, one shared tie column
    val df = data.withColumn("u", (col("id") * 37) % 19)
    val axes = Seq(("v", false, "r1"), ("amt", true, "r2"), ("u", true, "r3"))
    val ref = axes.foldLeft(df) { case (acc, (k, desc, rc)) =>
        val o = if (desc) col(k).desc else col(k).asc
        acc.withColumn(rc, row_number()
          .over(Window.partitionBy("g").orderBy(o, col("id"))).cast("long"))
      }.withColumn("n", count(lit(1)).over(Window.partitionBy("g")))
    for (k <- Seq(2, 3); n <- Seq(1, 3, 8)) {
      val spec = axes.take(k)
      val outCols = spec.map(_._3) :+ "n"
      def byId(out: org.apache.spark.sql.DataFrame) =
        out.select(col("id") +: outCols.map(col): _*).collect()
          .map(r => r.getLong(0) -> outCols.indices.map(i => r.getLong(i + 1)))
          .toMap
      val got = GroupedPrefix.ranksMulti(df, "g", spec, ties = Seq(col("id")),
        nCol = Some("n"), ranges = n)
      assert(got.columns.toSeq == df.columns.toSeq ++ outCols)
      assert(byId(got) == byId(ref), s"axes=$k ranges=$n diverged")
    }
  }

  test("ntile/percent_rank/cume_dist recoveries match Spark's window functions") {
    val w = Window.partitionBy("g").orderBy(col("v").asc, col("id"))
    val ref = data
      .withColumn("t", ntile(5).over(w))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(4), r.getDouble(5), r.getDouble(6))).toMap
    val got = GroupedPrefix.rankWithin(data, "g", "v", descending = false,
        ties = Seq(col("id")), rankCol = "rk", nCol = Some("n"), ranges = 8)
      .withColumn("t", GroupedPrefix.ntileFromRank(col("rk"), col("n"), 5))
      .withColumn("pr", GroupedPrefix.percentRankFromRank(col("rk"), col("n")))
      .withColumn("cd", GroupedPrefix.cumeDistFromRank(col("rk"), col("n")))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(6), r.getDouble(7), r.getDouble(8))).toMap
    assert(got == ref)
  }

  test("ntile recovery matches SQL ntile for every (n, b) shape incl. n < b") {
    // exhaustive small-domain check of the ceil/floor bucket split
    for (n <- 1 to 17; b <- Seq(1, 2, 3, 4, 5, 16)) {
      val rows = (1L to n.toLong).map(r => (r, n.toLong)).toDF("rk", "n")
      val got = rows.withColumn("t",
          GroupedPrefix.ntileFromRank(col("rk"), col("n"), b))
        .orderBy("rk").collect().map(_.getInt(2)).toSeq
      val ref = rows.withColumn("t",
          ntile(b).over(Window.orderBy("rk")))
        .orderBy("rk").collect().map(_.getInt(2)).toSeq
      assert(got == ref, s"n=$n b=$b: $got vs $ref")
    }
  }

  test("single-row groups pin percent_rank to 0 and cume_dist to 1") {
    val one = Seq((1L, "a", 5L)).toDF("id", "g", "v")
    val r = GroupedPrefix.rankWithin(one, "g", "v", descending = false,
        ties = Seq(col("id")), rankCol = "rk", nCol = Some("n"))
      .select(GroupedPrefix.percentRankFromRank(col("rk"), col("n")),
        GroupedPrefix.cumeDistFromRank(col("rk"), col("n")))
      .collect().head
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 1.0)
  }

  test("NULL groups fail loudly; the prefix window is range-keyed, never group-keyed") {
    // A partition-by window would rank NULL as its own partition; the
    // operator's index join would silently DROP those rows instead —
    // so a NULL group is a contract violation, refused with a loud
    // require (the r15 ADVICE ask), not silent row loss.
    val withNull = data.withColumn("g",
      when(col("id") % 50 === 0, lit(null)).otherwise(col("g")))
    val e = intercept[IllegalArgumentException] {
      GroupedPrefix.rankWithin(withNull, "g", "v",
        descending = false, ties = Seq(col("id")), rankCol = "rk", ranges = 8)
    }
    assert(e.getMessage.contains("NULL values in group column"))
    val out = GroupedPrefix.rankWithin(data, "g", "v",
      descending = false, ties = Seq(col("id")), rankCol = "rk", ranges = 8)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(__rng"),
      s"expected a range-id-keyed window exchange in:\n$plan")
    assert(!plan.contains("hashpartitioning(g#"),
      s"group-keyed window exchange leaked into:\n$plan")
  }

  test("the driver scan bound guards the groups x ranges PRODUCT") {
    // 2^21-group ceiling alone would let pass 1 collect a multi-GB
    // offset table at cluster-scale shuffle parallelism; the require
    // bounds the product (r15 verdict's one-line ask).
    import spark.implicits._
    val many = (0 until 3000).map(i => (i.toLong, s"g$i", i.toLong))
      .toDF("id", "g", "v")
    val e = intercept[IllegalArgumentException] {
      GroupedPrefix.rankWithin(many, "g", "v", descending = false,
        ties = Seq(col("id")), rankCol = "rk", ranges = 8192)
    }
    assert(e.getMessage.contains("groups*ranges"))
  }

  test("weightedReservoir rejects fractional weight columns loudly") {
    val df = Seq((1L, 2.5), (2L, 1.0)).toDF("k", "w")
    val e = intercept[IllegalArgumentException] {
      graft.ext.Sampling.weightedReservoir(df, "k", col("w"), 1)
    }
    assert(e.getMessage.contains("integral weight"))
  }
}
