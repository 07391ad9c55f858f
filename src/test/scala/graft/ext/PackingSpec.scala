package graft.ext

import graft.SparkSpec

class PackingSpec extends SparkSpec {
  import spark.implicits._

  test("packByBudget assigns docs greedily by starting offset") {
    // 4 docs of 3 tokens each, budget 5: prefixes 0,3,6,9 → bins 0,0,1,1
    val docs = (1L to 4L).map(i => (i, "a b c")).toDF("doc_id", "text")
    val got = Packing.packByBudget(docs, "doc_id", "text", budget = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L))
  }

  test("packingReport: every doc lands in exactly one bin, ranges contiguous") {
    val docs = (0L until 100L).map(i =>
      (i, (0 to (i % 7).toInt).map(_ => "w").mkString(" "))).toDF("doc_id", "text")
    val rep = Packing.packingReport(docs, "doc_id", "text", budget = 64)
      .orderBy("bin").collect()
    assert(rep.map(_.getAs[Long]("n_docs")).sum == 100)
    // bins partition the id range in order: bin b's last_id + 1 == bin b+1's first_id
    rep.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("last_id") + 1 == b.getAs[Long]("first_id"))
      case _ =>
    }
    // a bin overflows its budget by at most one document's tokens
    rep.dropRight(1).foreach { r =>
      assert(r.getAs[Long]("sum_tokens") >= 64 - 7 &&
        r.getAs[Long]("sum_tokens") <= 64 + 7)
    }
  }

  test("distributed two-pass packing equals the global-window reference") {
    // Adversarial shape for the range scan: 1000 docs, token counts
    // varying 1..23, keys deliberately unsorted at the source, and more
    // requested ranges than the tiny input can fill (empty ranges must
    // contribute zero offset). Equality must hold for EVERY range count —
    // the prefix sum cannot depend on where the range boundaries fall.
    val docs = scala.util.Random.shuffle((0L until 1000L).toList).map(i =>
      (i, (0 to (i % 23).toInt).map(_ => "w").mkString(" ")))
      .toDF("doc_id", "text")
    val ref = Packing.packByBudgetGlobalWindow(docs, "doc_id", "text", 256)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    for (nRanges <- Seq(1, 3, 8, 64)) {
      val got = Packing.packByBudget(docs, "doc_id", "text", 256, ranges = nRanges)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got == ref, s"ranges=$nRanges diverged from the global window")
    }
  }

  test("distributed packing equals the reference on the sf0.001 corpus") {
    val docs = graft.model.Tables.documents(spark, sf001)
    val ref = Packing.packByBudgetGlobalWindow(docs, "doc_id", "text", 2048)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got = Packing.packByBudget(docs, "doc_id", "text", 2048)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == ref)
  }

  test("distributed packing's window is keyed — no global-window task") {
    val docs = (0L until 50L).map(i => (i, "a b")).toDF("doc_id", "text")
    val plan = Packing.packByBudget(docs, "doc_id", "text", 16)
      .queryExecution.executedPlan.toString
    // The prefix window must shuffle on the range id, never on the empty
    // partition spec that moves the corpus to one task.
    assert(plan.contains("hashpartitioning(__rng"),
      s"expected a range-id-keyed window exchange in:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"found a single-partition exchange in:\n$plan")
  }

  test("string keys pack through the two-pass path, matching the reference") {
    // Adversarial for the 7-byte surrogate: many keys share a long
    // common prefix (surrogate TIES — full-key tie ordering must kick
    // in), lengths straddle the 7-byte cut, and keys arrive shuffled.
    val keys = scala.util.Random.shuffle(
      (0 until 500).map(i => f"prefix_shared_$i%03d") ++   // ties at 7 bytes
        Seq("a", "ab", "abcdefg", "abcdefgh", "abcdefgz", "zz"))
    val docs = keys.zipWithIndex
      .map { case (k, i) => (k, (0 to i % 11).map(_ => "w").mkString(" ")) }
      .toDF("doc_key", "text")
    val ref = Packing.packByBudgetGlobalWindow(docs, "doc_key", "text", 97)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    for (nRanges <- Seq(1, 3, 16)) {
      val got = Packing.packByBudget(docs, "doc_key", "text", 97, ranges = nRanges)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(got == ref, s"ranges=$nRanges diverged from the global window")
    }
    // and the plan is the keyed two-pass one, not the single-task window
    val plan = Packing.packByBudget(docs, "doc_key", "text", 97)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(__rng"),
      s"string keys routed off the two-pass path:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"found a single-partition exchange in:\n$plan")
  }

  test("grouped packing equals the per-group window reference, bins reset per group") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // Skewed groups (one dominant), shuffled arrival, varying lengths.
    val rows = scala.util.Random.shuffle(
      (0L until 600L).map(i => ("en", i)) ++
        (0L until 60L).map(i => ("de", i)) ++
        (0L until 7L).map(i => ("ko", i)))
    val docs = rows.map { case (g, i) =>
      (g, i, (0 to (i % 13).toInt).map(_ => "w").mkString(" ")) }
      .toDF("lang", "doc_id", "text")
    val n = size(TextOps.tokens(TextOps.normText(col("text")))).cast("long")
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ref = docs.select(col("lang"), col("doc_id"), n.as("nt"))
      .withColumn("bin", expr("coalesce(sum(nt) over (partition by lang " +
        "order by doc_id rows between unbounded preceding and 1 preceding), 0) div 128"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    for (nRanges <- Seq(1, 4, 32)) {
      val got = Packing.packByBudgetGrouped(docs, "lang", "doc_id", "text",
          budget = 128, ranges = nRanges)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
      assert(got == ref, s"ranges=$nRanges diverged from the per-group window")
    }
    // every group's first doc starts a fresh bin 0 — no cross-group bleed
    val rep = Packing.packingReportGrouped(docs, "lang", "doc_id", "text", 128)
      .orderBy("lang", "bin").collect()
    Seq("de", "en", "ko").foreach { g =>
      assert(rep.filter(_.getString(0) == g).head.getAs[Long]("bin") == 0L,
        s"group $g does not start at bin 0")
    }
  }

  test("grouped packing keeps a key of 2^43 + 7 inside its own group") {
    import org.apache.spark.sql.functions._
    // Under a (group index · 2^42 + key) composite order this key of the
    // first group would sort after every row of the second group, and
    // its bin would count that group's tokens too.
    val big = (1L << 43) + 7
    val rows = (0L until 20L).map(i => ("a", i)) ++ Seq(("a", big)) ++
      (0L until 30L).map(i => ("b", i))
    val docs = rows.map { case (g, i) => (g, i, "w w w") }
      .toDF("lang", "doc_id", "text")
    val n = size(TextOps.tokens(TextOps.normText(col("text")))).cast("long")
    val ref = docs.select(col("lang"), col("doc_id"), n.as("nt"))
      .withColumn("bin", expr("coalesce(sum(nt) over (partition by lang " +
        "order by doc_id rows between unbounded preceding and 1 preceding), 0) div 4"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(ref(("a", big)) == 15L)
    for (nRanges <- Seq(1, 4)) {
      val got = Packing.packByBudgetGrouped(docs, "lang", "doc_id", "text",
          budget = 4, ranges = nRanges)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
      assert(got == ref, s"ranges=$nRanges diverged from the per-group window")
    }
  }

  test("grouped packing plans keyed windows only") {
    val docs = (0L until 50L).map(i => (if (i % 3 == 0) "a" else "b", i, "w w"))
      .toDF("lang", "doc_id", "text")
    val plan = Packing.packByBudgetGrouped(docs, "lang", "doc_id", "text", 16)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(__rng"),
      s"expected the range-id-keyed prefix window in:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"found a single-partition exchange in:\n$plan")
  }

  test("unsupported key types fail fast instead of degrading") {
    val docs = Seq((Array[Byte](1), "a b")).toDF("doc_key", "text")
    intercept[IllegalArgumentException] {
      Packing.packByBudget(docs, "doc_key", "text", budget = 4)
    }
  }

  test("budget must be positive") {
    intercept[IllegalArgumentException] {
      Packing.packByBudget(Seq((1L, "a")).toDF("doc_id", "text"), "doc_id", "text", 0)
    }
  }

  test("packingSweep replays the frontier and total tokens are invariant") {
    // token counts by id order: 3, 4, 2, 5, 3 (prefix 0,3,7,9,14; total 17)
    val docs = Seq(
      (0L, "a b c"), (1L, "a b c d"), (2L, "a b"),
      (3L, "a b c d e"), (4L, "a b c")
    ).toDF("doc_id", "text")
    val counts = Seq(3L, 4L, 2L, 5L, 3L)
    val prefix = counts.scanLeft(0L)(_ + _).init
    val out = Packing.packingSweep(docs, "doc_id", "text",
        budgets = Seq(4, 8, 32)).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    Seq(4, 8, 32).foreach { b =>
      val fills = prefix.zip(counts).groupBy(_._1 / b)
        .map { case (bin, xs) => bin -> xs.map(_._2).sum }
      val nBins = fills.size.toLong
      val over = fills.values.map(f => math.max(0L, f - b)).sum
      val nOver = fills.values.count(_ > b).toLong
      val total = counts.sum
      assert(out(b) === ((nBins, total, total * 1000000L / (nBins * b),
        nOver, over, over * 1000000L / total)), s"budget $b")
    }
    // the cross-budget sanity pin: totals are budget-invariant
    assert(out.values.map(_._2).toSet.size === 1)
    // budget 32 swallows everything into one bin with zero overhang
    assert(out(32)._1 === 1L && out(32)._5 === 0L)
  }
}
