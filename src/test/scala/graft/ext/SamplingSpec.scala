package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private val weights = Seq("train" -> 90, "val" -> 5, "test" -> 5)

  test("hashSplit covers every row with a valid split name") {
    val df = (0L until 2000L).toDF("id")
    val got = Sampling.hashSplit(df, "id", weights)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set("train", "val", "test"))
    assert(got.values.sum == 2000)
    // affine-mod buckets are roughly uniform: train ≈ 90%
    assert(got("train") > 1600 && got("train") < 1950)
  }

  test("split assignment is stable under corpus append") {
    val before = Sampling.hashSplit((0L until 500L).toDF("id"), "id", weights)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val after = Sampling.hashSplit((0L until 1000L).toDF("id"), "id", weights)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    before.foreach { case (id, s) => assert(after(id) == s) }
  }

  test("deterministicSample is a stable subset and nests by percentage") {
    val df = (0L until 2000L).toDF("id")
    val p10 = Sampling.deterministicSample(df, "id", 10)
      .collect().map(_.getLong(0)).toSet
    val p20 = Sampling.deterministicSample(df, "id", 20)
      .collect().map(_.getLong(0)).toSet
    assert(p10.subsetOf(p20))            // smaller sample nests in larger
    assert(p10.nonEmpty && p10.size < 400)
    // re-evaluation is identical (no RNG)
    val again = Sampling.deterministicSample(df, "id", 10)
      .collect().map(_.getLong(0)).toSet
    assert(again == p10)
  }

  test("weights must sum to 100") {
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(Seq(1L).toDF("id"), "id", Seq("a" -> 50, "b" -> 40))
    }
  }

  test("perKeyQuota caps each key and keeps a deterministic winner set") {
    val df = (0L until 300L).map(i => (i, s"k${i % 3}")).toDF("id", "key")
    val kept = Sampling.perKeyQuota(df, "key", "id", cap = 10)
      .collect().map(r => (r.getString(1), r.getLong(0)))
    val perKey = kept.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perKey == Map("k0" -> 10, "k1" -> 10, "k2" -> 10))
    // deterministic: rerun yields the identical kept set
    val again = Sampling.perKeyQuota(df, "key", "id", cap = 10)
      .collect().map(r => (r.getString(1), r.getLong(0)))
    assert(kept.toSet == again.toSet)
    // a key under its cap is kept whole
    val small = Seq((1L, "x"), (2L, "x")).toDF("id", "key")
    assert(Sampling.perKeyQuota(small, "key", "id", cap = 10).count() == 2)
  }

  test("perKeyQuotaSalted equals perKeyQuota on a synthetic hot key") {
    // One pathological mega-source (4700 of 5000 rows on "hot") plus two
    // normal keys — the power-law shape that breaks a single
    // partition-by-key window at scale. The two-level form must keep the
    // IDENTICAL winner set: cell-capping can never evict a true winner
    // (a row among the cap smallest of its key group is among the cap
    // smallest of its own salt cell).
    val df = (0L until 5000L)
      .map(i => (i, if (i < 4700) "hot" else s"k${i % 2}")).toDF("id", "key")
    val plain = Sampling.perKeyQuota(df, "key", "id", cap = 15)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    for (salts <- Seq(1, 4, 16)) {
      val salted = Sampling.perKeyQuotaSalted(df, "key", "id", cap = 15, salts)
        .collect().map(r => (r.getString(1), r.getLong(0))).toSet
      assert(salted == plain, s"winner set diverged at salts=$salts")
    }
  }

  test("bucket and shard hashes stay in range for extreme long keys") {
    // Pre-fix, key·2654435761 overflowed signed 64-bit above ~3.47e9 and
    // produced NEGATIVE shard ids; the mod-P-before-multiply form must
    // keep every assignment in contract across the full key range.
    val extremes = Seq(0L, 1L, Int.MaxValue.toLong, 3470000000L,
      1L << 40, 1L << 60, Long.MaxValue)
    val df = extremes.toDF("id")
    val got = df.select(
        Sampling.bucket100(col("id")).as("b"),
        Sampling.shardOf(col("id"), 8).as("s"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    got.foreach { case (b, s) =>
      assert(b >= 0 && b < 100, s"bucket out of range: $b")
      assert(s >= 0 && s < 8, s"shard out of range: $s")
    }
  }

  test("shardShuffle assigns every row one shard with contiguous positions") {
    val df = (0L until 400L).toDF("id")
    val rows = Sampling.shardShuffle(df, "id", nShards = 4)
      .select("id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.length == 400)
    rows.groupBy(_._2).foreach { case (_, rs) =>
      // positions are 1..n within each shard, no gaps or ties
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.length).toSeq)
    }
    // shard hash is independent of bucket100: shards are roughly even
    rows.groupBy(_._2).values.foreach(rs => assert(rs.length > 60))
    // deterministic order: position of each id is stable across runs
    val again = Sampling.shardShuffle(df, "id", nShards = 4)
      .select("id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // the prefix-sum form equals the per-shard window reference exactly
    // (the r16 rewrite: same (bucket100(id), id) order within shard,
    // recovered from ONE global two-pass prefix)
    import org.apache.spark.sql.expressions.Window
    val wRef = Window.partitionBy(col("shard"))
      .orderBy(Sampling.bucket100(col("id")), col("id"))
    val ref = df.withColumn("shard", Sampling.shardOf(col("id"), 4))
      .withColumn("pos", row_number().over(wRef).cast("long"))
      .select("id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.sortBy(_._1).toSeq == ref.sortBy(_._1).toSeq,
      "prefix-sum shardShuffle diverged from the window reference")
    // no per-shard window survives in the plan — the whole point
    val windows = Sampling.shardShuffle(df, "id", nShards = 4)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    assert(windows.forall(_.partitionSpec.exists(p => p.references
      .exists(_.name.startsWith("__")))),
      s"expected only range-keyed prefix windows, got: $windows")
  }

  test("shardShuffle takes keys >= 2^44 and still equals the window reference") {
    val df = ((0L until 100L).map(i => (1L << 44) + i * 7919L) ++
      (0L until 100L).map(i => (1L << 60) + i)).toDF("id")
    val rows = Sampling.shardShuffle(df, "id", nShards = 3)
      .select("id", "shard", "pos").as[(Long, Int, Long)].collect()
    import org.apache.spark.sql.expressions.Window
    val ref = df.withColumn("shard", Sampling.shardOf(col("id"), 3))
      .withColumn("pos", row_number().over(Window.partitionBy(col("shard"))
        .orderBy(Sampling.bucket100(col("id")), col("id"))).cast("long"))
      .select("id", "shard", "pos").as[(Long, Int, Long)].collect()
    assert(rows.length == 200)
    assert(rows.sortBy(_._1).toSeq == ref.sortBy(_._1).toSeq)
  }

  test("temperature mix flattens a skewed source distribution") {
    // 800 'web', 150 'books', 50 'code' — α=½ should downsample web
    // hardest and keep (nearly) all of the rarest source.
    val rows = (0L until 800L).map(i => ("web", i)) ++
      (800L until 950L).map(i => ("books", i)) ++
      (950L until 1000L).map(i => ("code", i))
    val df = rows.toDF("source", "doc_id")
    val rep = Sampling.temperatureMixReport(df, "source", "doc_id",
        targetPct = 40)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_total"), r.getAs[Long]("weight"),
          r.getAs[Long]("rate_ppm"), r.getAs[Long]("n_kept"))).toMap
    assert(rep.keySet == Set("web", "books", "code"))
    // weights are ⌊1e6·√n⌋
    assert(rep("web")._2 == math.floor(1e6 * math.sqrt(800.0)).toLong)
    // kept never exceeds total; rarer sources keep a HIGHER fraction
    rep.values.foreach { case (n, _, _, k) => assert(k <= n && k >= 0) }
    val rate = (s: String) => rep(s)._3
    assert(rate("code") > rate("books") && rate("books") > rate("web"),
      s"rates not flattening: $rep")
    // expected keep counts land near rate·n (hash gate is uniform)
    rep.values.foreach { case (n, _, ppm, k) =>
      val exp = n * ppm / 1000000L
      assert(math.abs(k - exp) <= n / 10 + 3, s"kept $k vs expected $exp")
    }
    // deterministic: a second run reproduces the report exactly
    val again = Sampling.temperatureMixReport(df, "source", "doc_id", 40)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_kept")).toMap
    assert(rep.map { case (s, t) => s -> t._4 } == again)
  }

  test("q288 temperature sweep replays all four dials by hand; tau=1 " +
      "anchors at raw proportions") {
    // A×16, B×1, target 40% → t_target = 6
    val rows = (0L until 16L).map(i => ("A", i)) ++ Seq(("B", 16L))
    val df = rows.toDF("source", "doc_id")
    val out = Sampling.temperatureSweep(df, "source", targetPct = 40)
      .collect().map(r => (r.getInt(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6))).toMap
    // τ=25: weights 2e6/1e6 → A 250000 ppm, B capped 1e6; kept 4/1
    assert(out((25, "A")) === ((16L, 2000000L, 250000L, 4L, 1470L)))
    assert(out((25, "B")) === ((1L, 1000000L, 1000000L, 1L, 1470L)))
    // τ=50: weights 4e6/1e6 → 300000 / capped; kept 4/1
    assert(out((50, "A")) === ((16L, 4000000L, 300000L, 4L, 1470L)))
    assert(out((50, "B")) === ((1L, 1000000L, 1000000L, 1L, 1470L)))
    // τ=75: weights 8e6/1e6 → 333333 / 666666; kept 5/0
    assert(out((75, "A")) === ((16L, 8000000L, 333333L, 5L, 1000L)))
    assert(out((75, "B")) === ((1L, 1000000L, 666666L, 0L, 1000L)))
    // τ=100 (raw proportions): BOTH sources at the same rate — the
    // weight ∝ n cancels exactly in the integer rational
    assert(out((100, "A"))._3 === out((100, "B"))._3)
    assert(out((100, "A")) === ((16L, 16000000L, 352941L, 5L, 1000L)))
    // the dial's point: effective source count flattens as τ drops
    assert(out((25, "A"))._5 > out((100, "A"))._5)
  }

  test("systematic sample: total multiplicity is exactly k, PPS bounds hold") {
    import org.apache.spark.sql.functions.col
    val docs = (1L to 500L).map(i => (i, 1L + (i * 7919) % 400))
    val df = spark.createDataFrame(docs).toDF("id", "w").repartition(7)
    val k = 37
    val got = Sampling.systematicSample(df, "id", "w", k)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("multiplicity"))
      .toMap
    val total = docs.map(_._2).sum
    assert(got.values.sum === k, s"pointer count drifted: $got")
    // every selected row satisfies the PPS inclusion bound ⌈k·w/W⌉
    got.foreach { case (id, m) =>
      val w = docs.find(_._1 == id).get._2
      assert(m <= (k * w + total - 1) / total,
        s"row $id drawn $m times with weight $w")
    }
    // invariant to the range count of the underlying prefix sum
    val again = Sampling.systematicSample(df, "id", "w", k, ranges = 3)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("multiplicity"))
      .toMap
    assert(got === again)
    // a weight-dominant row is drawn multiple times
    val heavy = df.unionByName(Seq((10000L, total)).toDF("id", "w"))
    val h = Sampling.systematicSample(heavy, "id", "w", k)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("multiplicity"))
      .toMap
    assert(h(10000L) >= k / 2 - 1, s"heavy row under-drawn: $h")
  }

  test("weightedReservoir: exact size, determinism, priority ordering") {
    val df = (0L until 1000L).map(i => (i, 1L + i % 7)).toDF("id", "w")
    val s1 = Sampling.weightedReservoir(df, "id", col("w"), 50).collect()
    assert(s1.length == 50)
    // priorities are <= 0 (u in (0,1]) and sorted descending
    val prios = s1.map(_.getAs[Double]("priority"))
    assert(prios.forall(_ <= 0.0))
    assert(prios.zip(prios.tail).forall { case (a, b) => a >= b })
    // deterministic: a rerun draws the identical sample
    val s2 = Sampling.weightedReservoir(df, "id", col("w"), 50)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(s2 == s1.map(_.getAs[Long]("id")).toSet)
    // k >= n degenerates to the whole input
    val all = Sampling.weightedReservoir(df.limit(10), "id", col("w"), 50)
      .collect()
    assert(all.length == 10)
  }

  test("weightedReservoir: inclusion probability tracks weight") {
    // Two interleaved strata of equal size: weight 20 vs weight 1. The
    // heavy stratum must dominate a k=200 sample from 2000 rows
    // (E[heavy share] >> 1/2; deterministic hash, so this is a fixed
    // fact of the fixture, not a flaky draw).
    val df = (0L until 2000L).map(i => (i, if (i % 2 == 0) 20L else 1L))
      .toDF("id", "w")
    val heavy = Sampling.weightedReservoir(df, "id", col("w"), 200)
      .collect().count(_.getAs[Long]("w") == 20L)
    assert(heavy > 150, s"heavy stratum drew only $heavy of 200")
  }

  test("weightedReservoir: zero/negative weights clamp to 1, never NaN-win") {
    // A zero weight used to yield priority lnu/0 = -Inf or NaN, and
    // Spark sorts NaN FIRST under desc — a zero-weight row could
    // silently win a slot. The operator now clamps weights to >= 1.
    val df = (0L until 100L)
      .map(i => (i, if (i < 10) 0L else if (i < 20) -5L else 1L))
      .toDF("id", "w")
    val s = Sampling.weightedReservoir(df, "id", col("w"), 30).collect()
    assert(s.length == 30)
    val prios = s.map(_.getAs[Double]("priority"))
    assert(prios.forall(p => !p.isNaN && !p.isInfinite))
    assert(s.forall(_.getAs[Long]("weight") == 1L)) // all clamped equal
    // identical to the run where every weight is literally 1
    val ones = Sampling.weightedReservoir(
      df.withColumn("w", lit(1L)), "id", col("w"), 30)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(ones == s.map(_.getAs[Long]("id")).toSet)
  }

  test("mwTrajectory replays the BigInt hand-unroll exactly (2-source fixture)") {
    // independent driver-side replay of the MW recursion: raw =
    // share·factor, share' = raw·1e6 div Σraw (floor), 4 rounds
    val base = Seq(("a", 600000L, 1500000L), ("b", 400000L, 500000L))
      .toDF("source", "share_ppm", "factor_micro")
    val rounds = 4
    val factors = Map("a" -> BigInt(1500000), "b" -> BigInt(500000))
    var w = Map("a" -> BigInt(600000), "b" -> BigInt(400000))
    val expect = (1 to rounds).map { t =>
      val raw = w.map { case (s, v) => s -> v * factors(s) }
      val rt = raw.values.sum
      val nw = raw.map { case (s, v) => s -> v * 1000000 / rt }
      val l1 = nw.map { case (s, v) => (v - w(s)).abs }.sum
      val ss = nw.values.sum
      val rows = nw.keys.toSeq.sorted.map(s =>
        (t, s, w(s).toLong, nw(s).toLong, (nw(s) - w(s)).toLong,
          factors(s).toLong, l1.toLong, ss.toLong))
      w = nw
      rows
    }.flatten
    val got = Sampling.mwTrajectory(base, rounds).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got == expect)
    // direction + renormalization pins: the max-factor source's share
    // is non-decreasing, the min-factor source's non-increasing, and
    // Σshare stays within |sources| flooring loss of 1e6, every round
    got.filter(_._2 == "a").foreach(r => assert(r._5 >= 0))
    got.filter(_._2 == "b").foreach(r => assert(r._5 <= 0))
    got.foreach(r => assert(r._8 <= 1000000L && r._8 >= 1000000L - 2))
  }

  test("mwTrajectoryAdaptive replays the BigInt hand-unroll; the bar moves and the step damps") {
    // per-round re-measured excess: bar_t = ⌊Σ w·nll / Σ w⌋, factor_t =
    // max(1, 1e6 + nll − bar_t), then the same floor renormalization
    val base = Seq(("a", 600000L, 2000000L), ("b", 400000L, 1000000L))
      .toDF("source", "share_ppm", "nll_micro")
    val rounds = 4
    val nll = Map("a" -> BigInt(2000000), "b" -> BigInt(1000000))
    var w = Map("a" -> BigInt(600000), "b" -> BigInt(400000))
    val expect = (1 to rounds).map { t =>
      val bar = w.map { case (s, v) => v * nll(s) }.sum / w.values.sum
      val f = nll.map { case (s, v) =>
        s -> (BigInt(1000000) + v - bar).max(BigInt(1)) }
      val raw = w.map { case (s, v) => s -> v * f(s) }
      val rt = raw.values.sum
      val nw = raw.map { case (s, v) => s -> v * 1000000 / rt }
      val l1 = nw.map { case (s, v) => (v - w(s)).abs }.sum
      val ss = nw.values.sum
      val rows = nw.keys.toSeq.sorted.map(s =>
        (t, s, w(s).toLong, nw(s).toLong, (nw(s) - w(s)).toLong,
          f(s).toLong, bar.toLong, l1.toLong, ss.toLong))
      w = nw
      rows
    }.flatten
    val got = Sampling.mwTrajectoryAdaptive(base, rounds).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8))).toSeq
    assert(got == expect)
    // the adaptive property q311 lacks: as mass moves toward the lossy
    // domain the measured bar RISES monotonically...
    val bars = (1 to rounds).map(t => got.find(_._1 == t).get._7)
    assert(bars == bars.sorted && bars.distinct.size > 1,
      s"bar did not move: $bars")
    // ...and the L1 step SHRINKS (self-damping toward the equalized
    // mixture, vs the static factor's run to the vertex)
    val l1s = (1 to rounds).map(t => got.find(_._1 == t).get._8)
    assert(l1s == l1s.sorted.reverse, s"step did not damp: $l1s")
  }
}
