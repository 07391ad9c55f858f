package graft.ext

import graft.SparkSpec

/** Rank-2 ALS: fit quality on exactly-factorizable data, clamp safety on
  * adversarial input, report shape. Value-level parity is the q294
  * DuckDB oracle; these pin the algorithm's semantics.
  */
class FactorizationSpec extends SparkSpec {
  import spark.implicits._

  private def report(ratings: Seq[(Long, Long, Long)], rounds: Int = 2) = {
    val r = ratings.toDF("u", "i", "r")
    val segs = ratings.map(_._1).distinct
      .map(u => (u, if (u % 2 == 0) "even" else "odd")).toDF("u", "seg")
    Factorization.alsRank2Report(r, "u", "i", segs, "seg", rounds = rounds)
      .collect()
  }

  test("exact rank-1 structure fits tightly and does not degrade per round") {
    // r(u,i) = a_u · b_i is exactly representable at rank 2; ALS from the
    // deterministic init must drive the training RMSE far below the
    // rating scale and never lose ground with more rounds.
    val as = Map(1L -> 2L, 2L -> 3L, 3L -> 5L, 4L -> 7L)
    val bs = Map(10L -> 1L, 11L -> 2L, 12L -> 4L, 13L -> 3L, 14L -> 5L)
    val ratings = for {
      u <- as.keys.toSeq; i <- bs.keys.toSeq
    } yield (u, i, as(u) * bs(i))
    val rep = report(ratings, rounds = 3)
    assert(rep.length == 6) // 3 rounds x 2 segments
    val byRound = rep.groupBy(_.getAs[Int]("als_round")).view.mapValues { rs =>
      val vol = rs.map(_.getAs[Long]("n_ratings")).sum
      rs.map(r => r.getAs[Long]("rmse_micro").toDouble *
        r.getAs[Long]("n_ratings")).sum / vol
    }.toMap
    assert(byRound(3) <= byRound(1) + 1,
      s"fit degraded across rounds: $byRound")
    val meanMicro = ratings.map(_._3).sum.toDouble / ratings.size * 1e6
    assert(byRound(3) < 0.05 * meanMicro,
      s"round-3 rmse ${byRound(3)} not << mean rating $meanMicro")
  }

  test("near-singular data stays finite under the ridge + clamp contract") {
    // One item rated identically-hugely by every user: the normal matrix
    // is rank-deficient up to λ; factors must clamp, predictions and the
    // report must stay finite exact integers.
    val ratings = (1L to 5L).map(u => (u, 1L, 1000000L))
    val rep = report(ratings)
    assert(rep.nonEmpty)
    rep.foreach { r =>
      val rmse = r.getAs[Long]("rmse_micro")
      assert(rmse >= 0, s"negative rmse $rmse")
    }
  }

  test("report volumes: every (round, segment) carries the full rating count") {
    val ratings = Seq((1L, 10L, 3L), (1L, 11L, 4L), (2L, 10L, 5L))
    val rep = report(ratings)
    // u=1 (odd): 2 ratings; u=2 (even): 1 rating — per round.
    val vols = rep.map(r => (r.getAs[Int]("als_round"),
      r.getAs[String]("segment")) -> r.getAs[Long]("n_ratings")).toMap
    assert(vols((1, "odd")) == 2 && vols((1, "even")) == 1)
    assert(vols((2, "odd")) == 2 && vols((2, "even")) == 1)
  }

  private def implicitReport(ratings: Seq[(Long, Long, Long)],
                             rounds: Int = 2) = {
    val r = ratings.toDF("u", "i", "r")
    val segs = ratings.map(_._1).distinct
      .map(u => (u, if (u % 2 == 0) "even" else "odd")).toDF("u", "seg")
    Factorization.alsImplicitReport(r, "u", "i", segs, "seg",
      rounds = rounds).collect()
  }

  test("implicit ALS: preference recovery on block structure — observed" +
      " pairs score near 1, background stays small") {
    // Two disjoint taste blocks: users 1-4 interact only with items
    // 10-13, users 5-8 only with items 20-23 (counts 5). The HKV model
    // must pull observed x·y toward 1 (wrmse << 10^6) while the
    // background mean-squared score (half of whose mass is cross-block
    // zeros) stays well under the observed signal.
    val ratings = (for {
      u <- 1L to 4L; i <- 10L to 13L
    } yield (u, i, 5L)) ++ (for {
      u <- 5L to 8L; i <- 20L to 23L
    } yield (u, i, 5L))
    val rep = implicitReport(ratings, rounds = 2)
    assert(rep.length == 4) // 2 rounds x 2 segments
    val last = rep.filter(_.getAs[Int]("als_round") == 2)
    last.foreach { r =>
      val wrmse = r.getAs[Long]("wrmse_micro")
      assert(wrmse < 300000L, // observed preference within 0.3 of 1
        s"implicit fit poor: wrmse_micro $wrmse")
      val bg = r.getAs[Long]("bg_micro")
      // mean squared score over ALL pairs: half the mass is cross-block
      // (driven to ~0), so it must sit clearly below a perfect-recall
      // all-ones world (10^6)
      assert(bg < 800000L, s"background term not suppressed: $bg")
      assert(bg >= 0L)
    }
    // confidence volume: c_sum = sum(1 + 40*r) exactly
    val r1 = rep.filter(r => r.getAs[Int]("als_round") == 1)
    val cTot = r1.map(_.getAs[Long]("c_sum")).sum
    assert(cTot == ratings.map(1L + 40L * _._3).sum)
  }

  test("implicit ALS: zero-interaction-weight guardrails (require)") {
    val r = Seq((1L, 10L, 1L)).toDF("u", "i", "r")
    val segs = Seq((1L, "odd")).toDF("u", "seg")
    intercept[IllegalArgumentException] {
      Factorization.alsImplicitReport(r, "u", "i", segs, "seg", alpha = 0)
    }
    intercept[IllegalArgumentException] {
      Factorization.alsImplicitReport(r, "u", "i", segs, "seg", lambda = 0.0)
    }
    intercept[IllegalArgumentException] {
      Factorization.alsImplicitReport(r, "u", "i", segs, "seg", rounds = 0)
    }
  }

  test("implicit ALS: confidence weighting changes the solve vs explicit") {
    // Same ratings fact fed to both forms: the implicit model fits
    // preference 1 (not the raw magnitude), so on ratings far from 1
    // the two trajectories must differ — pinning that the confidence
    // machinery is real, not a relabeled explicit solve.
    val ratings = Seq((1L, 10L, 9L), (1L, 11L, 3L), (2L, 10L, 7L),
      (2L, 12L, 2L), (3L, 11L, 8L), (3L, 12L, 4L))
    val exp = report(ratings, rounds = 1).map(_.getAs[Long]("rmse_micro"))
    val imp = implicitReport(ratings, rounds = 1)
      .map(_.getAs[Long]("wrmse_micro"))
    assert(exp.toSet != imp.toSet,
      "implicit trajectory identical to explicit — confidence weighting inert")
  }

  test("a raw-plan input's item init is staged once: the second call hits") {
    // The init memo is keyed on the ratings plan before staging; keyed
    // after, each call's freshly checkpointed ratings would miss and
    // leave a dead entry behind.
    val ratings = Seq((1L, 10L, 3L), (1L, 11L, 4L), (2L, 10L, 5L))
      .toDF("u", "i", "r")
    val segs = Seq((1L, "odd"), (2L, "even")).toDF("u", "seg")
    val first = Factorization.alsRank2Report(ratings, "u", "i", segs, "seg")
      .collect().toSeq
    val before = StageCache.stats
    val second = Factorization.alsRank2Report(ratings, "u", "i", segs, "seg")
      .collect().toSeq
    val after = StageCache.stats
    assert(after._2 == before._2, "second call built a new als-y0 entry")
    assert(after._3 == before._3 + 1, "second call did not hit the als-y0 entry")
    assert(second == first)
  }

  test("only attribute projections over a staged relation count as staged") {
    import org.apache.spark.sql.functions.col
    val base = Seq((1L, 10L, 3L)).toDF("u", "i", "r").localCheckpoint()
    def rooted(df: org.apache.spark.sql.DataFrame) =
      Factorization.rddRooted(df.queryExecution.optimizedPlan)
    assert(rooted(base))
    assert(rooted(base.select(col("u").as("a"), col("i"), col("r").as("b"))))
    assert(!rooted(base.select(col("u"), (col("r") * 2).as("r"))))
    assert(!rooted(base.select(col("u"), col("i"), col("r")).filter(col("r") > 1)))
    assert(!rooted(Seq((1L, 10L, 3L)).toDF("u", "i", "r")))
  }
}
