package graft.queries

import graft.SparkSpec
import graft.model.Tables
import org.apache.spark.sql.functions._

/** Value-level properties for the warehouse/mining tier (q201–q206):
  * point-in-time SCD2 join, k-core peeling, association rules, token
  * waterfilling, curriculum bins, PMI collocations. The DuckDB oracle
  * pins cross-engine parity; these pin the semantics against
  * independent re-derivations and fixture graphs.
  */
class WarehouseMiningSpec extends SparkSpec {

  test("point-in-time join equals the last-order-at-or-before formula") {
    // The SCD2 interval active at ship_d is, by construction of the
    // runs, the priority of the customer's LAST order (by date, then
    // orderkey) with order date <= ship_d. Recompute the crosstab that
    // way and compare cell-for-cell.
    val out = MarketAnalytics.pointInTimeJoin(spark, sf001).collect()
      .map(r => (r.getAs[String]("order_priority"),
        r.getAs[String]("active_priority")) ->
        (r.getAs[Long]("n_lines"), r.getAs[Long]("n_orders"))).toMap
    val orders = Tables.orders(spark, sf001)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").cast("date").as("d"), col("o_orderpriority"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDate(2), r.getString(3)))
    val byCust = orders.groupBy(_._2)
    val facts = Tables.lineitem(spark, sf001)
      .select(col("l_orderkey"), col("l_shipdate").cast("date").as("ship_d"))
      .collect().map(r => (r.getLong(0), r.getDate(1)))
    val orderInfo = orders.map(o => o._1 -> (o._2, o._4)).toMap
    val cells = scala.collection.mutable.Map[(String, String),
      (Long, Set[Long])]().withDefaultValue((0L, Set.empty))
    facts.foreach { case (okey, shipD) =>
      val (cust, orderPrio) = orderInfo(okey)
      val active = byCust(cust)
        .filter(o => !o._3.after(shipD))
        .sortBy(o => (o._3.getTime, o._1))
        .lastOption.map(_._4)
      active.foreach { ap =>
        val (n, os) = cells((orderPrio, ap))
        cells((orderPrio, ap)) = (n + 1, os + okey)
      }
    }
    assert(out.keySet == cells.keySet)
    cells.foreach { case (key, (n, os)) =>
      assert(out(key) == ((n, os.size.toLong)), s"cell $key")
    }
  }

  test("k-core peel isolates the core on fixture graphs") {
    import spark.implicits._
    // K4 plus a pendant tail: 2-core = the K4 (tail peeled in 2 rounds);
    // 4-core = empty.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("u", "v")
    val core2 = graft.operators.Graph.kCorePeel(edges, 3, 4).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("core_deg")).toMap
    assert(core2 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    assert(graft.operators.Graph.kCorePeel(edges, 4, 4).count() == 0)
    // Trajectory: round 0 reports the input, counts never increase,
    // and convergence shows as a stable tail with min_deg >= k.
    val traj = graft.operators.Graph.kCorePeelTrajectory(edges, 3, 4)
      .collect().sortBy(_.getAs[Int]("round"))
    assert(traj.length == 5)
    assert(traj.head.getAs[Long]("n_nodes") == 6 &&
      traj.head.getAs[Long]("n_edges") == 8)
    val nodes = traj.map(_.getAs[Long]("n_nodes"))
    assert(nodes.zip(nodes.tail).forall { case (a, b) => a >= b })
    assert(traj.last.getAs[Long]("n_nodes") == 4 &&
      traj.last.getAs[Long]("min_deg") >= 3)
  }

  test("k-core peel drops null-endpoint edges before peeling") {
    import spark.implicits._
    // A triangle plus one edge with a null endpoint: the null names no
    // node, so the 2-core is the triangle and round 0 has 3 edges.
    val edges = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (1L, 3L),
      (2L, 3L), (1L, null)).toDF("u", "v")
    val core = graft.operators.Graph.kCorePeel(edges, 2, 2).collect()
      .map(r => Option(r.get(0)) -> r.getAs[Long]("core_deg")).toMap
    assert(core == Map(Some(1L) -> 2L, Some(2L) -> 2L, Some(3L) -> 2L))
    val traj = graft.operators.Graph.kCorePeelTrajectory(edges, 2, 2)
      .collect().sortBy(_.getAs[Int]("round"))
    assert(traj.forall(r => r.getAs[Long]("n_nodes") == 3 &&
      r.getAs[Long]("n_edges") == 3 && r.getAs[Long]("min_deg") == 2))
  }

  test("q202 trajectory converges on sf0.001 and is monotone") {
    val traj = GraphAnalytics.copurchaseKCore(spark, sf001).collect()
      .sortBy(_.getAs[Int]("round"))
    val k = traj.head.getAs[Int]("k")
    val nodes = traj.map(_.getAs[Long]("n_nodes"))
    assert(nodes.zip(nodes.tail).forall { case (a, b) => a >= b })
    // Converged within the six fixed rounds on this graph: the
    // surviving subgraph is a genuine k-core.
    assert(traj.last.getAs[Long]("min_deg") >= k)
    assert(traj.last.getAs[Long]("n_nodes") > 0)
  }

  test("association rules: lift symmetric, confidence consistent") {
    val rows = WarehouseAnalytics.basketRules(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("conf_ppm") ==
        r.getAs[Long]("pair_supp") * 1000000L / r.getAs[Long]("ante_supp"))
      assert(r.getAs[Long]("conf_ppm") <= 1000000L)
    }
    // Where both directions of a pair land in the top-k, lift agrees.
    val byPair = rows.groupBy(r => {
      val a = r.getAs[Long]("antecedent"); val c = r.getAs[Long]("consequent")
      (math.min(a, c), math.max(a, c))
    })
    byPair.values.filter(_.length == 2).foreach { pr =>
      assert(pr(0).getAs[Long]("lift_ppm") == pr(1).getAs[Long]("lift_ppm"))
    }
  }

  test("waterfilling spends within budget under the cap") {
    val rows = CurationQueries.tokenBudget(spark, sf001).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("tokens")).sum
    val b = total * 50 / 100
    val cap = b * 30 / 100
    val alloc = rows.map(_.getAs[Long]("alloc_tokens"))
    assert(alloc.sum <= b && alloc.forall(_ <= cap))
    // Flooring loses at most one token per source.
    assert(alloc.sum >= b - rows.length)
    val (capped, uncapped) = rows.partition(_.getAs[Int]("capped") == 1)
    capped.foreach(r => assert(r.getAs[Long]("alloc_tokens") == cap))
    // Replay the waterfilling sequentially (the reference algorithm:
    // clamp the largest source, redistribute, repeat) and compare every
    // allocation exactly.
    val sorted = rows.sortBy(r =>
      (-r.getAs[Long]("tokens"), r.getAs[String]("source")))
    var nCap = 0L; var capTok = 0L
    val expected = sorted.map { r =>
      val c = r.getAs[Long]("tokens")
      val rem = BigInt(b) - BigInt(nCap) * cap
      val rest = BigInt(total - capTok)
      if (rem * c > BigInt(cap) * rest) { nCap += 1; capTok += c; cap }
      else (BigInt(c) * rem / rest).toLong
    }
    sorted.map(_.getAs[Long]("alloc_tokens")).zip(expected)
      .foreach { case (got, want) => assert(got == want) }
    // Capped (oversized) sources train for fewer epochs than the
    // uncapped water level grants.
    if (uncapped.nonEmpty) {
      val minUn = uncapped.map(_.getAs[Long]("epochs_ppm")).min
      capped.foreach(r => assert(r.getAs[Long]("epochs_ppm") <= minUn))
    }
  }

  test("curriculum bins are balanced and ordered by score") {
    val rows = CurationQueries.curriculumBins(spark, sf001).collect()
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val byBin = rs.sortBy(_.getAs[Int]("bin"))
      assert(byBin.map(_.getAs[Int]("bin")).toSeq == (1 to byBin.length))
      val counts = byBin.map(_.getAs[Long]("n_docs"))
      assert(counts.max - counts.min <= 1, s"$src unbalanced: $counts")
      // Descending score curriculum: bin b's floor >= bin b+1's ceiling.
      byBin.zip(byBin.tail).foreach { case (hi, lo) =>
        assert(hi.getAs[Long]("min_score_ppm") >=
          lo.getAs[Long]("max_score_ppm"), s"$src bins out of order")
      }
    }
  }

  test("pmi values recompute from their own counts") {
    val rows = TextQueries.pmiCollocations(spark, sf001).collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Long]("pair_n") >= 5))
    // T = total bigram occurrences in the corpus (n_tokens - 1 per doc).
    val t = Tables.documents(spark, sf001)
      .select(greatest(size(split(
        graft.ext.TextOps.normText(col("text")), " ")) - 1, lit(0)))
      .collect().map(_.getInt(0).toLong).sum
    rows.foreach { r =>
      val want = math.round(math.log(r.getAs[Long]("pair_n").toDouble * t
        / r.getAs[Long]("w1_n") / r.getAs[Long]("w2_n")) * 1e6)
      assert(r.getAs[Long]("pmi_micro") == want)
    }
  }
}
