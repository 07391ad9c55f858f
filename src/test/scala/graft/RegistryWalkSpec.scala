package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.operators.Stage.StageOps

/** The registry walk over a planted three-query registry: a failure
  * inside one query's visit is kept as that query's finding, never
  * dropped, and a normal query keeps its row count and plan facts. */
class RegistryWalkSpec extends SparkSpec {

  test("a planted registry: a throw and an empty result fail the row checks, facts are kept") {
    val visits = RegistryWalk.walk(Map(
      // fails only when the plan runs, after its plan facts were read
      "planted_throw" -> ((s, dir) => Tables.orders(s, dir).select(
        when(col("o_orderkey") > 0, raise_error(lit("planted failure")))
          .as("x"))),
      "planted_empty" -> ((s, dir) =>
        Tables.orders(s, dir).filter(col("o_orderkey") < 0)),
      "planted_ok" -> ((s, dir) => {
        val o = Tables.orders(s, dir)
        o.withColumn("rk", row_number().over(
            Window.partitionBy("o_orderpriority").orderBy("o_orderkey")))
          .crossJoin(o.agg(max("o_orderkey").as("mx")).stage("planted:max"))
      })))
    assert(visits.map(_.name) == Seq("planted_empty", "planted_ok", "planted_throw"))
    val byName = visits.map(v => v.name -> v.facts).toMap

    assert(byName("planted_throw").left.exists(_.toString.contains("planted failure")))
    val empty = RegistryWalk.emptyResults(visits)
    val vacuous = RegistryWalk.vacuous(visits, Set.empty)
    Seq(empty, vacuous).foreach { found =>
      assert(found.exists(_.startsWith("planted_throw threw: ")), found)
      assert(found.exists(_.startsWith("planted_empty: ")), found)
      assert(!found.exists(_.startsWith("planted_ok")), found)
    }
    assert(!RegistryWalk.vacuous(visits, Set("planted_empty")).exists(_.startsWith("planted_empty")))

    val ok = byName("planted_ok").toOption.get
    assert(ok.rows == Tables.orders(spark, sf001).count())
    assert(ok.buildJobs.exists(_.label == "planted:max"), ok.buildJobs)
    assert(ok.unkeyedWindows == 0)
    assert(ok.windowCands == Seq(RegistryWalk.WindowCand("o_orderpriority", Some(5L))))
    assert(ok.cartesians == 0 && ok.nestedLoops == 1)
  }
}
