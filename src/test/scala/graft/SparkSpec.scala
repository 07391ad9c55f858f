package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. One session per JVM
  * (sbt forks a single test JVM), built by the runners' own
  * [[graft.Session]] factory at small parallelism.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf001 = SparkSpec.Sf001
  lazy val sf01 = SparkSpec.Sf01
}

object SparkSpec {
  val Cores = 4
  val Sf001 = "/root/testdata/sf0.001"
  val Sf01 = "/root/testdata/sf0.01"

  lazy val session: SparkSession = {
    // Keep catalog artifacts (derby metastore, warehouse) out of the repo.
    val scratch = java.nio.file.Files.createTempDirectory("graft_spark").toString
    System.setProperty("derby.system.home", scratch)
    System.setProperty("spark.sql.warehouse.dir", s"$scratch/warehouse")
    Session(Cores)
  }
}
