package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for operator specs. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkTestBase {
  // local[4] with 4 shuffle partitions whatever the host: specs that pin
  // partition-dependent plans or counts see the same layout everywhere
  lazy val session: SparkSession = GraftSession(cpus = 4, sfDir = None)
}
