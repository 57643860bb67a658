package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite: the factory session ([[GraftSession.build]])
  * at 4 cores, so specs exercise the same optimizer surface Bench and
  * Verify run (CosineSelfRule, SQL-registered float_cosine). */
trait SparkSpec extends AnyFunSuite {
  val Sf = "/root/testdata/sf0.001"
  val Cpus = 4
  lazy val spark: SparkSession = GraftSession.build(Cpus)
}
