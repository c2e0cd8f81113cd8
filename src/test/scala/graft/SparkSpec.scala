package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session —
  * getOrCreate — so the suite doesn't pay session bring-up per
  * spec). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local("4")

  def sf0001 = "/root/testdata/sf0.001"
}
