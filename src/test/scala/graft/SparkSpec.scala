package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session —
  * getOrCreate — so the suite doesn't pay session bring-up per
  * spec). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local("4")

  def sf0001 = "/root/testdata/sf0.001"

  /** Runs `body` once with whole-stage codegen (no silent fallback) and
    * once fully interpreted, as `BoatCli` runs inputs ≤ 64 MB. */
  def inBothModes(body: Boolean => Unit): Unit =
    Seq(true, false).foreach { codegen =>
      val confs = Seq(
        "spark.sql.codegen.wholeStage" -> codegen.toString,
        "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"),
        "spark.sql.codegen.fallback" -> (!codegen).toString)
      val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body(codegen)
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
}
