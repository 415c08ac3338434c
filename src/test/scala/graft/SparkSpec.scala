package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one JVM-wide session
  * across the forked test run; nobody stops it so suite order is free).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("graft-test", 4)
  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"
  val Sf01 = "/root/testdata/sf0.1"
  val testOut = "/root/repo/target/test-out"

  /** Run `f` with every operator's driver regime off
    * (`spark.graft.driverRegime.enabled=false`, see [[DriverRegime]]), so a
    * regime-equality law can compare both paths; the key is unset
    * afterwards, even on failure.
    */
  def withDriverRegimeOff[T](f: => T): T = {
    spark.conf.set(DriverRegime.EnabledKey, "false")
    try f
    finally spark.conf.unset(DriverRegime.EnabledKey)
  }
}
