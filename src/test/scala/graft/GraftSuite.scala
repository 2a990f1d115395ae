package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one local Graft.session per suite (lazy, small core
  * count for test speed), with the graft extensions registered. */
trait GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = Graft.session(cores = 4, appName = getClass.getSimpleName)
    GraftExtensions.register(s)
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}
