package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one local Graft.session per suite (lazy, small core
  * count for test speed), with the same functions and rules as every
  * Bench, Verify and broker session. Scratch
  * dirs come from [[tempDir]]: all live under one per-suite root that is
  * deleted after the suite's last test. */
trait GraftSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Graft.session(cores = 4, appName = getClass.getSimpleName)
  val sfDir = "/root/testdata/sf0.001"

  private var tempRoot: Option[Path] = None

  /** A fresh, empty scratch dir for this suite. */
  def tempDir(prefix: String = "t"): String = synchronized {
    val root = tempRoot.getOrElse {
      val r = Files.createTempDirectory(s"graft-test-${getClass.getSimpleName}-")
      tempRoot = Some(r)
      r
    }
    Files.createTempDirectory(root, prefix).toString
  }

  /** Run `df` and return its first executed file scan. */
  def fileScan(df: DataFrame): FileSourceScanExec = {
    df.collect()
    def find(p: SparkPlan): Option[FileSourceScanExec] = p match {
      case f: FileSourceScanExec => Some(f)
      case a: AdaptiveSparkPlanExec => find(a.executedPlan)
      case q: QueryStageExec => find(q.plan)
      case other => other.children.view.flatMap(find(_)).headOption
    }
    find(df.queryExecution.executedPlan).get
  }

  /** The plan AQE finally ran for `df`, query stages included. */
  def finalPlan(df: DataFrame): String = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan.toString
    case p => p.toString
  }

  /** Files the executed scan of `df` opened (its `numFiles` metric). */
  def scanFiles(df: DataFrame): Long = fileScan(df).metrics("numFiles").value

  /** Run `body` with `spark.sql.files.maxPartitionBytes` set to `bytes` on
    * this suite's session, restoring the prior value afterwards. */
  def withMaxPartitionBytes[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally synchronized {
      tempRoot.foreach(r => org.apache.commons.io.FileUtils.deleteQuietly(r.toFile))
      tempRoot = None
    }
}
