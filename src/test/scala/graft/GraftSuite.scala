package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one local Graft.session per suite (lazy, small core
  * count for test speed), with the graft extensions registered. Scratch
  * dirs come from [[tempDir]]: all live under one per-suite root that is
  * deleted after the suite's last test. */
trait GraftSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = Graft.session(cores = 4, appName = getClass.getSimpleName)
    GraftExtensions.register(s)
    s
  }
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

  override def afterAll(): Unit =
    try super.afterAll()
    finally synchronized {
      // VECTOR_SIMILARITY registrations are JVM-wide and may point at an
      // index under this root: drop them with the root, so a later suite
      // never plans against a deleted index
      graft.plans.VectorSimilarity.clear()
      tempRoot.foreach(r => org.apache.commons.io.FileUtils.deleteQuietly(r.toFile))
      tempRoot = None
    }
}
