package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** Guard against drift: `Graft.session` is the only code that builds a
  * SparkSession, `Graft.child` the only engine code that derives one from
  * another (so a query closure cannot make a session per call), and
  * `Graft.cores` the only reader of the core-count env var, so Bench,
  * Verify, the tools and the tests all share one config;
  * `Fingerprint` is the only code that places derived artifacts under the
  * JVM temp dir or hashes with murmur, so every artifact has one key rule;
  * `plans.Routes` is the only code besides the two function registrations
  * that installs optimizer rules, so index routes stay per session, and no
  * conf key opts a session into a route; `Graft.scala` is the only code
  * that injects optimizer and AQE rules, so Bench, Verify, the broker and
  * the tests plan the same aggregates and shuffles.
  * Comment lines are ignored; the search strings are assembled so this file
  * does not match itself. */
class SessionFactorySpec extends AnyFunSuite {

  private val builderCall = "SparkSession" + ".builder"
  private val coresVar = "SPARK_GRAFT" + "_CPUS"
  private val tmpdirProp = "java.io" + ".tmpdir"
  private val murmurCall = "MurmurHash3" + ".stringHash"
  private val newSessionCall = "newSession" + "()"
  private val ruleInstall = "experimental" + ".extraOptimizations="
  private val extensionRules =
    Seq("inject" + "QueryStagePrepRule", "inject" + "RuntimeOptimizerRule", "inject" + "OptimizerRule")
  private val routeConfKeys = Seq("spark.graft" + ".segprune", "spark.graft" + ".startree",
    "graft" + ".bucketed")

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  private lazy val mainSources = scalaFiles(new File("src/main"))
  private lazy val sources = mainSources ++ scalaFiles(new File("src/test"))

  /** Names of the files in `in` whose code (comment lines dropped,
    * whitespace removed so a call split across lines still matches)
    * contains `needle`. */
  private def filesWithCode(needle: String, in: Seq[File] = sources): Set[String] = in.filter { f =>
    val src = scala.io.Source.fromFile(f, "UTF-8")
    val code = try src.getLines().map(_.trim).filterNot { l =>
      l.startsWith("//") || l.startsWith("*") || l.startsWith("/*")
    }.mkString finally src.close()
    code.replaceAll("\\s+", "").contains(needle)
  }.map(_.getName).toSet

  test("only Graft.scala builds a SparkSession") {
    assert(filesWithCode(builderCall) === Set("Graft.scala"))
  }

  test("only Graft.scala derives a session from another in src/main") {
    assert(filesWithCode(newSessionCall, mainSources) === Set("Graft.scala"))
  }

  test("only Graft.scala reads the core-count env var") {
    assert(filesWithCode(coresVar) === Set("Graft.scala"))
  }

  test("only Fingerprint.scala names the temp dir or hashes with murmur") {
    assert(filesWithCode(tmpdirProp) === Set("Fingerprint.scala"))
    assert(filesWithCode(murmurCall) === Set("Fingerprint.scala"))
  }

  test("only the route registry and the function registrations install optimizer rules") {
    assert(filesWithCode(ruleInstall) ===
      Set("Routes.scala", "PinotFunctions.scala", "GraftExtensions.scala"))
    routeConfKeys.foreach(k => assert(filesWithCode(k) === Set.empty[String], k))
  }

  test("only Graft.scala injects optimizer and AQE rules") {
    extensionRules.foreach(r => assert(filesWithCode(r) === Set("Graft.scala"), r))
  }
}
