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
  * `plans.Routes` is the only code besides `PinotFunctions.register` that
  * installs optimizer rules after a session is built, so index routes stay
  * per session, and no conf key opts a session into a route; `Graft.scala` is the only code
  * that injects optimizer and AQE rules and SQL functions, so Bench,
  * Verify, the broker and the tests resolve the same names and plan the
  * same aggregates and shuffles; and `src/main` holds no class or object
  * that only tests or a hand-run driver name.
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
  private val functionInject = "inject" + "Function"
  private val routeConfKeys = Seq("spark.graft" + ".segprune", "spark.graft" + ".startree",
    "graft" + ".bucketed")

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  private lazy val mainSources = scalaFiles(new File("src/main"))
  private lazy val sources = mainSources ++ scalaFiles(new File("src/test"))

  /** The lines of `f` with comment lines dropped. */
  private def codeLines(f: File): Seq[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filterNot { l =>
      val t = l.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }.toList finally src.close()
  }

  /** Names of the files in `in` whose code (comment lines dropped,
    * whitespace removed so a call split across lines still matches)
    * contains `needle`. */
  private def filesWithCode(needle: String, in: Seq[File] = sources): Set[String] = in.filter { f =>
    codeLines(f).mkString.replaceAll("\\s+", "").contains(needle)
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
    assert(filesWithCode(ruleInstall) === Set("Routes.scala", "PinotFunctions.scala"))
    routeConfKeys.foreach(k => assert(filesWithCode(k) === Set.empty[String], k))
  }

  test("only Graft.scala injects optimizer and AQE rules") {
    extensionRules.foreach(r => assert(filesWithCode(r) === Set("Graft.scala"), r))
  }

  test("only Graft.scala injects SQL functions") {
    assert(filesWithCode(functionInject) === Set("Graft.scala"))
  }

  /** Entry points no engine code names: the driver mains, the fixture
    * scaler the scale runs use, the JDBC server, and the compaction API an
    * operator runs between ingest and queries (Pinot's minion tasks). */
  private val entryPoints = Set("Bench", "Verify", "ScaleFixtures", "SqlEndpoint", "SegmentCompaction")

  test("every top-level class and object in src/main is named by engine or benchmark code") {
    val decl = ("^(?:(?:private(?:\\[\\w+\\])?|protected|final|case|abstract|sealed|implicit)\\s+)*" +
      "(?:object|class)\\s+(\\w+)").r
    // each file cut at its top-level declarations: (declared name, code)
    val chunks: Seq[(String, String)] = mainSources.flatMap { f =>
      val cuts = scala.collection.mutable.ArrayBuffer(("", new StringBuilder))
      codeLines(f).foreach { l =>
        decl.findFirstMatchIn(l).foreach(m => cuts += ((m.group(1), new StringBuilder)))
        cuts.last._2.append(l).append('\n')
      }
      cuts.map { case (n, b) => (n, b.toString) }
    }
    val benchCode = scalaFiles(new File("perfbench/engine")).flatMap(codeLines).mkString("\n")
    assert(benchCode.nonEmpty, "benchmark engine sources not found")
    val unnamed = chunks.map(_._1).filter(_.nonEmpty).distinct.filterNot { n =>
      val named = s"\\b$n\\b".r
      entryPoints(n) || named.findFirstIn(benchCode).isDefined ||
        chunks.exists { case (other, code) => other != n && named.findFirstIn(code).isDefined }
    }
    assert(unnamed.isEmpty, s"named only by tests or by nothing; move to src/test: ${unnamed.sorted}")
  }
}
