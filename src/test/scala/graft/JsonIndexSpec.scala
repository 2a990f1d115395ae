package graft

import graft.expressions.JsonMatchBuilder
import graft.sources.{JsonIndex, SortedLayout, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftBridge

/** Pinot JSON index analog: flattened path→value postings answer JSON_MATCH
  * equality/presence through footer-pruned lookups + the exact re-applied
  * predicate; everything else transparently full-scans. */
class JsonIndexSpec extends GraftSuite {

  private def fullScan(df: DataFrame, jsonCol: String, idCol: String, filter: String): Set[Long] =
    df.filter(GraftBridge.column(
        JsonMatchBuilder.predicate(GraftBridge.expression(col(jsonCol)), filter)))
      .select(idCol).collect().map(_.getLong(0)).toSet

  private def indexed(df: DataFrame, jsonCol: String, idCol: String,
      dir: String, filter: String): Set[Long] =
    JsonIndex.jsonMatch(df, idCol, jsonCol, dir, filter)
      .select(idCol).collect().map(_.getLong(0)).toSet

  test("numeric equality on the events props column: index ≡ scan, with file pruning") {
    val ev = Tables.t(spark, sfDir, "events").select("event_id", "props")
    val dir = tempDir("graft-jsonindex")
    JsonIndex.build(ev, dir, "event_id", "props", nFiles = 8)

    Seq("\"$.k\" = 42", "\"$.k\" = 87", "\"$.k\" IS NOT NULL").foreach { f =>
      val expected = fullScan(ev, "props", "event_id", f)
      assert(indexed(ev, "props", "event_id", dir, f) === expected, s"filter [$f]")
      assert(expected.nonEmpty, s"filter [$f] matched nothing — test has no teeth")
    }

    // range/complement ops fall back but stay exact
    Seq("\"$.k\" > 90", "\"$.k\" != 42", "\"$.k\" IS NULL").foreach { f =>
      assert(JsonIndex.candidateIds(spark, dir, f).isEmpty, s"[$f] should full-scan")
      assert(indexed(ev, "props", "event_id", dir, f) ===
        fullScan(ev, "props", "event_id", f), s"filter [$f]")
    }

    // pruning evidence: an equality probe touches a strict minority of files
    val ranges = SortedLayout.fileRanges(spark, dir, "term")
    assert(ranges.size >= 4)
    val probe = ("k\u000242.0")  /* the numeric term for k = 42 */.asInstanceOf[Comparable[Any]]
    val hit = SortedLayout.pruneFiles(ranges, Some(probe), Some(probe))
    assert(hit.size < ranges.size, s"no pruning: ${hit.size}/${ranges.size}")
  }

  test("string values, JSON nulls, numeric renderings, nested paths") {
    import spark.implicits._
    val planted = Seq(
      (1L, """{"tag": "alpha", "n": 87}"""),
      (2L, """{"tag": "beta", "n": 87.0}"""),
      (3L, """{"tag": null, "n": 8.7e1}"""),
      (4L, """{"n": "eightyseven"}"""),
      (5L, """{"tag": "alpha beta", "nested": {"n": 87}}""")).toDF("id", "js")
    val dir = tempDir("graft-jsonindex-planted")
    JsonIndex.build(planted, dir, "id", "js", nFiles = 2)

    // all three numeric renderings of 87 land on one canonical term
    assert(indexed(planted, "js", "id", dir, "\"$.n\" = 87") === Set(1L, 2L, 3L))
    // string equality is raw-text; "alpha" ≠ "alpha beta"
    assert(indexed(planted, "js", "id", dir, "\"$.tag\" = 'alpha'") === Set(1L))
    // JSON null is NOT presence (matches GetJsonObject semantics)
    assert(indexed(planted, "js", "id", dir, "\"$.tag\" IS NOT NULL") === Set(1L, 2L, 5L))
    // nested path: no index entry → fallback, still exact
    assert(JsonIndex.candidateIds(spark, dir, "\"$.nested.n\" = 87").isEmpty)
    assert(indexed(planted, "js", "id", dir, "\"$.nested.n\" = 87") === Set(5L))
    // non-numeric value gets no numeric posting and never matches numerically
    assert(indexed(planted, "js", "id", dir, "\"$.n\" = 0") === Set.empty[Long])
  }

  test("duplicate JSON keys: postings agree with get_json_object (first value wins)") {
    import spark.implicits._
    // map parsing keeps the LAST duplicate, get_json_object the FIRST —
    // the build extracts values through get_json_object so the index can
    // never disagree with the re-applied predicate
    val planted = Seq(
      (1L, """{"k": 1, "k": 2}"""),
      (2L, """{"k": 2}""")).toDF("id", "js")
    val dir = tempDir("graft-jsonindex-dup")
    JsonIndex.build(planted, dir, "id", "js", nFiles = 2)
    Seq("\"$.k\" = 1", "\"$.k\" = 2").foreach { f =>
      assert(indexed(planted, "js", "id", dir, f) === fullScan(planted, "js", "id", f),
        s"filter [$f]")
    }
  }

  test("round 10: array-wildcard paths — element postings ≡ scan; EXISTS semantics") {
    import spark.implicits._
    val planted = Seq(
      (1L, """{"items": [{"q": 5, "tag": "a"}, {"q": 50, "tag": "b"}], "k": 1}"""),
      (2L, """{"items": [{"q": 7}], "k": 2}"""),
      (3L, """{"items": [], "k": 3}"""), // empty array: never matches, IS NULL true
      (4L, """{"items": [3, 50, "x"], "k": 4}"""), // scalar elements
      (5L, """{"k": 5}"""), // no array at all
      (6L, """{"items": [{"tag": "a"}, {"q": null}]}"""), // JSON null ≠ presence
      (7L, """{"items": "notanarray"}""")).toDF("id", "js")
    val dir = tempDir("graft-jsonindex-arr")
    JsonIndex.build(planted, dir, "id", "js", nFiles = 2)

    def parity(f: String): Set[Long] = {
      val scan = fullScan(planted, "js", "id", f)
      assert(indexed(planted, "js", "id", dir, f) === scan, s"filter [$f]")
      scan
    }
    // object-element sub-field equality, answered from postings
    assert(JsonIndex.candidateIds(spark, dir, "\"$.items[*].q\" = 50").isDefined)
    assert(parity("\"$.items[*].q\" = 50") === Set(1L))
    assert(parity("\"$.items[*].tag\" = 'a'") === Set(1L, 6L))
    // scalar elements: numeric and string forms
    assert(parity("\"$.items[*]\" = 50") === Set(4L))
    assert(parity("\"$.items[*]\" = 'x'") === Set(4L))
    // presence: JSON-null and absent fields do NOT count
    assert(parity("\"$.items[*].q\" IS NOT NULL") === Set(1L, 2L))
    // IS NULL = NO element carries it (empty/missing/non-array all qualify)
    assert(parity("\"$.items[*].q\" IS NULL") === Set(3L, 4L, 5L, 6L, 7L))
    // ranges and != full-scan (EXISTS semantics: SOME element satisfies)
    assert(JsonIndex.candidateIds(spark, dir, "\"$.items[*].q\" >= 10").isEmpty)
    assert(parity("\"$.items[*].q\" >= 10") === Set(1L))
    assert(parity("\"$.items[*].q\" != 7") === Set(1L))
    // two wildcards stay a loud error
    intercept[IllegalArgumentException] {
      fullScan(planted, "js", "id", "\"$.a[*].b[*]\" = 1")
    }
  }

  test("round 10: compound AND/OR/NOT filters and IN lists — index lattice ≡ scan") {
    import spark.implicits._
    val planted = Seq(
      (1L, """{"k": 1, "tag": "alpha", "items": [{"q": 5}]}"""),
      (2L, """{"k": 2, "tag": "beta", "items": [{"q": 50}]}"""),
      (3L, """{"k": 3, "tag": "alpha"}"""),
      (4L, """{"k": 2, "tag": "gamma", "items": [7, 8]}"""),
      (5L, """{"k": 9}""")).toDF("id", "js")
    val dir = tempDir("graft-jsonindex-compound")
    JsonIndex.build(planted, dir, "id", "js", nFiles = 2)

    def parity(f: String): Set[Long] = {
      val scan = fullScan(planted, "js", "id", f)
      assert(indexed(planted, "js", "id", dir, f) === scan, s"filter [$f]")
      scan
    }
    // AND of two derivable equalities: intersection prunes
    assert(JsonIndex.candidateIds(spark, dir,
      "\"$.k\" = 2 AND \"$.tag\" = 'beta'").isDefined)
    assert(parity("\"$.k\" = 2 AND \"$.tag\" = 'beta'") === Set(2L))
    // AND with an underivable child: the derivable one still prunes
    assert(JsonIndex.candidateIds(spark, dir,
      "\"$.tag\" = 'alpha' AND \"$.k\" < 2").isDefined)
    assert(parity("\"$.tag\" = 'alpha' AND \"$.k\" < 2") === Set(1L))
    // OR: all children derivable → union; one underivable → fallback
    assert(JsonIndex.candidateIds(spark, dir,
      "\"$.tag\" = 'beta' OR \"$.tag\" = 'gamma'").isDefined)
    assert(parity("\"$.tag\" = 'beta' OR \"$.tag\" = 'gamma'") === Set(2L, 4L))
    assert(JsonIndex.candidateIds(spark, dir,
      "\"$.tag\" = 'beta' OR \"$.k\" > 5").isEmpty)
    assert(parity("\"$.tag\" = 'beta' OR \"$.k\" > 5") === Set(2L, 5L))
    // AND binds tighter than OR; parens override
    assert(parity("\"$.tag\" = 'alpha' AND \"$.k\" = 1 OR \"$.k\" = 9") === Set(1L, 5L))
    assert(parity("\"$.tag\" = 'alpha' AND (\"$.k\" = 1 OR \"$.k\" = 9)") === Set(1L))
    // NOT: never derivable, exact via scan; composes under AND
    assert(JsonIndex.candidateIds(spark, dir, "NOT \"$.tag\" = 'alpha'").isEmpty)
    assert(parity("\"$.k\" = 2 AND NOT \"$.tag\" = 'beta'") === Set(4L))
    // IN: union of equality postings (both string and numeric members)
    assert(JsonIndex.candidateIds(spark, dir,
      "\"$.tag\" IN ('beta', 'gamma')").isDefined)
    assert(parity("\"$.tag\" IN ('beta', 'gamma')") === Set(2L, 4L))
    assert(parity("\"$.k\" IN (1, 9)") === Set(1L, 5L))
    // NOT IN: scan-only, null path (doc 5 has no tag) stays non-matching
    assert(JsonIndex.candidateIds(spark, dir,
      "\"$.tag\" NOT IN ('alpha')").isEmpty)
    assert(parity("\"$.tag\" NOT IN ('alpha')") === Set(2L, 4L))
    // compound over wildcard paths: derivable element equality prunes
    // next to a range rider
    assert(parity("\"$.items[*].q\" = 50 OR \"$.items[*]\" = 7") === Set(2L, 4L))
    assert(parity("\"$.items[*].q\" IN (5, 50) AND \"$.k\" >= 2") === Set(2L))
    // quoted commas/parens inside IN strings survive the tokenizer
    assert(parity("\"$.tag\" IN ('al,pha(', 'beta')") === Set(2L))
    // loud errors: adjacent comparisons, dangling operator, empty list
    intercept[IllegalArgumentException] {
      fullScan(planted, "js", "id", "\"$.k\" = 1 \"$.tag\" = 'alpha'")
    }
    intercept[IllegalArgumentException] {
      fullScan(planted, "js", "id", "\"$.k\" = 1 AND")
    }
    intercept[IllegalArgumentException] {
      fullScan(planted, "js", "id", "\"$.tag\" IN ()")
    }
  }
}
