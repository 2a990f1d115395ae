package graft

import graft.expressions.TextMatchBuilder
import graft.sources.{SortedLayout, Tables, TextIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftBridge

/** Pinot text-index analog: term-sorted postings answer TEXT_MATCH through
  * footer-pruned term lookups + an exact re-applied predicate. Every query
  * form must return bit-identical rows to the full-scan path, and term
  * lookups must NOT touch most postings files. */
class TextIndexSpec extends GraftSuite {

  private lazy val docs = Tables.t(spark, sfDir, "documents").select("doc_id", "text")
  private lazy val indexDir: String = {
    val dir = tempDir("graft-textindex")
    TextIndex.build(docs, dir, "doc_id", "text", nFiles = 8)
    dir
  }

  private def fullScan(df: DataFrame, query: String): Set[Long] =
    df.filter(GraftBridge.column(
        TextMatchBuilder.predicate(GraftBridge.expression(col("text")), query)))
      .select("doc_id").collect().map(_.getLong(0)).toSet

  private def indexed(df: DataFrame, query: String): Set[Long] =
    TextIndex.textMatch(df, "doc_id", "text", indexDir, query)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  test("index path ≡ full scan for term / AND / OR / phrase / prefix queries") {
    val queries = Seq(
      "spark",
      "spark AND window",
      "spark OR merge",
      "\"batch batch\"",
      "win*",
      "scan AND jo*")
    queries.foreach { q =>
      val expected = fullScan(docs, q)
      val got = indexed(docs, q)
      assert(got === expected, s"query [$q]: index ${got.size} vs scan ${expected.size}")
      assert(expected.nonEmpty, s"query [$q] matched nothing — test has no teeth")
    }
  }

  test("NOT / -term and ?/inner-* wildcards: index path ≡ full scan; " +
      "leading wildcard and pure negation fall back to the full scan") {
    // parity across the round-8 grammar: negations (both spellings) and
    // mid-token wildcards, alone and chained
    val queries = Seq(
      "spark AND NOT merge",
      "spark AND -merge",
      "NOT merge",
      "wind?w",
      "st*am",
      "*park", // leading wildcard: postings cannot prune
      "w?n*w AND spark",
      "spark OR NOT merge", // OR with a negation: fallback, plain boolean
      "NOT \"batch batch\"",
      "spark AND NOT wind?w")
    queries.foreach { q =>
      val expected = fullScan(docs, q)
      val got = indexed(docs, q)
      assert(got === expected, s"query [$q]: index ${got.size} vs scan ${expected.size}")
      assert(expected.nonEmpty, s"query [$q] matched nothing — test has no teeth")
    }
    // candidate derivation: derivable positives prune even next to a NOT;
    // underivable-only chains report None (transparent full scan)
    assert(TextIndex.candidateIds(spark, indexDir, "spark AND NOT merge").isDefined)
    assert(TextIndex.candidateIds(spark, indexDir, "wind?w").isDefined)
    assert(TextIndex.candidateIds(spark, indexDir, "*park").isEmpty,
      "a leading wildcard constrains no postings lookup")
    assert(TextIndex.candidateIds(spark, indexDir, "NOT merge").isEmpty,
      "pure negation cannot use the index")
    assert(TextIndex.candidateIds(spark, indexDir, "spark OR NOT merge").isEmpty,
      "an OR union is only a superset if every clause contributes")
    // a NOT clause must never shrink candidates below the true matches
    val cand = TextIndex.candidateIds(spark, indexDir, "spark AND NOT merge").get
      .collect().map(_.getLong(0)).toSet
    assert(fullScan(docs, "spark AND NOT merge").subsetOf(cand))
  }

  test("parenthesized mixed AND/OR/NOT grammar: index path ≡ full scan; " +
      "AND binds tighter than OR; derivable branches prune next to " +
      "underivable siblings") {
    val queries = Seq(
      "(spark OR merge) AND window",
      "spark AND (window OR merge)",
      "spark OR merge AND window", // precedence: spark OR (merge AND window)
      "(spark AND NOT merge) OR (window AND NOT join)",
      "NOT (spark OR merge)",
      "spark AND (wind?w OR st*am)",
      "((spark))",
      "(spark AND window) OR (merge AND jo*)",
      "-\"batch batch\" AND spark",
      "spark AND (NOT merge OR window)")
    queries.foreach { q =>
      val expected = fullScan(docs, q)
      val got = indexed(docs, q)
      assert(got === expected, s"query [$q]: index ${got.size} vs scan ${expected.size}")
      assert(expected.nonEmpty, s"query [$q] matched nothing — test has no teeth")
    }
    // precedence pin: the unparenthesized mixed form equals its
    // AND-binds-tighter reading and differs from the other grouping
    assert(fullScan(docs, "spark OR merge AND window") ===
      fullScan(docs, "spark OR (merge AND window)"))
    assert(fullScan(docs, "spark OR merge AND window") !==
      fullScan(docs, "(spark OR merge) AND window"))
    // derivability: an OR with one underivable branch is underivable, but
    // prunes through an AND sibling; a fully-derivable nested tree prunes
    assert(TextIndex.candidateIds(spark, indexDir, "(spark OR merge) AND window").isDefined)
    assert(TextIndex.candidateIds(spark, indexDir, "spark AND (NOT merge OR window)").isDefined,
      "AND child [spark] must carry the pruning even though the OR branch cannot")
    assert(TextIndex.candidateIds(spark, indexDir, "NOT (spark OR merge)").isEmpty)
    // malformed queries stay LOUD
    intercept[IllegalArgumentException](TextMatchBuilder.parseTree("spark AND (window"))
    intercept[IllegalArgumentException](TextMatchBuilder.parseTree("spark window"))
    intercept[IllegalArgumentException](TextMatchBuilder.parseTree("AND spark"))
  }

  test("term lookup prunes to a fraction of the postings files") {
    val ranges = SortedLayout.fileRanges(spark, indexDir, "term")
    assert(ranges.size >= 4, "postings should span several files")
    val probe = "spark".asInstanceOf[Comparable[Any]]
    val hit = SortedLayout.pruneFiles(ranges, Some(probe), Some(probe))
    assert(hit.size < ranges.size / 2 + 1,
      s"term lookup touched ${hit.size}/${ranges.size} postings files — no pruning")
  }

  test("multi-run term (hyphenated) and delimiter-heavy clauses stay exact via fallback predicate") {
    import spark.implicits._
    val planted = Seq(
      (1L, "send an e-mail to the team"),
      (2L, "we mail letters"),
      (3L, "email is different"),
      (4L, "the e mail gap differs from e-mail"),
      (5L, "!!! ???")).toDF("doc_id", "text")
    val dir = tempDir("graft-textindex-planted")
    TextIndex.build(planted, dir, "doc_id", "text", nFiles = 2)

    // "e-mail" word-runs are [e, mail]: doc 2 has "mail" but no "e" token;
    // doc 4 has both tokens AND the literal substring — candidates {1,4}
    // both truly match; doc 3's "email" is one run, excluded
    val got = TextIndex.textMatch(planted, "doc_id", "text", dir, "e-mail")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 4L))

    // phrase semantics are SUBSTRING (Contains): "we mail" contains
    // "e mail" starting mid-token — the candidate derivation must keep it
    // (first phrase run constrains nothing; "mail" is a prefix lookup)
    val phrase = TextIndex.textMatch(planted, "doc_id", "text", dir, "\"e mail\"")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val phraseScan = planted.filter(
        GraftBridge.column(TextMatchBuilder.predicate(
          GraftBridge.expression(col("text")), "\"e mail\"")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(phrase === phraseScan)
    assert(phrase === Set(2L, 4L), "docs 2 (we mail) and 4 (e mail) both contain the substring")

    // a clause with no word runs cannot use the index: transparent full scan
    val none = TextIndex.candidateIds(spark, dir, "\"!!!\"")
    assert(none.isEmpty)
    val fallback = TextIndex.textMatch(planted, "doc_id", "text", dir, "\"!!!\"")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(fallback === Set(5L))
  }

  test("prefix stem ending on a delimiter keeps all runs exact") {
    import spark.implicits._
    val planted = Seq(
      (1L, "foo-bar baz"),
      (2L, "foobar baz"),
      (3L, "foo alone")).toDF("doc_id", "text")
    val dir = tempDir("graft-textindex-prefix")
    TextIndex.build(planted, dir, "doc_id", "text", nFiles = 2)
    // "foo-*" → regex \bfoo-  : doc 1 only (doc 2's foobar has no boundary
    // after foo; doc 3 has no hyphen)
    val got = TextIndex.textMatch(planted, "doc_id", "text", dir, "foo-*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(1L))
  }

  test("candidate sets are supersets: refined result never exceeds candidates") {
    val Some(cand) = TextIndex.candidateIds(spark, indexDir, "\"batch stream\"")
    val candidates = cand.collect().map(_.getLong(0)).toSet
    val truth = fullScan(docs, "\"batch stream\"")
    assert(truth.subsetOf(candidates),
      s"candidates missed ${truth.diff(candidates).size} true matches")
  }

  test("mid-token phrase and single-run phrase stay exact (superset regression)") {
    import spark.implicits._
    val planted = Seq(
      (1L, "rebatch streams nightly"),
      (2L, "batch stream basics"),
      (3L, "rebatch nothing")).toDF("doc_id", "text")
    val dir = tempDir("graft-textindex-midtok")
    TextIndex.build(planted, dir, "doc_id", "text", nFiles = 2)

    // "rebatch streams" CONTAINS the substring "batch stream" — the index
    // path must not lose it (first run unconstrained, last run = prefix)
    val got = TextIndex.textMatch(planted, "doc_id", "text", dir, "\"batch stream\"")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 2L))

    // single-run phrase can match mid-token on BOTH edges → full scan
    assert(TextIndex.candidateIds(spark, dir, "\"batch\"").isEmpty)
    val single = TextIndex.textMatch(planted, "doc_id", "text", dir, "\"batch\"")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(single === Set(1L, 2L, 3L)) // substring of rebatch too
  }

  test("round 10: fuzzy terms and boosts — index path ≡ full scan on the corpus") {
    val queries = Seq(
      "sprk~1", // deletion neighbor of 'spark'
      "sprk~", // bare ~ = the Lucene default of 2 edits
      "spark~1 AND NOT merge",
      "spark^2 AND wind?w", // boost parsed and dropped
      "\"batch batch\"^2",
      "sparc~1 OR merge",
      "spark AND sprk~1")
    queries.foreach { q =>
      val expected = fullScan(docs, q)
      val got = indexed(docs, q)
      assert(got === expected, s"query [$q]: index ${got.size} vs scan ${expected.size}")
      assert(expected.nonEmpty, s"query [$q] matched nothing — test has no teeth")
    }
    // ~0 folds to the exact term at parse
    assert(fullScan(docs, "spark~0") === fullScan(docs, "spark"))
    // boost must not change the match set
    assert(fullScan(docs, "spark^2") === fullScan(docs, "spark"))
    // fuzzy IS index-derivable (term-dictionary deletion-variant route)
    // and the candidates are a superset of the true matches
    val Some(cand) = TextIndex.candidateIds(spark, indexDir, "sprk~1")
    val candidates = cand.collect().map(_.getLong(0)).toSet
    assert(fullScan(docs, "sprk~1").subsetOf(candidates))
    // unsupported combinations stay LOUD errors
    intercept[IllegalArgumentException](TextMatchBuilder.parseTree("\"a b\"~2"))
    intercept[IllegalArgumentException](TextMatchBuilder.parseTree("spa*k~1"))
    intercept[IllegalArgumentException](TextMatchBuilder.parseTree("spark~3"))
  }

  test("round 10: fuzzy is plain Levenshtein over whole tokens (documented Lucene delta)") {
    import spark.implicits._
    val planted = Seq(
      (1L, "the from line"), // transposition of 'form': 2 plain edits
      (2L, "the form line"), // exact
      (3L, "reform matters"), // 2 prepended chars
      (4L, "fort knox"), // 1 substitution
      (5L, "formidable scope")).toDF("doc_id", "text") // 'form' only as a token PREFIX — no whole-token match
    val dir = tempDir("graft-textindex-fuzzy")
    TextIndex.build(planted, dir, "doc_id", "text", nFiles = 2)
    def both(q: String): Set[Long] = {
      val scan = fullScan(planted, q)
      val idx = TextIndex.textMatch(planted, "doc_id", "text", dir, q)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(idx === scan, s"query [$q] index/scan diverge")
      scan
    }
    assert(both("form~1") === Set(2L, 4L),
      "plain Levenshtein: a transposition costs 2, and fuzzy is whole-token")
    assert(both("form~2") === Set(1L, 2L, 3L, 4L))
  }
}
