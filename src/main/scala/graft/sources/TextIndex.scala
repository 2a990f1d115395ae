package graft.sources

import graft.expressions.TextMatchBuilder
import graft.expressions.TextMatchBuilder.{AndNode, Clause, Fuzzy, Leaf, Node, NotNode, OrNode, Phrase, Prefix, Term, Wildcard}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftBridge

/** Pinot text-index analog (tableIndexConfig `textIndexColumns`, a Lucene
  * inverted index per segment): TEXT_MATCH normally needs a full scan of the
  * text column; with the index, the engine resolves query terms against
  * term→docId postings and touches only candidate documents.
  *
  * Spark-native form: a postings table `(term, id)` — one row per distinct
  * lowercase word-run (`[a-z0-9_]+`, i.e. regex `\w+` post-lowercase) per
  * document — laid out via [[SortedLayout]] on `term`, so a term lookup
  * footer-prunes to the one file owning that term range and a `foo*` prefix
  * becomes a contiguous range scan. Candidate doc-ids then LEFT SEMI join
  * the base table, and the EXACT full-scan predicate
  * ([[TextMatchBuilder.predicate]] — the same expression the non-indexed
  * path runs) is re-applied, so index recall bugs can cost recall only if
  * the candidate set misses a true match; [[candidateWords]] is constructed
  * to be a superset:
  *
  *  - plain `\w+` term → docs holding exactly that token (word-boundary
  *    match ⟺ maximal-run match for `\w+` terms);
  *  - hyphenated/multi-run term or "phrase" → AND over its word runs
  *    (adjacency/order checked by the re-applied exact predicate);
  *  - `stem*` prefix → range scan `[stem, stem + MAX_CHAR)` on the last run
  *    (earlier runs exact); a stem ending in a non-word char keeps all runs
  *    exact;
  *  - a clause with no word runs at all → `None` → transparent fallback to
  *    the full-scan predicate.
  *
  * Scale posture: the postings table is ≈ distinct-terms-per-doc rows of
  * ~(term, 8 B) — a fraction of the text column it indexes — written once;
  * each term lookup reads ~1 file chosen from footer metadata; the semi-join
  * ships only candidate ids (8 B), never text. The fallback path is the
  * same full scan the engine runs today, so the index is purely an
  * accelerator.
  */
object TextIndex {

  private val wordRun = "[a-z0-9_]+".r

  /** Distinct lowercase word-runs of a text column — the tokenizer. Matches
    * TEXT_MATCH's `\b`-boundary semantics: a `\w+` term matches iff it is a
    * maximal word-character run of the text. */
  def termsOf(textColName: String): Column =
    array_distinct(regexp_extract_all(lower(col(textColName)), lit("[a-z0-9_]+"), lit(0)))

  /** Build the postings layout: (term, id), range-sorted on term. */
  def build(df: DataFrame, dir: String, idCol: String, textCol: String, nFiles: Int = 8): Unit = {
    val postings = df
      .select(col(idCol).as("id"), explode(termsOf(textCol)).as("term"))
      .select(col("term"), col("id"))
    SortedLayout.write(postings, dir, "term", nFiles)
  }

  /** The word-runs a document MUST contain for this clause to match
    * ((exactTerms, prefixStem)); None when the clause constrains no word
    * runs and only a full scan can answer it.
    *
    * Boundary reasoning per clause kind (this is what keeps candidates a
    * SUPERSET of the exact predicate's matches):
    *  - Term: the regex is `\b..\b`-bounded on BOTH sides, so every run of
    *    the term occurs as a full maximal token — all runs exact.
    *  - Prefix: `\b`-bounded on the LEFT only — all runs exact except the
    *    last, which is an open token prefix iff the stem ends with it (a
    *    stem ending on a delimiter makes even the last run exact).
    *  - Phrase: plain substring Contains, NO boundaries — the first run may
    *    match a token SUFFIX ("rebatch" contains phrase-initial "batch"),
    *    so it constrains nothing we can look up; interior runs are
    *    delimiter-bounded on both sides (exact); the final run is
    *    delimiter-bounded on the left and open on the right (prefix) iff
    *    the phrase ends with it, else exact. Phrases with a single run
    *    (or no derivable constraint) fall back to the full scan.
    */
  private[sources] def candidateWords(c: Clause): Option[(Seq[String], Option[String])] = {
    def runs(s: String): Seq[String] = wordRun.findAllIn(s.toLowerCase).toSeq
    def endsWithRun(s: String): Boolean =
      s.nonEmpty && wordRun.matches(s.takeRight(1).toLowerCase)
    c match {
      case Phrase(s) =>
        val r = runs(s)
        if (r.size < 2) None // single-run phrase: both edges may be mid-token
        else if (endsWithRun(s)) {
          Some((r.drop(1).dropRight(1), Some(r.last))) // drop first, last = prefix
        } else {
          val exact = r.drop(1) // delimiter after the last run: it is exact too
          if (exact.isEmpty) None else Some((exact, None))
        }
      case Term(s) =>
        val r = runs(s); if (r.isEmpty) None else Some((r, None))
      case Prefix(stem) =>
        val r = runs(stem)
        if (r.isEmpty) None
        else if (endsWithRun(stem))
          Some((r.init, Some(r.last))) // last run is an open prefix
        else Some((r, None)) // stem ends on a delimiter: all runs exact
      case Wildcard(pat) =>
        // the literal text BEFORE the first wildcard constrains the match
        // like a Prefix stem (the matching token must start with its last
        // run; earlier runs are exact). A leading wildcard constrains no
        // lookup → None → the full-scan fallback.
        val stem = pat.takeWhile(ch => ch != '*' && ch != '?')
        if (stem.isEmpty) None else candidateWords(Prefix(stem))
      case Fuzzy(_, _) =>
        // an edit-distance neighborhood is not a (term, prefix) lookup —
        // handled structurally in candidateIds via the term DICTIONARY
        // (fuzzyCandidates); this path is never taken for Fuzzy leaves
        None
    }
  }

  /** Candidate doc-ids for a fuzzy clause (round 10): match the postings'
    * DISTINCT TERM DICTIONARY against the probe with the
    * [[graft.ops.FuzzyJoin]] symmetric-deletion kernel (candidate
    * generation provably COMPLETE for levenshtein ≤ maxEdits — the same
    * theorem the declared fuzzy-join query rests on), then pull the ids of
    * every matched term. Superset proof: a doc matching the exact
    * predicate holds a token t with lev(t, term) ≤ n; every token is in
    * the dictionary; completeness puts t in the matched set; its postings
    * contribute the doc. Cost shape: the dictionary is |distinct terms|
    * rows (a fraction of the corpus), the probe side is ONE row, variant
    * fan-out is the bounded SymSpell neighborhood — never a scan of the
    * text column. */
  private def fuzzyCandidates(spark: SparkSession, dir: String,
      f: Fuzzy): DataFrame = {
    import spark.implicits._
    val postings = spark.read.parquet(dir)
    val dict = postings.select(col("term")).distinct()
    val probe = Seq(f.s.toLowerCase).toDF("q")
    val matched = graft.ops.FuzzyJoin.join(dict, "term", probe, "q", f.maxEdits)
      .select(col("a").as("term"))
    postings.join(matched, Seq("term"), "left_semi").select("id").distinct()
  }

  /** The postings, registered for segment pruning in this session, so a
    * term or prefix lookup scans only the files whose footer range can
    * hold it. */
  private def postings(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.SegmentPruning.register(spark, dir, "term")
    Tables.read(spark, dir)
  }

  private def lookupExact(spark: SparkSession, dir: String, term: String): DataFrame =
    postings(spark, dir).filter(col("term") === term).select("id")

  private def lookupPrefix(spark: SparkSession, dir: String, stem: String): DataFrame =
    postings(spark, dir)
      .filter(col("term").between(stem, stem + Character.MAX_VALUE) && col("term").startsWith(stem))
      .select("id").distinct()

  /** Candidate doc-ids for `query`, or None when only a full scan can
    * answer it. Always a SUPERSET of the true match set, by recursion over
    * the boolean tree (round 8: full parenthesized mixed AND/OR/NOT
    * grammar):
    *
    *  - AND nodes: intersecting ANY subset of the children's candidate
    *    supersets is still a superset of the conjunction's matches — so
    *    underivable children (negations, leading-wildcard terms, OR
    *    subtrees with an underivable branch) are simply SKIPPED and the
    *    derivable ones prune; an AND with no derivable child reports None.
    *  - OR nodes: the union is a superset only if EVERY child contributes;
    *    one underivable branch makes the node underivable (its PARENT may
    *    still prune through siblings).
    *  - NOT nodes: the complement of a postings lookup is not a lookup —
    *    never derivable.
    */
  def candidateIds(spark: SparkSession, dir: String, query: String): Option[DataFrame] = {
    def cand(n: Node): Option[DataFrame] = n match {
      case Leaf(f @ Fuzzy(_, _)) => Some(fuzzyCandidates(spark, dir, f))
      case Leaf(c) =>
        candidateWords(c).map { case (exact, prefix) =>
          val lookups = exact.map(lookupExact(spark, dir, _)) ++
            prefix.map(lookupPrefix(spark, dir, _))
          lookups.reduce((a, b) => a.join(b, "id")).distinct()
        }
      case NotNode(_) => None
      case AndNode(ks) =>
        val frames = ks.flatMap(cand)
        if (frames.isEmpty) None
        else Some(frames.reduce((a, b) => a.join(b, "id")).distinct())
      case OrNode(ks) =>
        val opts = ks.map(cand)
        if (opts.exists(_.isEmpty)) None
        else Some(opts.flatten.reduce(_ union _).distinct())
    }
    cand(TextMatchBuilder.parseTree(query))
  }

  /** Index-accelerated TEXT_MATCH: semi-join the candidate ids, then apply
    * the exact full-scan predicate (bit-identical to the non-indexed path);
    * transparently falls back to the full scan when the index cannot help. */
  def textMatch(df: DataFrame, idCol: String, textCol: String,
      indexDir: String, query: String): DataFrame = {
    val pred = GraftBridge.column(
      TextMatchBuilder.predicate(GraftBridge.expression(col(textCol)), query))
    candidateIds(df.sparkSession, indexDir, query) match {
      case Some(ids) =>
        df.join(ids.withColumnRenamed("id", "__tm_id"),
            col(idCol) === col("__tm_id"), "left_semi")
          .filter(pred)
      case None => df.filter(pred)
    }
  }
}
