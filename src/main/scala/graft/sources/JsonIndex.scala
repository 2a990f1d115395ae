package graft.sources

import graft.expressions.JsonMatchBuilder
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.sql.types.{MapType, StringType}

/** Pinot JSON index analog (tableIndexConfig `jsonIndexColumns`): Pinot
  * flattens each JSON document into path→value postings so JSON_MATCH
  * resolves against the index instead of parsing every document at query
  * time.
  *
  * Spark-native form: one postings row per top-level scalar key of the JSON
  * column, with THREE term encodings per entry, laid out term-sorted via
  * [[SortedLayout]] (footer-pruned lookups, like [[TextIndex]]):
  *
  *  - `key  rawValue`   — string equality (`"$.k" = 'abc'`);
  *  - `key  doubleValue` — numeric equality (`"$.k" = 87`); the
  *    canonical rendering is produced by Spark's own double→string cast on
  *    BOTH the build and probe sides, so `87`, `87.0`, `8.7e1` in the
  *    source JSON all land on one term;
  *  - `key `            — key-presence (`"$.k" IS NOT NULL`).
  *
  * [[jsonMatch]] answers =, numeric =, IN lists, and IS NOT NULL from the
  * index (candidate semi-join + the EXACT full-scan predicate re-applied —
  * the same [[JsonMatchBuilder]] expression the non-indexed path runs),
  * recursing the round-10 compound AND/OR/NOT filter tree with the
  * TextIndex candidate lattice, and transparently falls back to the full
  * scan for every other op (!=/ranges/IS NULL/NOT IN need complements or
  * numeric order the string-sorted postings cannot answer) and for nested
  * paths. Like [[TextIndex]] and
  * [[BloomLayout]], the index is purely an accelerator: recall comes from
  * the posting construction, precision always from the re-applied
  * predicate.
  *
  * Scale posture: postings ≈ keys-per-doc rows of (short term, 8 B id),
  * built once in one scan; a JSON_MATCH equality then reads ~1 postings
  * file (footer-pruned) and semi-joins ids instead of JSON-parsing the
  * full table.
  */
object JsonIndex {

  private val RawSep = "\u0001"
  private val NumSep = "\u0002"
  private val PresSep = "\u0003"

  /** Build the postings layout from a column of FLAT JSON objects
    * (top-level scalar values; nested objects/arrays are not indexed —
    * queries on them fall back to the full scan).
    *
    * Keys are enumerated with `from_json(Map)`, but each key's VALUE is
    * re-extracted with `get_json_object` — the exact function the
    * re-applied predicate runs — so the postings can never disagree with
    * the predicate (a duplicate JSON key keeps the LAST value in a map but
    * the FIRST under get_json_object; extracting through the latter keeps
    * the index consistent with query-time truth). Only `\w+` keys get
    * postings: the JSON_MATCH path grammar can only address those anyway,
    * and it keeps the `$.key` path injection well-formed. */
  def build(df: DataFrame, dir: String, idCol: String, jsonCol: String, nFiles: Int = 8): Unit = {
    val kv = df
      .select(col(idCol).as("id"), col(jsonCol).as("__j"),
        explode(map_keys(from_json(col(jsonCol), MapType(StringType, StringType)))).as("k"))
      .filter(col("k").rlike("^[A-Za-z0-9_]+$"))
      .distinct() // duplicate keys enumerate once
      .withColumn("v", expr("get_json_object(__j, concat('$.', k))"))
      .filter(col("v").isNotNull) // JSON null: absent for =, and GetJsonObject yields NULL
      .select(col("id"), col("k"), col("v"))
    val raw = kv.select(concat(col("k"), lit(RawSep), col("v")).as("term"), col("id"))
    val num = kv
      // TRY cast: non-numeric values simply get no numeric posting (ANSI
      // cast would throw on them)
      .withColumn("d", expr("try_cast(v AS double)"))
      .filter(col("d").isNotNull)
      .select(concat(col("k"), lit(NumSep), col("d").cast("string")).as("term"), col("id"))
    val pres = kv.select(concat(col("k"), lit(PresSep)).as("term"), col("id")).distinct()

    // Round 10 — array-element postings for `$.k[*]` / `$.k[*].sub` paths
    // (Pinot's JSON index matches array elements). Round 12: elements come
    // from ONE JsonArraySlices parse + GetJsonObject over each SMALL slice
    // — the same construction the round-11 wildcard PREDICATE evaluates
    // (JsonMatchSlicesParitySpec's proven-equal pair), replacing the
    // former per-index `get_json_object(v, '$[i]')` that re-parsed the
    // whole array per element (O(len²) per doc at index-build time).
    // Postings and predicate still share one extraction path, so they
    // cannot diverge; NULL slices (malformed/non-array) and JSON-null
    // elements drop exactly as the old n>=1 / e IS NOT NULL gates did.
    val slicesOf = GraftBridge.column(graft.expressions.JsonArraySlices(
      GraftBridge.expression(col("v"))))
    val elems = kv
      .filter(col("v").startsWith("["))
      .select(col("id"), col("k"), explode(slicesOf).as("__slice"))
      .withColumn("e", expr("get_json_object(__slice, '$')"))
      .filter(col("e").isNotNull)
      .select(col("id"), col("k"), col("e"))
    val scalarKey = concat(col("k"), lit("[*]"))
    val eRaw = elems.select(concat(scalarKey, lit(RawSep), col("e")).as("term"), col("id"))
    val eNum = elems
      .withColumn("d", expr("try_cast(e AS double)"))
      .filter(col("d").isNotNull)
      .select(concat(scalarKey, lit(NumSep), col("d").cast("string")).as("term"), col("id"))
    val ePres = elems.select(concat(scalarKey, lit(PresSep)).as("term"), col("id")).distinct()
    // one object level below [*]: `$.k[*].sub` — sub-keys enumerated like
    // top-level keys (map_keys for the set, get_json_object for the value)
    val sub = elems
      .filter(col("e").startsWith("{"))
      .select(col("id"), col("k"), col("e"),
        explode(map_keys(from_json(col("e"), MapType(StringType, StringType)))).as("sk"))
      .filter(col("sk").rlike("^[A-Za-z0-9_]+$"))
      .distinct()
      .withColumn("sv", expr("get_json_object(e, concat('$.', sk))"))
      .filter(col("sv").isNotNull)
      .withColumn("skey", concat(col("k"), lit("[*]."), col("sk")))
    val sRaw = sub.select(concat(col("skey"), lit(RawSep), col("sv")).as("term"), col("id"))
    val sNum = sub
      .withColumn("d", expr("try_cast(sv AS double)"))
      .filter(col("d").isNotNull)
      .select(concat(col("skey"), lit(NumSep), col("d").cast("string")).as("term"), col("id"))
    val sPres = sub.select(concat(col("skey"), lit(PresSep)).as("term"), col("id")).distinct()

    SortedLayout.write(
      Seq(raw, num, pres, eRaw, eNum, ePres, sRaw, sNum, sPres).reduce(_ union _),
      dir, "term", nFiles)
  }

  /** Doc ids posting `term`: a footer-pruned postings scan (the postings
    * are registered for segment pruning in this session). */
  private def lookup(spark: SparkSession, dir: String, term: String): DataFrame = {
    graft.plans.SegmentPruning.register(spark, dir, "term")
    Tables.read(spark, dir).filter(col("term") === term).select("id").distinct()
  }

  /** Spark's canonical double→string rendering, computed BY Spark so probe
    * terms and build terms cannot diverge. */
  private def canonicalDouble(spark: SparkSession, d: Double): String =
    spark.range(1).select(lit(d).cast("double").cast("string")).head().getString(0)

  /** Candidate doc-ids for `filter`, or None when only a full scan can
    * answer it. Always a superset of the true match set. */
  private val scalarPath = """^\$\.([A-Za-z0-9_]+)$""".r
  private val wildcardPath = """^\$\.([A-Za-z0-9_]+)\[\*\](?:\.([A-Za-z0-9_]+))?$""".r

  private def valueTerm(spark: SparkSession, key: String,
      v: Either[String, Double]): String = v match {
    case Left(s) => key + RawSep + s
    case Right(d) => key + NumSep + canonicalDouble(spark, d)
  }

  /** Candidates for ONE comparison, or None when only a scan answers it. */
  private def leafCandidates(spark: SparkSession, dir: String,
      p: JsonMatchBuilder.Parsed): Option[DataFrame] = {
    // top-level \w+ keys and their one-level [*] forms have postings
    // (build-side contract); deeper paths and exotic keys fall back to the
    // full scan
    val key = p.path match {
      case scalarPath(k) => k
      case wildcardPath(k, null) => k + "[*]"
      case wildcardPath(k, sk) => k + "[*]." + sk
      case _ => return None
    }
    (p.op, p.value) match {
      case ("IS NOT NULL", _) => Some(lookup(spark, dir, key + PresSep))
      case ("=", Some(v)) => Some(lookup(spark, dir, valueTerm(spark, key, v)))
      case ("IN", _) =>
        // union of equality lookups — every listed value is derivable,
        // so the union is exactly the candidate superset
        Some(p.values.map(v => lookup(spark, dir, valueTerm(spark, key, v)))
          .reduce(_ union _).distinct())
      case _ => None // complements / ranges / IS NULL / NOT IN: full scan
    }
  }

  /** Candidate doc-ids for `filter` — the full round-10 boolean tree, the
    * TextIndex candidate lattice applied to JSON postings:
    * AND = intersection of any DERIVABLE subset (skipping underivable
    * children keeps a superset), OR = all-or-fallback union, NOT = never
    * derivable. None when only a full scan can answer. */
  def candidateIds(spark: SparkSession, dir: String, filter: String): Option[DataFrame] = {
    import JsonMatchBuilder.{AndNode, Leaf, Node, NotNode, OrNode}
    def cand(n: Node): Option[DataFrame] = n match {
      case Leaf(p) => leafCandidates(spark, dir, p)
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
    cand(JsonMatchBuilder.parseTree(filter))
  }

  /** The exact JSON_MATCH predicate for `filter` as a Column — the same
    * full-scan truth [[jsonMatch]] re-applies after its candidate cut. */
  def predicateCol(jsonCol: org.apache.spark.sql.Column, filter: String)
      : org.apache.spark.sql.Column =
    GraftBridge.column(
      JsonMatchBuilder.predicate(GraftBridge.expression(jsonCol), filter))

  /** Semi-join `df` to `filter`'s index candidates on `idCol` (identity
    * when only a full scan can answer). Round 12: exposed so a caller can
    * push the candidate cut BELOW an aggregation whose GROUP KEY is the
    * index id — pruning group members before the aggregation keeps exactly
    * the groups a post-aggregation semi-join would keep, with every member
    * row of a surviving group intact (join key = group key), so the
    * re-applied exact predicate sees identical documents. */
  def candidatePrune(df: DataFrame, idCol: String,
      indexDir: String, filter: String): DataFrame =
    candidateIds(df.sparkSession, indexDir, filter) match {
      case Some(ids) =>
        df.join(ids.withColumnRenamed("id", "__jm_id"),
          col(idCol) === col("__jm_id"), "left_semi")
      case None => df
    }

  /** Index-accelerated JSON_MATCH: semi-join candidates then apply the
    * exact scan predicate; transparent full-scan fallback otherwise. */
  def jsonMatch(df: DataFrame, idCol: String, jsonCol: String,
      indexDir: String, filter: String): DataFrame =
    candidatePrune(df, idCol, indexDir, filter)
      .filter(predicateCol(col(jsonCol), filter))
}
