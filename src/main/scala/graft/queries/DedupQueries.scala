package graft.queries

import graft.Q
import graft.functions._
import graft.sources.Tables
import graft.tools.DuckDbSql

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication extension (SURVEY.md §2.11 X1) — the operators a 100 TB
  * training-data pipeline needs. All pipelines are shuffle-minimal:
  * signatures/fingerprints are computed per-row with array expressions (no
  * explode until the band join), and candidate generation is always blocked
  * (LSH bands / hash bands / group blocks) — never an all-pairs cartesian,
  * which is the difference between O(n²) and O(n·bucket) at scale.
  */
object DedupQueries {

  /** X1-exact: hash-groupBy dedup — survivors = min doc_id per identical
    * text. The groupBy key is a 128-bit content hash (2× seeded
    * stable_hash64), so the shuffle carries ~16 B/row regardless of document
    * size; the oracle groups by raw text — identical groups absent a 128-bit
    * collision (probability ~2^-128 per pair). */
  private val dedupExact = Q(
    "q_dedup_exact",
    (spark, dir) => {
      val d = Tables.t(spark, dir, "documents")
      d.select(col("doc_id") +: graft.ops.Dedup.contentKey("text"): _*)
        .groupBy(col("key_h1"), col("key_h2"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
        .groupBy()
        .agg(
          count(lit(1)).as("n_unique"),
          sum(col("n_copies")).as("n_total"),
          sum(when(col("n_copies") > 1, col("n_copies") - 1).otherwise(0L)).as("n_removed"))
    },
    Some("""SELECT count(*) AS n_unique,
            CAST(sum(n_copies) AS BIGINT) AS n_total,
            CAST(sum(CASE WHEN n_copies > 1 THEN n_copies - 1 ELSE 0 END) AS BIGINT) AS n_removed
            FROM (SELECT text, min(doc_id) AS keeper_id, count(*) AS n_copies
                  FROM documents GROUP BY text)"""))

  /** X1-exact survivors listing (the dedup operator's actual output) — same
    * narrow-shuffle 128-bit content-hash groupBy as q_dedup_exact. */
  private val dedupSurvivors = Q(
    "q_dedup_survivors",
    (spark, dir) => {
      val d = Tables.t(spark, dir, "documents")
      graft.ops.Dedup.exactSurvivors(d, "text", "doc_id")
        .select(col("keeper_id"))
        .orderBy(col("keeper_id"))
        .limit(200)
    },
    Some("""SELECT min(doc_id) AS keeper_id FROM documents GROUP BY text
            ORDER BY keeper_id LIMIT 200"""))

  /** X1-minhash: MinHash(64) + LSH(16 bands × 4) near-dup detection with
    * exact-Jaccard confirmation of candidates. Non-SQL-expressible → driver
    * rows-only check; correctness covered by MinHashSpec (property: candidate
    * superset of high-Jaccard pairs) and determinism by the stable hash spec.
    *
    * Scale: signature = per-row array math (no shuffle); the only shuffles
    * are the band-key self-join (rows = docs × bands, narrow) and the final
    * pair dedup. Exact confirm joins shingle sets back only for candidate
    * pairs (tiny vs n²). */
  private val dedupMinhash = Q(
    "q_dedup_minhash",
    (spark, dir) => {
      // threshold 0 keeps every band candidate so the summary can report
      // both candidate volume and the confirmed (J ≥ 0.5) subset
      val withSets = graft.ops.Dedup.minhashNearDupPairs(
        Tables.t(spark, dir, "documents"), "doc_id", "text",
        shingleN = 3, k = 64, bands = 16, rowsPerBand = 4, threshold = 0.0)
      withSets.agg(
        count(lit(1)).as("n_candidate_pairs"),
        count(when(col("jaccard") >= 0.5, lit(1))).as("n_confirmed_pairs"),
        round(coalesce(max(col("jaccard")), lit(0.0)), 4).as("max_jaccard"))
    },
    Some(DedupOracles.minhashSql))

  /** X1-simhash: 64-bit SimHash fingerprints, candidate pairs via 4×16-bit
    * hash bands, confirmed at Hamming distance ≤ 8 with built-in
    * bit_count(xor). */
  private val dedupSimhash = Q(
    "q_dedup_simhash",
    (spark, dir) => {
      // maxHamming 64 keeps every band candidate for the summary counts
      val pairs = graft.ops.Dedup.simhashNearDupPairs(
        Tables.t(spark, dir, "documents"), "doc_id", "text", maxHamming = 64)
      pairs.agg(
        count(lit(1)).as("n_candidate_pairs"),
        count(when(col("hamming") <= 8, lit(1))).as("n_near_dup"),
        coalesce(min(col("hamming")), lit(-1)).as("min_hamming"))
    },
    Some(DedupOracles.simhashSql))

  /** X1-ngram-jaccard: exact character-trigram Jaccard over LSH-band blocks.
    *
    * Blocking is `(lang, MinHash band)` — 4 bands of 2 MinHash rows each
    * (folded with fold_hash64) over the gram-hash set — NOT a corpus-growth
    * key like (lang, source): block membership is content-derived, so block
    * sizes track near-dup cluster sizes, not data volume, and the in-block
    * `id_a < id_b` quadratic stays bounded at 100 TB. r=2 keeps the
    * candidate curve steep (P = 1-(1-J²)⁴: ~0.5 at J=0.4, ~1 at J=1), which
    * is what bounds candidate volume on vocabulary-sharing corpora.
    * Oversized blocks (boilerplate) additionally salt-split over a 64-doc
    * cap (graft.ops.Dedup.saltSplit; DedupCapSpec plants a pathological
    * block and asserts the bound).
    *
    * Fully oracle-checked: stable_hash64 + the MinHash seed remix are
    * replicated bit-exactly in DuckDB SQL (graft.tools.DuckDbSql). */
  /** The confirmed near-dup pair list (lang, id_a, id_b, jaccard) — shared
    * by q_dedup_ngram_jaccard (emits the pairs) and q_dedup_clusters (builds
    * components over them). */
  private[queries] def ngramNearDupPairs(
      spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
      val k = 8        // MinHash rows; 4 bands × r=2
      val nBands = 4
      val rPerBand = 2
      val cap = 64
      // fanOut: the gram hashing + sort below is the pipeline's CPU hot
      // spot; a single-row-group documents file would run it on one task
      // (no-op when the scan is already parallel — ops/Par)
      val d = graft.ops.Par.fanOut(Tables.t(spark, dir, "documents"))
      // gram sets as SORTED stable 64-bit hashes: sorting once per doc lets
      // every pair use the allocation-free two-pointer intersect kernel
      // (sorted_intersect_count) instead of a hash set per pair
      val grams = d.select(
        col("lang"), col("doc_id"),
        sort_array(array_distinct(transform(
          expr("transform(sequence(1, greatest(length(text) - 2, 0)), i -> substring(text, i, 3))"),
          g => stable_hash64(g)))).as("grams"))
        .withColumn("n_grams", size(col("grams")))
        .transform(graft.ops.Shared.persist)  // consumed by the band explode and both confirm joins (persist, not
        // localCheckpoint: measured faster for this WIDE array frame, unlike
        // the narrow iterative CC frames where checkpoint wins)
      val bands = grams.select(col("lang"), col("doc_id"),
        explode(lshBands(minhashFromHashes(col("grams"), k), nBands, rPerBand)).as("bk"))
      // persisted: the salted band frame feeds BOTH sides of the candidate
      // self-join (without it the minhash/band/salt computation runs twice
      // per call — grams alone being cached doesn't cover it)
      val salted = graft.ops.Dedup.saltSplit(bands, Seq("lang", "bk"), "doc_id", cap)
        .transform(graft.ops.Shared.persist)
      val pairs = salted.as("a")
        .join(salted.as("b"),
          col("a.lang") === col("b.lang") && col("a.bk") === col("b.bk") &&
            col("a.sub") === col("b.sub") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.lang").as("lang"), col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
      // |A∪B| = |A|+|B|-|A∩B|: one set operation per pair instead of two.
      // The CONFIRMED pair list is persisted: three declared queries share
      // this exact plan (q_dedup_ngram_jaccard, q_dedup_clusters,
      // q_split_contamination) and Spark's CacheManager dedups by logical
      // plan — whichever runs first in a session materializes the full
      // band-join + intersect pipeline once; the others read the ~|pairs|
      // cache (small: confirmed pairs, 4 narrow columns) instead of
      // re-running the quadratic confirm.
      pairs
        .join(grams.select(col("doc_id").as("id_a"), col("grams").as("g_a"), col("n_grams").as("na")), Seq("id_a"))
        .join(grams.select(col("doc_id").as("id_b"), col("grams").as("g_b"), col("n_grams").as("nb")), Seq("id_b"))
        .withColumn("n_inter", sorted_intersect_count(col("g_a"), col("g_b")))
        .withColumn("jaccard", round(col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter")).cast("double"), 4))
        .filter(col("jaccard") >= 0.4)
        .select(col("lang"), col("id_a"), col("id_b"), col("jaccard"))
        .transform(graft.ops.Shared.persist)
  }

  private val dedupNgramJaccard = Q(
    "q_dedup_ngram_jaccard",
    (spark, dir) =>
      ngramNearDupPairs(spark, dir)
        .orderBy(col("lang"), col("id_a"), col("id_b")),
    Some(DedupOracles.ngramJaccardSql))

  /** X1 cluster formation: near-dup PAIRS → dedup CLUSTERS via distributed
    * min-label propagation (graft.ops.Components) — the step that picks one
    * survivor per near-dup group, which is how MinHash output is actually
    * applied to a training corpus. Oracle: recursive-CTE reachability over
    * the identical edge list. */
  private val dedupClusters = Q(
    "q_dedup_clusters",
    (spark, dir) => {
      // cluster on the TIGHT near-dup criterion (J >= 0.7): dedup survivor
      // selection should only collapse true duplicates/boilerplate, not
      // 0.4-similar topical neighbors — and the sparser edge set keeps the
      // component graph shallow
      val edges = ngramNearDupPairs(spark, dir)
        .filter(col("jaccard") >= 0.7)
        .select(col("id_a"), col("id_b"))
      graft.ops.Components.connectedComponents(edges)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_docs"))
        .select(col("cluster").as("cluster_rep"), col("n_docs"))
        .orderBy(col("n_docs").desc, col("cluster_rep").asc)
        .limit(100)
    },
    Some(DedupOracles.clustersSql))

  /** X1-embedding: cosine near-dup via signed-random-projection buckets
    * (8 hyperplanes → 256 buckets); candidates share a bucket, confirmed at
    * cosine ≥ 0.9 with the native codegen'd expression. */
  private val dedupEmbedding = Q(
    "q_dedup_embedding",
    (spark, dir) => {
      val e = Tables.t(spark, dir, "embeddings")
      // both sides of the bucket self-join; the same bucketed frame as
      // Similarity.annTopK's at 8 planes
      val withBucket = e.withColumn("bucket", SimilarityQueries.srpBucket(col("embedding"), 8))
        .transform(graft.ops.Shared.persist)
      val pairs = withBucket.as("a")
        .join(withBucket.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .select(
          col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          cosine_sim(col("a.embedding"), col("b.embedding")).as("cos"))
      pairs.agg(
        count(lit(1)).as("n_candidate_pairs"),
        count(when(col("cos") >= 0.9, lit(1))).as("n_near_dup"),
        round(coalesce(max(col("cos")), lit(-1.0)), 4).as("max_cos"))
    },
    Some(SimilarityOracles.dedupEmbeddingSql))

  /** X1 exact-substring duplication report (the Lee et al. "deduplicating
    * training data makes LMs better" measurement): fraction of each
    * source's distinct token 5-grams that also occur in ANOTHER document.
    * Pipeline: per-doc distinct gram HASHES (64-bit, so the exploded
    * shuffle rows are 16 B regardless of gram text), document frequency by
    * gram, join back, per-source aggregate — the same two-shuffle shape as
    * tf-idf, no quadratic anywhere. */
  private val dedupSubstring = Q(
    "q_dedup_substring",
    (spark, dir) => {
      // no gram→doc join back, no window: per-doc grams are DISTINCT, so a
      // (doc, gram) occurrence is duplicated UNLESS its gram is globally
      // unique — and a globally-unique gram belongs to exactly ONE source,
      // which min(source) recovers for free inside the df aggregate. So
      // dup_grams(source) = total_grams(source) − unique_grams(source):
      // one 16 B-row shuffle on the gram hash plus two ~|sources|-row aggs
      val d = graft.ops.Par.fanOut(Tables.t(spark, dir, "documents"))
      val eg = d.select(col("source"),
          explode(graft.ops.Dedup.tokenGramHashes(col("text"), 5)).as("g"))
        .persist()  // hash once; feeds the df agg and the per-source totals
      val uniq = eg.groupBy(col("g"))
        .agg(count(lit(1)).as("df"), min(col("source")).as("source"))
        .filter(col("df") === 1)
        .groupBy(col("source")).agg(count(lit(1)).as("n_unique"))
      val totals = eg.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
      d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .join(totals, Seq("source"))
        .join(uniq, Seq("source"), "left")  // a source may have no unique grams
        .withColumn("n_dup_grams", col("n_grams") - coalesce(col("n_unique"), lit(0L)))
        .select(col("source"), col("n_docs"), col("n_dup_grams"), col("n_grams"),
          round(col("n_dup_grams").cast("double") / col("n_grams").cast("double"), 4)
            .as("dup_rate"))
        .orderBy(col("source"))
    },
    Some {
      // shingle replica (same fold family as DedupOracles.minhashSql,
      // widened to 5 tokens): per-token hash64, rolling FNV fold per
      // window, SplitMix finalize; whole-list fold for sub-5-token docs
      import DuckDbSql.{u, wadd, wmul, mix, hash64U, foldHash64U}
      val prime = u(0x100000001b3L)
      val offset = u(0xcbf29ce484222325L)
      val golden = u(0x9e3779b97f4a7c15L)
      val acc = (0 until 5).foldLeft(offset)((a, j) => wadd(wmul(a, prime), s"th[si+$j]"))
      val shingle = mix(wadd(acc, golden))
      s"""WITH th AS (
         |  SELECT doc_id, source,
         |         list_transform(string_split(text, ' '), tk -> ${hash64U("tk")}) AS th
         |  FROM documents
         |), grams AS (
         |  SELECT doc_id, source,
         |         CASE WHEN len(th) >= 5 THEN
         |           list_distinct(list_transform(range(1, greatest(len(th) - 4, 0) + 1), si -> $shingle))
         |         ELSE [${foldHash64U("th")}] END AS gs
         |  FROM th
         |), eg AS (
         |  SELECT source, unnest(gs) AS g FROM grams
         |), uniqg AS (
         |  SELECT min(source) AS source FROM eg GROUP BY g HAVING count(*) = 1
         |), uniq AS (
         |  SELECT source, count(*) AS n_unique FROM uniqg GROUP BY source
         |), totals AS (
         |  SELECT source, count(*) AS n_grams FROM eg GROUP BY source
         |), docs AS (
         |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
         |)
         |SELECT d.source, d.n_docs,
         |       CAST(t.n_grams - coalesce(q.n_unique, 0) AS BIGINT) AS n_dup_grams,
         |       CAST(t.n_grams AS BIGINT) AS n_grams,
         |       round(CAST(t.n_grams - coalesce(q.n_unique, 0) AS DOUBLE) / t.n_grams, 4) AS dup_rate
         |FROM docs d JOIN totals t USING (source) LEFT JOIN uniq q USING (source)
         |ORDER BY d.source""".stripMargin
    })

  /** X1/X2 semantic dedup — the embedding-space near-dup pipeline END TO
    * END: SRP(8)-bucket candidate pairs confirmed at cosine ≥ 0.9 become
    * edges, distributed connected components (ops/Components) groups
    * semantic duplicates, one keeper (min id) survives per cluster. The
    * summary row audits the pipeline: vectors in, confirmed edges,
    * clustered vectors, clusters, survivors out. Oracle replays SRP signs +
    * raw-double cosine bit-exactly and resolves components with a
    * recursive min-label CTE.
    *
    * Scale: bucket join is the capped-LSH shape (bucket sizes track dup
    * density, never corpus size), Components is O(log diameter) rounds, and
    * the final accounting is three scalar aggregates crossed — no value
    * lists ever reach the driver. */
  private val dedupSemantic = Q(
    "q_dedup_semantic",
    (spark, dir) => {
      val e = Tables.t(spark, dir, "embeddings")
      // salt-split cap (Dedup.saltSplit, same contract as the MinHash LSH
      // pipeline): an overfull SRP bucket is deterministically split into
      // id-mod sub-buckets, so candidate pairs are O(n·cap) — never
      // bucket², the all-pairs failure mode at corpus scale. No effect at
      // gate SF (buckets ≪ 256); the oracle replicates the split exactly.
      val withBucket = graft.ops.Dedup.saltSplit(
          e.withColumn("bucket", SimilarityQueries.srpBucket(col("embedding"), 8)),
          Seq("bucket"), "vec_id", 256)
        .persist() // both sides of the bucket self-join
      val edges = withBucket.as("a")
        .join(withBucket.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.sub") === col("b.sub") &&
            col("a.vec_id") < col("b.vec_id"))
        .filter(cosine_sim(col("a.embedding"), col("b.embedding")) >= 0.9)
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
        .persist() // edge count + component input share the confirm join
      val labelStats = graft.ops.Components.connectedComponents(edges)
        .agg(
          count(lit(1)).as("n_clustered"),
          countDistinct(col("cluster")).as("n_clusters"))
      e.agg(count(lit(1)).as("n_vectors"))
        .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
        .crossJoin(labelStats)
        .withColumn("n_survivors",
          col("n_vectors") - (col("n_clustered") - col("n_clusters")))
    },
    Some(SimilarityOracles.dedupSemanticSql))

  /** X1-incremental: the PRODUCTION dedup shape — today's batch (doc_id %
    * 10 = 0 stands in for the increment) against the standing corpus, no
    * corpus×corpus work (`ops/Dedup.incrementalNearDupPairs`). Summary:
    * increment size, candidate pairs, how many increment docs are near-dups
    * of the corpus (the docs a pipeline would drop before training), max
    * similarity. Oracle replays the identical MinHash pipeline with the
    * new×corpus join. */
  private val dedupIncremental = Q(
    "q_dedup_incremental",
    (spark, dir) => {
      val d = Tables.t(spark, dir, "documents")
      val newDocs = d.filter(pmod(col("doc_id"), lit(10)) === 0)
      val corpus = d.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      // corpus signatures come from the PERSISTED index (built once per
      // corpus data version — sources/DedupIndex, the production shape:
      // ingest stores signatures, each batch re-derives only its own);
      // results are bit-identical to recompute (DedupIndexSpec parity)
      val idx = graft.sources.Fingerprint.buildOnce("dedup_idx", s"$dir/documents.parquet") { out =>
        graft.sources.DedupIndex.build(corpus, out, "doc_id", "text")
      }
      // threshold 0 keeps every band candidate so the summary can report
      // the candidate volume alongside the confirmed count (as
      // q_dedup_minhash does)
      val pairs = graft.ops.Dedup.incrementalNearDupPairsIndexed(
        newDocs, graft.sources.DedupIndex.read(spark, idx),
        "doc_id", "text", threshold = 0.0)
      newDocs.agg(count(lit(1)).as("n_new_docs"))
        .crossJoin(pairs.agg(
          count(lit(1)).as("n_candidate_pairs"),
          // one aggregation, one exchange: a distinct count would plan a
          // second aggregation level and one more Spark job
          size(collect_set(when(col("jaccard") >= 0.5, col("new_id")))).cast("long").as("n_dup_new_docs"),
          round(coalesce(max(col("jaccard")), lit(0.0)), 4).as("max_jaccard")))
    },
    Some(DedupOracles.incrementalSql))

  /** X1-spans (round 8): positional duplicate-SPAN report — the
    * exact-substring dedup of Lee et al. 2022 in its distributable, n-gram-
    * anchored form (ops/Dedup.duplicateSpans). Where q_dedup_substring
    * counts duplicated grams per source (a df report), this one merges
    * overlapping duplicated gram POSITIONS into maximal spans per document
    * — the unit a span-removal pass would actually cut — and rolls the
    * per-doc span accounting up to sources. The DuckDB oracle replicates
    * the positional gram hashes (same FNV+SplitMix fold as the substring
    * oracle, WITHOUT the distinct), the global dup set, and the island
    * merge (lag window → running-sum island ids) bit-exactly. */
  private val dedupSpans = Q(
    "q_dedup_spans",
    (spark, dir) => {
      val d = Tables.t(spark, dir, "documents")
      val spans = graft.ops.Dedup.duplicateSpans(d, "doc_id", "text", 5)
      val eligible = d.filter(size(split(col("text"), " ")) >= 5)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
      eligible.join(spans, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          count(col("n_spans")).as("n_docs_dup"),
          sum(coalesce(col("n_spans"), lit(0L))).as("n_spans"),
          sum(coalesce(col("dup_tokens"), lit(0L))).as("dup_tokens"),
          round(sum(coalesce(col("dup_tokens"), lit(0L))).cast("double") /
            sum(col("n_toks")).cast("double"), 4).as("dup_token_rate"))
        .orderBy(col("source"))
    },
    Some {
      import DuckDbSql.{u, wadd, wmul, mix, hash64U}
      val prime = u(0x100000001b3L)
      val offset = u(0xcbf29ce484222325L)
      val golden = u(0x9e3779b97f4a7c15L)
      val acc = (0 until 5).foldLeft(offset)((a, j) => wadd(wmul(a, prime), s"th[si+$j]"))
      val shingle = mix(wadd(acc, golden))
      s"""WITH th AS (
         |  SELECT doc_id, source,
         |         list_transform(string_split(text, ' '), tk -> ${hash64U("tk")}) AS th
         |  FROM documents
         |), elig AS (
         |  SELECT doc_id, source, th, len(th) AS n_toks FROM th WHERE len(th) >= 5
         |), occ AS (
         |  SELECT doc_id, si, $shingle AS g
         |  FROM (SELECT doc_id, th, unnest(range(1, len(th) - 4 + 1)) AS si FROM elig)
         |), dupg AS (
         |  SELECT g FROM occ GROUP BY g HAVING count(*) > 1
         |), brk AS (
         |  SELECT doc_id, si,
         |         CASE WHEN si - lag(si) OVER (PARTITION BY doc_id ORDER BY si) > 5
         |              THEN 1 ELSE 0 END AS b
         |  FROM occ JOIN dupg USING (g)
         |), isl AS (
         |  SELECT doc_id, si,
         |         sum(b) OVER (PARTITION BY doc_id ORDER BY si
         |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM brk
         |), sp AS (
         |  SELECT doc_id, island, max(si) - min(si) + 5 AS span_tokens
         |  FROM isl GROUP BY doc_id, island
         |), perdoc AS (
         |  SELECT doc_id, count(*) AS n_spans, sum(span_tokens) AS dup_tokens
         |  FROM sp GROUP BY doc_id
         |)
         |SELECT e.source,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(p.n_spans) AS BIGINT) AS n_docs_dup,
         |       CAST(sum(coalesce(p.n_spans, 0)) AS BIGINT) AS n_spans,
         |       CAST(sum(coalesce(p.dup_tokens, 0)) AS BIGINT) AS dup_tokens,
         |       ${DuckDbSql.sparkRound(
               "CAST(sum(coalesce(p.dup_tokens, 0)) AS DOUBLE) / CAST(sum(e.n_toks) AS DOUBLE)", 4)} AS dup_token_rate
         |FROM elig e LEFT JOIN perdoc p USING (doc_id)
         |GROUP BY e.source
         |ORDER BY e.source""".stripMargin
    })

  /** X1-spans REMOVAL (round 8): the cleaning transform — keep the
    * globally-first occurrence of every duplicated 5-gram, cut the rest
    * (ops/Dedup.removeDuplicateSpans; Lee et al. keep-one semantics), and
    * prove the rebuilt TEXT content-exactly: the oracle reconstructs every
    * cleaned doc in SQL and both engines fold a seeded hash64 of the
    * cleaned text with bit_xor per source. Only spans shuffle in the Spark
    * plan; reconstruction is a map-side index-aware HOF filter. */
  private val dedupSpansRemove = Q(
    "q_dedup_spans_remove",
    (spark, dir) => {
      val d = Tables.t(spark, dir, "documents")
      val cleaned = graft.ops.Dedup.removeDuplicateSpans(d, "doc_id", "text", 5)
      d.filter(size(split(col("text"), " ")) >= 5)
        .select(col("doc_id"), col("source"))
        .join(cleaned, Seq("doc_id"))
        .withColumn("ch",
          when(col("n_cut") > 0, stable_hash64(col("cleaned_text"), 3L)))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("n_cut") > 0, 1L).otherwise(0L)).as("n_docs_changed"),
          sum(col("n_toks")).as("toks_before"),
          sum(col("n_toks") - col("n_cut")).as("toks_after"),
          coalesce(expr("bit_xor(ch)"), lit(0L)).as("cleaned_xor"))
        .orderBy(col("source"))
    },
    Some {
      import DuckDbSql.{u, wadd, wmul, mix, hash64U, hash64}
      val prime = u(0x100000001b3L)
      val offset = u(0xcbf29ce484222325L)
      val golden = u(0x9e3779b97f4a7c15L)
      val acc = (0 until 5).foldLeft(offset)((a, j) => wadd(wmul(a, prime), s"th[si+$j]"))
      val shingle = mix(wadd(acc, golden))
      s"""WITH raw AS (
         |  SELECT doc_id, source, string_split(text, ' ') AS tk,
         |         list_transform(string_split(text, ' '), t -> ${hash64U("t")}) AS th
         |  FROM documents
         |), elig AS (
         |  SELECT * FROM raw WHERE len(tk) >= 5
         |), occ AS (
         |  SELECT doc_id, si, $shingle AS g
         |  FROM (SELECT doc_id, th, unnest(range(1, len(th) - 4 + 1)) AS si FROM elig)
         |), dup AS (
         |  SELECT g, min(doc_id * 4294967296 + si) AS kp
         |  FROM occ GROUP BY g HAVING count(*) > 1
         |), rem AS (
         |  SELECT o.doc_id, o.si FROM occ o JOIN dup USING (g)
         |  WHERE o.doc_id * 4294967296 + o.si <> kp
         |), cov AS (
         |  SELECT DISTINCT doc_id, si + j AS pos
         |  FROM (SELECT doc_id, si, unnest(range(0, 5)) AS j FROM rem)
         |), ncut AS (
         |  SELECT doc_id, count(*) AS n_cut FROM cov GROUP BY doc_id
         |), tokpos AS (
         |  SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS pos FROM elig
         |), kept AS (
         |  SELECT t.doc_id, t.pos, t.tk[t.pos] AS tok
         |  FROM tokpos t ANTI JOIN cov c USING (doc_id, pos)
         |), rebuilt AS (
         |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS ct
         |  FROM kept WHERE doc_id IN (SELECT doc_id FROM ncut) GROUP BY doc_id
         |), perdoc AS (
         |  SELECT e.doc_id, e.source, len(e.tk) AS n_toks,
         |         coalesce(c.n_cut, 0) AS n_cut,
         |         CASE WHEN c.doc_id IS NULL THEN NULL
         |              ELSE coalesce(r.ct, '') END AS ct
         |  FROM elig e LEFT JOIN ncut c USING (doc_id) LEFT JOIN rebuilt r USING (doc_id)
         |)
         |SELECT source,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN n_cut > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_changed,
         |       CAST(sum(n_toks) AS BIGINT) AS toks_before,
         |       CAST(sum(n_toks - n_cut) AS BIGINT) AS toks_after,
         |       coalesce(bit_xor(CASE WHEN n_cut > 0
         |         THEN ${hash64("ct", 3L)} END), 0) AS cleaned_xor
         |FROM perdoc GROUP BY source ORDER BY source""".stripMargin
    })

  /** X1-CDC (round 8): content-defined chunk dedup report — boundaries
    * fall where token-hash low bits are zero (expected 64-token chunks),
    * so insertions re-sync instead of shifting every window (CdcSpec
    * proves the resync property). Chunking is entirely MAP-SIDE (one
    * array expression per row, no explode before the 8 B chunk-hash
    * rows); the dup accounting reuses the unique-complement identity
    * (dup = total − unique, unique attributed via min(source) in the df
    * agg — no join-back, the q_dedup_substring plan shape). */
  private val dedupCdc = Q(
    "q_dedup_cdc",
    (spark, dir) => {
      val d = graft.ops.Par.fanOut(Tables.t(spark, dir, "documents"))
      val ch = d.select(col("source"),
          explode(graft.ops.Dedup.cdcChunkHashes(col("text"), 6)).as("ch"))
        .persist() // feeds the df agg and the per-source totals
      val uniq = ch.groupBy(col("ch"))
        .agg(count(lit(1)).as("c"), min(col("source")).as("source"))
        .filter(col("c") === 1)
        .groupBy(col("source")).agg(count(lit(1)).as("n_unique"))
      val totals = ch.groupBy(col("source")).agg(count(lit(1)).as("n_chunks"))
      d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_toks"))
        .join(totals, Seq("source"))
        .join(uniq, Seq("source"), "left")
        .withColumn("n_dup_chunks", col("n_chunks") - coalesce(col("n_unique"), lit(0L)))
        .select(col("source"), col("n_docs"), col("n_chunks"), col("n_dup_chunks"),
          round(col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"), 4)
            .as("dup_chunk_rate"),
          round(col("n_toks").cast("double") / col("n_chunks").cast("double"), 2)
            .as("avg_chunk_tokens"))
        .orderBy(col("source"))
    },
    Some {
      import DuckDbSql.{hash64U, foldHash64U}
      s"""WITH th AS (
         |  SELECT doc_id, source,
         |         list_transform(string_split(text, ' '), t -> ${hash64U("t")}) AS th
         |  FROM documents
         |), bounds AS (
         |  SELECT doc_id, source, th,
         |         list_filter(list_transform(th, (h, i) ->
         |           CASE WHEN (h & 63) = 0 THEN i END), x -> x IS NOT NULL) AS ends
         |  FROM th
         |), pairs AS (
         |  SELECT doc_id, source, th, unnest(list_prepend(0, ends)) AS s,
         |         unnest(list_append(ends, len(th))) AS e
         |  FROM bounds
         |), chunks AS (
         |  SELECT doc_id, source, ${foldHash64U("th[s+1:e]")} AS ch
         |  FROM pairs WHERE e > s
         |), uniqc AS (
         |  SELECT min(source) AS source FROM chunks GROUP BY ch HAVING count(*) = 1
         |), uniq AS (
         |  SELECT source, count(*) AS n_unique FROM uniqc GROUP BY source
         |), totals AS (
         |  SELECT source, count(*) AS n_chunks FROM chunks GROUP BY source
         |), docs AS (
         |  SELECT source, count(*) AS n_docs,
         |         sum(len(string_split(text, ' '))) AS n_toks
         |  FROM documents GROUP BY source
         |)
         |SELECT d.source, d.n_docs,
         |       CAST(t.n_chunks AS BIGINT) AS n_chunks,
         |       CAST(t.n_chunks - coalesce(q.n_unique, 0) AS BIGINT) AS n_dup_chunks,
         |       ${DuckDbSql.sparkRound(
              "CAST(t.n_chunks - coalesce(q.n_unique, 0) AS DOUBLE) / t.n_chunks", 4)} AS dup_chunk_rate,
         |       ${DuckDbSql.sparkRound(
              "CAST(d.n_toks AS DOUBLE) / t.n_chunks", 2)} AS avg_chunk_tokens
         |FROM docs d JOIN totals t USING (source) LEFT JOIN uniq q USING (source)
         |ORDER BY d.source""".stripMargin
    })

  private val SemTau = 0.35
  private val SemSeed = 29L

  /** Shared SemDeDup oracle core: Lloyd replay → salted assignment →
    * qualifying in-cell pairs (cell, ia, ib, da, db with ia < ib, cos ≥ τ).
    * Used by q_dedup_semdedup and q_pipe_contrastive_pairs. */
  private lazy val semDedupCoreCtes: String =
    s"""${EmbeddingQueries.kmeansReplayCtes},
       |counted AS (
       |  SELECT vec_id, embedding, cell, d,
       |         count(*) OVER (PARTITION BY cell) AS bk_n
       |  FROM af),
       |salted AS MATERIALIZED (
       |  SELECT vec_id, embedding, cell, d,
       |         vec_id % CAST(ceil(bk_n / 256.0) AS BIGINT) AS sub
       |  FROM counted),
       |sempairs AS MATERIALIZED (
       |  SELECT a.cell AS cell, a.sub AS sub, a.vec_id AS ia, b.vec_id AS ib,
       |         a.d AS da, b.d AS db,
       |         ${SimilarityOracles.cos("a.embedding", "b.embedding")} AS cs
       |  FROM salted a JOIN salted b
       |    ON a.cell = b.cell AND a.sub = b.sub AND a.vec_id < b.vec_id
       |  WHERE ${SimilarityOracles.cos("a.embedding", "b.embedding")}
       |        >= CAST($SemTau AS DOUBLE))""".stripMargin

  /** X1-SemDeDup (round 10, Abbas et al. 2023): embedding dedup bounded by
    * the TRAINED k-means cells — the published scale path (clusters cap the
    * quadratic; 50k clusters over LAION in the paper), distinct from
    * q_dedup_semantic's SRP buckets in both the blocking structure (learned
    * cells vs random hyperplanes) and the keeper rule (the pair member
    * farther from its cell centroid survives — the paper's exemplar choice
    * — vs connected-component min-id survivors). Reuses the q_embed_kmeans
    * codebook (same seeds/rounds), so the oracle replays the whole Lloyd
    * trajectory and then the within-cell pair/removal decisions bit-exactly:
    * cosine and centroid distance are the same sequential float64 folds in
    * both engines. Output = per-cell accounting plus the kept-set XOR
    * identity (the q_pipe_curate doctrine — set equality, not just counts).
    * τ = 0.35 because the synthetic embeddings are near-isotropic (pairwise
    * cosine ∈ [-0.55, 0.55]); the threshold is a parameter, the DECISIONS
    * are what the oracle checks. */
  private val dedupSemDedup = Q(
    "q_dedup_semdedup",
    (spark, dir) => {
      val salted = graft.ops.Dedup.saltSplit(
          EmbeddingQueries.kmeansAssigned(spark, dir),
          Seq("cell"), "vec_id", 256)
        .transform(graft.ops.Shared.persist) // both sides of the in-cell self-join + member census
      val pairs = graft.ops.SemDeDup.cellPairs(
          salted, "vec_id", "embedding", "dist", "cell", SemTau)
        .persist() // pair census + removal derivation
      val removed = graft.ops.SemDeDup.removedOf(pairs)
      val kept = salted.join(
        removed, salted("vec_id") === removed("rid"), "left_anti")
      val kaH = kept
        .withColumn("h", stable_hash64(col("vec_id").cast("string"), SemSeed))
        .groupBy(col("cell")).agg(
          count(lit(1)).as("n_kept"),
          expr("bit_xor(h)").as("kept_xor"))
      val ma = salted.groupBy(col("cell")).agg(count(lit(1)).as("n_members"))
      val pa = pairs.groupBy(col("cell")).agg(count(lit(1)).as("n_pairs"))
      ma.join(pa, Seq("cell"), "left")
        .join(kaH, Seq("cell"))
        .select(
          col("cell"), col("n_members"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          (col("n_members") - col("n_kept")).as("n_removed"),
          col("n_kept"), col("kept_xor"))
        .orderBy(col("cell"))
    },
    Some {
      val h = DuckDbSql.hash64("CAST(vec_id AS VARCHAR)", SemSeed)
      s"""WITH $semDedupCoreCtes,
         |removed AS (
         |  SELECT DISTINCT CASE WHEN da >= db THEN ib ELSE ia END AS rid
         |  FROM sempairs),
         |kept AS (
         |  SELECT s.cell, s.vec_id FROM salted s
         |  ANTI JOIN removed r ON s.vec_id = r.rid),
         |ka AS (
         |  SELECT cell, CAST(count(*) AS BIGINT) AS n_kept,
         |         bit_xor($h) AS kept_xor
         |  FROM kept GROUP BY cell),
         |ma AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_members
         |       FROM salted GROUP BY cell),
         |pa AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_pairs
         |       FROM sempairs GROUP BY cell)
         |SELECT ma.cell, ma.n_members,
         |       CAST(coalesce(pa.n_pairs, 0) AS BIGINT) AS n_pairs,
         |       ma.n_members - ka.n_kept AS n_removed, ka.n_kept, ka.kept_xor
         |FROM ma JOIN ka ON ka.cell = ma.cell
         |LEFT JOIN pa ON pa.cell = ma.cell
         |ORDER BY ma.cell""".stripMargin
    })

  /** X1-SemDeDup-incremental (round 10): the PRODUCTION shape of semantic
    * dedup — today's batch (vec_id % 10 = 0 stands in for the increment)
    * against the standing corpus, with the codebook TRAINED ON THE CORPUS
    * ONLY (seeds = its k lowest ids): a daily run re-derives only the new
    * batch's assignments; corpus assignments and the codebook are the
    * persisted artifacts (the q_dedup_incremental / AnnIndex doctrine).
    * Candidate work is |new_cell|×|corpus_cell| per cell — bounded by the
    * cell-count knob at scale (the SemDeDup paper's 50k clusters), never
    * new×corpus. Report: per codebook cell, corpus/new populations,
    * qualifying pairs, how many new vectors are semantic near-dups of the
    * corpus (what a pipeline would drop before training), and the XOR
    * identity of the dropped set. */
  private val dedupSemDedupIncr = Q(
    "q_dedup_semdedup_incr",
    (spark, dir) => {
      val e = Tables.t(spark, dir, "embeddings")
      val newB = e.filter(pmod(col("vec_id"), lit(10)) === 0)
      // corpus codebook + assignments come from the PERSISTED index (built
      // once per corpus data version — sources/SemDedupIndex, the
      // production shape: ingest stores the coarse quantizer and the cell
      // layout, each daily batch re-derives only its OWN assignments);
      // bit-identical to recompute (SemDedupIndexSpec parity), so the
      // oracle's full Lloyd replay is unchanged. Round 12 — the r10/r11
      // verdicts' carried ask.
      val (k, iters) = (EmbeddingQueries.kmK, EmbeddingQueries.kmIters)
      val idx = graft.sources.Fingerprint.buildOnce(
        "semdedup_idx", s"$dir/embeddings.parquet", k, iters) { out =>
        val corpus = e.filter(pmod(col("vec_id"), lit(10)) =!= 0)
        graft.sources.SemDedupIndex.build(corpus, out, k, iters)
      }
      val cents = graft.sources.SemDedupIndex.readCodebook(spark, idx)
      val corpusA = graft.sources.SemDedupIndex.readAssignments(spark, idx)
        .persist() // census + pair join
      val newA = graft.ops.KMeans.assign(newB, "embedding", cents)
      val pairs = newA.as("n")
        .join(corpusA.as("c"), col("n.cell") === col("c.cell"))
        .filter(cosine_sim(col("n.embedding"), col("c.embedding")) >= SemTau)
        .select(col("n.cell").as("cell"), col("n.vec_id").as("new_id"))
        .persist() // pair census + distinct-dup derivation
      val cellsDf = spark.createDataFrame(cents.map(c => Tuple1(c._1)))
        .toDF("cell")
      val nc = corpusA.groupBy(col("cell")).agg(count(lit(1)).as("n_corpus"))
      val nn = newA.groupBy(col("cell")).agg(count(lit(1)).as("n_new"))
      val np = pairs.groupBy(col("cell")).agg(count(lit(1)).as("n_pairs"))
      val dups = pairs.select(col("cell"), col("new_id")).distinct()
      val dx = dups
        .withColumn("h", stable_hash64(col("new_id").cast("string"), SemSeed))
        .groupBy(col("cell")).agg(
          count(lit(1)).as("n_dup_new"),
          expr("bit_xor(h)").as("dup_xor"))
      cellsDf
        .join(nc, Seq("cell"), "left").join(nn, Seq("cell"), "left")
        .join(np, Seq("cell"), "left").join(dx, Seq("cell"), "left")
        .select(col("cell"),
          coalesce(col("n_corpus"), lit(0L)).as("n_corpus"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_dup_new"), lit(0L)).as("n_dup_new"),
          coalesce(col("dup_xor"), lit(0L)).as("dup_xor"))
        .orderBy(col("cell"))
    },
    Some {
      val k = EmbeddingQueries.kmK
      val iters = EmbeddingQueries.kmIters
      val h = DuckDbSql.hash64("CAST(new_id AS VARCHAR)", SemSeed)
      s"""WITH corpus AS MATERIALIZED (
         |  SELECT * FROM embeddings WHERE vec_id % 10 <> 0),
         |newb AS MATERIALIZED (
         |  SELECT * FROM embeddings WHERE vec_id % 10 = 0),
         |${EmbeddingQueries.kmeansCtesFrom(k, iters, EmbeddingQueries.kmDim,
             "corpus", s"ORDER BY vec_id LIMIT $k")},
         |${EmbeddingQueries.kmeansAssignCte("afn", "newb", s"c$iters",
             keepD = false)},
         |incpairs AS MATERIALIZED (
         |  SELECT n.cell AS cell, n.vec_id AS new_id
         |  FROM afn n JOIN af c ON c.cell = n.cell
         |  WHERE ${SimilarityOracles.cos("n.embedding", "c.embedding")}
         |        >= CAST($SemTau AS DOUBLE)),
         |cells AS (SELECT DISTINCT cell FROM c$iters),
         |nc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_corpus
         |       FROM af GROUP BY cell),
         |nn AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_new
         |       FROM afn GROUP BY cell),
         |np AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_pairs
         |       FROM incpairs GROUP BY cell),
         |dx AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_dup_new,
         |              bit_xor($h) AS dup_xor
         |       FROM (SELECT DISTINCT cell, new_id FROM incpairs)
         |       GROUP BY cell)
         |SELECT cells.cell,
         |       coalesce(nc.n_corpus, 0) AS n_corpus,
         |       coalesce(nn.n_new, 0) AS n_new,
         |       coalesce(np.n_pairs, 0) AS n_pairs,
         |       coalesce(dx.n_dup_new, 0) AS n_dup_new,
         |       coalesce(dx.dup_xor, 0) AS dup_xor
         |FROM cells
         |LEFT JOIN nc ON nc.cell = cells.cell
         |LEFT JOIN nn ON nn.cell = cells.cell
         |LEFT JOIN np ON np.cell = cells.cell
         |LEFT JOIN dx ON dx.cell = cells.cell
         |ORDER BY cells.cell""".stripMargin
    })

  /** X5-contrastive (round 10): contrastive training-pair mining — the
    * data-prep step of embedding-model training (anchor, positive,
    * hard-negative triplets). Positives = the anchor's highest-cosine
    * qualifying neighbor from the SemDeDup pair stage (ties to the lower
    * id — cosines are bit-identical float folds in both engines, so the
    * argmax replays); hard negatives = the seeded-hash-minimal same-
    * (cell, sub) candidate that is NOT a qualifying neighbor (in-cell =
    * semantically close = HARD, hash-min = deterministic pseudo-random
    * draw, the q_sample_* doctrine). Candidate volume is the same
    * salt-capped in-cell quadratic as q_dedup_semdedup — never corpus².
    * An anchor whose whole sub-bucket qualifies has no negative → -1. */
  private val pipeContrastivePairs = Q(
    "q_pipe_contrastive_pairs",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val salted = graft.ops.Dedup.saltSplit(
          EmbeddingQueries.kmeansAssigned(spark, dir),
          Seq("cell"), "vec_id", 256)
        .transform(graft.ops.Shared.persist) // pair self-join + negative candidate join
      val pairs = graft.ops.SemDeDup.cellPairs(
        salted, "vec_id", "embedding", "dist", "cell", SemTau)
      // both directions: every pair member is an anchor
      val bi = pairs.select(col("cell"), col("sub"),
          col("ia").as("anchor"), col("ib").as("other"), col("cs"))
        .unionByName(pairs.select(col("cell"), col("sub"),
          col("ib").as("anchor"), col("ia").as("other"), col("cs")))
        .persist() // positive argmax + neighbor anti-join + anchor census
      val wPos = Window.partitionBy(col("anchor"))
        .orderBy(col("cs").desc, col("other").asc)
      val pos = bi
        .withColumn("rn", row_number().over(wPos))
        .withColumn("n_pos", count(lit(1)).over(Window.partitionBy(col("anchor"))))
        .filter(col("rn") === 1)
        .select(col("anchor"), col("cell"), col("sub"),
          col("other").as("pos_id"), round(col("cs"), 6).as("max_cos"),
          col("n_pos"))
      val cands = pos.select(col("anchor"), col("cell"), col("sub"))
        .join(salted.select(col("cell"), col("sub"), col("vec_id").as("cand")),
          Seq("cell", "sub"))
        .filter(col("cand") =!= col("anchor"))
      val nonNeighbor = cands.join(
        bi.select(col("anchor"), col("other").as("cand")),
        Seq("anchor", "cand"), "left_anti")
      val wNeg = Window.partitionBy(col("anchor")).orderBy(col("h"), col("cand"))
      val neg = nonNeighbor
        .withColumn("h", stable_hash64(
          concat(col("anchor").cast("string"), lit(":"), col("cand").cast("string")),
          SemSeed))
        .withColumn("rn", row_number().over(wNeg))
        .filter(col("rn") === 1)
        .select(col("anchor"), col("cand").as("neg_id"))
      pos.join(neg, Seq("anchor"), "left")
        .select(col("anchor").as("anchor_id"), col("pos_id"),
          col("max_cos"), col("n_pos"),
          coalesce(col("neg_id"), lit(-1L)).as("neg_id"))
        .orderBy(col("anchor_id"))
    },
    Some {
      val h = DuckDbSql.hash64(
        "CAST(anchor AS VARCHAR) || ':' || CAST(cand AS VARCHAR)", SemSeed)
      s"""WITH $semDedupCoreCtes,
         |bi AS MATERIALIZED (
         |  SELECT cell, sub, ia AS anchor, ib AS other, cs FROM sempairs
         |  UNION ALL
         |  SELECT cell, sub, ib AS anchor, ia AS other, cs FROM sempairs),
         |pos AS MATERIALIZED (
         |  SELECT anchor, cell, sub, other AS pos_id,
         |         ${DuckDbSql.sparkRound("cs", 6)} AS max_cos, n_pos
         |  FROM (SELECT *,
         |               row_number() OVER (PARTITION BY anchor
         |                                  ORDER BY cs DESC, other ASC) AS rn,
         |               count(*) OVER (PARTITION BY anchor) AS n_pos
         |        FROM bi)
         |  WHERE rn = 1),
         |cands AS MATERIALIZED (
         |  SELECT p.anchor, s2.vec_id AS cand
         |  FROM pos p JOIN salted s2
         |    ON s2.cell = p.cell AND s2.sub = p.sub AND s2.vec_id <> p.anchor),
         |nonneighbor AS (
         |  SELECT c.anchor, c.cand FROM cands c
         |  ANTI JOIN bi n ON n.anchor = c.anchor AND n.other = c.cand),
         |neg AS (
         |  SELECT anchor, cand AS neg_id FROM (
         |    SELECT anchor, cand,
         |           row_number() OVER (PARTITION BY anchor
         |                              ORDER BY ($h), cand) AS rn
         |    FROM nonneighbor)
         |  WHERE rn = 1)
         |SELECT p.anchor AS anchor_id, p.pos_id, p.max_cos,
         |       CAST(p.n_pos AS BIGINT) AS n_pos,
         |       coalesce(n.neg_id, -1) AS neg_id
         |FROM pos p LEFT JOIN neg n ON n.anchor = p.anchor
         |ORDER BY anchor_id""".stripMargin
    })

  val all: Seq[Q] = Seq(
    dedupExact, dedupSurvivors, dedupMinhash, dedupSimhash,
    dedupNgramJaccard, dedupClusters, dedupEmbedding, dedupSubstring,
    dedupSemantic, dedupIncremental, dedupSpans, dedupSpansRemove, dedupCdc,
    dedupSemDedup, dedupSemDedupIncr, pipeContrastivePairs)
}
