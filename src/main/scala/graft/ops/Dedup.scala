package graft.ops

import graft.functions._
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable deduplication operators (SURVEY.md §2.11 X1) — the library API
  * behind the declared q_dedup_* queries. Every candidate generator is
  * banded/blocked (never all-pairs); see SCALE.md for the 100 TB bounds.
  */
object Dedup {

  /** 128-bit content key (two independently-seeded stable 64-bit hashes):
    * the groupBy key for exact dedup, so the shuffle carries ~16 B per row
    * regardless of document size (at 100 TB the raw-text alternative would
    * shuffle the entire corpus). Collision probability across 2^64 docs is
    * ~2^-128 per pair — below any realistic corpus size. */
  def contentKey(keyCol: String): Seq[org.apache.spark.sql.Column] =
    Seq(stable_hash64(col(keyCol), 0L).as("key_h1"),
        stable_hash64(col(keyCol), 1L).as("key_h2"))

  /** Distinct 64-bit hashes of a document's token n-grams, computed
    * entirely in hash space by the ShingleHash64 kernel (one hash per
    * token + a rolling fold per window — no per-gram string is ever
    * allocated, unlike an array_join formulation which copies O(len·n)
    * bytes per doc). A sub-n-token doc contributes its whole token list
    * as one gram via the same fold family (fold_hash64), so short docs
    * are represented, not dropped. Downstream exploded shuffle rows are
    * 16 B regardless of gram text length. */
  def tokenGramHashes(textCol: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column = {
    val toks = split(textCol, " ")
    when(size(toks) >= n, array_distinct(shingleHashes(toks, n)))
      .otherwise(array(fold_hash64(transform(toks, t => stable_hash64(t)))))
  }

  /** Exact dedup: keep the smallest `idCol` row per identical `keyCol`.
    * One shuffle on the 128-bit content hash of the key (never the raw
    * value). Returns the survivor ids. */
  def exactSurvivors(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.select(col(idCol) +: contentKey(keyCol): _*)
      .groupBy(col("key_h1"), col("key_h2"))
      .agg(min(col(idCol)).as("keeper_id"))

  /** LSH bucket cap via deterministic salt-split: every (bucket, doc) row
    * learns its bucket size from a window count, then oversized buckets are
    * split into `ceil(n / maxBucket)` sub-buckets keyed by `id % nSplit`.
    * The per-bucket self-join quadratic is thereby bounded by ~maxBucket²
    * regardless of how hot a band key gets (boilerplate docs sharing a
    * signature band are the classic 100 TB failure mode — without the cap one
    * hot key degrades the join to O(n²); AQE only splits the shuffle, not the
    * pair blowup). Trade-off: pairs across sub-buckets of one oversized
    * bucket are skipped (expected loss fraction ≈ 1 − 1/nSplit for that
    * bucket only) — near-dups get bands−1 further chances on other bands.
    * Deterministic (id-based salt, no RNG), so the DuckDB oracle replicates
    * it exactly.
    *
    * Callers are the self-join forms (MinHash, SimHash, n-gram, SemDeDup),
    * whose pairs come from a join of the returned frame with itself. The
    * input bands are evaluated twice, once for the hot-bucket count and
    * once for the sub assignment. The incremental path does not call it:
    * [[incrementalCore]] applies the same rule inside its one bucket
    * shuffle. */
  private[graft] def saltSplit(
      bandsDf: DataFrame,
      bucketCols: Seq[String],
      idCol: String,
      maxBucket: Int): DataFrame = {
    // Round 12 (guide §2.4): the former `count(*) OVER (PARTITION BY bk)`
    // window shuffled AND sorted every band row just to learn its bucket
    // size. Bucket sizes are a tiny aggregate: one map-combined count whose
    // output is |distinct buckets| rows, filtered to the OVERSIZED buckets
    // only (the rare hot keys the cap exists for), broadcast back. Band
    // rows now flow map-side from the prep frame into the sub assignment —
    // one full exchange + sort deleted from every dedup pipeline consumer.
    // sub values are identical: a non-oversized bucket had
    // ceil(n/maxBucket) ≤ 1 ⇒ sub = pmod(id, 1) = 0, exactly the coalesce
    // default here; oversized buckets compute the same pmod from the same
    // count. (The DuckDB oracle replicas keep the window form — value-
    // identical by the same argument.)
    val hot = bandsDf
      .groupBy(bucketCols.map(col): _*)
      .agg(count(lit(1)).as("bk_n"))
      .filter(col("bk_n") > maxBucket)
      .select(bucketCols.map(c => col(c).as(s"__hot_$c")) :+
        ceil(col("bk_n") / lit(maxBucket)).as("__nsplit"): _*)
    bandsDf
      .join(broadcast(hot),
        // <=> not ===: the window form grouped NULL bucket keys together,
        // so a hot NULL-keyed bucket must still match its split count.
        bucketCols.map(c => col(c) <=> col(s"__hot_$c")).reduce(_ && _),
        "left")
      .withColumn("sub", pmod(col(idCol), coalesce(col("__nsplit"), lit(1L))))
      .drop(("__nsplit" +: bucketCols.map(c => s"__hot_$c")): _*)
  }

  /** The MinHash prep PLAN (unpersisted): distinct shingle hashes,
    * signature, sorted shingles + size — `(doc_id, sig, sh_sorted, n_sh)`,
    * the contract [[graft.sources.DedupIndex]] persists for the corpus side
    * of incremental dedup. Callers whose input is a whole corpus wrap it in
    * `Par.fanOut` (the CPU-heavy shingle/minhash stage against
    * single-row-group sources); an incremental batch is read as it is. */
  private[graft] def minhashPrepPlan(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int): DataFrame =
    df.select(
        col(idCol).as("doc_id"),
        array_distinct(shingleHashes(tokens(col(textCol)), shingleN)).as("shingles"))
      .withColumn("sig", minhashFromHashes(col("shingles"), k))
      .withColumn("sh_sorted", sort_array(col("shingles")))
      .withColumn("n_sh", size(col("sh_sorted")))
      .drop("shingles")

  /** Shared MinHash prep of a whole corpus, persisted: every self-join
    * caller feeds the frame to both a band explode and a confirm join. */
  private def minhashPrep(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int): DataFrame =
    minhashPrepPlan(Par.fanOut(df), idCol, textCol, shingleN, k).persist()

  /** Exact-Jaccard confirmation of candidate `pairs` (columns aName,
    * bName) against the prep frames: two-pointer sorted-intersect kernel,
    * |A∪B| = na+nb−|A∩B|, keep J ≥ threshold. Shared by the self-join and
    * incremental pipelines so the confirm semantics can never diverge. */
  private def confirmJaccard(pairs: DataFrame, baseA: DataFrame, baseB: DataFrame,
      aName: String, bName: String, threshold: Double): DataFrame =
    pairs
      .join(baseA.select(col("doc_id").as(aName), col("sh_sorted").as("sh_a"), col("n_sh").as("na")), Seq(aName))
      .join(baseB.select(col("doc_id").as(bName), col("sh_sorted").as("sh_b"), col("n_sh").as("nb")), Seq(bName))
      .withColumn("n_inter", sorted_intersect_count(col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("na") + col("nb") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col(aName), col(bName), round(col("jaccard"), 4).as("jaccard"))

  /** Incremental near-dup detection — the PRODUCTION dedup shape: today's
    * ingest batch is checked against the standing corpus without any
    * corpus×corpus work. Both sides get the same shingle→MinHash→band
    * computation (per-doc, side-independent — in production the corpus
    * signatures are computed once at ingest and stored, see
    * [[incrementalNearDupPairsIndexed]]); candidates come from one shuffle
    * of both sides' band rows by bucket key ([[incrementalCore]]). Cost per
    * increment: O(|new| · bands) hashing + one pass over the band rows —
    * never the corpus².
    *
    * Returns (new_id, corpus_id, jaccard) for confirmed pairs. */
  def incrementalNearDupPairs(
      newDf: DataFrame,
      corpusDf: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      maxBucket: Int = 256): DataFrame = {
    require(bands * rowsPerBand == k, s"bands($bands) x rows($rowsPerBand) must equal k($k)")
    incrementalCore(
      minhashPrepPlan(newDf, idCol, textCol, shingleN, k),
      minhashPrepPlan(Par.fanOut(corpusDf), idCol, textCol, shingleN, k),
      bands, rowsPerBand, threshold, maxBucket)
  }

  /** Incremental near-dup detection against a PERSISTED corpus index
    * ([[graft.sources.DedupIndex]]): identical semantics and output to
    * [[incrementalNearDupPairs]] (same deterministic hashes — DedupIndexSpec
    * asserts bit parity), but the corpus side's signatures are READ, not
    * re-derived, so each batch costs O(|batch|) hashing + the band pass —
    * the shape that survives a daily 100 TB-corpus ingest. */
  def incrementalNearDupPairsIndexed(
      newDf: DataFrame,
      corpusPrep: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      maxBucket: Int = 256): DataFrame = {
    require(bands * rowsPerBand == k, s"bands($bands) x rows($rowsPerBand) must equal k($k)")
    incrementalCore(
      minhashPrepPlan(newDf, idCol, textCol, shingleN, k), corpusPrep,
      bands, rowsPerBand, threshold, maxBucket)
  }

  /** New × corpus LSH candidates of two prep frames, confirmed by exact
    * Jaccard. The band rows of both sides go through ONE shuffle by bucket
    * key, sorted within each partition so that a task streams one bucket
    * at a time ([[bucketPairs]]): the bucket's row count `n` sets the
    * salt-split cap exactly as [[saltSplit]] does over the combined
    * population (`nsplit = ceil(n / maxBucket)` when `n > maxBucket`, else
    * 1; a member's sub is `pmod(doc_id, nsplit)`), and each new id pairs
    * with the corpus ids of its own sub: the pairs of saltSplit plus a
    * new × corpus join on (bk, sub) (DedupCapSpec asserts it on a capped
    * bucket), from one pass over the band rows. Nothing is persisted, so
    * building the query leaves the session's cache untouched. */
  private def incrementalCore(nb: DataFrame, cb: DataFrame,
      bands: Int, rowsPerBand: Int, threshold: Double, maxBucket: Int): DataFrame = {
    def bandRows(base: DataFrame, isNew: Boolean) = base
      .select(explode(lshBands(col("sig"), bands, rowsPerBand)).as("bk"),
        lit(isNew).as("is_new"), col("doc_id").cast("long").as("doc_id"))
    val rows = bandRows(nb, isNew = true).unionByName(bandRows(cb, isNew = false))
      .select(col("bk.band").as("band"), col("bk.key").as("key"), col("is_new"), col("doc_id"))
    val pairs = rows
      .repartition(col("band"), col("key"))
      .sortWithinPartitions(col("band"), col("key"))
      .mapPartitions(bucketPairs(maxBucket))(
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .toDF("new_id", "corpus_id")
      .distinct()
    confirmJaccard(pairs, nb, cb, "new_id", "corpus_id", threshold)
  }

  /** The (new, corpus) pairs of band rows `(band, key, is_new, doc_id)`
    * that arrive grouped by (band, key): one bucket's member ids are
    * buffered at a time (the task's memory bound), and its pairs stream
    * out lazily. The corpus ids are indexed by sub once, so a bucket costs
    * O(members + pairs emitted), never |news| × |olds| on a capped bucket.
    * A NULL key is a bucket like any other (saltSplit counts it too); a
    * NULL doc_id counts toward `n` but never pairs (its sub is NULL). */
  private def bucketPairs(maxBucket: Int)(rows: Iterator[Row]): Iterator[(Long, Long)] = {
    val in = rows.buffered
    def sameBucket(a: Row, b: Row) = a.getInt(0) == b.getInt(0) &&
      (if (a.isNullAt(1)) b.isNullAt(1) else !b.isNullAt(1) && a.getLong(1) == b.getLong(1))
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val first = in.head
      val news, olds = Array.newBuilder[Long]
      var n = 0L
      while (in.hasNext && sameBucket(first, in.head)) {
        val r = in.next()
        n += 1
        if (!r.isNullAt(3)) (if (r.getBoolean(2)) news else olds) += r.getLong(3)
      }
      val (a, b) = (news.result(), olds.result())
      if (a.isEmpty || b.isEmpty) Iterator.empty
      else {
        val nsplit = if (n > maxBucket) (n + maxBucket - 1) / maxBucket else 1L
        val bySub = b.groupBy(java.lang.Math.floorMod(_, nsplit))
        a.iterator.flatMap(x =>
          bySub.getOrElse(java.lang.Math.floorMod(x, nsplit), Array.emptyLongArray).iterator.map(x -> _))
      }
    }
  }

  /** MinHash+LSH near-duplicate pairs with exact-Jaccard confirmation.
    *
    * @param textCol whitespace-tokenizable text
    * @param shingleN word-shingle width
    * @param k signature width
    * @param bands×rowsPerBand must equal k; sets the similarity threshold
    *        curve (P[candidate] = 1-(1-J^r)^b)
    * @param maxBucket cap on band-bucket size — oversized buckets salt-split
    *        into `ceil(n/maxBucket)` deterministic sub-buckets (see saltSplit)
    * @return (id_a, id_b, jaccard) for confirmed pairs with J ≥ threshold
    */
  def minhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      maxBucket: Int = 256): DataFrame = {
    require(bands * rowsPerBand == k, s"bands($bands) x rows($rowsPerBand) must equal k($k)")
    val base = minhashPrep(df, idCol, textCol, shingleN, k)
    val bandsDf = saltSplit(
      base.select(col("doc_id"), explode(lshBands(col("sig"), bands, rowsPerBand)).as("bk")),
      Seq("bk"), "doc_id", maxBucket)
    val pairs = bandsDf.as("a")
      .join(bandsDf.as("b"),
        col("a.bk") === col("b.bk") && col("a.sub") === col("b.sub") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    confirmJaccard(pairs, base, base, "id_a", "id_b", threshold)
  }

  /** End-to-end near-dup deduplication: MinHash+LSH pairs → connected
    * components → keep the min-id survivor per cluster. Returns
    * (doc_id, cluster, is_survivor) for every document in `df` — docs in no
    * near-dup pair survive trivially. This is the operator a training-data
    * pipeline actually applies: near-dup REMOVAL, not just pair listing. */
  def nearDupSurvivors(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      maxBucket: Int = 256): DataFrame = {
    val pairs = minhashNearDupPairs(df, idCol, textCol,
        threshold = threshold, maxBucket = maxBucket)
      .select(col("id_a"), col("id_b"))
    val labels = Components.connectedComponents(pairs)
    df.select(col(idCol).as("doc_id"))
      .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      .withColumn("is_survivor", col("doc_id") === col("cluster"))
  }

  /** SimHash near-duplicate pairs: 64-bit fingerprints, candidates via
    * 16-bit hash bands (salt-split over `maxBucket` — see saltSplit),
    * confirmed at Hamming distance ≤ maxHamming. */
  /** Positional duplicate-SPAN report per document (the exact-substring
    * dedup shape of Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better" — arXiv 2107.06499 §4.1): a token n-gram
    * occurrence is duplicated when its gram appears anywhere else in the
    * corpus (another doc OR another position of the same doc); overlapping/
    * adjacent duplicated grams merge into maximal spans (gram at p covers
    * tokens [p, p+n−1], so positions join one span while p − prev ≤ n).
    * Returns (doc_id, n_spans, dup_tokens) for docs with ≥1 span — the
    * per-doc feed for span REMOVAL or span-rate quality filters.
    *
    * Scale: positional gram rows are 16 B (pos int + hash64) — one shuffle
    * on the gram hash to find global dups, one partitionBy(doc) window to
    * merge islands. The suffix-array formulation of the paper is a
    * single-machine construction; the n-gram–anchored span form is the one
    * that distributes (no corpus-wide order, no all-pairs). Docs shorter
    * than n tokens have no positional gram and are reported span-free. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // Round 12 (guide §2): persisted hash-partitioned by g — the dup-set
    // aggregate needs no exchange and the join back arrives co-partitioned
    // on both sides (one |pos| exchange at the cache build instead of two
    // downstream: the near-unique gram space defeats partial aggregation,
    // so the old agg exchange carried ~|pos| rows again). Same rows, same
    // results; spans/remove keep plan-identical pos frames so the in-suite
    // CacheManager sharing is preserved.
    val nPart = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val pos = Par.fanOut(df.filter(size(split(col(textCol), " ")) >= n))
      .select(col(idCol).as("doc_id"),
        posexplode(shingleHashes(split(col(textCol), " "), n)).as(Seq("p", "g")))
      .repartition(nPart, col("g"))
      .transform(Shared.persist) // feeds both the global-dup agg and the join back
    val dupG = pos.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("g"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    pos.join(dupG, Seq("g"))
      .withColumn("brk",
        when(col("p") - lag(col("p"), 1).over(w) > n, 1).otherwise(0))
      .withColumn("island", sum(col("brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg((max(col("p")) - min(col("p")) + n).as("span_tokens"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_tokens").cast("long")).as("dup_tokens"))
  }

  /** Content-defined chunk hashes of a document (token-level CDC): a chunk
    * boundary falls AFTER every token whose hash has its low `maskBits`
    * bits zero (expected chunk length 2^maskBits tokens), the tail closes
    * the last chunk, and each chunk is one fold_hash64 over its token
    * hashes. Because boundaries are a function of CONTENT, an insertion
    * shifts at most the chunk it lands in — downstream chunks re-sync to
    * the same boundaries (the property fixed-width windows lack, and the
    * reason CDC is the standard unit for fragment-level dedup). Entirely
    * map-side: no explode, no shuffle — one array expression per row. */
  def cdcChunkHashes(textCol: org.apache.spark.sql.Column, maskBits: Int)
      : org.apache.spark.sql.Column = {
    require(maskBits >= 1 && maskBits <= 20, s"maskBits in [1,20]: $maskBits")
    val th = transform(split(textCol, " "), t => stable_hash64(t))
    val mask = (1L << maskBits) - 1
    val ends = filter(
      transform(th, (h, i) =>
        when(h.bitwiseAND(lit(mask)) === 0, i + 1).otherwise(lit(-1))),
      x => x > 0)
    val starts = concat(array(lit(0)), ends)
    val allEnds = concat(ends, array(size(th)))
    filter(
      zip_with(starts, allEnds, (s, e) =>
        when(e > s, fold_hash64(slice(th, s + 1, e - s)))),
      x => x.isNotNull)
  }

  /** Duplicate-span REMOVAL — the cleaning transform on top of
    * [[duplicateSpans]] (Lee et al. §4.1 keep-one-occurrence): for every
    * duplicated gram the globally-first occurrence (lexicographic
    * (doc_id, position)) is the KEEPER; every other occurrence is
    * removable, removable positions merge into cut spans, and each doc's
    * text is rebuilt WITHOUT the covered tokens. Returns
    * (doc_id, cleaned_text, n_toks, n_cut) for every input doc (unchanged
    * docs pass through, cleaned_text = original).
    *
    * Scale shape: only SPANS shuffle (a few ints per affected doc) — the
    * corpus text never re-shuffles. Cut spans per doc collect into a small
    * array that joins back to the doc row, and reconstruction is a
    * MAP-SIDE index-aware HOF filter over the token array (codegen'd
    * `filter(toks, (t, i) -> !exists(spans, ...))`). */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val toksOf = split(col(textCol), " ")
    // same partitioned persist as duplicateSpans (and the same PLAN, so
    // the two declared span queries share one cached frame in-suite)
    val nPart = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val pos = Par.fanOut(df.filter(size(split(col(textCol), " ")) >= n))
      .select(col(idCol).as("doc_id"),
        posexplode(shingleHashes(split(col(textCol), " "), n)).as(Seq("p", "g")))
      .repartition(nPart, col("g"))
      .transform(Shared.persist) // feeds the keeper agg and the join back
    val keepers = pos.groupBy(col("g"))
      .agg(count(lit(1)).as("c"), min(struct(col("doc_id"), col("p"))).as("kp"))
      .filter(col("c") > 1)
      .select(col("g"), col("kp"))
    val removable = pos.join(keepers, Seq("g"))
      .filter(struct(col("doc_id"), col("p")) =!= col("kp"))
      .select(col("doc_id"), col("p"))
    // island merge (gap <= n) over removable positions -> cut spans [s, e]
    val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val spans = removable
      .withColumn("brk",
        when(col("p") - lag(col("p"), 1).over(w) > n, 1).otherwise(0))
      .withColumn("island", sum(col("brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("p")).as("s"), (max(col("p")) + n - 1).as("e"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("cuts"))
    df.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .join(spans, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("cuts").isNull, col("__text"))
          .otherwise(array_join(
            filter(split(col("__text"), " "),
              (t, i) => !exists(col("cuts"), sp =>
                i >= sp.getField("s") && i <= sp.getField("e"))),
            " ")).as("cleaned_text"),
        size(split(col("__text"), " ")).cast("long").as("n_toks"),
        coalesce(aggregate(col("cuts"),
            lit(0L), (acc, sp) => acc + (sp.getField("e") - sp.getField("s") + 1)),
          lit(0L)).as("n_cut"))
  }

  def simhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 8,
      maxBucket: Int = 256): DataFrame = {
    val fp = Par.fanOut(df)
      .select(col(idCol).as("doc_id"), simhash64(tokens(col(textCol))).as("sig")).persist()
    val bandsDf = saltSplit(
      fp.select(
        col("doc_id"), col("sig"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), 16 * b).bitwiseAND(lit(0xffffL)).as("key"))): _*)).as("bk")),
      Seq("bk"), "doc_id", maxBucket)
    bandsDf.as("a")
      .join(bandsDf.as("b"),
        col("a.bk") === col("b.bk") && col("a.sub") === col("b.sub") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", hamming64(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }
}
