package graft.queries

import graft.Q
import graft.functions._
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis extension (SURVEY.md §2.11 X3): token counting, quality
  * scoring, language ID, fingerprinting, tf-idf — the per-document scoring
  * passes of a training-data pipeline. All are single-pass column
  * expressions (no UDFs, no shuffle except the final small aggregations),
  * so they stream over 100 TB at scan speed.
  */
object TextQueries {

  /** X3 token counting: whitespace tokens, a BPE-ish PRE-TOKEN count (the
    * GPT-2-style pre-tokenizer split — optional-leading-space letter runs /
    * digit runs / punctuation runs, via a regex that means the same thing
    * in Java regex and DuckDB's RE2: alternation + char classes only), and
    * a fixed 4-char subword upper bound — per language. Pre-token count is
    * the budget number a training pipeline actually packs against. */
  private val textTokens = Q(
    "q_text_tokens",
    (spark, dir) => {
      val d = Tables.t(spark, dir, "documents")
      val pretokPattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"
      d.withColumn("n_tokens", size(split(col("text"), " ")))
        .withColumn("n_pretokens",
          size(expr(s"regexp_extract_all(text, '$pretokPattern', 0)")))
        .withColumn("n_subwords", ceil(length(col("text")).cast("double") / 4.0).cast("long"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          round(avg(col("n_tokens")), 4).as("avg_tokens"),
          max(col("n_tokens")).as("max_tokens"),
          sum(col("n_pretokens")).as("total_pretokens"),
          sum(col("n_subwords")).as("total_subwords"))
        .orderBy(col("lang"))
    },
    Some("""SELECT lang, count(*) AS n_docs,
            CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
            round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
            CAST(max(len(string_split(text, ' '))) AS INT) AS max_tokens,
            CAST(sum(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+'))) AS BIGINT) AS total_pretokens,
            CAST(sum(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS BIGINT) AS total_subwords
            FROM documents GROUP BY lang ORDER BY lang"""))

  /** X3 quality scoring: length stats, lexical diversity (distinct-token
    * ratio), short-doc flagging, mean word length — per source. */
  private val textQuality = Q(
    "q_text_quality",
    (spark, dir) => {
      val d = Tables.t(spark, dir, "documents")
      val toks = split(col("text"), " ")
      d.withColumn("n_tokens", size(toks))
        .withColumn("diversity", size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
        .withColumn("mean_word_len",
          (length(col("text")) - size(toks) + 1).cast("double") / size(toks).cast("double"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 2).as("avg_chars"),
          round(avg(col("diversity")), 4).as("avg_diversity"),
          round(avg(col("mean_word_len")), 4).as("avg_word_len"),
          count(when(col("n_tokens") < 20, lit(1))).as("n_short_docs"))
        .orderBy(col("source"))
    },
    Some("""SELECT source, count(*) AS n_docs,
            round(avg(n_chars), 2) AS avg_chars,
            round(avg(len(list_distinct(string_split(text, ' '))) * 1.0 / len(string_split(text, ' '))), 4) AS avg_diversity,
            round(avg((length(text) - len(string_split(text, ' ')) + 1) * 1.0 / len(string_split(text, ' '))), 4) AS avg_word_len,
            count(*) FILTER (WHERE len(string_split(text, ' ')) < 20) AS n_short_docs
            FROM documents GROUP BY source ORDER BY source"""))

  /** X3 language ID: stopword-profile n-gram heuristic — score each language
    * by hits of its function-word set in the token stream, argmax with
    * alphabetical tiebreak. (The fixture's text is synthetic English-ish for
    * every lang label, so this reports the confusion matrix rather than
    * accuracy; the scorer itself is verified on real multilingual snippets in
    * LangIdSpec.) */
  /** Stopword profiles shared by the query and its oracle SQL. */
  private[queries] val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in", "it"),
    "es" -> Seq("el", "la", "de", "y", "es", "no", "con", "un"),
    "fr" -> Seq("le", "la", "de", "et", "est", "ne", "avec", "un"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我"))

  private val textLangId = Q(
    "q_text_langid",
    (spark, dir) => {
      val d = graft.ops.Par.fanOut(Tables.t(spark, dir, "documents"))
      val toks = split(col("text"), " ")
      val scores = langProfiles.map { case (langName, words) =>
        struct(
          (-size(array_intersect(toks, array(words.map(lit): _*)))).as("neg_score"),
          lit(langName).as("lang"))
      }
      // argmax score with alphabetical tiebreak: ascending sort on
      // (-score, lang) puts the best-scoring, alphabetically-first lang first
      val best = sort_array(array(scores: _*))(0)
      d.withColumn("predicted",
          when(best.getField("neg_score") < 0, best.getField("lang")).otherwise(lit("unknown")))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("predicted"))
    },
    Some(TextOracles.langIdSql))

  /** X3 fingerprinting: SimHash (bag-of-words) + rolling hash (order
    * sensitive) per document — both native codegen'd expressions. */
  private val textFingerprint = Q(
    "q_text_fingerprint",
    (spark, dir) => {
      val d = Tables.t(spark, dir, "documents")
      d.select(
          col("doc_id"),
          simhash64(tokens(col("text"))).as("simhash"),
          fingerprint64(tokens(col("text"))).as("rolling_fp"),
          stable_hash64(col("text")).as("content_hash"))
        .orderBy(col("doc_id"))
        .limit(200)
    },
    Some(TextOracles.fingerprintSql))

  /** X3 tf-idf: top-5 terms per language by tf·idf. Integer tf/df keep the
    * only float (ln) bit-identical given the same integer inputs; ranking is
    * on the rounded score with a term tiebreak. */
  private val textTfidf = Q(
    "q_text_tfidf",
    (spark, dir) => {
      // fanOut: the token explode is the CPU hot spot; a single-row-group
      // documents file would run it on one task (no-op at scale — ops/Par)
      val d = graft.ops.Par.fanOut(Tables.t(spark, dir, "documents"))
      // total doc count as a broadcast scalar — no driver-side action
      val total = d.agg(count(lit(1)).cast("double").as("n_docs_total"))
      // Round 12 (guide §2 "derive from input size"): ABOVE the size
      // threshold the token frame persists hash-partitioned by term, so
      // the tf aggregate (subset clustering), the df distinct+count AND
      // the tf⋈df join all run exchange-free off the one cache — measured
      // 18.0 → 4.75 s on the 100× dir (BASELINE.md r12 table). Below it
      // the upfront token exchange is pure fixed cost at gate SF (where
      // the downstream exchanges are already cheap), so small inputs keep
      // the r11 map-side persist. Default 8 MB of scan stats: the 0.6 MB
      // sf0.1 documents relation stays map-side, the 56 MB 100× dir (and
      // anything production-sized) partitions. Results are identical on
      // both paths (same aggregates over the same rows — oracle-gated at
      // 3 SFs on the partitioned path, TfidfPartitionParitySpec pins
      // path equality). Threshold conf-parameterised; the production
      // justification is the 100× row.
      val partitionBytes = spark.conf
        .getOption("graft.text.partitionPersistBytes")
        .map(_.toLong).getOrElse(8L << 20)
      val big = d.queryExecution.optimizedPlan.stats.sizeInBytes >= partitionBytes
      val tokens0 = d.select(col("lang"), col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val exploded = (if (big)
        tokens0.repartition(
          spark.conf.get("spark.sql.shuffle.partitions", "32").toInt, col("term"))
      else tokens0)
        .persist()  // feeds both the tf and df aggregations
      val tf = exploded.groupBy(col("lang"), col("term")).agg(count(lit(1)).as("tf"))
      val df = exploded.select(col("term"), col("doc_id")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val scored = tf.join(df, Seq("term")).crossJoin(broadcast(total))
        .withColumn("tfidf", round(col("tf") * log(col("n_docs_total") / col("df")), 6))
      val w = Window.partitionBy(col("lang")).orderBy(col("tfidf").desc, col("term").asc)
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("lang"), col("rn"), col("term"), col("tf"), col("df"), col("tfidf"))
        .orderBy(col("lang"), col("rn"))
    },
    Some("""WITH exploded AS (
              SELECT lang, doc_id, unnest(string_split(text, ' ')) AS term FROM documents
            ), tf AS (
              SELECT lang, term, count(*) AS tf FROM exploded GROUP BY lang, term
            ), df AS (
              SELECT term, count(*) AS df FROM (SELECT DISTINCT term, doc_id FROM exploded)
              GROUP BY term
            ), scored AS (
              SELECT tf.lang, tf.term, tf.tf, df.df,
                     round(tf.tf * ln((SELECT count(*) FROM documents) * 1.0 / df.df), 6) AS tfidf
              FROM tf JOIN df USING (term)
            ), ranked AS (
              SELECT lang, term, tf, df, tfidf,
                     row_number() OVER (PARTITION BY lang ORDER BY tfidf DESC, term ASC) AS rn
              FROM scored
            )
            SELECT lang, rn, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, tfidf
            FROM ranked WHERE rn <= 5 ORDER BY lang, rn"""))

  /** X3 quality: repetition ratio — the most-frequent token's share of each
    * document (high values flag boilerplate/spam in a training corpus). */
  private val textRepetition = Q(
    "q_text_repetition",
    (spark, dir) => {
      val d = graft.ops.Par.fanOut(Tables.t(spark, dir, "documents"))
      val perTok = d.select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("doc_id"), col("lang"), col("tok")).agg(count(lit(1)).as("n"))
      val perDoc = perTok.groupBy(col("doc_id"), col("lang"))
        .agg(max(col("n")).as("max_n"), sum(col("n")).as("total_n"))
      perDoc.groupBy(col("lang"))
        .agg(
          round(avg(col("max_n").cast("double") / col("total_n").cast("double")), 4).as("avg_repetition"),
          round(max(col("max_n").cast("double") / col("total_n").cast("double")), 4).as("max_repetition"))
        .orderBy(col("lang"))
    },
    Some("""WITH per_tok AS (
              SELECT doc_id, lang, tok, count(*) AS n
              FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents)
              GROUP BY doc_id, lang, tok
            ), per_doc AS (
              SELECT doc_id, lang, max(n) AS max_n, sum(n) AS total_n
              FROM per_tok GROUP BY doc_id, lang
            )
            SELECT lang,
                   round(avg(max_n * 1.0 / total_n), 4) AS avg_repetition,
                   round(max(max_n * 1.0 / total_n), 4) AS max_repetition
            FROM per_doc GROUP BY lang ORDER BY lang"""))

  /** X5 context-window chunking (`ops/Chunker`): overlapping 32-token
    * windows advancing by 24 (8-token overlap), per-language chunk stats +
    * chunk-level exact-dup count (distinct md5 of chunk text) — the
    * window prep + chunk dedup step of a training/RAG pipeline. Map-side
    * explode only; output rows ∝ tokens/stride, never corpus². */
  private val textChunks = Q(
    "q_text_chunks",
    (spark, dir) => {
      val d = Tables.t(spark, dir, "documents")
      graft.ops.Chunker.chunks(d, col("text"), chunkSize = 32, stride = 24)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_chunks"),
          countDistinct(md5(col("chunk_text"))).as("n_unique_chunks"),
          sum(col("chunk_tokens")).cast("long").as("total_chunk_tokens"),
          max(col("chunk_tokens")).as("max_chunk_tokens"),
          round(avg(col("chunk_tokens")), 4).as("avg_chunk_tokens"))
        .orderBy(col("lang"))
    },
    Some("""WITH toks AS (
              SELECT doc_id, lang, string_split(text, ' ') AS t, len(string_split(text, ' ')) AS n
              FROM documents
            ), starts AS (
              SELECT lang, t, n,
                     unnest(generate_series(0, CAST(ceil(greatest(n-32,0)/24.0) AS BIGINT)*24, 24)) AS s
              FROM toks
            ), chunks AS (
              SELECT lang,
                     array_to_string(t[s+1 : s+32], ' ') AS chunk_text,
                     least(32, n - s) AS chunk_tokens
              FROM starts
            )
            SELECT lang, count(*) AS n_chunks,
                   count(DISTINCT md5(chunk_text)) AS n_unique_chunks,
                   CAST(sum(chunk_tokens) AS BIGINT) AS total_chunk_tokens,
                   CAST(max(chunk_tokens) AS INT) AS max_chunk_tokens,
                   round(avg(chunk_tokens), 4) AS avg_chunk_tokens
            FROM chunks GROUP BY lang ORDER BY lang"""))

  /** X3 text normalization — the first stage of every pretraining pipeline
    * (C4/RefinedWeb-style cleaning): strip control characters, collapse
    * whitespace runs, trim. The fixture text is already clean, so the query
    * deterministically DIRTIES each document (tab/ctrl-char injection,
    * doubled spaces) and proves the cleaner reconstructs the original
    * byte-for-byte (`ok` per doc) — a round-trip oracle is stronger than
    * comparing cleaner outputs, because both engines would agree on a
    * shared bug. Map-only + final sort. */
  private val textClean = Q(
    "q_text_clean",
    (spark, dir) => {
      val d = Tables.t(spark, dir, "documents")
      val dirty = concat(lit(" \t"),
        regexp_replace(col("text"), lit(" "), lit("  ")),
        lit("\u0001\u007f  "))
      val clean = trim(regexp_replace(
        regexp_replace(dirty, lit("[\\x00-\\x1F\\x7F]"), lit("")),
        lit(" +"), lit(" ")))
      d.select(
          col("doc_id"),
          (clean === col("text")).as("ok"),
          length(dirty).cast("long").as("len_dirty"),
          length(clean).cast("long").as("len_clean"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH dirty AS (
            |  SELECT doc_id, text,
            |         ' ' || chr(9) || replace(text, ' ', '  ') || chr(1) || chr(127) || '  ' AS d
            |  FROM documents
            |), cleaned AS (
            |  SELECT doc_id, text, d,
            |         trim(regexp_replace(regexp_replace(d, '[\x00-\x1F\x7F]', '', 'g'), ' +', ' ', 'g')) AS c
            |  FROM dirty
            |)
            |SELECT doc_id, c = text AS ok,
            |       CAST(length(d) AS BIGINT) AS len_dirty,
            |       CAST(length(c) AS BIGINT) AS len_clean
            |FROM cleaned ORDER BY doc_id""".stripMargin))

  /** X3 quality scoring, n-gram-LM flavor (the Gopher/C4 rare-ngram rule
    * class): a document whose bigrams are mostly corpus hapaxes is unusual
    * text — boilerplate/noise in a web corpus, or genuinely novel content.
    * Pipeline: per-(doc, bigram) occurrence counts (pre-aggregated BEFORE
    * the join so the bigram-keyed shuffle carries one row per distinct
    * (doc, bigram), not one per occurrence — the 100 TB shape), corpus
    * totals from a second tiny rollup of the same frame (persisted: the
    * self-join rule), join-back, per-doc hapax-occurrence ratio. The ratio
    * is int/int in float64 — correctly-rounded IEEE division both engines,
    * so the oracle matches bit-exactly with no fold-order caveats. Top-15
    * via orderBy+limit (TakeOrderedAndProject — no global window sort);
    * row_number only over the 15 survivors. */
  private val textRareNgram = Q(
    "q_text_rare_ngram",
    (spark, dir) => {
      val d = Tables.t(spark, dir, "documents")
      val toks = tokens(col("text"))
      val nTok = size(toks)
      val bigrams = zip_with(
        slice(toks, lit(1), greatest(nTok - 1, lit(0))),
        slice(toks, lit(2), greatest(nTok - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))
      val perDoc = d.select(col("doc_id"), explode(bigrams).as("bg"))
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("occ"))
        .persist()
      // hapax attribution (the q_dedup_substring identity): a bigram with
      // corpus count 1 lives in exactly one doc with occ 1, so min(doc_id)
      // carried through the corpus agg attributes it — no join of the fat
      // per-doc frame back against the corpus counts (measured 2.2 s → the
      // join-free shape; both aggregates reuse the persisted perDoc)
      val nb = perDoc.groupBy(col("doc_id"))
        .agg(sum(col("occ")).cast("long").as("n_bigrams"))
      val hapax = perDoc.groupBy(col("bg"))
        .agg(sum(col("occ")).as("c"), min(col("doc_id")).as("hdoc"))
        .filter(col("c") <= 1)
        .groupBy(col("hdoc").as("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_rare"))
      val ratio = col("n_rare").cast("double") / col("n_bigrams").cast("double")
      val docstat = nb.join(hapax, Seq("doc_id"), "left")
        .withColumn("n_rare", coalesce(col("n_rare"), lit(0L)))
        .filter(col("n_bigrams") >= 5)
        .withColumn("ratio", ratio)
      val top = docstat.orderBy(col("ratio").desc, col("doc_id").asc).limit(15)
      val w = Window.orderBy(col("ratio").desc, col("doc_id").asc)
      top.withColumn("rn", row_number().over(w))
        .select(col("rn"), col("doc_id"), col("n_bigrams"), col("n_rare"),
          round(col("ratio"), 6).as("rare_ratio"))
        .orderBy(col("rn"))
    },
    Some(TextOracles.rareNgramSql))

  /** X3 quality (round 6): corpus unigram language-model score — the
    * CCNet/KenLM-class perplexity-proxy filter. Add-one-smoothed unigram
    * probabilities come from exact integer corpus counts (deterministic
    * doubles), and the per-doc mean log-probability folds contributions in
    * TERM-SORTED order (Spark sort_array+aggregate ≡ DuckDB
    * list(… ORDER BY term)+list_reduce, the established bit-exact
    * sequential-fold pairing) — so the float sum has ONE defined
    * association on both engines. Bottom-10 docs = most "surprising"
    * (what the filter would drop or route for review). */
  private val textLmScore = Q(
    "q_text_lm_score",
    (spark, dir) => {
      val d = graft.ops.Par.fanOut(Tables.t(spark, dir, "documents"))
      val ex = d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .persist()
      val vocab = ex.groupBy(col("term")).agg(count(lit(1)).as("c"))
      val tot = vocab.agg(
        sum(col("c")).cast("double").as("n"),
        count(lit(1)).cast("double").as("v"))
      val lnp = vocab.crossJoin(broadcast(tot))
        .select(col("term"),
          log((col("c") + 1).cast("double") / (col("n") + col("v"))).as("lnp"))
      val td = ex.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("n_td"))
      // vocab is |unique terms| — orders of magnitude under the corpus, so
      // the per-(doc,term) stream joins against a BROADCAST probability
      // table instead of shuffling on term strings. Measured a wash at
      // sf0.1 local[32] (1.94 vs 2.07 s isolated — the shuffle is cheap
      // here); kept for the 100× posture, where the removed exchange is
      // the one that grows with the corpus
      val perDoc = td.join(broadcast(lnp), Seq("term"))
        .select(col("doc_id"), col("n_td"),
          struct(col("term"), (col("n_td").cast("double") * col("lnp")).as("contrib")).as("tc"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("n_td")).cast("long").as("n_toks"),
          expr("aggregate(transform(sort_array(collect_list(tc)), x -> x.contrib), 0.0D, (acc, x) -> acc + x)")
            .as("s"))
        .withColumn("score", round(col("s") / col("n_toks").cast("double"), 6))
      // distributed top-k FIRST (TakeOrderedAndProject: per-partition top-10,
      // merge of 10×P rows) — ranking the full perDoc frame through a
      // no-partition window moved every doc to ONE partition (the WindowExec
      // warning class; a 100 TB corpus would serialize through one task)
      val top = perDoc.orderBy(col("score").asc, col("doc_id").asc).limit(10)
      val w = Window.orderBy(col("score").asc, col("doc_id").asc)
      top.withColumn("rn", row_number().over(w))
        .select(col("rn"), col("doc_id"), col("n_toks"), col("score"))
        .orderBy(col("rn"))
    },
    Some(s"""WITH ex AS (
            |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
            |), vocab AS (
            |  SELECT term, count(*) AS c FROM ex GROUP BY 1
            |), tot AS (
            |  SELECT CAST(sum(c) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v FROM vocab
            |), lnp AS (
            |  SELECT term, ln(CAST(c + 1 AS DOUBLE) / (n + v)) AS lnp FROM vocab, tot
            |), td AS (
            |  SELECT doc_id, term, count(*) AS n_td FROM ex GROUP BY 1, 2
            |), perdoc AS (
            |  SELECT td.doc_id,
            |         CAST(sum(n_td) AS BIGINT) AS n_toks,
            |         list_reduce(list(CAST(n_td AS DOUBLE) * lnp ORDER BY td.term),
            |                     (acc, x) -> acc + x) AS s
            |  FROM td JOIN lnp USING (term) GROUP BY 1
            |), scored AS (
            |  SELECT doc_id, n_toks, ${graft.tools.DuckDbSql.sparkRound("s / CAST(n_toks AS DOUBLE)", 6)} AS score
            |  FROM perdoc
            |), ranked AS (
            |  SELECT *, row_number() OVER (ORDER BY score ASC, doc_id ASC) AS rn
            |  FROM scored
            |)
            |SELECT rn, doc_id, n_toks, score
            |FROM ranked WHERE rn <= 10 ORDER BY rn""".stripMargin))

  /** BPE corpus ENCODE (round 7 — the apply half of ops/Bpe): the top-8
    * pairs of the pair-statistics table, in (count desc, pair asc) trainer
    * order, become an ordered merge list applied greedily to the
    * unique-word frame (`Bpe.encodeCorpus` — ONE corpus shuffle, each
    * unique word encoded once, token stats weighted by word frequency).
    * The oracle replicates greedy left-to-right merging EXACTLY: tokens
    * rendered as \x01tok\x02 runs make SQL replace()'s non-overlapping
    * left-to-right scan bit-identical to `Bpe.mergeOnce` (fully-delimited
    * tokens cannot share match characters), folded over the same merge
    * list via list_reduce. */
  /** Top-8 stale-pair merge list (codebook-sized collect, broker-style) —
    * the declared-query tokenizer shared by q_text_bpe_encode and
    * q_pipe_tokenize_pack. */
  private[queries] def bpeTopMerges(
      docs: org.apache.spark.sql.DataFrame): Seq[(String, String)] = {
    val words = graft.ops.Bpe.wordFreq(docs, "text")
    val toks = concat(
      expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
      array(lit(graft.ops.Bpe.Eow)))
    graft.ops.Bpe.pairCounts(words.select(toks.as("toks"), col("freq")))
      .orderBy(col("n").desc, col("l").asc, col("r").asc).limit(8).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
  }

  /** The BPE-apply replay chain shared by the two consumers: words →
    * per-word char tokens → pair stats → top-8 merges → greedy encode
    * (`enc(w, freq, s)` — \x01tok\x02 runs make replace()'s left-to-right
    * non-overlapping scan ≡ Bpe.mergeOnce) → per-word token count
    * `wlen(w, freq, w_tok)`. */
  private[queries] val bpeEncodeVocabCtes: String =
    """words AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents)
      |  WHERE length(w) > 0 GROUP BY 1
      |), toks AS (
      |  SELECT w, list_concat(
      |           list_transform(generate_series(1, length(w)), i -> substr(w, i, 1)),
      |           ['</w>']) AS t, freq
      |  FROM words
      |), prs AS (
      |  SELECT p[1] AS l, p[2] AS r, CAST(sum(freq) AS BIGINT) AS n
      |  FROM (SELECT freq, unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p FROM toks) z
      |  WHERE p[1] IS NOT NULL AND p[2] IS NOT NULL
      |  GROUP BY 1, 2
      |), topm AS (
      |  SELECT l, r, row_number() OVER (ORDER BY n DESC, l ASC, r ASC) AS pri
      |  FROM prs ORDER BY n DESC, l ASC, r ASC LIMIT 8
      |), mlist AS (
      |  SELECT list(l || chr(9) || r ORDER BY pri) AS ms FROM topm
      |), enc AS (
      |  SELECT w, freq,
      |    list_reduce(
      |      [chr(1) || array_to_string(t, chr(2) || chr(1)) || chr(2)] || (SELECT ms FROM mlist),
      |      (acc, m) -> replace(acc,
      |         chr(1) || split_part(m, chr(9), 1) || chr(2) || chr(1) || split_part(m, chr(9), 2) || chr(2),
      |         chr(1) || split_part(m, chr(9), 1) || split_part(m, chr(9), 2) || chr(2))
      |    ) AS s
      |  FROM toks
      |), wlen AS (
      |  SELECT w, freq,
      |         CAST(len(string_split(s[2:len(s)-1], chr(2) || chr(1))) AS BIGINT) AS w_tok
      |  FROM enc
      |)""".stripMargin

  private val textBpeEncode = Q(
    "q_text_bpe_encode",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.t(spark, dir, "documents")
      val merges = bpeTopMerges(docs)
      graft.ops.Bpe.encodeCorpus(docs, "text", merges)
        .as[(Seq[String], Long)]
        .flatMap { case (t, f) => t.map(tok => (tok, f)) }
        .toDF("tok", "f")
        .groupBy(col("tok")).agg(sum(col("f")).cast("long").as("cnt"))
        .orderBy(col("cnt").desc, col("tok").asc)
        .limit(15)
    },
    Some(s"""WITH $bpeEncodeVocabCtes,
            |etoks AS (
            |  SELECT freq, unnest(string_split(s[2:len(s)-1], chr(2) || chr(1))) AS tok FROM enc
            |)
            |SELECT tok, CAST(sum(freq) AS BIGINT) AS cnt
            |FROM etoks GROUP BY 1 ORDER BY cnt DESC, tok ASC LIMIT 15""".stripMargin))

  /** BPE pair statistics (round 6 — ops/Bpe): the weighted adjacent-pair
    * table BPE training argmaxes over, computed the production way (corpus
    * collapses to the unique-word frequency table in ONE shuffle, pair
    * stats aggregate over THAT — |unique words| rows, not |corpus|). The
    * top pair by (count desc, pair asc) IS the trainer's first merge
    * (BpeSpec covers the full iterative trainer; this declares the
    * SQL-expressible slice with a DuckDB oracle). */
  private val textBpePairs = Q(
    "q_text_bpe_pairs",
    (spark, dir) => {
      val words = graft.ops.Bpe.wordFreq(Tables.t(spark, dir, "documents"), "text")
      val toks = concat(
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
        array(lit(graft.ops.Bpe.Eow)))
      graft.ops.Bpe.pairCounts(words.select(toks.as("toks"), col("freq")))
        .select(concat(col("l"), lit(" "), col("r")).as("pair"), col("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(20)
    },
    Some("""WITH words AS (
            |  SELECT w, CAST(count(*) AS BIGINT) AS freq
            |  FROM (SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents)
            |  WHERE length(w) > 0 GROUP BY 1
            |), toks AS (
            |  SELECT list_concat(
            |           list_transform(generate_series(1, length(w)), i -> substr(w, i, 1)),
            |           ['</w>']) AS t, freq
            |  FROM words
            |), pairs AS (
            |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
            |                               i -> t[i] || ' ' || t[i + 1])) AS pair,
            |         freq
            |  FROM toks
            |)
            |SELECT pair, CAST(sum(freq) AS BIGINT) AS n
            |FROM pairs GROUP BY pair
            |ORDER BY n DESC, pair ASC LIMIT 20""".stripMargin))

  /** X3 bigram LM with Stupid Backoff (round 8) — the CCNet-class
    * perplexity filter one order up from q_text_lm_score: the model trains
    * on HALF the corpus (even doc_id — so held-out docs genuinely hit the
    * backoff path, which a train-on-everything setup never exercises) and
    * scores ALL docs over their bigram positions:
    * P(w|v) = c(v,w)/c(v·) when the bigram was seen, else
    * α·(c(w)+1)/(N+V) with α = 0.4 (Brants et al. 2007 Stupid Backoff —
    * score, not a normalized probability, exactly as published).
    * Float determinism: per-doc contributions group per (prev, cur) and
    * fold in SORTED pair order (sort_array + aggregate ≡ DuckDB
    * list(ORDER BY)+list_reduce — the lm_score pairing). `n_backoff`
    * makes the backoff path observable. Bottom-10 = most surprising. */
  private val textLm2Score = Q(
    "q_text_lm2_score",
    (spark, dir) => {
      val d = graft.ops.Par.fanOut(Tables.t(spark, dir, "documents"))
      val toks = split(col("text"), " ")
      val pairsOf = zip_with(
        slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
        (a, b) => struct(a.as("prev"), b.as("cur")))
      // Round 12 (guide §2): the shared pair frame persists HASH-PARTITIONED
      // by (prev, cur), so every downstream consumer's clustering is already
      // satisfied by the cache — the training count big (groupBy(prev,cur)),
      // the per-doc pair count dp (groupBy(doc_id,prev,cur) — subset rule),
      // AND the dp⋈big join (both sides arrive hash(prev,cur)) run with NO
      // exchange; only the final per-doc fold still shuffles. Before: big,
      // dp and the join side each re-exchanged the pair mass. Eagerly
      // materialized because ctx (broadcast side) and dp (main) would
      // otherwise race to build the cache (the r11 lazy-persist wedge).
      val nPart = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val allPairs = d.select(col("doc_id"), explode(pairsOf).as("pc"))
        .select(col("doc_id"), col("pc.prev").as("prev"), col("pc.cur").as("cur"))
        .repartition(nPart, col("prev"), col("cur"))
        .persist() // feeds training (even docs) and scoring (all docs)
      allPairs.count()
      val big = allPairs.filter(col("doc_id") % 2 === 0)
        .groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("cb"))
      val ctx = big.groupBy(col("prev")).agg(sum(col("cb")).as("cctx"))
      val uniEx = d.filter(col("doc_id") % 2 === 0)
        .select(explode(split(col("text"), " ")).as("term"))
      val uni = uniEx.groupBy(col("term")).agg(count(lit(1)).as("cu"))
      val tot = uni.agg(sum(col("cu")).cast("double").as("n"),
        count(lit(1)).cast("double").as("v"))
      val dp = allPairs.groupBy(col("doc_id"), col("prev"), col("cur"))
        .agg(count(lit(1)).as("np"))
        .join(big, Seq("prev", "cur"), "left")
        .join(broadcast(ctx.withColumnRenamed("prev", "prev_")),
          col("prev") === col("prev_"), "left")
        .join(broadcast(uni.withColumnRenamed("term", "cur_")),
          col("cur") === col("cur_"), "left")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("np"),
          when(col("cb").isNotNull,
            log(col("cb").cast("double") / col("cctx").cast("double")))
            .otherwise(log(lit(0.4) *
              (coalesce(col("cu"), lit(0L)) + 1).cast("double") / (col("n") + col("v"))))
            .as("lnp"),
          col("cb").isNull.as("backoff"),
          struct(col("prev"), col("cur")).as("pk"))
      val perDoc = dp
        .select(col("doc_id"), col("np"), col("backoff"),
          struct(col("pk").getField("prev").as("prev"),
            col("pk").getField("cur").as("cur"),
            (col("np").cast("double") * col("lnp")).as("contrib")).as("tc"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("np")).cast("long").as("n_bigrams"),
          sum(when(col("backoff"), col("np")).otherwise(lit(0L))).as("n_backoff"),
          expr("aggregate(transform(sort_array(collect_list(tc)), x -> x.contrib), 0.0D, (acc, x) -> acc + x)")
            .as("s"))
        .withColumn("score", round(col("s") / col("n_bigrams").cast("double"), 6))
      // distributed top-k first, rank the 10 survivors (see q_text_lm_score)
      val top = perDoc.orderBy(col("score").asc, col("doc_id").asc).limit(10)
      val w = Window.orderBy(col("score").asc, col("doc_id").asc)
      top.withColumn("rn", row_number().over(w))
        .select(col("rn"), col("doc_id"), col("n_bigrams"), col("n_backoff"), col("score"))
        .orderBy(col("rn"))
    },
    Some(s"""WITH pairs AS (
            |  SELECT doc_id, tk[i] AS prev, tk[i+1] AS cur
            |  FROM (SELECT doc_id, string_split(text, ' ') AS tk,
            |               unnest(range(1, len(string_split(text, ' ')))) AS i
            |        FROM documents)
            |), big AS (
            |  SELECT prev, cur, count(*) AS cb FROM pairs WHERE doc_id % 2 = 0 GROUP BY 1, 2
            |), ctx AS (
            |  SELECT prev, sum(cb) AS cctx FROM big GROUP BY 1
            |), uni AS (
            |  SELECT unnest(string_split(text, ' ')) AS term, 1 AS one
            |  FROM documents WHERE doc_id % 2 = 0
            |), unic AS (
            |  SELECT term, count(*) AS cu FROM uni GROUP BY 1
            |), tot AS (
            |  SELECT CAST(sum(cu) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v FROM unic
            |), dp AS (
            |  SELECT p.doc_id, p.prev, p.cur, count(*) AS np FROM pairs p GROUP BY 1, 2, 3
            |), scoredp AS (
            |  SELECT dp.doc_id, dp.prev, dp.cur, dp.np,
            |         CASE WHEN b.cb IS NOT NULL
            |              THEN ln(CAST(b.cb AS DOUBLE) / CAST(c.cctx AS DOUBLE))
            |              ELSE ln(CAST(0.4 AS DOUBLE) *
            |                      CAST(coalesce(u.cu, 0) + 1 AS DOUBLE) / (t.n + t.v))
            |         END AS lnp,
            |         CASE WHEN b.cb IS NULL THEN dp.np ELSE 0 END AS nbk
            |  FROM dp
            |  LEFT JOIN big b ON dp.prev = b.prev AND dp.cur = b.cur
            |  LEFT JOIN ctx c ON dp.prev = c.prev
            |  LEFT JOIN unic u ON dp.cur = u.term
            |  CROSS JOIN tot t
            |), perdoc AS (
            |  SELECT doc_id,
            |         CAST(sum(np) AS BIGINT) AS n_bigrams,
            |         CAST(sum(nbk) AS BIGINT) AS n_backoff,
            |         list_reduce(list(CAST(np AS DOUBLE) * lnp ORDER BY prev, cur),
            |                     (acc, x) -> acc + x) AS s
            |  FROM scoredp GROUP BY 1
            |), scored AS (
            |  SELECT doc_id, n_bigrams, n_backoff,
            |         ${graft.tools.DuckDbSql.sparkRound("s / CAST(n_bigrams AS DOUBLE)", 6)} AS score
            |  FROM perdoc
            |), ranked AS (
            |  SELECT *, row_number() OVER (ORDER BY score ASC, doc_id ASC) AS rn
            |  FROM scored
            |)
            |SELECT rn, doc_id, n_bigrams, n_backoff, score
            |FROM ranked WHERE rn <= 10 ORDER BY rn""".stripMargin))

  /** X3 ranked retrieval (round 9): BM25 top-10 for a fixed term query —
    * the scoring half of a text index (TEXT_MATCH is the boolean half;
    * Lucene's default similarity IS BM25, so this is what the reference's
    * text-index queries rank by under the hood). Okapi BM25 with Lucene's
    * idf form: score(d) = Σ_t ln(1 + (N - df + 0.5)/(df + 0.5)) ·
    * tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl)), k1 = 1.2, b = 0.75.
    *
    * Scale shape: the term filter is an IN-list pushed to the scan of the
    * exploded stream, per-(doc,term) tf is ONE corpus shuffle bounded by
    * |query| terms per doc, the idf/avgdl table is |query| rows broadcast,
    * the per-doc sum folds in TERM-SORTED order (the lm_score bit-exact
    * float pairing), and top-10 is TakeOrderedAndProject — never a global
    * window. All arithmetic is IEEE double with one defined association,
    * replicated literally in the oracle (every literal CAST AS DOUBLE —
    * DuckDB folds bare decimals exactly as DECIMAL otherwise).
    *
    * [[bm25Scored]]/[[bm25Ctes]] are the shared scoring stage — q_text_bm25
    * ranks it directly; q_search_hybrid fuses it with a vector ranking. */
  private def bm25Scored(spark: org.apache.spark.sql.SparkSession, dir: String,
      qTerms: Seq[String]): org.apache.spark.sql.DataFrame = {
    val d = graft.ops.Par.fanOut(Tables.t(spark, dir, "documents"))
    val sized = d.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("dl"))
    val totals = sized.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    val tf = sized
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(qTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .transform(graft.ops.Shared.persist) // shared by the df_t aggregate and the scoring join
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val idf = dfT.crossJoin(broadcast(totals))
      .select(col("term"),
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)).as("idf"),
        col("avgdl"))
    val contrib = tf.join(broadcast(idf), Seq("term"))
      .select(col("doc_id"),
        struct(col("term"),
          (col("idf") * (col("tf") * 2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl")))))
            .as("c")).as("tc"))
    contrib.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_terms"),
        expr("aggregate(transform(sort_array(collect_list(tc)), x -> x.c), 0.0D, (acc, x) -> acc + x)")
          .as("s"))
      .withColumn("score", round(col("s"), 6))
  }

  /** The BM25 CTE chain (`sized → totals → tf → dft → idf → perdoc →
    * scored`) — the oracle twin of [[bm25Scored]], shared by both oracles. */
  private def bm25Ctes(qTerms: Seq[String]): String = {
    val inList = qTerms.map(t => s"'$t'").mkString(", ")
    s"""sized AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |  FROM documents
       |), totals AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       |  FROM sized
       |), tf AS (
       |  SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM sized)
       |  WHERE term IN ($inList)
       |  GROUP BY 1, 2, 3
       |), dft AS (
       |  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1
       |), idf AS (
       |  SELECT term,
       |         ln(CAST(1.0 AS DOUBLE) +
       |            (n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE))) AS idf,
       |         avgdl
       |  FROM dft, totals
       |), perdoc AS (
       |  SELECT tf.doc_id,
       |         CAST(count(*) AS BIGINT) AS n_terms,
       |         list_reduce(list(
       |           idf.idf * (tf.tf * CAST(2.2 AS DOUBLE)) /
       |             (tf.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
       |               CAST(0.75 AS DOUBLE) * (CAST(tf.dl AS DOUBLE) / idf.avgdl)))
       |           ORDER BY tf.term),
       |           (acc, x) -> acc + x) AS s
       |  FROM tf JOIN idf USING (term) GROUP BY 1
       |), scored AS (
       |  SELECT doc_id, n_terms, ${graft.tools.DuckDbSql.sparkRound("s", 6)} AS score
       |  FROM perdoc
       |)""".stripMargin
  }

  private val textBm25 = Q(
    "q_text_bm25",
    (spark, dir) => {
      val perDoc = bm25Scored(spark, dir, Seq("spark", "table", "hash"))
      val top = perDoc.orderBy(col("score").desc, col("doc_id").asc).limit(10)
      val w = Window.orderBy(col("score").desc, col("doc_id").asc)
      top.withColumn("rn", row_number().over(w))
        .select(col("rn"), col("doc_id"), col("n_terms"), col("score"))
        .orderBy(col("rn"))
    },
    Some(s"""WITH ${bm25Ctes(Seq("spark", "table", "hash"))}, ranked AS (
            |  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
            |  FROM scored
            |)
            |SELECT rn, doc_id, n_terms, score
            |FROM ranked WHERE rn <= 10 ORDER BY rn""".stripMargin))

  /** X3e hybrid retrieval (round 9): Reciprocal Rank Fusion of the BM25
    * term ranking and a brute-force cosine ranking against a query vector —
    * the standard lexical+dense fusion (Cormack et al. RRF, k = 60) every
    * RAG/retrieval pipeline runs. rrf(d) = Σ_lists 1/(60 + rank_d), missing
    * from a list contributes 0; ranks are computed on ROUNDED scores with
    * id tiebreaks in BOTH engines, so the fusion is bit-deterministic and
    * fully oracle-checked (not a bound-boolean).
    *
    * Scale shape: each leg is its own proven top-k plan (BM25 = IN-list
    * filtered scan + broadcast idf + TakeOrderedAndProject; vector =
    * broadcast-query cosine + per-query window) — fusion then touches only
    * 2×50 rank rows: a full outer join of two 50-row frames. At 100 TB the
    * legs swap in their indexed forms (TextIndex candidates, AnnIndex
    * probes) without touching the fusion. */
  private val searchHybrid = Q(
    "q_search_hybrid",
    (spark, dir) => {
      val e = Tables.t(spark, dir, "embeddings")
      val vecTop = graft.ops.Similarity
        .bruteForceTopK(e, e.filter(col("vec_id") === 0), "vec_id", "embedding", k = 50)
        .select(col("nid").cast("long").as("id"), col("rn").cast("long").as("rv"))
      val bmTop = bm25Scored(spark, dir, Seq("spark", "table", "hash"))
        .orderBy(col("score").desc, col("doc_id").asc).limit(50)
        .withColumn("rb",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select(col("doc_id").cast("long").as("id"), col("rb"))
      val fused = bmTop.join(vecTop, Seq("id"), "full_outer")
        .select(col("id"),
          coalesce(col("rb"), lit(-1L)).as("rank_bm25"),
          coalesce(col("rv"), lit(-1L)).as("rank_vec"),
          round(
            coalesce(lit(1.0) / (lit(60.0) + col("rb").cast("double")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60.0) + col("rv").cast("double")), lit(0.0)),
            6).as("rrf"))
      val w = Window.orderBy(col("rrf").desc, col("id").asc)
      fused.orderBy(col("rrf").desc, col("id").asc).limit(10)
        .withColumn("rn", row_number().over(w))
        .select(col("rn"), col("id"), col("rank_bm25"), col("rank_vec"), col("rrf"))
        .orderBy(col("rn"))
    },
    Some(s"""WITH ${bm25Ctes(Seq("spark", "table", "hash"))}, bmtop AS (
            |  SELECT doc_id AS id, rb FROM (
            |    SELECT doc_id,
            |           row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rb
            |    FROM scored) WHERE rb <= 50
            |), vec AS (
            |  SELECT e.vec_id AS id,
            |         round(CAST(list_cosine_similarity(q.qe, e.embedding) AS DOUBLE), 4) AS sim
            |  FROM (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
            |  CROSS JOIN embeddings e WHERE e.vec_id <> 0
            |), vtop AS (
            |  SELECT id, rv FROM (
            |    SELECT id, row_number() OVER (ORDER BY sim DESC, id ASC) AS rv
            |    FROM vec) WHERE rv <= 50
            |), fused AS (
            |  SELECT COALESCE(b.id, v.id) AS id,
            |         CAST(COALESCE(b.rb, -1) AS BIGINT) AS rank_bm25,
            |         CAST(COALESCE(v.rv, -1) AS BIGINT) AS rank_vec,
            |         ${graft.tools.DuckDbSql.sparkRound(
                        "COALESCE(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + b.rb), CAST(0 AS DOUBLE)) + " +
                        "COALESCE(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + v.rv), CAST(0 AS DOUBLE))", 6)} AS rrf
            |  FROM bmtop b FULL OUTER JOIN vtop v ON b.id = v.id
            |), rranked AS (
            |  SELECT *, row_number() OVER (ORDER BY rrf DESC, id ASC) AS rn
            |  FROM fused
            |)
            |SELECT CAST(rn AS INT) AS rn, id, rank_bm25, rank_vec, rrf
            |FROM rranked WHERE rn <= 10 ORDER BY rn""".stripMargin))

  /** WordPiece-style greedy subword tokenization (round 9 — ops/Subword):
    * vocab = top-200 substrings (≤6 chars) by EXACT corpus occurrence
    * score ∪ all single chars, then greedy longest-match-first encoding —
    * the BERT tokenizer runtime (Devlin et al. 2019). The whole pipeline
    * is integer/string arithmetic, so the oracle replicates it verbatim:
    * the same substring scoring, the same top-K cut, and a RECURSIVE CTE
    * that walks the identical greedy matches (longest piece at each
    * position, lexicographic tie) per unique word. Scale: one corpus
    * shuffle to the unique-word table, codebook-sized vocab collect
    * (broker-style), map-only encode with broadcast vocab. */
  private val textWordpiece = Q(
    "q_text_wordpiece_encode",
    (spark, dir) => {
      val docs = Tables.t(spark, dir, "documents")
      val words = graft.ops.Bpe.wordFreq(docs, "text")
      val vocab = graft.ops.Subword.seedVocab(words, maxPieceLen = 6, topK = 200)
        .select("piece").collect().map(_.getString(0)).toSet
      val pieces = graft.ops.Subword.encodeCorpusGreedy(docs, "text", vocab, maxPieceLen = 6)
      val top = pieces.orderBy(col("n").desc, col("piece").asc).limit(25)
      val w = Window.orderBy(col("n").desc, col("piece").asc)
      top.withColumn("rn", row_number().over(w))
        .select(col("rn"), col("piece"), col("n"))
        .orderBy(col("rn"))
    },
    Some("""WITH RECURSIVE words AS (
           |  SELECT w, CAST(count(*) AS BIGINT) AS freq
           |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           |  WHERE len(w) > 0 GROUP BY 1
           |), pieces AS (
           |  SELECT substr(w, s, e - s + 1) AS piece, CAST(sum(freq) AS BIGINT) AS score
           |  FROM (SELECT w, freq, s, unnest(range(s, least(s + 5, len(w)) + 1)) AS e
           |        FROM (SELECT w, freq, unnest(range(1, len(w) + 1)) AS s FROM words))
           |  GROUP BY 1
           |), vocab AS (
           |  SELECT piece FROM (
           |    SELECT piece FROM pieces ORDER BY score DESC, piece ASC LIMIT 200)
           |  UNION
           |  SELECT piece FROM pieces WHERE len(piece) = 1
           |), seg AS (
           |  SELECT w, freq, 1 AS pos, CAST([] AS VARCHAR[]) AS toks FROM words
           |  UNION ALL
           |  SELECT w, freq, pos + len(m) AS pos, list_append(toks, m) AS toks
           |  FROM (
           |    SELECT w, freq, pos, toks,
           |           (SELECT v.piece FROM vocab v
           |            WHERE v.piece = substr(seg.w, seg.pos, len(v.piece))
           |            ORDER BY len(v.piece) DESC, v.piece LIMIT 1) AS m
           |    FROM seg WHERE pos <= len(w)
           |  ) WHERE m IS NOT NULL
           |), counts AS (
           |  SELECT piece, CAST(sum(freq) AS BIGINT) AS n
           |  FROM (SELECT freq, unnest(toks) AS piece FROM seg WHERE pos > len(w))
           |  GROUP BY 1
           |), ranked AS (
           |  SELECT *, row_number() OVER (ORDER BY n DESC, piece ASC) AS rn FROM counts
           |)
           |SELECT rn, piece, n FROM ranked WHERE rn <= 25 ORDER BY rn""".stripMargin))

  /** Unigram-LM tokenizer training (round 9 — ops/Unigram, Kudo 2018 in
    * hard-EM form): 3 Viterbi-EM iterations over the unique-word table,
    * 120-piece multi-char budget. Model selection rides FLOAT Viterbi
    * comparisons, so the surviving vocab is deterministic per engine but
    * not SQL-replicable — the oracle therefore checks the STRONG exact
    * invariant (the encode is a true partition of the corpus:
    * Σ len(piece)·count == Σ len(word)·freq, both sides exact integers)
    * plus theorem booleans computed Spark-side (Gibbs: MLE likelihood over
    * the final counts beats uniform; token count ≤ char count; char
    * coverage + multi-char budget hold). */
  private val textUnigram = Q(
    "q_text_unigram",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.t(spark, dir, "documents")
      val words = graft.ops.Bpe.wordFreq(docs, "text")
      val t = graft.ops.Unigram.trainHardEm(words, seedTopK = 300,
        maxPieceLen = 6, vocabSize = 120, iters = 3)
      val enc = graft.ops.Unigram.encodeCorpus(docs, "text", t.logp, 6)
      val Array(pieceChars, nTokens) = enc
        .selectExpr("CAST(sum(length(piece) * n) AS LONG)", "CAST(sum(n) AS LONG)")
        .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
      val Array(totalChars, nWords) = words
        .selectExpr("CAST(sum(length(w) * freq) AS LONG)", "CAST(sum(freq) AS LONG)")
        .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
      // Gibbs over the final counts: sum c ln(c/N) >= sum c ln(1/V)
      val cs = t.counts.values.toSeq.sortBy(identity)
      val n = cs.sum.toDouble
      val llMle = cs.foldLeft(0.0)((a, c) => a + c * math.log(c / n))
      val llUni = n * math.log(1.0 / t.counts.size)
      val (chars, multi) = t.counts.keySet.partition(_.length == 1)
      Seq((pieceChars, nWords,
        nTokens <= totalChars,
        llMle >= llUni,
        multi.size <= 120 && chars.forall(_.length == 1)))
        .toDF("total_piece_chars", "n_words", "n_tokens_le_n_chars",
          "ll_trained_beats_uniform", "vocab_within_budget")
    },
    Some("""SELECT CAST(sum(len(w) * freq) AS BIGINT) AS total_piece_chars,
           |       CAST(sum(freq) AS BIGINT) AS n_words,
           |       TRUE AS n_tokens_le_n_chars,
           |       TRUE AS ll_trained_beats_uniform,
           |       TRUE AS vocab_within_budget
           |FROM (
           |  SELECT w, CAST(count(*) AS BIGINT) AS freq
           |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           |  WHERE len(w) > 0 GROUP BY 1
           |)""".stripMargin))

  /** X3-collocations (round 10): PMI collocation mining — the corpus-
    * statistics pass that surfaces multi-word expressions ("new york",
    * "machine learning") for tokenizer seeding and phrase-aware dedup.
    * PMI(a,b) = log p(ab)/(p(a)p(b)) with p(ab) = n_ab/N_bigrams and
    * p(w) = n_w/N_tokens; because log is MONOTONE, the ranking never needs
    * a float log at all — the score ships as the EXACT integer
    * floor((n_ab · N_u² · 10⁶) / (N_b · n_a · n_b)) in DECIMAL(38,0)
    * arithmetic (the q_pipe_curate doctrine: n_ab·N_u²·10⁶ passes BIGINT
    * range near ~3e9 tokens — ANSI would throw; IntegralDivide returns
    * LONG and the quotient is bounded by N_u·10⁶). Plan shape: one
    * generate pass builds bigrams map-side (zip_with of adjacent slices,
    * the q_agg_mv idiom), two count shuffles (unigrams, bigrams), two
    * joins against the unigram counts (broadcast-able at bounded vocab),
    * top-20 via TakeOrderedAndProject. */
  private val textCollocations = Q(
    "q_text_collocations",
    (spark, dir) => {
      val d = Tables.t(spark, dir, "documents")
      val toks = split(col("text"), " ")
      val nTok = size(toks)
      val bg = d.select(explode(zip_with(
          slice(toks, lit(1), greatest(nTok - lit(1), lit(0))),
          slice(toks, lit(2), greatest(nTok - lit(1), lit(0))),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val uni = d.select(explode(toks).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n_w"))
      val bgc = bg.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("n_ab"))
      val totals = uni.agg(sum(col("n_w")).as("tu"))
        .crossJoin(bgc.agg(sum(col("n_ab")).as("tb")))
      val scored = bgc
        .join(uni.select(col("w").as("w1"), col("n_w").as("na")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("n_w").as("nb")), Seq("w2"))
        .crossJoin(broadcast(totals))
        .filter(col("n_ab") >= 5)
        .withColumn("pmi_s", expr(
          """(CAST(n_ab AS DECIMAL(38,0)) * CAST(tu AS DECIMAL(38,0))
            |   * CAST(tu AS DECIMAL(38,0)) * CAST(1000000 AS DECIMAL(38,0)))
            | div
            |(CAST(tb AS DECIMAL(38,0)) * CAST(na AS DECIMAL(38,0))
            |   * CAST(nb AS DECIMAL(38,0)))""".stripMargin))
      scored
        .orderBy(col("pmi_s").desc, col("w1"), col("w2"))
        .limit(20)
        .withColumn("rk", row_number().over(Window.orderBy(
          col("pmi_s").desc, col("w1"), col("w2"))))
        .select(col("rk"), concat(col("w1"), lit(" "), col("w2")).as("bigram"),
          col("n_ab"), col("na"), col("nb"), col("pmi_s"))
        .orderBy(col("rk"))
    },
    Some(
      """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |uc AS MATERIALIZED (
        |  SELECT w, count(*) AS n_w
        |  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
        |bc AS MATERIALIZED (
        |  SELECT w1, w2, count(*) AS n_ab FROM (
        |    SELECT toks[i] AS w1, toks[i + 1] AS w2
        |    FROM (SELECT toks,
        |                 unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS i
        |          FROM t))
        |  GROUP BY w1, w2),
        |tot AS (SELECT (SELECT CAST(sum(n_w) AS HUGEINT) FROM uc) AS tu,
        |               (SELECT CAST(sum(n_ab) AS HUGEINT) FROM bc) AS tb),
        |scored AS (
        |  SELECT bc.w1, bc.w2, bc.n_ab, a.n_w AS na, z.n_w AS nb,
        |         CAST((CAST(bc.n_ab AS HUGEINT) * tu * tu * 1000000)
        |              // (tb * a.n_w * z.n_w) AS BIGINT) AS pmi_s
        |  FROM bc JOIN uc a ON a.w = bc.w1 JOIN uc z ON z.w = bc.w2, tot
        |  WHERE bc.n_ab >= 5),
        |ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY pmi_s DESC, w1, w2) AS rk
        |  FROM scored)
        |SELECT CAST(rk AS INTEGER) AS rk, w1 || ' ' || w2 AS bigram,
        |       CAST(n_ab AS BIGINT) AS n_ab, CAST(na AS BIGINT) AS na,
        |       CAST(nb AS BIGINT) AS nb, pmi_s
        |FROM ranked WHERE rk <= 20 ORDER BY rk""".stripMargin))

  val all: Seq[Q] = Seq(textRareNgram, textTokens, textQuality, textLangId, textFingerprint, textTfidf,
    textRepetition, textChunks, textClean, textBpePairs, textBpeEncode,
    textLmScore, textLm2Score, textBm25, searchHybrid, textWordpiece, textUnigram,
    textCollocations)
}
