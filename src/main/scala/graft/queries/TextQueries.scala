package graft.queries

import graft.Tables
import graft.functions.{Hashing, SimHashSig, TextFunctions => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis queries. q30–q33 (SURVEY.md §2) are map-side column
  * expressions — shuffle-free, scan-bound at scale. The corpus
  * operators of a training-data pipeline follow: token explosion and
  * term statistics (q56, q74, q87, q109, q123), corpus audits (q61,
  * q63, q78), regex scrubbing (q64, q71, q113), sequence packing (q65)
  * and context-window chunking (q81).
  */
object TextQueries {

  // ---------------------------------------------------------------- q30
  /** Quality scoring. The oracle mirrors the same arithmetic with
    * portable SQL (replace-trick counts; regexp_replace for char
    * classes identical across engines).
    */
  private def q30(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val txt = col("text")
    d.select(
        col("doc_id"),
        length(txt).as("n_chars_calc"),
        T.wsTokenCount(txt).as("n_words"),
        (length(txt) - length(regexp_replace(txt, "[.,!?;:]", "")))
          .as("n_punct"),
        (length(txt) - length(regexp_replace(txt, "[0-9]", "")))
          .as("n_digits"),
        (length(txt).cast("double") /
          greatest(T.wsTokenCount(txt), lit(1)).cast("double"))
          .as("chars_per_word"))
      .orderBy("doc_id")
  }

  // whitespace-run word count, portable: collapse \s+ to one space,
  // then spaces+1 (matches TextFunctions.wsTokenCount exactly)
  private val sqlWsCount =
    """CASE WHEN LENGTH(regexp_replace(TRIM(text), '\s+', ' ', 'g')) = 0 THEN 0
      |     ELSE LENGTH(regexp_replace(TRIM(text), '\s+', ' ', 'g'))
      |          - LENGTH(REPLACE(regexp_replace(TRIM(text), '\s+', ' ', 'g'), ' ', '')) + 1
      |END""".stripMargin

  private val q30Sql =
    s"""SELECT doc_id,
      |  CAST(LENGTH(text) AS INT) AS n_chars_calc,
      |  CAST($sqlWsCount AS INT) AS n_words,
      |  CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INT) AS n_punct,
      |  CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')) AS INT) AS n_digits,
      |  CAST(LENGTH(text) AS DOUBLE) /
      |    CAST(GREATEST($sqlWsCount, 1) AS DOUBLE) AS chars_per_word
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q31
  private def q31(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val txt = col("text")
    d.select(
        col("doc_id"),
        T.wsTokenCount(txt).as("ws_tokens"),
        T.bpeTokenCount(txt).as("bpe_tokens"))
      .orderBy("doc_id")
  }

  private val q31Sql =
    s"""SELECT doc_id,
       |  CAST($sqlWsCount AS INT) AS ws_tokens,
       |  CAST(LEN(regexp_extract_all(text, '${T.BpePattern}')) AS INT) AS bpe_tokens
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q32
  /** Language ID (rows-only: testdata `lang` is a random tag, see
    * TextFunctions.langId doc; heuristic validated in TextSpec).
    */
  private def q32(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), T.langId(col("text")).as("pred_lang"),
        col("lang").as("tagged_lang"))
      .orderBy("doc_id")

  // ---------------------------------------------------------------- q33
  /** Document fingerprinting: full-content hash + k-min-values sketch
    * of word 3-grams (winnowing-style) + token-sequence SimHash, all
    * in ONE map-side pass — a fingerprint stage at 100 TB is
    * scan-bound or it's wrong.
    *
    * Output is the q121-style CONTRACT view, so the driver's DuckDB
    * gate hash-checks it (the codes derive from xxhash64, which SQL
    * cannot reproduce — but their consistency invariants are exact):
    *  - `n_copies` / `sketch_len` are replicable values (group size by
    *    normalized text; min(8, distinct-3-gram count));
    *  - `hash_ok`: equal normalized text ⟺ equal content hash (both
    *    directions — a nondeterministic hash OR a cross-text collision
    *    flips it);
    *  - `kmin_ok`: equal gram SET ⇒ equal sketch (the reverse is not
    *    an invariant: bottom-8 legitimately collides for overlapping
    *    sets);
    *  - `simhash_ok`: equal token sequence ⇒ equal SimHash.
    * The group-size windows are per-key shuffles of (key, 1) rows —
    * at 100 TB you'd compute the same booleans with partial-agg
    * group-size joins; the semantics hash-checked here are identical.
    * The fingerprint VALUES themselves stay asserted by TextSpec
    * (determinism + known-answer rows).
    */
  private def q33(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
    // Bind `toks` as an attribute before the n-gram HOF (a lambda over
    // the raw tokenize expression re-runs the regex chain per n-gram).
    val grams = array_distinct(T.wordNGrams(col("toks"), 3))
    val simhash = GraftSqlBridge.column(
      SimHashSig(GraftSqlBridge.expression(col("toks"))))
    val fp = d
      .select(col("doc_id"), col("text"), T.tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        T.normText(col("text")).as("nt"),
        to_json(array_sort(grams)).as("gs"),
        xxhash64(T.normText(col("text"))).as("content_hash"),
        to_json(Hashing.kMinSketch(
          Hashing.shingleHashes(grams), 8)).as("kmin_sketch"),
        size(Hashing.kMinSketch(
          Hashing.shingleHashes(grams), 8)).as("sketch_len"),
        coalesce(simhash, lit(0L)).as("simhash"))
    val nNt = count(lit(1)).over(Window.partitionBy("nt"))
    fp.select(
        col("doc_id"),
        nNt.as("n_copies"),
        col("sketch_len"),
        (count(lit(1)).over(Window.partitionBy("content_hash")) === nNt &&
          count(lit(1)).over(Window.partitionBy("nt", "content_hash")) === nNt)
          .as("hash_ok"),
        (count(lit(1)).over(Window.partitionBy("gs", "kmin_sketch")) ===
          count(lit(1)).over(Window.partitionBy("gs"))).as("kmin_ok"),
        (count(lit(1)).over(Window.partitionBy("nt", "simhash")) === nNt)
          .as("simhash_ok"))
      .orderBy("doc_id")
  }

  private val q33Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |         regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS nt,
      |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS tk
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, nt,
      |         CASE WHEN len(tk) >= 3
      |              THEN list_sort(list_distinct(list_transform(range(1, len(tk) - 1),
      |                     i -> array_to_string(tk[i:i+2], ' '))))
      |              ELSE [] END AS grams
      |  FROM t)
      |SELECT doc_id,
      |       COUNT(*) OVER (PARTITION BY nt) AS n_copies,
      |       CAST(LEAST(8, len(grams)) AS INT) AS sketch_len,
      |       TRUE AS hash_ok, TRUE AS kmin_ok, TRUE AS simhash_ok
      |FROM g ORDER BY doc_id""".stripMargin

  /** q32's heuristic is deterministic and fully SQL-expressible, so it
    * gets a real oracle: the CASE order replicates langId's foldLeft
    * tie-break nesting (de, then en, then es, then fr) and `\x{...}`
    * is RE2's spelling of the CJK range.
    */
  private val q32Sql =
    """WITH toks AS (
      |  SELECT doc_id, lang AS tagged_lang, text,
      |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents),
      |sc AS (
      |  SELECT doc_id, tagged_lang, text,
      |    len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','it','that','for'))) AS en,
      |    len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht','ein','mit','zu','auf'))) AS de,
      |    len(list_filter(toks, t -> t IN ('le','la','les','et','est','un','une','dans','que','pour'))) AS fr,
      |    len(list_filter(toks, t -> t IN ('el','la','los','las','es','un','una','que','de','por'))) AS es,
      |    length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS cjk
      |  FROM toks)
      |SELECT doc_id,
      |  CASE WHEN cjk * 5 > length(text) THEN 'zh'
      |       WHEN greatest(en,de,fr,es) = 0 THEN 'unknown'
      |       WHEN de = greatest(en,de,fr,es) THEN 'de'
      |       WHEN en = greatest(en,de,fr,es) THEN 'en'
      |       WHEN es = greatest(en,de,fr,es) THEN 'es'
      |       ELSE 'fr' END AS pred_lang,
      |  tagged_lang
      |FROM sc ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q56
  /** explode/unnest as a covered operator: token explosion over the
    * documents table into a corpus term-frequency table. Generate →
    * aggregate with map-side partial combine; the shuffle carries
    * (token, partial count), not the exploded rows.
    */
  private def q56(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(T.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy("token")

  private val q56Sql =
    """SELECT token, COUNT(*) AS n FROM (
      |  SELECT unnest(string_split(
      |    regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS token
      |  FROM documents)
      |GROUP BY token ORDER BY token""".stripMargin

  // ---------------------------------------------------------------- q61
  /** Corpus distribution audit: token-count histogram per source —
    * fixed-width buckets computed row-locally, then one partial-agg
    * shuffle on (source, bucket). The shape every filter-pipeline
    * report needs; at 100 TB the scan dominates and the aggregate
    * output is O(sources × buckets).
    */
  private def q61(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"),
        least(floor(T.wsTokenCount(col("text")) / 16), lit(7)).as("bucket"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "bucket")

  private val q61Sql =
    s"""SELECT source,
       |       LEAST(CAST(FLOOR(($sqlWsCount) / 16) AS BIGINT), 7) AS bucket,
       |       COUNT(*) AS n_docs
       |FROM documents
       |GROUP BY source, bucket ORDER BY source, bucket""".stripMargin

  // ---------------------------------------------------------------- q63
  /** Intra-document repetition score: distinct-to-total word-2-gram
    * ratio (near 1 = diverse text, near 0 = loops/boilerplate — the
    * classic repetition quality gate). Pure row-local map over the
    * scan; the only shuffle is the final ORDER BY for the oracle.
    */
  private def q63(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), T.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), T.wordNGrams(col("toks"), 2).as("grams"))
      .select(col("doc_id"),
        size(col("grams")).as("n_grams"),
        size(array_distinct(col("grams"))).as("n_distinct"))
      .withColumn("repetition",
        round(lit(1.0) - col("n_distinct").cast("double") /
          col("n_grams").cast("double"), 6))
      .orderBy("doc_id")

  private val q63Sql =
    """WITH toks AS (
      |  SELECT doc_id,
      |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |         list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS g
      |  FROM toks WHERE len(t) >= 2)
      |SELECT doc_id,
      |       CAST(len(g) AS INT) AS n_grams,
      |       CAST(len(list_distinct(g)) AS INT) AS n_distinct,
      |       ROUND(1.0 - CAST(len(list_distinct(g)) AS DOUBLE) /
      |             CAST(len(g) AS DOUBLE), 6) AS repetition
      |FROM grams ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q64
  /** Sensitive-pattern counts per document — the scrubbing pre-pass:
    * how many email-shaped / url-shaped / long-digit-run tokens a doc
    * carries. Row-local regex counting (codegen'd), scan-bound at any
    * scale; the corpus-level rollup is a partial-agg shuffle of three
    * ints per source.
    */
  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val UrlRe = "https?://[^ ]+"
  private val DigitRunRe = "[0-9]{6,}"

  private def q64(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), T.normText(col("text")).as("t"))
      .select(col("source"),
        size(regexp_extract_all(col("t"), lit(EmailRe), lit(0))).as("emails"),
        size(regexp_extract_all(col("t"), lit(UrlRe), lit(0))).as("urls"),
        size(regexp_extract_all(col("t"), lit(DigitRunRe), lit(0))).as("digit_runs"))
      .groupBy("source")
      .agg(sum(col("emails")).as("n_emails"),
        sum(col("urls")).as("n_urls"),
        sum(col("digit_runs")).as("n_digit_runs"),
        count(lit(1)).as("n_docs"))
      .orderBy("source")

  private val q64Sql =
    s"""WITH t AS (SELECT source, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t
       |           FROM documents)
       |SELECT source,
       |       CAST(SUM(len(regexp_extract_all(t, '$EmailRe'))) AS BIGINT) AS n_emails,
       |       CAST(SUM(len(regexp_extract_all(t, '$UrlRe'))) AS BIGINT) AS n_urls,
       |       CAST(SUM(len(regexp_extract_all(t, '$DigitRunRe'))) AS BIGINT) AS n_digit_runs,
       |       COUNT(*) AS n_docs
       |FROM t GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q65
  /** Sequence packing: assign documents to fixed-budget training
    * packs (2048 tokens) by running token cumsum in a deterministic
    * order within each source — `pack_id = floor((cumsum - n) /
    * budget)` gives each doc the pack its FIRST token lands in
    * (greedy streaming packing with split-over-boundary semantics,
    * the standard pretraining batcher). One window shuffle on
    * `source`; at 100 TB packing runs per partition/shard exactly
    * like this window, and pack boundaries never cross shards.
    */
  private val PackBudget = 2048

  private def q65(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        T.wsTokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("pack_id",
        floor((col("cum_tokens") - col("n_tokens")) / lit(PackBudget)))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        col("cum_tokens"), col("pack_id"))
      .orderBy("source", "doc_id")
  }

  private val q65Sql =
    s"""WITH t AS (
       |  SELECT source, doc_id,
       |    CAST(CASE WHEN LENGTH(regexp_replace(TRIM(text), '\\s+', ' ', 'g')) = 0 THEN 0
       |         ELSE LENGTH(regexp_replace(TRIM(text), '\\s+', ' ', 'g'))
       |              - LENGTH(REPLACE(regexp_replace(TRIM(text), '\\s+', ' ', 'g'), ' ', '')) + 1
       |    END AS BIGINT) AS n_tokens
       |  FROM documents)
       |SELECT source, doc_id, n_tokens,
       |       CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       |       CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |                           ROWS UNBOUNDED PRECEDING) - n_tokens)
       |                  / $PackBudget) AS BIGINT) AS pack_id
       |FROM t ORDER BY source, doc_id""".stripMargin

  // ---------------------------------------------------------------- q71
  /** PII redaction — the scrub pass that q64 (pattern counts) audits
    * for: replace email-shaped, url-shaped, and long-digit-run spans
    * with typed placeholder tokens. Row-local `regexp_replace` chain
    * (codegen'd), scan-bound at any scale; replacement order is fixed
    * (email → url → digits) and mirrored in the oracle, so both
    * engines transform identically. Same patterns as q64's counts.
    */
  private def q71(s: SparkSession, dir: String): DataFrame = {
    val norm = T.normText(col("text"))
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(norm, EmailRe, "<EMAIL>"),
          UrlRe, "<URL>"),
        DigitRunRe, "<NUM>")
    Tables.documents(s, dir)
      .select(col("doc_id"), redacted.as("redacted"),
        (length(norm) - length(redacted)).as("chars_removed"))
      .orderBy("doc_id")
  }

  private val q71Sql =
    s"""WITH t AS (SELECT doc_id,
       |                  regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
       |           FROM documents),
       |r AS (SELECT doc_id, norm,
       |             regexp_replace(
       |               regexp_replace(
       |                 regexp_replace(norm, '$EmailRe', '<EMAIL>', 'g'),
       |                 '$UrlRe', '<URL>', 'g'),
       |               '$DigitRunRe', '<NUM>', 'g') AS redacted
       |      FROM t)
       |SELECT doc_id, redacted,
       |       CAST(LENGTH(norm) - LENGTH(redacted) AS INT) AS chars_removed
       |FROM r ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q74
  /** TF-IDF term scoring: per-document term frequency, corpus
    * document frequency, emit terms with tf ≥ 6 and their
    * tf·ln(N/df) score. One pass over the corpus: explode →
    * map-side-combined (doc, term) aggregate → term-partitioned
    * COUNT window (the df) → broadcast of the scalar doc count. Two
    * shuffles total, both partial-agg/window on compact keys.
    */
  private def q74(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tf = docs
      .select(col("doc_id"), explode(T.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // df as a COUNT window over the tf aggregate — NOT a second
    // aggregation branch, which would re-run the token explode over
    // the whole corpus (tf feeds both sides of a self-join otherwise)
    val withDf = tf.withColumn("df",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy("term")))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    withDf.filter(col("tf") >= 6)
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6)
          .as("tfidf"))
      .orderBy("doc_id", "term")
  }

  private val q74Sql =
    """WITH terms AS (
      |  SELECT doc_id,
      |         unnest(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
      |wdf AS (SELECT doc_id, term, tf,
      |               COUNT(*) OVER (PARTITION BY term) AS df
      |        FROM tf),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT doc_id, term, tf, df,
      |       ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
      |FROM wdf, n
      |WHERE tf >= 6
      |ORDER BY doc_id, term""".stripMargin

  // ---------------------------------------------------------------- q78
  /** Corpus quantile bucketing: exact quartile thresholds of document
    * length, broadcast to every row, each doc assigned its quartile,
    * per-bucket rollup. The length-balancing pass before sequence
    * packing. Threshold computation is one tiny aggregate (at 100 TB
    * you'd swap in `approx_percentile` — same plan shape, sketch
    * mergeable map-side); assignment is row-local against the
    * broadcast scalar row; rollup is a 4-group partial agg.
    */
  private def q78(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val qs = docs.agg(
      expr("percentile(n_chars, array(0.25, 0.5, 0.75))").as("qs"))
      .select(col("qs")(0).as("q1"), col("qs")(1).as("q2"), col("qs")(2).as("q3"))
    docs.crossJoin(broadcast(qs))
      .withColumn("bucket",
        when(col("n_chars") <= col("q1"), "p00_25")
          .when(col("n_chars") <= col("q2"), "p25_50")
          .when(col("n_chars") <= col("q3"), "p50_75")
          .otherwise("p75_100"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("bucket")
  }

  private val q78Sql =
    """WITH q AS (
      |  SELECT quantile_cont(n_chars, 0.25) AS q1,
      |         quantile_cont(n_chars, 0.50) AS q2,
      |         quantile_cont(n_chars, 0.75) AS q3
      |  FROM documents)
      |SELECT CASE WHEN n_chars <= q1 THEN 'p00_25'
      |            WHEN n_chars <= q2 THEN 'p25_50'
      |            WHEN n_chars <= q3 THEN 'p50_75'
      |            ELSE 'p75_100' END AS bucket,
      |       COUNT(*) AS n_docs,
      |       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      |FROM documents, q
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q81
  /** Context-window chunking: split each document's token stream into
    * fixed 32-token chunks (last chunk ragged), one output row per
    * chunk with its index, text, and token count. Row-local expansion
    * (explode over a computed chunk-index range + array slice) — no
    * shuffle but the final ORDER BY; at 100 TB this is the scan-bound
    * map stage feeding an embedding job, and the chunk index is the
    * stable join-back key.
    */
  private val ChunkTokens = 32

  private def q81(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), T.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
    toks
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0),
          floor((size(col("toks")) - 1) / ChunkTokens).cast("int")))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        slice(col("toks"), col("chunk_idx") * ChunkTokens + 1, lit(ChunkTokens))
          .as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        concat_ws(" ", col("chunk")).as("chunk_text"),
        size(col("chunk")).as("n_chunk_tokens"))
      .orderBy("doc_id", "chunk_idx")
  }

  private val q81Sql =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS t
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, t,
       |         CAST(unnest(generate_series(0, (len(t) - 1) // $ChunkTokens)) AS INT)
       |           AS chunk_idx
       |  FROM toks WHERE len(t) >= 1)
       |SELECT doc_id, chunk_idx,
       |       array_to_string(
       |         t[chunk_idx * $ChunkTokens + 1 : chunk_idx * $ChunkTokens + $ChunkTokens],
       |         ' ') AS chunk_text,
       |       CAST(len(t[chunk_idx * $ChunkTokens + 1 : chunk_idx * $ChunkTokens + $ChunkTokens]) AS INT)
       |         AS n_chunk_tokens
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------- q87
  /** PMI collocation scoring: pointwise mutual information of word
    * bigrams vs their unigram marginals — the corpus-statistics op
    * behind phrase mining and tokenizer-merge candidates. Two
    * corpus passes (unigram and bigram explosions have different
    * shapes), each a map-side-combined count; the unigram table is
    * vocabulary-sized and broadcast to the thresholded bigram table
    * (at 100 TB a many-million-row vocab still broadcasts in
    * hundreds of MB; beyond that, flip the two joins to shuffles on
    * the word key — same plan otherwise).
    */
  private def q87(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), T.tokens(col("text")).as("toks"))
    // `uni` feeds THREE consumers (two broadcasts with different
    // build keys — no exchange reuse — plus the total below):
    // materialize the vocabulary-sized table once or the corpus-wide
    // unigram explode re-runs per consumer. The token total is then
    // a vocab-sized Σc — NOT a third corpus explode (Σ_vocab c ≡
    // total tokens by construction).
    val uni = docs.select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val n = uni.agg(sum(col("c")).as("n_tokens"))
    val bi = docs.filter(size(col("toks")) >= 2)
      .select(explode(T.wordNGrams(col("toks"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= 30)
      .withColumn("x", split(col("bigram"), " ")(0))
      .withColumn("y", split(col("bigram"), " ")(1))
    bi
      .join(broadcast(uni.select(col("tok").as("x"), col("c").as("c_x"))), "x")
      .join(broadcast(uni.select(col("tok").as("y"), col("c").as("c_y"))), "y")
      .crossJoin(broadcast(n))
      .select(col("bigram"), col("c_xy"), col("c_x"), col("c_y"),
        round(log(col("n_tokens").cast("double") * col("c_xy") /
          (col("c_x") * col("c_y"))), 6).as("pmi"))
      .orderBy("bigram")
  }

  private val q87Sql =
    """WITH toks AS (
      |  SELECT doc_id,
      |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
      |  FROM documents),
      |uni AS (SELECT unnest(t) AS tok FROM toks),
      |uc AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY tok),
      |n AS (SELECT COUNT(*) AS n_tokens FROM uni),
      |bc AS (
      |  SELECT unnest(list_transform(range(1, len(t)),
      |           i -> t[i] || ' ' || t[i+1])) AS bigram
      |  FROM toks WHERE len(t) >= 2),
      |bg AS (SELECT bigram, COUNT(*) AS c_xy FROM bc GROUP BY bigram
      |       HAVING COUNT(*) >= 30)
      |SELECT bigram, c_xy, cx.c AS c_x, cy.c AS c_y,
      |       ROUND(ln(CAST(n_tokens AS DOUBLE) * c_xy / (cx.c * cy.c)), 6)
      |         AS pmi
      |FROM bg
      |CROSS JOIN n
      |JOIN uc cx ON string_split(bigram, ' ')[1] = cx.tok
      |JOIN uc cy ON string_split(bigram, ' ')[2] = cy.tok
      |ORDER BY bigram""".stripMargin

  // --------------------------------------------------------------- q109
  /** Unigram LM quality score: each doc's mean negative log-probability
    * under the corpus's own unigram distribution — the cheap stand-in
    * for the LM-perplexity filter (CCNet/Gopher-style) every
    * training-data pipeline runs. High nll = rare-token-heavy docs
    * (gibberish, boilerplate codes); low = stopword soup.
    *
    * One explode pass feeds BOTH the vocab build and the scoring join:
    * vocab is a (term, count) aggregate — sublinear in the corpus
    * (Heaps' law) — broadcast back onto the token stream, then one
    * per-doc aggregate. Two compact-key shuffles total; the corpus
    * text itself never shuffles. At a scale where the full vocab
    * outgrows broadcast, frequency-floor it (rare terms get a floor
    * probability) or fall back to a shuffle join on term.
    */
  private def q109(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(T.tokens(col("text"))).as("term"))
    // vocab feeds TWO consumers (the scalar total and the scoring
    // broadcast): materialize the vocabulary-sized aggregate once or
    // the corpus-wide explode+count pipeline re-executes per consumer
    // (cf. q87's uni — same fix, measured there).
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val total = vocab.agg(sum(col("cnt")).as("total"))
    toks.join(broadcast(vocab), "term")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(-log(col("cnt").cast("double") / col("total").cast("double"))), 4)
          .as("nll"))
      .orderBy("doc_id")
  }

  private val q109Sql =
    """WITH terms AS (
      |  SELECT doc_id,
      |         unnest(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS term
      |  FROM documents),
      |vocab AS (SELECT term, COUNT(*) AS cnt FROM terms GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM vocab)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |       ROUND(AVG(-ln(CAST(cnt AS DOUBLE) / total)), 4) AS nll
      |FROM terms JOIN vocab USING (term), tot
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q113
  /** Pattern-span EXTRACTION: every match of each pattern as its own
    * row with a stable (doc, kind, ordinal) key — what a scrubber
    * consumes to replace/audit individual spans (q64 only counts).
    * Row-local `regexp_extract_all` + posexplode: scan-bound, the
    * exchange carries only matched spans. Patterns are unambiguous
    * letter-run regexes (identical leftmost-greedy semantics in every
    * engine, same parity class q64 proved for email/url/digit runs).
    */
  private val Patterns = Seq(
    "long_word" -> "[a-z]{7,}",
    "vowel_run" -> "[aeiou]{2,}")

  private def q113(s: SparkSession, dir: String): DataFrame = {
    // ONE scan, ONE normalization pass, every pattern extracted in the
    // same projection (r16, guide §1.2/§2.5): the per-pattern unionAll
    // re-scanned the corpus and re-ran the 3-regex normText chain per
    // branch, and the documents table ships as a single small file —
    // ≤4 scan splits — so the regex work ran near-serial (measured
    // 2.5 CPU-s on 4 tasks, 3.7 s wall at sf0.1). The narrow-scan
    // repartition spreads the regex stage across the session's cores;
    // at cluster scale a real corpus scan is already thousands of
    // splits and the branch never fires (cf. DedupQueries.fanOut).
    val t0 = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val target = s.sparkContext.defaultParallelism
    val t = (if (t0.rdd.getNumPartitions < target) t0.repartition(target)
             else t0)
      .select(col("doc_id"), T.normText(col("text")).as("t"))
    t.select(col("doc_id"),
        explode(array(Patterns.map { case (kind, re) =>
          struct(lit(kind).as("kind"),
            regexp_extract_all(col("t"), lit(re), lit(0)).as("l"))
        }: _*)).as("e"))
      .select(col("doc_id"), col("e.kind").as("kind"),
        posexplode(col("e.l")).as(Seq("match_idx", "matched")))
      .orderBy("doc_id", "kind", "match_idx")
  }

  private val q113Sql = {
    val branches = Patterns.map { case (kind, re) =>
      s"  SELECT doc_id, '$kind' AS kind, regexp_extract_all(t, '$re') AS l FROM t"
    }.mkString("\n  UNION ALL\n")
    s"""WITH t AS (
       |  SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t
       |  FROM documents),
       |ex AS (
       |$branches)
       |SELECT doc_id, kind,
       |       CAST(generate_subscripts(l, 1) - 1 AS INT) AS match_idx,
       |       unnest(l) AS matched
       |FROM ex WHERE len(l) > 0
       |ORDER BY doc_id, kind, match_idx""".stripMargin
  }

  // --------------------------------------------------------------- q123
  /** Inverted index build: token → sorted posting list + document
    * frequency. One explode of per-doc DISTINCT tokens (so a token
    * counts once per doc), one shuffle keyed by token. Scale notes:
    * posting lists are the classic skew surface — head tokens
    * ("the") collect a posting per document. At 100 TB you cap or
    * tier them (store df + top-k postings for head terms, full lists
    * for the tail); the df computation itself is skew-safe (partial
    * counts map-side). Postings ship as JSON (array result columns
    * crash the driver comparator).
    */
  private def q123(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(array_distinct(T.tokens(col("text")))).as("token"))
      .filter(length(col("token")) >= 3)
      .groupBy("token")
      .agg(count(lit(1)).as("df"),
        to_json(sort_array(collect_set(col("doc_id")))).as("postings"))
      .filter(col("df") >= 2)
      .orderBy("token")

  private val q123Sql =
    """WITH pairs AS (
      |  SELECT DISTINCT doc_id,
      |         unnest(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS token
      |  FROM documents)
      |SELECT token, COUNT(*) AS df,
      |       CAST(to_json(list(doc_id ORDER BY doc_id)) AS VARCHAR) AS postings
      |FROM pairs WHERE LENGTH(token) >= 3
      |GROUP BY token HAVING COUNT(*) >= 2 ORDER BY token""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q30_text_quality", q30, Some(q30Sql)),
    Query("q31_tokens", q31, Some(q31Sql)),
    Query("q32_langid", q32, Some(q32Sql)),
    Query("q33_fingerprint", q33, Some(q33Sql)),
    Query("q56_explode", q56, Some(q56Sql)),
    Query("q61_corpus_stats", q61, Some(q61Sql)),
    Query("q63_repetition", q63, Some(q63Sql)),
    Query("q64_pattern_scan", q64, Some(q64Sql)),
    Query("q65_seq_packing", q65, Some(q65Sql)),
    Query("q71_pii_redact", q71, Some(q71Sql)),
    Query("q74_tfidf", q74, Some(q74Sql)),
    Query("q78_length_bucket", q78, Some(q78Sql)),
    Query("q81_chunking", q81, Some(q81Sql)),
    Query("q87_collocations", q87, Some(q87Sql)),
    Query("q109_unigram_logprob", q109, Some(q109Sql)),
    Query("q113_pattern_extract", q113, Some(q113Sql)),
    Query("q123_inverted_index", q123, Some(q123Sql)))
}
