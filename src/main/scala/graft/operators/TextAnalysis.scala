package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the training-data pipeline: normalization,
  * tokenization, word-n-gram shingling, language-ID, quality scoring and
  * content fingerprinting over the `documents` table.
  *
  * Everything is built from codegen'd `org.apache.spark.sql.functions`
  * (no UDFs): per-row string work stays inside whole-stage codegen and
  * the only shuffles are the explicit `groupBy(doc_id)` aggregations —
  * at 100 TB each of these operators is a single map-side pass plus (for
  * the shingle aggregates) one shuffle keyed on doc_id.
  *
  * The reference has no text surface at all (`SURVEY.md §2.6`); these are
  * the north-star extensions (`SURVEY.md §7.2 M5`).
  */
object TextAnalysis {

  /** Canonical normalization used by every text operator (and mirrored in
    * every oracle SQL): lowercase, trim, collapse whitespace runs to one
    * space. Normalizing before hashing/shingling is what makes dedup
    * robust to formatting noise. */
  def norm(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Whitespace tokens of the normalized text. */
  def tokens(text: Column): Column = split(norm(text), " ")

  /** Same tokens as [[tokens]] in ONE regex pass: extracting the
    * non-whitespace runs of the lowercased text yields exactly the
    * tokens of the whitespace-collapsed [[norm]] form without
    * materializing it (a split-on-`\s+` formulation would instead emit
    * phantom empty tokens for leading tabs/newlines, which `trim` does
    * not strip). Sole difference: an empty/all-whitespace document
    * yields `[]` here vs `[""]` from [[tokens]] — indistinguishable to
    * every shingle consumer (both produce zero shingles). Use on paths
    * that never need the normalized string itself; the shingle explode
    * scans every document body, and the saved regexp_replace pass is
    * measurable. */
  def tokensFast(text: Column): Column =
    regexp_extract_all(lower(text), lit("\\S+"), lit(0))

  /** Word n-gram shingles of a token array (space-joined), empty if the
    * document has fewer than n tokens. */
  def shingleArray(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
      .otherwise(array())

  /** Per-shingle 64-bit hashes WITHOUT materializing shingle strings: the
    * n tokens of each n-gram chain through one xxhash64 state inside the
    * fused native [[graft.functions.NgramXxHash64]] expression (a
    * composed transform/element_at form would be a CodegenFallback HOF
    * and eject the whole projection from codegen). The values differ
    * from `xxhash64(concat_ws(...))` but are equally uniform — only
    * signature internals consume them, never an oracle-visible result.
    * Fewer than n tokens yields an empty array. */
  def shingleHashArray(toks: Column, n: Int): Column =
    graft.functions.NgramXxHash64.ngram_xxhash64(toks, n)

  /** Raw (doc_id, shingle) explode — duplicates included, NO shuffle.
    * Feed this to duplicate-idempotent consumers (MinHash `min`
    * aggregates) so they skip the distinct's full-corpus shuffle. */
  def shinglesRaw(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"), explode(shingleArray(tokensFast(col("text")), n)).as("shingle"))

  /** Distinct (doc_id, shingle) pairs for a documents frame — the shared
    * input of n-gram-Jaccard verification and fingerprinting. One
    * explode, one distinct (shuffle on doc+shingle). */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    shinglesRaw(docs, n).distinct()

  // ---- language identification (stopword-profile heuristic) ----

  /** Tiny per-language stopword profiles (public knowledge; the classic
    * n-gram/stopword-profile approach of Cavnar & Trenkle 1994 reduced to
    * function-word hit rates, which SQL can express on both engines). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "des", "que", "est"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "nicht", "mit", "von"),
    "es" -> Seq("el", "los", "las", "de", "y", "un", "una", "que", "es", "en"))

  /** Count of tokens hitting language `l`'s stopword profile. */
  def stopwordHits(toks: Column, l: String): Column =
    size(filter(toks, t => array_contains(typedLit(stopwords(l)), t)))

  /** CJK characters in the normalized text (zh detection needs chars, not
    * words — Chinese doesn't whitespace-tokenize). */
  def cjkChars(n: Column): Column =
    length(n) - length(regexp_replace(n, "[\\x{4e00}-\\x{9fff}]", ""))

  // ---- queries ----

  import graft.Query
  import graft.sources.Tables

  /** Language-ID + quality scoring frame shared by q15 and the q34
    * curation pipeline: (doc_id, lang_label, pred_lang, len_score,
    * stop_score, punct_ratio, quality, n_tokens). */
  def langQuality(docsIn: DataFrame): DataFrame = {
    val n = norm(col("text"))
    val t = tokens(col("text"))
    langQualityNormed(docsIn
      .select(col("doc_id"), col("lang").as("lang_label"), n.as("n"), t.as("t")))
  }

  /** As [[langQuality]], but over an already-normalized frame
    * `(doc_id, lang_label, n, t)` — so a pipeline that persists one
    * normalization pass (q34) can score without re-deriving it. */
  def langQualityNormed(docsIn: DataFrame): DataFrame = {
    val docs = docsIn
      .select(
        col("doc_id"), col("lang_label"),
        size(col("t")).as("n_tokens"),
        stopwordHits(col("t"), "en").as("h_en"),
        stopwordHits(col("t"), "fr").as("h_fr"),
        stopwordHits(col("t"), "de").as("h_de"),
        stopwordHits(col("t"), "es").as("h_es"),
        // zero-length (empty/whitespace) docs: Spark's non-ANSI divide
        // yields NULL here, and the oracle divides by NULLIF(length, 0)
        // so DuckDB yields NULL too (its default IEEE ops would give
        // NaN/inf and hash-mismatch) — the doc then fails every >=
        // admission filter identically in both engines
        (cjkChars(col("n")).cast("double") / length(col("n")).cast("double")).as("cjk_ratio"),
        ((length(col("n")) - length(regexp_replace(col("n"), "[!-/:-@\\[-`{-~]", "")))
          .cast("double") / length(col("n")).cast("double")).as("punct_ratio"))
    docs.select(
      col("doc_id"), col("lang_label"), col("n_tokens"),
      // deterministic argmax with fixed tie-break order en>de>es>fr
      when(col("cjk_ratio") > 0.3, "zh")
        .when(col("h_en") >= col("h_de") && col("h_en") >= col("h_es") && col("h_en") >= col("h_fr"), "en")
        .when(col("h_de") >= col("h_es") && col("h_de") >= col("h_fr"), "de")
        .when(col("h_es") >= col("h_fr"), "es")
        .otherwise("fr").as("pred_lang"),
      least(col("n_tokens").cast("double") / lit(100.0), lit(1.0)).as("len_score"),
      least((col("h_en") + col("h_fr") + col("h_de") + col("h_es")).cast("double")
        * lit(4.0) / col("n_tokens").cast("double"), lit(1.0)).as("stop_score"),
      col("punct_ratio"))
      .withColumn("quality",
        (col("len_score") + col("stop_score") + (lit(1.0) - col("punct_ratio"))) / lit(3.0))
  }

  /** Blocklist terms for q129 — a stand-in for the LDNOOBW-style unsafe
    * word lists every web-corpus pipeline applies before training; on
    * the synthetic vocabulary the "unwanted" terms are arbitrary but
    * the machinery is the production one. */
  val blocklist: Seq[String] = Seq("slow", "dup", "big")

  /** Per-document blocklist hit count as ONE codegen'd regex pass: the
    * term list compiles into a boundary-anchored alternation evaluated
    * by `regexp_extract_all` over the space-padded normalized text — no
    * token explode, no shuffle, no HOF (`filter`/`aggregate` lambdas
    * are CodegenFallback and would eject the projection from
    * whole-stage codegen). The lookarounds don't consume the separator,
    * so adjacent hits ("slow slow") both count. For lists too large to
    * compile into one automaton (≳10⁴ terms) the scalable alternative
    * is token explode + broadcast-hash join + doc-keyed count (one
    * shuffle); at list sizes that fit a regex the fused map-only pass
    * wins on every axis. */
  def blocklistHits(text: Column, terms: Seq[String]): Column = {
    val pat = terms.map(java.util.regex.Pattern.quote)
      .mkString("(?<= )(?:", "|", ")(?= )")
    size(regexp_extract_all(
      concat(lit(" "), norm(text), lit(" ")), lit(pat), lit(0)))
  }

  /** Dictionary for the q131 hit profile — a 12-term subset of the
    * corpus vocabulary standing in for a production safety/PII/topic
    * term list; the machinery (one Aho–Corasick automaton matching all
    * terms simultaneously) is what changes at 10⁴+ terms, not the
    * semantics. */
  val dictionary: Seq[String] = Seq("scan", "join", "merge", "filter",
    "window", "hash", "stream", "vector", "slow", "fast", "dup", "customer")

  /** Token-boundary dictionary hit profile via the native Aho–Corasick
    * expression ([[graft.functions.MultiMatchStats]]): pad the
    * normalized text and every term with the separator, so term
    * boundaries anchor exactly like [[blocklistHits]]'s lookarounds
    * (adjacent hits share the separator and both count). One codegen'd
    * map pass, O(text + hits) regardless of dictionary size — the
    * ≳10⁴-term path blocklistHits' design names. */
  def dictHitStats(text: Column, terms: Seq[String]): Column =
    graft.functions.MultiMatchStats.multi_match_stats(
      concat(lit(" "), norm(text), lit(" ")), terms.map(t => s" $t "))

  /** True when `text` contains no code point above U+00FF — the
    * precondition for even attempting a mojibake repair: a char outside
    * Latin-1 cannot have come from reading bytes through ISO-8859-1,
    * and (since Spark 4's strict charset mode) `encode(_, 'ISO-8859-1')`
    * on such a char raises rather than substituting '?'. Every consumer
    * evaluates the encode only under this guard. */
  def mojibakeCandidate(text: Column): Column =
    !text.rlike("[^\\x00-\\xff]")

  /** ftfy-shaped mojibake detection: text is flagged iff it looks like
    * UTF-8 bytes that were mis-decoded as Latin-1 — all chars ≤ U+00FF,
    * the Latin-1 re-encoding is VALID UTF-8 (`is_valid_utf8`, so the
    * repair can't manufacture replacement chars), the round trip
    * actually changes the text, and it strictly shortens it (every
    * repaired char collapses ≥2 mojibake chars — rejecting legitimate
    * Latin-1 prose like "héllo", whose re-encoding is invalid UTF-8
    * anyway). Pure built-in expressions, short-circuit-guarded so the
    * UTF-8 decode only ever runs on validated bytes; map-only. */
  def mojibakeIsBroken(text: Column): Column = {
    val latin = encode(text, "ISO-8859-1")
    val fixed = decode(latin, "UTF-8")
    when(mojibakeCandidate(text),
      is_valid_utf8(latin) && fixed =!= text && length(fixed) < length(text))
      .otherwise(lit(false))
  }

  /** The repaired text when [[mojibakeIsBroken]], the original
    * otherwise — conditional evaluation keeps the decode off the
    * non-mojibake rows. */
  def mojibakeFix(text: Column): Column =
    when(mojibakeIsBroken(text), decode(encode(text, "ISO-8859-1"), "UTF-8"))
      .otherwise(text)

  /** Stage a mojibake-corrupted copy of documents for q130: plant
    * non-ASCII deterministically (the all-ASCII synthetic corpus gets
    * accented token variants — mirrored verbatim in the oracle), then
    * re-read every text through the classic ingest failure: its UTF-8
    * bytes interpreted as Latin-1 ("fâst" → "fÃ¢st"). The corruption is
    * total and lossless (every byte has a Latin-1 char), so repair ∘
    * corrupt == identity — which is exactly what the oracle checks
    * against the UNCORRUPTED originals. Content-keyed write-once. */
  /** The q130 fixture transform in one expression: plant accented token
    * variants (the all-ASCII corpus needs non-ASCII to corrupt), then
    * mis-decode the UTF-8 bytes as Latin-1 — total and lossless, so
    * repair ∘ corrupt == identity. Shared by the staged fixture and the
    * stress suite's compute-form row. */
  def mojibakeCorruptPlanted(text: Column): Column =
    decode(
      encode(replace(replace(text, lit("fast"), lit("fâst")),
        lit("slow"), lit("slöw")), "UTF-8"),
      "ISO-8859-1")

  def mojibakeDocuments(spark: SparkSession, dir: String): String = synchronized {
    Staging.stage(spark, Staging.Key("mojibake/documents", Seq(s"$dir/documents.parquet"))) { tmp =>
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("source"),
          mojibakeCorruptPlanted(col("text")).as("text"))
        .repartition(4)
        .write.mode("overwrite").parquet(tmp)
    }
  }

  val queries: Seq[Query] = Seq(

    Query(
      "q14_text_stats",
      "Per-document token statistics: token count, normalized length, distinct " +
        "tokens, mean token length. Pure map-side except one doc-keyed aggregate; " +
        "the parquet scan reads only (doc_id, text).",
      (s, dir) => {
        val t = tokens(col("text"))
        val n = norm(col("text"))
        Tables.documents(s, dir)
          .select(
            col("doc_id"),
            size(t).as("n_tokens"),
            length(n).as("n_chars"),
            size(array_distinct(t)).as("n_distinct"),
            // norm is single-space separated, so Σ|token| = len - (count-1)
            ((length(n) - size(t) + 1).cast("double") / size(t).cast("double")).as("avg_tok_len"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(len(ws) AS INT) AS n_tokens,
               CAST(length(n) AS INT) AS n_chars,
               CAST(len(list_distinct(ws)) AS INT) AS n_distinct,
               CAST(length(n) - len(ws) + 1 AS DOUBLE) / CAST(len(ws) AS DOUBLE) AS avg_tok_len
        FROM (
          SELECT doc_id, n, string_split(n, ' ') AS ws
          FROM (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS n
                FROM documents))
        ORDER BY doc_id""")),

    Query(
      "q15_lang_quality",
      "Language-ID (stopword-profile + CJK-ratio heuristic) and quality scoring " +
        "(length / stopword-density / punctuation components) per document — " +
        "the standard pre-training corpus filters, one codegen'd map pass.",
      (s, dir) =>
        langQuality(Tables.documents(s, dir))
          .select("doc_id", "lang_label", "pred_lang", "len_score",
            "stop_score", "punct_ratio", "quality")
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id, lang_label,
               CASE WHEN cjk_ratio > 0.3 THEN 'zh'
                    WHEN h_en >= h_de AND h_en >= h_es AND h_en >= h_fr THEN 'en'
                    WHEN h_de >= h_es AND h_de >= h_fr THEN 'de'
                    WHEN h_es >= h_fr THEN 'es'
                    ELSE 'fr' END AS pred_lang,
               least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) AS len_score,
               least(CAST(h_en + h_fr + h_de + h_es AS DOUBLE) * 4.0 / CAST(n_tokens AS DOUBLE), 1.0) AS stop_score,
               punct_ratio,
               (least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                + least(CAST(h_en + h_fr + h_de + h_es AS DOUBLE) * 4.0 / CAST(n_tokens AS DOUBLE), 1.0)
                + (1.0 - punct_ratio)) / 3.0 AS quality
        FROM (
          SELECT doc_id, lang AS lang_label,
                 len(ws) AS n_tokens,
                 len(list_filter(ws, t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS h_en,
                 len(list_filter(ws, t -> list_contains(['le','la','les','de','et','un','une','des','que','est'], t))) AS h_fr,
                 len(list_filter(ws, t -> list_contains(['der','die','das','und','ist','ein','eine','nicht','mit','von'], t))) AS h_de,
                 len(list_filter(ws, t -> list_contains(['el','los','las','de','y','un','una','que','es','en'], t))) AS h_es,
                 CAST(length(n) - length(regexp_replace(n, '[\x{4e00}-\x{9fff}]', '', 'g')) AS DOUBLE) / CAST(NULLIF(length(n), 0) AS DOUBLE) AS cjk_ratio,
                 CAST(length(n) - length(regexp_replace(n, '[!-/:-@[-`{-~]', '', 'g')) AS DOUBLE) / CAST(NULLIF(length(n), 0) AS DOUBLE) AS punct_ratio
          FROM (
            SELECT doc_id, lang, n, string_split(n, ' ') AS ws
            FROM (SELECT doc_id, lang, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS n
                  FROM documents)))
        ORDER BY doc_id""")),

    Query(
      "q25_bpe_tokens",
      "BPE-style subword token counting: a GPT-2-shaped pretokenizer regex " +
        "(contractions | letter runs | digit runs | punctuation runs, leading " +
        "space attached) — the standard what-will-this-cost estimator for LLM " +
        "corpora. Lookahead-free so Java regex and RE2 agree; pure map pass.",
      (s, dir) => {
        val n = norm(col("text"))
        val pat = "'(s|t|re|ve|m|ll|d)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+"
        Tables.documents(s, dir)
          .select(
            col("doc_id"),
            size(regexp_extract_all(n, lit(pat), lit(0))).as("n_bpe_tokens"),
            size(split(n, " ")).as("n_ws_tokens"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(len(regexp_extract_all(n, '''(s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+')) AS INT) AS n_bpe_tokens,
               CAST(len(string_split(n, ' ')) AS INT) AS n_ws_tokens
        FROM (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS n
              FROM documents)
        ORDER BY doc_id""")),

    Query(
      "q18_fingerprint",
      "Document fingerprinting: bottom-k sketch of the shingle set (k smallest " +
        "md5(shingle) digests, concatenated) — a compact, mergeable content " +
        "signature; two docs share a fingerprint prefix iff their shingle sets " +
        "overlap heavily. Computed per ROW by the fused native " +
        "BottomKNgramMd5 expression (no explode, no doc-keyed aggregate, no " +
        "shuffle before the final order, and — unlike the composed " +
        "transform+array_sort+slice form, whose CodegenFallback HOFs ejected " +
        "the whole projection from codegen — one whole-stage-codegen'd pass).",
      (s, dir) => {
        // ONE tokenization, NO admission filter: the expression reports
        // ("", 0) for sub-n docs and the oracle left-joins to emit the
        // same degenerate row, so no predicate has to re-run the
        // full-document regex. (A struct-field filter above the project
        // does not survive Catalyst: column pruning + pushdown rewrite
        // it back into a SECOND bottomk_ngram_md5 evaluation in the
        // Filter, and operator-level subexpression elimination does not
        // span Filter/Project — measured as 2x the per-row cost.)
        Tables.rebalanced(Tables.documents(s, dir))
          .select(col("doc_id"),
            graft.functions.BottomKNgramMd5
              .bottomk_ngram_md5(tokensFast(col("text")), 3, 4).as("fp"))
          .select(col("doc_id"), col("fp.fingerprint").as("fingerprint"),
            col("fp.n_shingles").as("n_shingles"))
          .orderBy("doc_id")
      },
      Some("""
        WITH fp AS (
          SELECT doc_id,
                 array_to_string(list_sort(list(DISTINCT md5(s)))[1:4], ',') AS fingerprint,
                 COUNT(DISTINCT s) AS n_shingles
          FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
                                                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
            FROM (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws
                  FROM documents))
          GROUP BY doc_id)
        SELECT d.doc_id,
               COALESCE(f.fingerprint, '') AS fingerprint,
               CAST(COALESCE(f.n_shingles, 0) AS BIGINT) AS n_shingles
        FROM documents d LEFT JOIN fp f USING (doc_id)
        ORDER BY doc_id""")),

    Query(
      "q37_pii_scrub",
      "PII scrubbing: regex redaction of emails then phone numbers, per-doc " +
        "redaction counts, and a SHA-256 over the scrubbed text proving the " +
        "rewrite is byte-identical across engines. The synthetic corpus " +
        "carries no natural PII, so a deterministic contact line is appended " +
        "first (same expression in the oracle). Patterns are lookahead-free " +
        "so Java regex and RE2 agree; counts are split-based (DuckDB has no " +
        "regexp_count; both engines keep trailing empty splits). Pure map " +
        "pass — the redaction path of every pre-training privacy filter.",
      (s, dir) => {
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phoneRe = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"
        val withPii = concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com or +1 555 010"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
        val noEmail = regexp_replace(withPii, emailRe, "[EMAIL]")
        val scrubbed = regexp_replace(noEmail, phoneRe, "[PHONE]")
        Tables.documents(s, dir)
          .select(
            col("doc_id"),
            (size(split(withPii, emailRe)) - 1).as("n_emails"),
            (size(split(noEmail, phoneRe)) - 1).as("n_phones"),
            sha2(scrubbed, 256).as("scrub_hash"))
          .orderBy("doc_id")
      },
      Some("""
        WITH pii AS (
          SELECT doc_id,
                 concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                        '@example.com or +1 555 010',
                        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS t
          FROM documents
        ), ne AS (
          SELECT doc_id, t,
                 regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t2
          FROM pii)
        SELECT doc_id,
               CAST(len(string_split_regex(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) - 1 AS INT) AS n_emails,
               CAST(len(string_split_regex(t2, '\+?[0-9][0-9()\- ]{6,}[0-9]')) - 1 AS INT) AS n_phones,
               sha256(regexp_replace(t2, '\+?[0-9][0-9()\- ]{6,}[0-9]', '[PHONE]', 'g')) AS scrub_hash
        FROM ne
        ORDER BY doc_id""")),

    Query(
      "q38_repetition",
      "Repetition / boilerplate scoring (the Gopher-family quality signals): " +
        "duplicate-token fraction (1 - distinct/total) and top-2-gram " +
        "concentration (most frequent bigram count / total bigrams) per " +
        "document, computed per ROW by the fused native RepetitionStats " +
        "expression — token set + bigram-hash frequency map with a running " +
        "max in one codegen'd pass, instead of a corpus-scale bigram explode " +
        "feeding two doc-keyed shuffles. Map-only at any scale; ratios are " +
        "exact-integer double divisions, bit-identical across engines.",
      (s, dir) => {
        // ONE tokenization, NO admission filter (same reasoning as q18:
        // a struct-field filter gets rewritten into a second full
        // expression evaluation). Split-based tokens, not tokensFast, so
        // the degenerate empty doc counts ONE token ([""]) exactly like
        // the oracle's string_split; zero-bigram docs emit a NULL
        // top_bigram_ratio in both engines (Spark's non-ANSI 0/0 divide
        // is NULL, the oracle's left join feeds NULL into the division).
        Tables.rebalanced(Tables.documents(s, dir))
          .select(col("doc_id"),
            graft.functions.RepetitionStats
              .repetition_stats(tokens(col("text"))).as("r"))
          .select(
            col("doc_id"),
            (lit(1.0) - col("r.n_distinct").cast("double") / col("r.n_tokens").cast("double"))
              .as("dup_token_ratio"),
            (col("r.top_bigram").cast("double") / col("r.tot_bigrams").cast("double"))
              .as("top_bigram_ratio"),
            col("r.n_tokens").cast("int").as("n_tokens"))
          .orderBy("doc_id")
      },
      Some("""
        WITH ws AS (
          SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
          FROM documents
        ), gc AS (
          SELECT doc_id, g, COUNT(*) AS c
          FROM (SELECT doc_id, unnest(list_transform(range(1, len(w)),
                                      i -> w[i] || ' ' || w[i+1])) AS g
                FROM ws)
          GROUP BY doc_id, g
        ), gt AS (
          SELECT doc_id, MAX(c) AS top, SUM(c) AS tot FROM gc GROUP BY doc_id
        )
        SELECT ws.doc_id,
               1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS dup_token_ratio,
               CAST(top AS DOUBLE) / CAST(tot AS DOUBLE) AS top_bigram_ratio,
               CAST(len(w) AS INT) AS n_tokens
        FROM ws LEFT JOIN gt ON ws.doc_id = gt.doc_id
        ORDER BY ws.doc_id""")),

    Query(
      "q107_compress_ratio",
      "DEFLATE-compressibility quality signal (the tokenizer-free " +
        "boilerplate/garble cut web-corpus pipelines apply from both " +
        "ends: template text compresses far below prose, random salad " +
        "refuses to compress): per document the UTF-8 byte length and " +
        "the raw-DEFLATE length from the native deflate_stats " +
        "expression — one fused map-only pass inside whole-stage " +
        "codegen, a per-thread reused native Deflater, no shuffle " +
        "beyond the presentation sort. Integer columns only; no DuckDB " +
        "deflate exists, so the entry is design-gated in ScalaTest " +
        "(interpreted==codegen parity, a java.util.zip reference " +
        "differential, and the repetitive<prose<random ordering).",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"),
            graft.functions.DeflateStats.deflate_stats(col("text")).as("ds"))
          .select(col("doc_id"), col("ds.n_bytes").as("n_bytes"),
            col("ds.n_deflate").as("n_deflate"))
          .orderBy("doc_id"))
    ,
    Query(
      "q129_blocklist_filter",
      "Term-blocklist safety filter (the LDNOOBW-shaped cut every " +
        "web-corpus pipeline applies): per document the token count, " +
        "blocked-term occurrence count and blocked density, plus the " +
        "keep decision at a 12% density threshold. The list compiles " +
        "into ONE boundary-anchored alternation regex evaluated inside " +
        "whole-stage codegen (blocklistHits) — no token explode, no " +
        "shuffle, no CodegenFallback HOF; a corpus-scale pass is " +
        "map-only plus the presentation sort. Oracle: DuckDB " +
        "list_filter over the same whitespace tokens.",
      (s, dir) => {
        val hits = blocklistHits(col("text"), blocklist)
        val nTok = size(tokens(col("text")))
        Tables.rebalanced(Tables.documents(s, dir))
          .select(col("doc_id"),
            nTok.cast("int").as("n_tokens"),
            hits.cast("int").as("n_blocked"),
            (hits.cast("double") / nTok.cast("double")).as("blocked_ratio"))
          .withColumn("keep", col("blocked_ratio") <= lit(0.12))
          .orderBy("doc_id")
      },
      Some("""
        WITH ws AS (
          SELECT doc_id,
                 string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
          FROM documents)
        SELECT doc_id,
               CAST(len(w) AS INT) AS n_tokens,
               CAST(len(list_filter(w, x -> x IN ('slow', 'dup', 'big'))) AS INT) AS n_blocked,
               CAST(len(list_filter(w, x -> x IN ('slow', 'dup', 'big'))) AS DOUBLE)
                 / CAST(len(w) AS DOUBLE) AS blocked_ratio,
               CAST(len(list_filter(w, x -> x IN ('slow', 'dup', 'big'))) AS DOUBLE)
                 / CAST(len(w) AS DOUBLE) <= 0.12 AS keep
        FROM ws
        ORDER BY doc_id"""))
    ,
    Query(
      "q130_mojibake_repair",
      "Mojibake detection + repair (the ftfy-shaped encoding fixer run " +
        "over every web crawl): the staged fixture plants accented " +
        "tokens then corrupts each text through the classic failure — " +
        "UTF-8 bytes mis-decoded as Latin-1 ('fâst' → 'fÃ¢st') — and " +
        "the entry detects (all chars ≤ U+00FF, Latin-1 re-encoding is " +
        "valid UTF-8, round trip shrinks the text) and repairs with " +
        "pure encode/decode/is_valid_utf8 expressions, no UDF, " +
        "map-only. The oracle rebuilds the PRE-corruption text in " +
        "DuckDB and compares md5 per doc: repair ∘ corrupt == identity, " +
        "and only the docs that gained non-ASCII are flagged. Unit " +
        "gates in MojibakeSpec cover CJK/emoji pass-through (the guard " +
        "that keeps strict-mode encode from raising) and legitimate " +
        "Latin-1 prose left untouched.",
      (s, dir) => {
        val bad = s.read.parquet(mojibakeDocuments(s, dir))
        bad.select(col("doc_id"),
            mojibakeIsBroken(col("text")).as("was_mojibake"),
            mojibakeFix(col("text")).as("t"))
          .select(col("doc_id"), col("was_mojibake"),
            length(col("t")).as("n_chars"),
            md5(col("t").cast("binary")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("""
        WITH e AS (
          SELECT doc_id,
                 replace(replace(text, 'fast', 'fâst'), 'slow', 'slöw') AS t
          FROM documents)
        SELECT doc_id,
               regexp_matches(t, '[^\x00-\x7F]') AS was_mojibake,
               CAST(LENGTH(t) AS INT) AS n_chars,
               md5(t) AS text_md5
        FROM e
        ORDER BY doc_id"""))
    ,
    Query(
      "q131_dict_hits",
      "Dictionary hit profile at blocklist scale: total occurrences and " +
        "distinct terms hit per document for a multi-term dictionary, " +
        "matched by a native Aho–Corasick Catalyst expression " +
        "(multi_match_stats) — ALL terms matched simultaneously in " +
        "O(text + hits) per row, independent of dictionary size, inside " +
        "whole-stage codegen; the automaton is built once per executor " +
        "(lazy transient), terms ride the expression, and a 10⁴-term " +
        "deployment changes nothing but the list (differential-gated at " +
        "that size in MultiMatchSpec vs plain-Scala counting; the regex " +
        "path q129 uses is the small-list tool, cross-checked " +
        "term-for-term). Map-only plus the presentation sort. Oracle: " +
        "DuckDB list_filter over the same whitespace tokens.",
      (s, dir) =>
        Tables.rebalanced(Tables.documents(s, dir))
          .select(col("doc_id"), dictHitStats(col("text"), dictionary).as("h"))
          .select(col("doc_id"), col("h.n_hits").as("n_hits"),
            col("h.n_terms").as("n_terms"))
          .orderBy("doc_id"),
      Some("""
        WITH ws AS (
          SELECT doc_id,
                 string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
          FROM documents)
        SELECT doc_id,
               CAST(len(list_filter(w, x -> x IN ('scan', 'join', 'merge', 'filter',
                 'window', 'hash', 'stream', 'vector', 'slow', 'fast', 'dup',
                 'customer'))) AS BIGINT) AS n_hits,
               CAST(len(list_distinct(list_filter(w, x -> x IN ('scan', 'join',
                 'merge', 'filter', 'window', 'hash', 'stream', 'vector', 'slow',
                 'fast', 'dup', 'customer')))) AS BIGINT) AS n_terms
        FROM ws
        ORDER BY doc_id"""))
  )
}
