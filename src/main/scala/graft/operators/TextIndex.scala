package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Query
import graft.sources.Tables

/** Inverted-index text retrieval — the lookup side of a corpus: given
  * keyword terms, find the documents containing ALL of them, ranked by
  * combined term frequency. Curation pipelines use exactly this shape
  * for targeted audits ("show me the docs matching these boilerplate
  * markers") and for decontamination spot-checks (q39 is the bulk
  * set-intersection twin; this is the interactive per-query form).
  *
  * Shape: tokenize + explode (map-only), then the q-term `isin` filter
  * runs BEFORE any aggregation — the exchange only ever carries
  * postings for the QUERY's terms, a |terms|/|vocab| sliver of the
  * corpus token stream, combined map-side to at most one
  * (term, doc, tf) row per doc per term per task. Conjunction is a
  * doc-keyed count (terms are distinct per posting row, so matched-term
  * count needs no DISTINCT), ranking is `TakeOrdered` top-k — per-
  * partition heaps merged on the driver, k rows, never a global sort.
  *
  * On a persisted deployment the postings frame is the index: written
  * once bucketed by `term` (the q51 layout), a query's `isin` filter
  * partition-prunes to q buckets and the scan never touches the rest of
  * the vocabulary — the same write-once/read-many economics as the ANN
  * indexes (X71).
  */
object TextIndex {

  /** A stage built from `dir`'s documents table. */
  private def docsKey(name: String, dir: String): Staging.Key =
    Staging.Key(name, Seq(s"$dir/documents.parquet"))

  /** (term, doc_id, tf) postings from a (doc_id, text) corpus — the
    * inverted-index rows, one per distinct term per doc. */
  def postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"))

  /** Top-k docs containing ALL `terms`, ranked by summed term frequency
    * (ties to smallest doc_id — a total order, so top-k is
    * deterministic). The term filter precedes the postings aggregate:
    * only query-term tokens reach the exchange. */
  def conjunctiveSearch(docs: DataFrame, terms: Seq[String],
      k: Int): DataFrame = {
    require(terms.nonEmpty, "conjunctiveSearch needs at least one term")
    require(terms.distinct.size == terms.size, s"duplicate query terms: $terms")
    docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("tf").as("score"))
      .filter(col("n_terms") === terms.size)
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Top-k docs matching ANY of `terms`, ranked by BM25 (Robertson/
    * Sparck Jones; the Lucene idf form ln(1 + (N − df + 0.5)/(df + 0.5)),
    * always positive) with the standard (k1, b) length normalization —
    * the ranking q84's summed-tf ladder is the integer shadow of, and
    * the keyword side a production hybrid-retrieval stack (q85) feeds
    * from.
    *
    * Scale shape: the document length rides THROUGH the explode
    * (doc_id, dl, term), so no doc-keyed join against a corpus-sized
    * length frame exists — the only per-posting cost is one long. The
    * q-term filter still precedes the aggregate (the exchange carries
    * query-term postings only); df comes from those same candidate
    * rows (postings are distinct per (term, doc), so it is the exact
    * corpus df for each query term) via a tiny term-keyed aggregate
    * that BROADCASTS back; the corpus totals (N, Σdl) are a one-row
    * broadcast (the q46 bounds pattern) — on a persisted deployment
    * both are index metadata written at build time, so the second
    * map-only corpus pass disappears. Ranking is TakeOrdered top-k
    * (per-partition heaps, k rows to the driver), never a global sort.
    *
    * Scores are doubles through ln(), so the entry is design-gated
    * against a plain-Scala BM25 at 1e-12 (the q96 libm rule) rather
    * than DuckDB-oracled; ties break to smallest doc_id for a total
    * order. */
  def bm25Search(docs: DataFrame, terms: Seq[String], k: Int,
      k1: Double, b: Double): DataFrame = {
    require(terms.nonEmpty, "bm25Search needs at least one term")
    require(terms.distinct.size == terms.size, s"duplicate query terms: $terms")
    val toks = TextAnalysis.tokens(col("text"))
    val bounds = docs.agg(count(lit(1)).as("__n"),
      sum(size(toks).cast("long")).as("__sumdl"))
    val cand = docs
      .select(col("doc_id"), size(toks).cast("long").as("dl"),
        explode(toks).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"))
    bm25Rank(cand, bounds, terms, k, k1, b)
  }

  /** The shared BM25 ranking tail: df from the candidate rows (postings
    * are distinct per (term, doc), so it is the exact corpus df for
    * each query term) broadcast back, the one-row corpus bounds
    * broadcast in, the scoring expression, and the doc-keyed
    * TakeOrdered top-k. One function feeds both the in-flight (q108)
    * and persisted-index (q126) forms, so identical candidate rows
    * rank identically by construction.
    *
    * Per-doc summation is a FIXED-TERM-ORDER fold, not a partial-order
    * `sum`: each (term, doc) candidate is one row, so
    * `sum(when(term=t, s))` picks at most one double per term, and
    * `coalesce(_, 0.0)` added left-to-right in query-term order is
    * bit-equal to summing the present terms in that order (x + 0.0 ==
    * x in IEEE for the positive BM25 contributions). That makes the
    * double score DETERMINISTIC across partitionings and — because
    * every remaining operation (+, -, *, /) is correctly rounded —
    * reproducible from the same candidate rows by any engine, up to
    * ln() itself (the one library call; see [[rankedBm25]]). Output:
    * (doc_id, n_terms, score, tf_sum, dl). */
  private def bm25Rank(cand: DataFrame, bounds: DataFrame,
      terms: Seq[String], k: Int, k1: Double, b: Double): DataFrame = {
    val df = cand.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = cand
      .join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(bounds))
      .select(col("doc_id"), col("term"), col("tf"), col("dl"),
        (log(lit(1.0) +
          (col("__n").cast("double") - col("df").cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5))) *
          (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl").cast("double") * col("__n").cast("double") /
              col("__sumdl").cast("double")))).as("s"))
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === lit(t), col("s"))).as(s"__s$i")
    }
    val aggs = Seq(count(lit(1)).as("n_terms"), sum("tf").as("tf_sum"),
      max("dl").as("dl")) ++ perTerm
    scored.groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("score",
        terms.indices.map(i => coalesce(col(s"__s$i"), lit(0.0)))
          .reduce(_ + _))
      .select("doc_id", "n_terms", "score", "tf_sum", "dl")
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** The catalog emit of a BM25 ranking: RANK + the integer statistics
    * only — the driver-hashable face of the family (round-15 verdict
    * item 7). The double score orders the rows in both engines but is
    * DROPPED from the output: idf rides ln(), whose last bit may
    * differ between libm implementations, so hashing the doubles would
    * be engine-unstable — while the rank ORDER is stable because every
    * non-ln operation is correctly rounded, the per-doc fold order is
    * pinned ([[bm25Rank]]), and docs with identical (per-term tf, dl)
    * stats score bit-identically WITHIN each engine and tie-break on
    * doc_id. A rank flip would need two structurally different stat
    * vectors within ~1 ulp of each other — checked empirically across
    * the test tiers. Output: (doc_id, rank, n_terms, tf_sum, dl). */
  private def rankedBm25(ranked: DataFrame): DataFrame =
    ranked.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id"))).cast("int"))
      .select("doc_id", "rank", "n_terms", "tf_sum", "dl")
      .orderBy("rank")

  /** Shortest-round-trip double literal for the SQL twins: Scala
    * computes the literal once, `Double.toString` prints the shortest
    * string that parses back to the SAME double in any correctly-
    * rounded reader (DuckDB included), and the explicit CAST keeps
    * DuckDB from typing the literal as DECIMAL. */
  private def sqlDouble(v: Double): String = s"CAST('$v' AS DOUBLE)"

  /** The BM25 ranking tail as ANSI SQL over a candidate CTE `cand`
    * (term, doc_id, dl, tf) and a one-row bounds CTE `meta` (n, sumdl
    * as DOUBLE) — the DuckDB twin of [[bm25Rank]] + [[rankedBm25]],
    * replaying the exact expression structure (same association order,
    * same fixed-term-order fold) so every double matches Spark's bit
    * for bit except ln's final ulp, which the integer-only emit makes
    * irrelevant to the hash. */
  private def bm25RankSql(terms: Seq[String], k: Int, k1: Double,
      b: Double): String = {
    val fold = terms.map(t =>
      s"COALESCE(SUM(CASE WHEN term = '$t' THEN s END), ${sqlDouble(0.0)})")
      .mkString("\n                 + ")
    s"""s AS (
          SELECT c.doc_id, c.term, c.tf, c.dl,
                 ln(${sqlDouble(1.0)} + (m.n - d.df + ${sqlDouble(0.5)})
                      / (d.df + ${sqlDouble(0.5)}))
                   * (CAST(c.tf AS DOUBLE) * ${sqlDouble(k1 + 1.0)})
                   / (CAST(c.tf AS DOUBLE) + ${sqlDouble(k1)}
                        * (${sqlDouble(1.0 - b)} + ${sqlDouble(b)}
                           * CAST(c.dl AS DOUBLE) * m.n / m.sumdl)) AS s
          FROM cand c
          JOIN (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
                FROM cand GROUP BY term) d USING (term)
          CROSS JOIN meta m),
        g AS (
          SELECT doc_id, COUNT(*) AS n_terms,
                 CAST(SUM(tf) AS BIGINT) AS tf_sum, MAX(dl) AS dl,
                 $fold AS score
          FROM s GROUP BY doc_id)
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
                 AS rank,
               n_terms, tf_sum, dl
        FROM g
        ORDER BY score DESC, doc_id
        LIMIT $k"""
  }

  // ---- persisted index deployment (q126 — the q108 scaladoc's
  //      "on a persisted deployment the second corpus pass disappears")

  /** Number of term-hash partition buckets the persisted postings are
    * laid out under. 64 keeps directory counts trivial while giving a
    * q-term query a 64× scan cut via partition pruning. */
  val TermBuckets = 64L

  /** Partition bucket of a term — CRC32 over the UTF-8 bytes, mod
    * [[TermBuckets]]. CRC32 is byte-identical between Spark's `crc32`
    * expression (build side) and `java.util.zip.CRC32` (query side,
    * driver-computed literals), which is exactly why it is the bucket
    * hash: the query never evaluates a Spark job to find its buckets. */
  def termBucket(term: Column): Column =
    pmod(crc32(encode(term, "UTF-8")), lit(TermBuckets))

  /** Driver twin of [[termBucket]] for query-time pruning literals. */
  def termBucketLocal(term: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Math.floorMod(c.getValue, TermBuckets)
  }

  /** Idempotently materialize the BM25 index for `dir`'s documents:
    * `postings/` — (term, doc_id, dl, tf), PARTITIONED BY the term's
    * CRC32 bucket so a q-term query partition-prunes to ≤q of
    * [[TermBuckets]] directories — and `meta/`, the one-row corpus
    * bounds (N, Σdl) written at build time. This is the deployment
    * shape the q108 scaladoc names: both corpus passes (postings
    * aggregate, bounds aggregate) happen ONCE at build; a query is an
    * index-sized pruned scan plus the bounded ranking tail. Committed
    * by atomic rename ([[Staging]]), content-keyed like every staged
    * artifact. */
  def bm25Index(spark: org.apache.spark.sql.SparkSession, dir: String): String = {
    Staging.stage(spark, docsKey("text/bm25", dir)) { tmp =>
      writeIndexSegment(Tables.documents(spark, dir), tmp)
    }
  }

  /** One index segment under `tmp`: `meta/` (n_docs, Σdl — one row) +
    * `postings/` partitioned by term bucket. Shared by the full build
    * and the incremental segments: postings are DOC-LOCAL aggregates
    * (each (term, doc, dl, tf) row depends on its document alone), so
    * building per segment produces exactly the rows a full build
    * produces — the property that makes append closed under
    * composition. */
  private[graft] def writeIndexSegment(docs: DataFrame, tmp: String): Unit = {
    val toks = TextAnalysis.tokens(col("text"))
    docs.agg(count(lit(1)).as("__n"),
        sum(size(toks).cast("long")).as("__sumdl"))
      .write.mode("overwrite").parquet(s"$tmp/meta")
    docs.select(col("doc_id"), size(toks).cast("long").as("dl"),
        explode(toks).as("term"))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"))
      .withColumn("tbucket", termBucket(col("term")))
      .write.mode("overwrite").partitionBy("tbucket").parquet(s"$tmp/postings")
  }

  /** Incremental BM25 index growth — the LSM shape q109 gives the
    * vector store, applied to the text index: the BASE segment (over
    * the `doc_id % 10 <> 0` slice) is built once and never rewritten;
    * the `% 10 = 0` arrivals become a DELTA segment holding only their
    * own postings and their own one-row meta. Append cost is
    * delta-sized — postings are doc-local, so no base rescan can ever
    * be needed, and the corpus bounds recompose by ADDITION (two longs)
    * rather than re-aggregation. Queries read base ∪ delta postings
    * (both bucket-pruned) and sum the two metas; df comes from the
    * unioned candidate rows, which equal the full index's rows exactly
    * — so the appended index ranks every query identically to a
    * from-scratch full build (gated in TextIndexSpec). Returns
    * (baseRoot, deltaRoot). */
  def bm25DeltaIndex(spark: org.apache.spark.sql.SparkSession, dir: String)
      : (String, String) = {
    val baseRoot = Staging.stage(spark, docsKey("text/bm25b", dir)) { tmp =>
      writeIndexSegment(
        Tables.documents(spark, dir).filter(col("doc_id") % 10 =!= 0), tmp)
    }
    val deltaRoot = Staging.stage(spark, docsKey("text/bm25d", dir)) { tmp =>
      writeIndexSegment(
        Tables.documents(spark, dir).filter(col("doc_id") % 10 === 0), tmp)
    }
    (baseRoot, deltaRoot)
  }

  /** [[bm25SearchIndexed]] over the appended (base ∪ delta) index:
    * both postings segments bucket-pruned and term-filtered, metas
    * summed (a 2-row bounded aggregate), the same ranking tail. */
  def bm25SearchAppended(spark: org.apache.spark.sql.SparkSession, dir: String,
      terms: Seq[String], k: Int, k1: Double, b: Double): DataFrame = {
    require(terms.nonEmpty, "bm25SearchAppended needs at least one term")
    require(terms.distinct.size == terms.size, s"duplicate query terms: $terms")
    val (baseRoot, deltaRoot) = bm25DeltaIndex(spark, dir)
    bm25AppendOracleRoots = Some((Staging.abs(baseRoot), Staging.abs(deltaRoot)))
    val buckets = terms.map(termBucketLocal).distinct
    def seg(root: String): DataFrame =
      spark.read.parquet(s"$root/postings")
        .filter(col("tbucket").isin(buckets: _*) && col("term").isin(terms: _*))
        .select("term", "doc_id", "dl", "tf")
    val cand = seg(baseRoot).unionByName(seg(deltaRoot))
    val bounds = spark.read.parquet(s"$baseRoot/meta")
      .unionByName(spark.read.parquet(s"$deltaRoot/meta"))
      .agg(sum("__n").cast("long").as("__n"),
        sum("__sumdl").cast("long").as("__sumdl"))
    bm25Rank(cand, bounds, terms, k, k1, b)
  }

  // ---- q166: document DELETE (tombstones) on the text index ----

  /** Idempotently stage the BM25 tombstone segment for the
    * deterministic retraction batch (`doc_id % 10 == 5`, the shared
    * delete-family victim convention): (doc_id, dl) — the id plus the
    * ONE statistic the corpus bounds need back out (document length).
    * A retraction naturally knows the document it removes, so
    * capturing dl at delete time costs nothing extra; the segment
    * stays bytes-per-retraction and the index is never rewritten. */
  def bm25TombstonesStaged(spark: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    Staging.stage(spark, docsKey("text/bm25t", dir)) { tmp =>
      val toks = TextAnalysis.tokens(col("text"))
      Tables.documents(spark, dir)
        .filter(col("doc_id") % 10 === 5)
        .select(col("doc_id"), size(toks).cast("long").as("dl"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/ids")
    }
  }

  /** BM25 search UNDER the logical delete — the text-index member of
    * the delete family (q163 IVF / q164 graph / q167 PQ), and the one
    * where delete must touch the RANKING STATISTICS, not just the
    * candidate set: BM25's idf rides N and its length normalization
    * rides avgdl = Σdl/N, so a delete that only masked postings would
    * keep scoring against phantom corpus statistics. Here the probe
    * (1) anti-joins the tombstone segment out of the bucket-pruned
    * postings (broadcast — candidates shrink), (2) recomposes the
    * bounds by SUBTRACTION from the stored meta and the tombstones'
    * own (count, Σdl) — two longs, never a corpus rescan — and (3)
    * lets df fall out of the surviving candidate rows, which equal a
    * survivor-only rebuild's rows exactly (postings are doc-local).
    * The deleted-index query therefore ranks EVERY query identically
    * to a from-scratch rebuild over the surviving corpus (gated in
    * TextIndexSpec at 1e-12, the q96 libm rule), while paying only
    * the tombstone anti-join. */
  def bm25SearchDeleted(spark: org.apache.spark.sql.SparkSession,
      dir: String, terms: Seq[String], k: Int, k1: Double,
      b: Double): DataFrame = {
    require(terms.nonEmpty, "bm25SearchDeleted needs at least one term")
    require(terms.distinct.size == terms.size, s"duplicate query terms: $terms")
    val idx = bm25Index(spark, dir)
    val tsRoot = bm25TombstonesStaged(spark, dir)
    bm25DeleteOracleRoots = Some((Staging.abs(idx), Staging.abs(tsRoot)))
    val ts = spark.read.parquet(s"$tsRoot/ids")
    val buckets = terms.map(termBucketLocal).distinct
    val cand = spark.read.parquet(s"$idx/postings")
      .filter(col("tbucket").isin(buckets: _*) && col("term").isin(terms: _*))
      .select("term", "doc_id", "dl", "tf")
      .join(broadcast(ts.select("doc_id")), Seq("doc_id"), "left_anti")
    // bounds by subtraction: stored meta minus the tombstones' own
    // (count, Σdl) — a 1-row and a tombstone-sized aggregate, never a
    // corpus rescan
    val tsAgg = ts.agg(count(lit(1)).cast("long").as("__tn"),
      coalesce(sum("dl"), lit(0L)).cast("long").as("__tdl"))
    val bounds = spark.read.parquet(s"$idx/meta")
      .crossJoin(broadcast(tsAgg))
      .select((col("__n") - col("__tn")).cast("long").as("__n"),
        (col("__sumdl") - col("__tdl")).cast("long").as("__sumdl"))
    bm25Rank(cand, bounds, terms, k, k1, b)
  }

  // ---- q171: BM25 delete COMPACTION (physical erasure) ----

  /** Tombstone COMPACTION of the text index — physically drop the
    * victims' postings and re-derive the corpus bounds, completing the
    * BM25 member of the erasure family (q168's audit proved the bytes
    * remained with no op to drain them — the round-15 verdict's top
    * gap): ONE partition-preserving rewrite of the postings
    * (anti-joined to the broadcast tombstones, tbucket layout kept
    * verbatim — a term's bucket never depends on the corpus) plus a
    * one-row meta written by SUBTRACTION from the stored meta and the
    * tombstones' own (count, Σdl) — two longs, never a corpus rescan
    * or re-tokenize. The compacted index ranks every query
    * IDENTICALLY to [[bm25SearchDeleted]] over the tombstoned base
    * (same candidate rows, same df, same bounds — gated in
    * TextIndexSpec), and after compaction the tombstone segment is
    * obsolete: probes carry no anti-join at all. */
  def bm25DeleteCompactIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val idx = bm25Index(spark, dir)
    val ts = bm25TombstonesStaged(spark, dir)
    Staging.stage(spark, docsKey("text/bm25dc", dir)) { tmp =>
      val tsIds = spark.read.parquet(s"$ts/ids")
      spark.read.parquet(s"$idx/postings")
        .join(broadcast(tsIds.select("doc_id")), Seq("doc_id"), "left_anti")
        .write.mode("overwrite").partitionBy("tbucket")
        .parquet(s"$tmp/postings")
      val tsAgg = tsIds.agg(count(lit(1)).cast("long").as("__tn"),
        coalesce(sum("dl"), lit(0L)).cast("long").as("__tdl"))
      spark.read.parquet(s"$idx/meta")
        .crossJoin(broadcast(tsAgg))
        .select((col("__n") - col("__tn")).cast("long").as("__n"),
          (col("__sumdl") - col("__tdl")).cast("long").as("__sumdl"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/meta")
    }
  }

  /** Root of the staged compacted index the last q171 probe served
    * from. */
  @volatile private[graft] var bm25CompactOracleRoot: Option[String] = None

  /** [[bm25SearchAt]] over the delete-compacted artifact — no
    * anti-join, no bounds arithmetic in the query plan; the victims'
    * bytes are GONE (q168's extended audit reads zero on this
    * surface). */
  def bm25SearchDeleteCompacted(spark: org.apache.spark.sql.SparkSession,
      dir: String, terms: Seq[String], k: Int, k1: Double,
      b: Double): DataFrame = {
    val idx = bm25DeleteCompactIndex(spark, dir)
    bm25CompactOracleRoot = Some(Staging.abs(idx))
    bm25SearchAt(spark, idx, terms, k, k1, b)
  }

  /** [[bm25Search]] over the persisted index: the query plan holds NO
    * tokenize/explode and never touches the documents table — the
    * candidate rows come from a bucket-pruned, term-filtered index
    * scan, the bounds from the stored one-row meta. Identical ranking
    * tail ([[bm25Rank]]), so scores match the in-flight form (gated in
    * TextIndexSpec at 1e-12 with identical ranking order). */
  def bm25SearchIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
      terms: Seq[String], k: Int, k1: Double, b: Double): DataFrame = {
    val idx = bm25Index(spark, dir)
    bm25IndexedOracleRoot = Some(Staging.abs(idx))
    bm25SearchAt(spark, idx, terms, k, k1, b)
  }

  /** Staged roots of the last q126/q127/q166 runs — late-bound into
    * their integer-rank oracle SQL (the staged-root thunk
    * convention). */
  @volatile private[graft] var bm25IndexedOracleRoot: Option[String] = None
  @volatile private[graft] var bm25AppendOracleRoots: Option[(String, String)] = None
  @volatile private[graft] var bm25DeleteOracleRoots: Option[(String, String)] = None

  /** Candidate + meta CTEs over one or more staged index segments,
    * with optional tombstone anti-join and bounds subtraction — the
    * prologue every persisted-index BM25 oracle shares. */
  private def bm25IndexCandSql(postingGlobs: Seq[String],
      metaGlobs: Seq[String], terms: Seq[String],
      tsGlob: Option[String]): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    val postings = postingGlobs.map(g =>
      s"""SELECT term, doc_id, dl, tf
              FROM read_parquet('$g', hive_partitioning=1)""")
      .mkString("\n          UNION ALL\n          ")
    val metas = metaGlobs.map(g =>
      s"SELECT __n, __sumdl FROM read_parquet('$g')")
      .mkString("\n          UNION ALL\n          ")
    val tsPred = tsGlob.map(g =>
      s"\n            AND doc_id NOT IN (SELECT doc_id FROM read_parquet('$g'))")
      .getOrElse("")
    val meta = tsGlob match {
      case Some(g) => s"""
        tsagg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS tn,
                 CAST(COALESCE(SUM(dl), 0) AS BIGINT) AS tdl
          FROM read_parquet('$g')),
        meta AS (
          SELECT CAST(__n - tn AS DOUBLE) AS n,
                 CAST(__sumdl - tdl AS DOUBLE) AS sumdl
          FROM m0 CROSS JOIN tsagg),"""
      case None => """
        meta AS (
          SELECT CAST(__n AS DOUBLE) AS n, CAST(__sumdl AS DOUBLE) AS sumdl
          FROM m0),"""
    }
    s"""
        WITH m0 AS (
          SELECT CAST(SUM(__n) AS BIGINT) AS __n,
                 CAST(SUM(__sumdl) AS BIGINT) AS __sumdl
          FROM ($metas)),$meta
        cand AS (
          SELECT term, doc_id, dl, tf
          FROM ($postings)
          WHERE term IN ($termList)$tsPred),"""
  }

  /** The indexed query against an explicit index root — shared by the
    * dir-keyed form above and harnesses that stage their own segment
    * (the stress suite's 10× corpus). */
  private[graft] def bm25SearchAt(spark: org.apache.spark.sql.SparkSession,
      idx: String, terms: Seq[String], k: Int, k1: Double, b: Double): DataFrame = {
    require(terms.nonEmpty, "bm25SearchAt needs at least one term")
    require(terms.distinct.size == terms.size, s"duplicate query terms: $terms")
    val buckets = terms.map(termBucketLocal).distinct
    val cand = spark.read.parquet(s"$idx/postings")
      .filter(col("tbucket").isin(buckets: _*) && col("term").isin(terms: _*))
      .select("term", "doc_id", "dl", "tf")
    bm25Rank(cand, spark.read.parquet(s"$idx/meta"), terms, k, k1, b)
  }

  /** The q108 in-flight oracle prologue: cand/meta re-derived from the
    * documents table by the exact q84 tokenization. */
  private def bm25FlightCandSql(terms: Seq[String]): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""
        WITH toks AS (
          SELECT doc_id,
                 string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS ts
          FROM documents),
        meta AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(len(ts)) AS DOUBLE) AS sumdl
          FROM toks),
        cand AS (
          SELECT doc_id, dl, term, COUNT(*) AS tf
          FROM (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl,
                       unnest(ts) AS term
                FROM toks)
          WHERE term IN ($termList)
          GROUP BY doc_id, dl, term),"""
  }

  private val Bm25Terms = Seq("spark", "join", "filter")

  // `def`, not `val`: the q126/q127/q166/q171 oracle SQL embeds staged
  // roots set by each entry's own run (the staged-root thunk convention)
  def queries: Seq[Query] = Seq(
    Query(
      "q84_index_search",
      "Conjunctive keyword search over the documents corpus: top-20 docs " +
        "containing ALL of {spark, join, filter}, ranked by summed term " +
        "frequency (ties to smallest doc_id). The 3-term isin filter " +
        "runs before any aggregate, so the exchange carries only the " +
        "query terms' postings — never the vocabulary — and the final " +
        "ranking is TakeOrdered top-k, never a global sort. Integer " +
        "scores end to end: the oracle re-derives postings from the " +
        "same tokenization and compares exactly.",
      (s, dir) => conjunctiveSearch(
        Tables.documents(s, dir), Seq("spark", "join", "filter"), k = 20),
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
          FROM documents
        ), postings AS (
          SELECT doc_id, term, COUNT(*) AS tf
          FROM toks
          WHERE term IN ('spark', 'join', 'filter')
          GROUP BY doc_id, term
        )
        SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS score
        FROM postings
        GROUP BY doc_id
        HAVING COUNT(*) = 3
        ORDER BY score DESC, doc_id
        LIMIT 20""")),

    Query(
      "q108_bm25_search",
      "BM25-ranked disjunctive keyword search (Lucene idf form, " +
        "k1=1.2, b=0.75): top-20 docs matching ANY of {spark, join, " +
        "filter} with full length normalization — the production " +
        "ranking whose integer shadow q84 is, and the keyword side a " +
        "hybrid stack (q85) feeds. Document length rides through the " +
        "explode so no corpus-sized doc-keyed join exists; the q-term " +
        "filter precedes the aggregate; df and the (N, sum dl) corpus " +
        "bounds are broadcast; ranking is TakeOrdered top-k. ORACLE " +
        "since round 16 via the integer-rank emit (r15 verdict item " +
        "7): the catalog row carries rank + integer stats only — the " +
        "double score (engine-unstable in ln's last ulp) orders both " +
        "engines' rows but is dropped from the hash; the per-doc fold " +
        "order is pinned to query-term order on both sides, so the " +
        "order is reproducible. The 1e-12 plain-Scala differential " +
        "stays in TextIndexSpec.",
      (s, dir) => rankedBm25(bm25Search(
        Tables.documents(s, dir), Bm25Terms,
        k = 20, k1 = 1.2, b = 0.75)),
      Some(bm25FlightCandSql(Bm25Terms) +
        bm25RankSql(Bm25Terms, k = 20, k1 = 1.2, b = 0.75))),

    Query(
      "q126_bm25_indexed",
      "q108's BM25 search over a PERSISTED index (the deployment form " +
        "its scaladoc names): postings (term, doc_id, dl, tf) written " +
        "once partitioned by the term's CRC32 bucket, corpus bounds " +
        "(N, sum dl) stored as one-row metadata — so the query plan " +
        "holds no tokenize/explode and never touches the documents " +
        "table; candidates come from a bucket-pruned, term-filtered " +
        "index scan (<= q of 64 directories), df from those candidate " +
        "rows, and the identical ranking tail serves TakeOrdered " +
        "top-k at index cost. The interactive-retrieval shape: build " +
        "pays the corpus passes once, every query after is index-" +
        "sized. ORACLE since round 16 (integer-rank emit, the q108 " +
        "convention): DuckDB replays the candidate cut, df, bounds, " +
        "scoring, and rank from the SAME staged postings+meta parquet, " +
        "hash-exact on the integer columns. TextIndexSpec keeps the " +
        "1e-12 score equality with the in-flight form and the plan " +
        "asserts (no Generate, no documents scan, pruned partitions).",
      (s, dir) => rankedBm25(bm25SearchIndexed(s, dir,
        Bm25Terms, k = 20, k1 = 1.2, b = 0.75)),
      oracleFn = Some(() => bm25IndexedOracleRoot.map(root =>
        bm25IndexCandSql(Seq(s"$root/postings/*/*.parquet"),
          Seq(s"$root/meta/*.parquet"), Bm25Terms, tsGlob = None) +
          bm25RankSql(Bm25Terms, k = 20, k1 = 1.2, b = 0.75)))),

    Query(
      "q127_bm25_append",
      "Incremental BM25 index growth (the q109 LSM shape on the text " +
        "index): the base segment over doc_id%10<>0 is built once and " +
        "never rewritten; the %10=0 arrivals become a delta segment " +
        "holding only their own postings and one-row meta — append " +
        "cost is delta-sized because postings are DOC-LOCAL aggregates " +
        "(no base rescan can be needed) and the corpus bounds " +
        "recompose by adding two longs. Queries read base-union-delta " +
        "postings (both bucket-pruned), sum the metas, and rank with " +
        "the shared tail; the unioned candidate rows equal the full " +
        "index's rows exactly, so the appended index ranks every query " +
        "identically to a from-scratch build. ORACLE since round 16 " +
        "(integer-rank emit): DuckDB unions the SAME two staged " +
        "segments, sums their metas, and replays the ranking, " +
        "hash-exact on the integer columns. TextIndexSpec keeps the " +
        "1e-12 differentials, segment disjointness/completeness, and " +
        "the no-Generate plan assert.",
      (s, dir) => rankedBm25(bm25SearchAppended(s, dir,
        Bm25Terms, k = 20, k1 = 1.2, b = 0.75)),
      oracleFn = Some(() => bm25AppendOracleRoots.map { case (b0, d0) =>
        bm25IndexCandSql(
          Seq(s"$b0/postings/*/*.parquet", s"$d0/postings/*/*.parquet"),
          Seq(s"$b0/meta/*.parquet", s"$d0/meta/*.parquet"),
          Bm25Terms, tsGlob = None) +
          bm25RankSql(Bm25Terms, k = 20, k1 = 1.2, b = 0.75)
      })),

    Query(
      "q166_bm25_delete",
      "Document DELETE on the persisted BM25 index — the text-index " +
        "member of the delete family (q163 IVF, q164 graph, q167 PQ), " +
        "and the one where delete must touch the RANKING STATISTICS: " +
        "idf rides N and length normalization rides avgdl, so masking " +
        "postings alone would score against phantom corpus stats. The " +
        "retraction batch stages as (doc_id, dl) tombstones (bytes per " +
        "retraction — a retraction knows the document it removes; the " +
        "index is never rewritten); the probe anti-joins them out of " +
        "the bucket-pruned postings, recomposes (N, sum dl) by " +
        "SUBTRACTION from the stored meta (two longs, no corpus " +
        "rescan), and df falls out of the surviving candidates — so " +
        "the deleted index ranks every query IDENTICALLY to a from-" +
        "scratch rebuild over the surviving corpus. ORACLE since " +
        "round 16 (integer-rank emit): DuckDB anti-joins the SAME " +
        "staged tombstones out of the staged postings, recomposes the " +
        "bounds by the same subtraction, and replays the ranking, " +
        "hash-exact on the integer columns. TextIndexSpec keeps the " +
        "survivor-rebuild 1e-12 differential, the staleness " +
        "differential (pre-delete top-k serves victims, post-delete " +
        "never), exact recomposed bounds, and determinism.",
      (s, dir) => rankedBm25(bm25SearchDeleted(s, dir,
        Bm25Terms, k = 20, k1 = 1.2, b = 0.75)),
      oracleFn = Some(() => bm25DeleteOracleRoots.map { case (root, ts) =>
        bm25IndexCandSql(Seq(s"$root/postings/*/*.parquet"),
          Seq(s"$root/meta/*.parquet"), Bm25Terms,
          tsGlob = Some(s"$ts/ids/*.parquet")) +
          bm25RankSql(Bm25Terms, k = 20, k1 = 1.2, b = 0.75)
      })),

    Query(
      "q171_bm25_delete_compact",
      "BM25 delete COMPACTION — the text-index member of the physical-" +
        "erasure family (q169 PQ, q170 graph; the r15 verdict's top " +
        "gap: q168 proved victim bytes remained on bm25_postings with " +
        "no op to drain them): ONE partition-preserving rewrite drops " +
        "the victims' postings (broadcast anti-join, tbucket layout " +
        "verbatim) and the one-row meta re-derives by SUBTRACTION " +
        "(two longs — never a corpus rescan or re-tokenize), so the " +
        "right-to-be-forgotten contract is closed: q168's extended " +
        "audit reads ZERO victim rows on this surface. The compacted " +
        "index ranks every query identically to q166's tombstoned " +
        "probe (same candidates, df, bounds — gated in TextIndexSpec) " +
        "while carrying no anti-join in the query plan at all. " +
        "Oracle: the shared integer-rank BM25 replay over the " +
        "compacted postings+meta, hash-exact.",
      (s, dir) => rankedBm25(bm25SearchDeleteCompacted(s, dir,
        Bm25Terms, k = 20, k1 = 1.2, b = 0.75)),
      oracleFn = Some(() => bm25CompactOracleRoot.map(root =>
        bm25IndexCandSql(Seq(s"$root/postings/*/*.parquet"),
          Seq(s"$root/meta/*.parquet"), Bm25Terms, tsGlob = None) +
          bm25RankSql(Bm25Terms, k = 20, k1 = 1.2, b = 0.75))))
  )
}
