package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.sources.Tables

/** The composed training-data pipeline as a CATALOG operator — the same
  * stage chain [[graft.PipelineMain]] ships as a CLI (exact dedup →
  * near-dup cluster election → per-language length gate → token-budget
  * shard manifest), verified end to end under ONE DuckDB oracle the way
  * q34 oracles its curation composition. Each stage is an
  * already-verified operator (q16 / q28→q40→q72 / q73 / q41); this
  * entry closes the remaining gap: the COMPOSITION itself — stage
  * ordering, which frame each threshold is computed over, survivor
  * semantics across stages — is what the oracle here pins down.
  *
  * Scale shape is the union of its parts (each argued in its own
  * operator's scaladoc): one digest-keyed exchange, the prefix-filter
  * join's bounded shuffles, O(log² n) CC rounds on id pairs, a G-row
  * broadcast threshold, and the shard prefix sum's range exchange.
  *
  * Stage materialization (round-8): the corpus-sized inter-stage frames
  * (exact-dedup survivors, near-dup survivors, gated corpus) are
  * content-fingerprinted, `_SUCCESS`-gated parquet materializations —
  * the [[Layout]] write-once/read-many pattern — NOT `MEMORY_AND_DISK`
  * caches. At 100 TB a cache of the whole corpus evicts and recomputes
  * under pressure; a parquet stage is written once per (source
  * fingerprint, params), every consumer reads a plain pruned scan, and a
  * re-run with unchanged inputs skips the stage entirely (asserted
  * file-untouched in `TrainingPipelineSpec`). The materialization is
  * also the barrier that kept the old eager persists honest against AQE
  * consumer races — consumers only ever see the finished files. The
  * in-memory [[curatedCorpus]] form remains for arbitrary (un-pathed)
  * frames and is the semantic spec the staged form is tested against. */
object TrainingPipeline {

  /** Survivor ids of exact content-hash dedup: smallest doc_id per
    * normalized SHA-256 digest (q16's contract). */
  def exactSurvivors(docs: DataFrame): DataFrame =
    docs.withColumn("__h", sha2(TextAnalysis.norm(col("text")), 256))
      .groupBy("__h").agg(min("doc_id").as("doc_id"))
      .select("doc_id")

  /** Ids DROPPED by near-dup cluster election: exact prefix-filter
    * Jaccard pairs (q28) → connected components (q40) → keep the
    * longest member per cluster, ties to the smallest id (q72). */
  def nearDupDropped(docs: DataFrame): DataFrame =
    DupClusters.keepList(
        DupClusters.connectedComponents(
          Dedup.jaccardJoin(docs, n = 3, tau = 0.7)
            .select(col("doc_a").as("u"), col("doc_b").as("v"))),
        docs.select(col("doc_id"), col("n_chars").as("score")))
      .filter(!col("keep")).select("doc_id")

  /** Per-language length gate: keep docs whose n_chars clears their OWN
    * language's p-quantile, computed over `docs` itself (q73's per-group
    * exact threshold, broadcast into a map-side filter). */
  def lengthGated(docs: DataFrame, p: Double): DataFrame =
    docs.join(
      Curation.quantileFilter(
          docs.select(col("lang"), col("doc_id"), col("n_chars").cast("double").as("x")),
          "lang", p)
        .select("doc_id"),
      Seq("doc_id"))

  /** Keys of the three stages for (`dir`, `p`): the source table plus
    * the gate p, so a source regenerated under the same path or a
    * changed gate invalidates the stages instead of silently serving
    * stale survivors. */
  private def stageKeys(dir: String, p: Double): (Staging.Key, Staging.Key, Staging.Key) = {
    def key(name: String) = Staging.Key(name, Seq(s"$dir/documents.parquet"), p)
    (key("pipeline_stages/after_exact"), key("pipeline_stages/after_near"),
      key("pipeline_stages/corpus"))
  }

  /** Root paths of the three stages for (`dir`, `p`). */
  private[graft] def stageRoots(spark: SparkSession, dir: String,
      p: Double): (String, String, String) = {
    val (e, n, c) = stageKeys(dir, p)
    (Staging.root(spark, e), Staging.root(spark, n), Staging.root(spark, c))
  }

  /** Write-once materialization: build + write `df` only when no
    * finished stage exists, then hand every consumer the plain parquet
    * scan (pruned/pushed-down like any table read). */
  private def materialized(spark: SparkSession, key: Staging.Key)
      (df: => DataFrame): DataFrame =
    spark.read.parquet(Staging.stage(spark, key)(tmp => df.write.mode("overwrite").parquet(tmp)))

  private def clustersKey(dir: String) =
    Staging.Key("pipeline_stages/clusters", Seq(s"$dir/documents.parquet"))

  /** Fingerprinted root of the RAW-corpus near-dup cluster stage for
    * `dir` — q28 prefix-filter pairs over the documents table as-is
    * (NOT the exact-dedup survivors [[stagedCuration]] clusters) →
    * q40 connected components. Shared by q98 (leakage-safe split) and
    * q100 (clean manifest), which both key their split on these
    * clusters: before round 9 each entry recomputed the pair join and
    * the CC rounds inline on every run — the two slowest catalog
    * entries (18.9 s + 13.8 s at sf0.1) spending their time on work a
    * prior run had already proven. */
  private[graft] def clustersRoot(spark: SparkSession, dir: String): String =
    Staging.root(spark, clustersKey(dir))

  /** The (doc_id, cluster_id) near-dup cluster frame over `dir`'s raw
    * documents table, as a write-once fingerprinted parquet stage: the
    * q28 pairs → q40 components chain runs only when no finished stage
    * exists for this (source content, params) key; every later consumer
    * reads a two-column pruned scan. Semantics are exactly the inline
    * chain (asserted frame-for-frame in `TrainingPipelineSpec`), so
    * q98/q100's oracles — which gate that composition — are unchanged. */
  def nearDupClustersStaged(spark: SparkSession, dir: String): DataFrame =
    synchronized {
      materialized(spark, clustersKey(dir)) {
        DupClusters.connectedComponents(
          Dedup.jaccardJoin(Tables.documents(spark, dir), n = 3, tau = 0.7)
            .select(col("doc_a").as("u"), col("doc_b").as("v")))
      }
    }

  /** The staged pipeline over the table at `dir`: (exact-dedup
    * survivors, near-dup survivors, gated corpus), each a fingerprinted
    * parquet materialization (see object scaladoc). Identical row sets
    * to [[curatedCorpus]] — proved in `TrainingPipelineSpec`; a re-run
    * with unchanged inputs rebuilds nothing. */
  def stagedCuration(spark: SparkSession, dir: String,
      p: Double = 0.10): (DataFrame, DataFrame, DataFrame) = synchronized {
    val (exactKey, nearKey, corpusKey) = stageKeys(dir, p)
    val docs = Tables.documents(spark, dir)
    val afterExact = materialized(spark, exactKey)(
      docs.join(exactSurvivors(docs), Seq("doc_id")))
    val afterNear = materialized(spark, nearKey)(
      afterExact.join(nearDupDropped(afterExact), Seq("doc_id"), "left_anti"))
    val corpus = materialized(spark, corpusKey)(lengthGated(afterNear, p))
    (afterExact, afterNear, corpus)
  }

  /** The released corpus at `dir` through the staged (parquet-
    * materialized) pipeline — the path [[graft.PipelineMain]] and the
    * q76 catalog entry run. */
  def curatedCorpusStaged(spark: SparkSession, dir: String,
      p: Double = 0.10): DataFrame =
    stagedCuration(spark, dir, p)._3

  /** The released corpus: exact dedup → near-dup election → p10 length
    * gate, in that order — each stage's threshold/cluster set computed
    * over its INPUT stage's survivors, which is exactly the ordering
    * ambiguity the composed oracle exists to pin down. In-memory form
    * for arbitrary frames (no source path to fingerprint): the
    * inter-stage survivor frames are eagerly persisted instead of
    * parquet-materialized. */
  def curatedCorpus(docs0: DataFrame, p: Double = 0.10): DataFrame = {
    val docs = docs0
    // eager barriers (the codebase's persist pattern, see Dedup): each
    // survivor frame feeds multiple downstream consumers (the near-dup
    // chain reads afterExact for pairs AND as the anti-join's left side;
    // the gate's two percentile passes plus its join all read
    // afterNear). Left lazy, AQE launches those consumers' map stages
    // concurrently and each races to populate the cache — re-deriving
    // the whole upstream chain (prefix join, CC rounds) per consumer.
    val afterExact = docs.join(exactSurvivors(docs), Seq("doc_id")).persist()
    afterExact.count()
    val afterNear = afterExact
      .join(nearDupDropped(afterExact), Seq("doc_id"), "left_anti").persist()
    afterNear.count()
    lengthGated(afterNear, p)
  }

  val queries: Seq[Query] = Seq(
    Query(
      "q76_pipeline",
      "The composed training-data pipeline under ONE oracle: exact " +
        "content-hash dedup -> near-dup cluster election (prefix-filter " +
        "pairs -> connected components -> longest-doc survivor) -> " +
        "per-language p10 length gate -> 2048-token shard manifest. " +
        "Every stage is a verified catalog operator (q16/q28/q40/q72/" +
        "q73/q41); this entry verifies the COMPOSITION the PipelineMain " +
        "CLI ships — stage order, threshold domains, survivor semantics " +
        "— against a single DuckDB twin of the whole chain. Inter-stage " +
        "survivor frames are fingerprinted _SUCCESS-gated parquet " +
        "materializations (write-once/read-many, the Layout pattern), " +
        "not corpus-sized memory caches.",
      (s, dir) =>
        Shards.shardManifest(curatedCorpusStaged(s, dir), budget = 2048L)
          .orderBy("shard_id"),
      Some("""
        WITH RECURSIVE nrm AS (
          SELECT doc_id, lang, n_chars,
                 lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS n
          FROM documents
        ), surv AS (
          SELECT MIN(doc_id) AS doc_id FROM nrm GROUP BY sha256(n)
        ), sh AS (
          SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(ws) - 1),
                                         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
          FROM (SELECT doc_id, string_split(n, ' ') AS ws FROM nrm
                WHERE doc_id IN (SELECT doc_id FROM surv))
        ), sz AS (
          SELECT doc_id, COUNT(*) AS cnt FROM sh GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), edges AS (
          SELECT doc_a, doc_b FROM inter
          JOIN sz za ON za.doc_id = doc_a
          JOIN sz zb ON zb.doc_id = doc_b
          WHERE CAST(i AS DOUBLE) / CAST(za.cnt + zb.cnt - i AS DOUBLE) >= 0.7
        ), bi AS (
          SELECT doc_a AS u, doc_b AS v FROM edges
          UNION
          SELECT doc_b AS u, doc_a AS v FROM edges
        ), reach(u, v) AS (
          SELECT u, v FROM bi
          UNION
          SELECT r.u, b.v FROM reach r JOIN bi b ON r.v = b.u WHERE b.v <> r.u
        ), comp AS (
          SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
          FROM reach GROUP BY u
        ), elect AS (
          SELECT c.doc_id, c.cluster_id,
                 ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                    ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn
          FROM comp c JOIN nrm d USING (doc_id)
        ), after_near AS (
          SELECT doc_id FROM surv
          WHERE doc_id NOT IN (SELECT doc_id FROM elect WHERE rn > 1)
        ), thr AS (
          SELECT d.lang, quantile_cont(CAST(d.n_chars AS DOUBLE), 0.10) AS t
          FROM nrm d JOIN after_near USING (doc_id)
          GROUP BY d.lang
        ), corpus AS (
          SELECT d.doc_id, d.n
          FROM nrm d JOIN after_near USING (doc_id) JOIN thr USING (lang)
          WHERE CAST(d.n_chars AS DOUBLE) >= thr.t
        ), tok AS (
          SELECT doc_id, CAST(len(string_split(n, ' ')) AS BIGINT) AS n_tokens
          FROM corpus
        ), pref AS (
          SELECT doc_id, n_tokens,
                 SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens AS start_off
          FROM tok
        )
        SELECT CAST(FLOOR(CAST(start_off AS DOUBLE) / 2048.0) AS BIGINT) AS shard_id,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               MIN(doc_id) AS first_doc,
               MAX(doc_id) AS last_doc
        FROM pref
        GROUP BY 1
        ORDER BY shard_id""")),

    Query(
      "q100_clean_manifest",
      "The round's cleaning stages composed under ONE oracle: C4-style " +
        "segment dedup (q97 — strip every segment already seen corpus-" +
        "wide, keep the rest of the doc), token recount over the " +
        "REASSEMBLED text, leakage-safe cluster-keyed split assignment " +
        "(q98), and the per-split manifest (docs, surviving segments, " +
        "surviving tokens) a training run audits before reading a byte. " +
        "Every stage is an independently oracle-gated operator run " +
        "VERBATIM; the value of this entry is that the COMPOSITION — " +
        "join keys, empty-doc coalescing, count domains — is itself " +
        "under a single DuckDB query (the q76 composition argument). " +
        "Exchanges carry ids, counts, and kept text only; the split " +
        "attach is an ids-only join.",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val cleaned = Dedup.segmentDedup(docs, w = 10)
        // the pair join + CC rounds come from the shared fingerprinted
        // cluster stage (write-once, reused by q98) — the oracle still
        // gates the full composition because the stage IS that chain
        val splitFrame = Sampling.leakageSafeSplit(
          docs, nearDupClustersStaged(s, dir), 0.8, 0.1)
        // text_kept is the space-join of already-normalized segments, so
        // a single-space split recovers the exact surviving tokens
        cleaned.join(splitFrame.select("doc_id", "split"), Seq("doc_id"))
          .select(col("split"), col("n_kept"),
            when(col("text_kept") === "", lit(0L))
              .otherwise(size(split(col("text_kept"), " ")).cast("long"))
              .as("n_tokens"))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_kept").as("n_kept_segments"),
            sum("n_tokens").as("n_tokens"))
          .orderBy("split")
      },
      Some("""
        WITH RECURSIVE toksq AS (
          SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws
          FROM documents
        ), segs AS (
          SELECT doc_id,
                 unnest(range(0, CAST(CEIL(len(ws) / 10.0) AS BIGINT))) AS pos,
                 unnest(list_transform(range(0, CAST(CEIL(len(ws) / 10.0) AS BIGINT)),
                        i -> array_to_string(ws[i*10+1 : (i+1)*10], ' '))) AS seg
          FROM toksq
        ), ranked AS (
          SELECT doc_id, pos, seg,
                 row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
          FROM segs
        ), perdoc AS (
          SELECT doc_id, COUNT(*) AS n_kept,
                 string_agg(seg, ' ' ORDER BY pos) AS text_kept
          FROM ranked WHERE rn = 1 GROUP BY doc_id
        ), sh AS (
          SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(ws) - 1),
                                         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
          FROM toksq
        ), sz AS (
          SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), edges AS (
          SELECT doc_a, doc_b FROM inter
          JOIN sz za ON za.doc_id = doc_a
          JOIN sz zb ON zb.doc_id = doc_b
          WHERE CAST(i AS DOUBLE) / CAST(za.n + zb.n - i AS DOUBLE) >= 0.7
        ), bi AS (
          SELECT doc_a AS u, doc_b AS v FROM edges
          UNION
          SELECT doc_b AS u, doc_a AS v FROM edges
        ), reach(u, v) AS (
          SELECT u, v FROM bi
          UNION
          SELECT r.u, b.v FROM reach r JOIN bi b ON r.v = b.u WHERE b.v <> r.u
        ), cl AS (
          SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
          FROM reach GROUP BY u
        ), spl AS (
          SELECT d.doc_id,
                 CASE WHEN substring(md5(CAST(COALESCE(cl.cluster_id, d.doc_id) AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
                      WHEN substring(md5(CAST(COALESCE(cl.cluster_id, d.doc_id) AS VARCHAR)), 1, 8) < 'e6666666' THEN 'valid'
                      ELSE 'test' END AS split
          FROM documents d LEFT JOIN cl USING (doc_id)
        )
        SELECT s.split,
               COUNT(*) AS n_docs,
               CAST(SUM(COALESCE(p.n_kept, 0)) AS BIGINT) AS n_kept_segments,
               CAST(SUM(CASE WHEN p.text_kept IS NULL OR p.text_kept = '' THEN 0
                             ELSE len(string_split(p.text_kept, ' ')) END) AS BIGINT) AS n_tokens
        FROM documents d
        JOIN spl s USING (doc_id)
        LEFT JOIN perdoc p USING (doc_id)
        GROUP BY 1
        ORDER BY s.split"""))
  )
}
