package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.sources.Tables

/** Token-budget shard assignment — laying a corpus out into contiguous
  * fixed-token-budget training shards (the write-side step of every
  * LLM data pipeline: tokenized documents stream into shard files of
  * ~N tokens each, in a deterministic document order).
  *
  * The core primitive is a GLOBAL running token total in document
  * order, which the naive formulation — `sum().over(Window.orderBy(
  * "doc_id"))` with no partition — computes in ONE task over the whole
  * corpus (Spark even warns: "No Partition Defined for Window
  * operation"). That is q31's single-task pathology in its purest
  * form, and at 100 TB it is not slow but impossible.
  *
  * Scale-safe two-pass prefix sum instead (the textbook distributed
  * scan):
  *
  *   1. range-partition by the order key (`repartitionByRange` samples
  *      the key distribution, so partitions are balanced even under
  *      skew), pin the partition id;
  *   2. per-partition token totals — P rows, P = partition count — get
  *      a driver-free exclusive prefix via a window over those P rows
  *      (trivially small);
  *   3. broadcast the offsets back and window-scan WITHIN each range
  *      partition (`Window.partitionBy(pid)`) — every window group is
  *      one bounded range partition, so the scan parallelism equals
  *      the partition count at any data size.
  *
  * A document's shard is `floor(exclusive_prefix / budget)` — the shard
  * holding its first token; shards are contiguous in key order and
  * within one budget of the target, and the assignment is fully
  * deterministic (same answer at any partition count), which the
  * DuckDB oracle — running the SAME math as one window — checks.
  */
object Shards {

  /** (doc_id, n_tokens, shard_id) with contiguous token-budget shards
    * in `doc_id` order.
    *
    * Cache contract (lazy callers): the internal range-partitioned
    * frame stays persisted because the returned frame reads it twice
    * (offsets + scan) and the partition ids must agree between the two
    * reads; batch drivers `clearCache()` between queries (the
    * jaccardJoin contract). Action-shaped callers ([[writeShards]])
    * release it themselves via [[packShardsWithHandle]]. */
  def packShards(docs: DataFrame, budget: Long): DataFrame =
    packShardsWithHandle(docs, budget)._1

  /** [[packShards]] plus the persisted internal frame, so callers that
    * RUN an action over the result can unpersist afterwards. */
  def packShardsWithHandle(docs: DataFrame, budget: Long): (DataFrame, DataFrame) = {
    val (off, handle) = docOffsets(docs)
    (off
      // exact: token offsets are far below 2^53, so the double floor is
      // the true integer quotient on both engines
      .withColumn("shard_id",
        floor(col("start_off") / lit(budget.toDouble)).cast("long"))
      .select("doc_id", "n_tokens", "shard_id"), handle)
  }

  /** The general two-pass distributed prefix sum: every input row gains
    * `start_off` = the EXCLUSIVE running total of `weight` over the
    * global `orderCols` order. This is the scale-safe scan documented in
    * the object scaladoc — range-partition on the order key, pin the
    * partition id, per-partition totals (P rows) get their exclusive
    * prefix via a trivially-small window, broadcast the offsets back,
    * window-scan WITHIN each range partition. Parallelism equals the
    * partition count at any data size; the result is identical at any
    * partition count because range partitions are contiguous in key
    * order.
    *
    * Cache contract: the returned handle (second element) is the
    * persisted range-partitioned frame — the result reads it twice
    * (offsets + scan) and the partition ids must agree between the two
    * reads; batch drivers `clearCache()` between queries (the
    * jaccardJoin contract), action-shaped callers unpersist it
    * themselves ([[writeShards]]). */
  def prefixOffsets(rows: DataFrame, orderCols: Seq[Column],
      weight: Column): (DataFrame, DataFrame) = {
    val parts = rows.sparkSession.sparkContext.defaultParallelism
    val ranged = rows.withColumn("__w", weight.cast("long"))
      .repartitionByRange(parts, orderCols: _*)
      .withColumn("__pid", spark_partition_id())
      .persist()
    ranged.count()
    val offsets = ranged.groupBy("__pid")
      .agg(sum("__w").as("__ptotal"))
      .withColumn("__poffset",
        coalesce(sum("__ptotal").over(
          Window.orderBy("__pid")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__pid", "__poffset")
    val local = Window.partitionBy("__pid").orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = ranged
      .join(broadcast(offsets), Seq("__pid"))
      .withColumn("start_off",
        col("__poffset") + sum("__w").over(local) - col("__w"))
      .drop("__pid", "__w", "__poffset")
    (out, ranged)
  }

  /** (doc_id, n_tokens, start_off) — each document's global starting
    * token offset in `doc_id` order, via [[prefixOffsets]].
    * Returns the persisted internal frame as the second element. */
  def docOffsets(docs: DataFrame): (DataFrame, DataFrame) = {
    // split-based tokens, not tokensFast: an empty/whitespace doc counts
    // 1 (the [""] split) in both Spark and the SQL string_split twin —
    // with tokensFast it would count 0 here and 1 in SQL, shifting every
    // downstream shard boundary by one token
    val toks = docs.select(col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    val (out, handle) = prefixOffsets(toks, Seq(col("doc_id")), col("n_tokens"))
    (out.select("doc_id", "n_tokens", "start_off"), handle)
  }

  /** Shard spans WITH document breaking — the semantics an actual
    * fixed-token training shard needs: a document straddling a budget
    * boundary contributes a span to EACH shard it crosses, so every
    * shard except the last holds exactly `budget` tokens. Output is
    * (shard_id, doc_id, tok_start, tok_end): the doc-local half-open
    * token range belonging to that shard — a loader materializes shard
    * K by concatenating its spans in doc order. The explode emits only
    * the shards a doc actually touches (1 + ⌊(n_tokens-1+start%B)/B⌋),
    * so the row count grows by exactly one per boundary crossed. */
  def packSpans(docs: DataFrame, budget: Long): DataFrame = {
    val (off, _) = docOffsets(docs)
    val b = lit(budget.toDouble)
    off
      .withColumn("s0", floor(col("start_off") / b).cast("long"))
      .withColumn("s1",
        floor((col("start_off") + col("n_tokens") - 1) / b).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("start_off"),
        explode(sequence(col("s0"), col("s1"))).as("shard_id"))
      .select(col("shard_id"), col("doc_id"),
        (greatest(col("shard_id") * lit(budget), col("start_off")) - col("start_off"))
          .cast("long").as("tok_start"),
        (least((col("shard_id") + 1) * lit(budget), col("start_off") + col("n_tokens"))
          - col("start_off")).cast("long").as("tok_end"))
  }

  /** Materialize the shard layout as a partitioned parquet dataset:
    * one `shard_id=K/` directory per shard, exactly ONE file per shard
    * (each shard's rows are co-located by the `repartition` on the
    * partition column before the write), rows sorted by `doc_id` within
    * the file. This is the write-side contract a training loader wants:
    * list the directories, stream one file per shard, tokens arrive in
    * deterministic document order. Scale shape: the join back to the
    * full rows is doc-keyed, the writer shuffle moves each row once,
    * and file count = shard count regardless of executor count. */
  def writeShards(docs: DataFrame, budget: Long, outDir: String): Unit = {
    val (packed, handle) = packShardsWithHandle(docs, budget)
    writeShardLayout(docs, packed, handle, outDir)
  }

  /** The layout writer shared by the word-budget ([[writeShards]]) and
    * subword-budget ([[Bpe.writeSubwordShards]]) packings: join the
    * (doc_id, shard_id) assignment back to the full rows, co-locate
    * each shard with one `repartition` on the partition column, write
    * one file per shard sorted by doc_id. `handle` is the packing's
    * persisted prefix frame, released after the write (the one
    * action). */
  private[graft] def writeShardLayout(docs: DataFrame, packed: DataFrame,
      handle: DataFrame, outDir: String): Unit = {
    try
      docs.join(packed.select("doc_id", "shard_id"), Seq("doc_id"))
        .repartition(col("shard_id"))
        .sortWithinPartitions("shard_id", "doc_id")
        .write.mode("overwrite").partitionBy("shard_id").parquet(outDir)
    finally handle.unpersist() // the write is the one action; no leak
  }

  /** Overlapping fixed-token chunk windows — the retrieval/context-window
    * layout next to the training-shard layouts above: each document is cut
    * into `window`-token chunks starting every `stride` tokens (so
    * consecutive chunks share `window - stride` tokens of overlap, and no
    * token is lost at a chunk boundary). Output is (doc_id, chunk_idx,
    * n_tokens, chunk) with the final chunk truncated at the document end.
    *
    * Scale shape: pure map-side — tokenize, build the window list with
    * `transform(sequence(...))`, `posexplode`. No shuffle, no state, no
    * per-doc sort; chunking 100 TB is one embarrassingly-parallel pass
    * whose scan reads only (doc_id, text). Chunk starts are `0, stride,
    * 2*stride, ...` strictly below the token count, so every document —
    * including one shorter than a window — emits at least one chunk, and
    * chunk count is 1 + floor((n-1)/stride) (exact in double: token
    * counts are far below 2^53). */
  def chunkOverlap(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window > 0, s"window must be positive: $window")
    require(stride > 0 && stride <= window,
      s"stride must be in [1, window]: stride=$stride window=$window")
    // split-based tokens (not tokensFast), the docOffsets convention: an
    // empty doc is [""] — one token, one (empty) chunk — in both engines
    val toks = TextAnalysis.tokens(col("text"))
    val nChunks =
      (floor((size(toks) - 1).cast("double") / stride) + 1).cast("int")
    docs
      .select(col("doc_id"), toks.as("w"), nChunks.as("nc"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("nc") - 1), i => {
          val win = slice(col("w"), i * stride + 1, lit(window))
          struct(size(win).as("n_tokens"), array_join(win, " ").as("chunk"))
        })))
      .select(col("doc_id"), col("pos").as("chunk_idx"),
        col("col.n_tokens").as("n_tokens"), col("col.chunk").as("chunk"))
  }

  /** Per-shard manifest: document count, token total, id span. */
  def shardManifest(docs: DataFrame, budget: Long): DataFrame =
    packShards(docs, budget)
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))

  val queries: Seq[Query] = Seq(
    Query(
      "q41_pack_shards",
      "Token-budget shard layout (2048 tokens/shard) via a scale-safe " +
        "two-pass distributed prefix sum: range-partition on the order key, " +
        "per-partition totals -> broadcast exclusive offsets -> within-" +
        "partition window scan. No global single-task window; parallelism " +
        "equals the partition count at any corpus size. Output is the " +
        "per-shard manifest; the oracle runs the same math as one window.",
      (s, dir) =>
        shardManifest(Tables.documents(s, dir), budget = 2048L)
          .orderBy("shard_id"),
      Some("""
        WITH tok AS (
          SELECT doc_id,
                 CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_tokens
          FROM documents
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
        ORDER BY shard_id"""))
    ,
    Query(
      "q45_pack_spans",
      "Shard spans with document BREAKING (2048 tokens/shard): a doc " +
        "straddling a budget boundary contributes a doc-local token span to " +
        "each shard it crosses, so every shard except the last holds exactly " +
        "the budget — the layout an actual fixed-token training shard needs. " +
        "Same scale-safe prefix sum as q41; the explode adds one row per " +
        "boundary crossed.",
      (s, dir) =>
        packSpans(Tables.documents(s, dir), budget = 2048L)
          .orderBy("shard_id", "doc_id"),
      Some("""
        WITH tok AS (
          SELECT doc_id,
                 CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_tokens
          FROM documents
        ), pref AS (
          SELECT doc_id, n_tokens,
                 SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens AS start_off
          FROM tok
        ), spans AS (
          SELECT doc_id, n_tokens, start_off,
                 unnest(generate_series(
                   CAST(FLOOR(CAST(start_off AS DOUBLE) / 2048.0) AS BIGINT),
                   CAST(FLOOR(CAST(start_off + n_tokens - 1 AS DOUBLE) / 2048.0) AS BIGINT))) AS shard_id
          FROM pref
        )
        SELECT shard_id, doc_id,
               CAST(GREATEST(shard_id * 2048, start_off) - start_off AS BIGINT) AS tok_start,
               CAST(LEAST((shard_id + 1) * 2048, start_off + n_tokens) - start_off AS BIGINT) AS tok_end
        FROM spans
        ORDER BY shard_id, doc_id"""))
    ,
    Query(
      "q65_chunk_overlap",
      "Overlapping token-window chunking (64-token windows every 48 " +
        "tokens): the retrieval/context-window layout — each doc cut into " +
        "fixed-token chunks with 16 tokens of overlap so boundary context " +
        "is never lost. Pure map-side (tokenize -> transform(sequence) -> " +
        "posexplode): no shuffle, no per-doc sort, scan reads only " +
        "(doc_id, text); chunking 100 TB is one embarrassingly-parallel " +
        "pass. The oracle re-derives every chunk STRING from DuckDB list " +
        "slicing, so window arithmetic and token parity are both checked.",
      (s, dir) =>
        chunkOverlap(Tables.documents(s, dir), window = 64, stride = 48)
          .orderBy("doc_id", "chunk_idx"),
      Some("""
        WITH t AS (
          SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
          FROM documents
        ), c AS (
          SELECT doc_id, w,
                 unnest(generate_series(0, CAST(FLOOR(CAST(len(w) - 1 AS DOUBLE) / 48.0) AS BIGINT))) AS chunk_idx
          FROM t
        )
        SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
               CAST(len(w[chunk_idx*48 + 1 : chunk_idx*48 + 64]) AS INT) AS n_tokens,
               array_to_string(w[chunk_idx*48 + 1 : chunk_idx*48 + 64], ' ') AS chunk
        FROM c
        ORDER BY doc_id, chunk_idx"""))
  )
}
