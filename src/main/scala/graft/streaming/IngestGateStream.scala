package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}

/** Streaming ingest gate — the stream-static twin of the batch q70
  * cross-corpus near-dedup: a continuous feed of new documents is
  * checked against a STATIC corpus for n-gram-Jaccard near-duplicates
  * before it reaches storage, completing the streaming family with the
  * one batch operator an ingest pipeline most wants continuous.
  *
  * q70 orders BOTH sides' prefixes by union-wide token frequency — a
  * precondition a stream cannot meet (the union includes documents that
  * have not arrived yet). The twin instead uses the ONE-SIDED prefix
  * filter: only the corpus emits prefixes (ordered by its own internal
  * frequency, rarest first); an incoming document probes with ALL of
  * its shingle hashes. Losslessness is then a pure counting argument,
  * needing no shared order at all: if J(A,B) ≥ τ then
  * |A∩B| ≥ u·(|A|+|B|) with u = τ/(1+τ), while the corpus doc's omitted
  * suffix holds only ⌈u·|A|⌉ − 1 < u·|A| ≤ |A∩B| hashes — the
  * intersection cannot hide entirely in the suffix, so at least one
  * intersecting hash sits in the emitted prefix, which the probe (the
  * full set B) necessarily also carries. The trade is candidate volume
  * (the probe side contributes every hash, not a prefix), which is the
  * right trade here: the probe side is a micro-batch.
  *
  * Scale shape, per micro-batch: shingle/explode the batch (map-only),
  * equi-join the corpus prefix index on the hash — the micro-batch side
  * is the small side, so the planner broadcasts it and the
  * corpus-sized index is scanned map-only, never shuffled. Candidate
  * (batch, corpus) pairs — already size-pruned — are deduped in
  * watermark-bounded state, then verified exactly against the corpus
  * hash-set frame (again a join whose small side is the candidates).
  * State is O(candidate pairs within the watermark delay); the corpus
  * index is built ONCE ([[CorpusIndex]]) and persisted across every
  * micro-batch — the amortization the batch q70 cannot offer.
  */
object IngestGateStream {

  /** The static side, built once per corpus and persisted: the per-doc
    * sorted shingle-hash sets and the frequency-ordered prefix index
    * (h, corpus_doc, na). Exactly q70's corpus-side frames, with the
    * frequency order drawn from the corpus alone (see the one-sided
    * losslessness argument above for why that suffices). */
  final case class CorpusIndex(prefix: DataFrame, sets: DataFrame) {
    def unpersist(): Unit = { prefix.unpersist(); sets.unpersist() }
  }

  def buildIndex(corpus: DataFrame, n: Int, tau: Double): CorpusIndex = {
    val base = corpus
      .filter(size(TextAnalysis.tokensFast(col("text"))) >= n)
      .select(col("doc_id").as("corpus_doc"), array_sort(array_distinct(
        TextAnalysis.shingleHashArray(TextAnalysis.tokensFast(col("text")), n)))
        .as("hs_c"))
      .persist()
    base.count() // barrier: the df pass and the prefix pass share one scan
    val withSz = base.select(col("corpus_doc").as("doc_id"),
      col("hs_c").as("hs"), size(col("hs_c")).as("sz"))
    val prefix = Dedup.prefixTokens(withSz, tau, carry = Nil)
      .select(col("h"), col("doc_id").as("corpus_doc"), col("sz").as("na"))
      .persist()
    prefix.count()
    // the sets frame is persisted ITSELF (not left as a lazy projection
    // of the cached base) so CorpusIndex.unpersist() releases everything
    // this build pinned — previously the base cache outlived unpersist()
    val sets = base.select(col("corpus_doc"),
      col("hs_c"), size(col("hs_c")).as("na")).persist()
    sets.count()
    base.unpersist()
    CorpusIndex(prefix, sets)
  }

  /** The stage key of the index over the corpus `slice` (a caller's
    * name for the rows it selects) of the `inputs` tables. */
  def indexKey(inputs: Seq[String], slice: String, n: Int,
      tau: Double): graft.operators.Staging.Key =
    graft.operators.Staging.Key("ingest_gate/ig", inputs, slice, n, tau)

  /** Write-once materialized form of [[buildIndex]]: the prefix index
    * and the hash-set frame land as parquet in the
    * [[graft.operators.Staging]] stage [[indexKey]], and every later
    * call returns plain parquet scans without touching the corpus. This
    * is the gate's production economics made literal: the streaming
    * deployment builds the index once and probes it per micro-batch, so
    * a repeated batch invocation (the bench, a scheduled re-gate) should
    * pay the probe, not the build. `corpus` is by-name — evaluated only
    * on a build miss. */
  def indexStaged(spark: org.apache.spark.sql.SparkSession, inputs: Seq[String], slice: String,
      n: Int, tau: Double)(corpus: => DataFrame): CorpusIndex = synchronized {
    val out = graft.operators.Staging.stage(spark, indexKey(inputs, slice, n, tau)) { tmp =>
      val built = buildIndex(corpus, n, tau)
      built.prefix.write.mode("overwrite").parquet(s"$tmp/prefix")
      built.sets.write.mode("overwrite").parquet(s"$tmp/sets")
      built.unpersist()
    }
    CorpusIndex(spark.read.parquet(s"$out/prefix"),
      spark.read.parquet(s"$out/sets"))
  }

  /** Matches of `incoming` (streaming or batch, with doc_id/text/tsCol)
    * against the indexed corpus: (corpus_doc, batch_doc, jaccard ≥ τ).
    * On a stream, candidate-pair dedup state is bounded by the
    * watermark `delay`; a batch input takes the plain-dedup path and
    * must agree with q70 exactly (the ScalaTest three-way proof). */
  def matches(index: CorpusIndex, incoming: DataFrame, n: Int, tau: Double,
      tsCol: String, delay: String = "10 minutes"): DataFrame = {
    val wm = if (incoming.isStreaming) incoming.withWatermark(tsCol, delay)
      else incoming
    val probes = wm
      .filter(size(TextAnalysis.tokensFast(col("text"))) >= n)
      .select(col(tsCol), col("doc_id").as("batch_doc"), array_sort(array_distinct(
        TextAnalysis.shingleHashArray(TextAnalysis.tokensFast(col("text")), n)))
        .as("hs_b"))
      .withColumn("nb", size(col("hs_b")))
    // probe with EVERY hash (the one-sided scheme); hs_b rides along so
    // the verify step needs no join back to the stream side (a
    // stream-stream self-join is exactly what this shape avoids)
    val cand = probes
      .select(col(tsCol), col("batch_doc"), col("hs_b"), col("nb"),
        explode(col("hs_b")).as("h"))
      .join(index.prefix, Seq("h"))
      .filter(Dedup.sizePrune(col("na"), col("nb"), tau))
      .select(col(tsCol), col("batch_doc"), col("corpus_doc"), col("hs_b"))
    val distinctCand =
      if (incoming.isStreaming)
        cand.dropDuplicatesWithinWatermark("batch_doc", "corpus_doc")
      else cand.dropDuplicates("batch_doc", "corpus_doc")
    distinctCand
      .join(index.sets, Seq("corpus_doc"))
      .select(col("corpus_doc"), col("batch_doc"),
        size(array_intersect(col("hs_b"), col("hs_c"))).as("i"),
        col("na"), size(col("hs_b")).as("nb"))
      .select(col("corpus_doc"), col("batch_doc"),
        (col("i").cast("double") / (col("na") + col("nb") - col("i")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= tau)
  }
}
