package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, DupClusters, SemanticDedup, Shards, Similarity, Staging,
  TrainingPipeline, Vocab}
import graft.sources.Tables

/** 10× stress run for the dedup/similarity family (q17 MinHash-LSH, q22
  * SimHash, q28 prefix-filter Jaccard, q40 connected components) plus —
  * round-8 — the two COMPOSED paths (q76 training pipeline, q80
  * semantic dedup), where cache pressure and stage chaining bite in
  * ways single operators don't show. This is the scale check sf0.1
  * cannot: candidate volume must grow LINEARLY in corpus size, or a
  * bucket-skew blowup is hiding in the LSH/prefix shapes.
  *
  * Documents corpus: 10 copies of the sf0.1 `documents` table under
  * remapped ids. Copy 0 is verbatim; copy k > 0 suffixes EVERY token
  * with `~k`, so no shingle is shared across copy families — the 10×
  * corpus behaves like 10× more distinct documents (a verbatim union
  * would instead plant a 10-clique of exact duplicates on every doc:
  * quadratic pair blowup by construction, measuring the fixture, not
  * the operator). Each family reproduces the original corpus's internal
  * near-dup structure, so the TRUE pair count is exactly 10× the sf0.1
  * count for the set-based detectors — a built-in linearity check
  * alongside wall time. The corpus carries (lang, n_chars) for the
  * pipeline path; n_chars is recomputed as length(text) (true of the
  * source table too), so family k's suffixed docs are self-consistent.
  *
  * Embeddings corpus: 10 copies under remapped ids; copy k > 0 applies
  * a family-keyed DIAGONAL SIGN FLIP (multiply each dimension by ±1,
  * signs from a hash of (k, dim)). A sign flip is an orthogonal
  * transform, so WITHIN-family cosines — and therefore each family's
  * true near-dup pair structure — are preserved EXACTLY, while
  * cross-family cosines decorrelate to near-random (≪ the 0.95
  * threshold), so the true pair set is ~10× the base. (A verbatim
  * union would plant cosine-1.0 10-cliques — the same fixture artifact
  * as verbatim text.) q80's cluster count scales as C ∝ √n (64 → 202):
  * SemDeDup's two cost terms are the n·C centroid assignment and the
  * Σ|cluster|² ≈ n²/C within-cluster pair volume, so √n-scaling
  * balances them at n^1.5 each — the cost-optimal plain-Spark
  * deployment (C fixed makes pairs quadratic; C ∝ n makes assignment
  * quadratic; production cuts the remaining n^1.5 with ANN-assisted
  * assignment, out of scope here). The expected time ratio at 10× is
  * therefore √10 ≈ 3.2 in marginal compute, damped toward ~2 by the
  * fixed per-job overhead that dominates the tiny baseline tier.
  *
  * Composed-path caveats on exact-10× rows: the pipeline's per-language
  * length gate pools all families into one quantile (family k's texts
  * are 2 chars/token longer), and q80's k-means re-clusters the union,
  * so those two report time ratios with APPROXIMATELY 10× outputs —
  * the gate for them is the wall-clock ratio, not the row count.
  *
  * Timing: one warm-up-free timed pass per (query, tier), same session,
  * sf0.1 first (the comparison baseline). The action is `count()`, not
  * the bench's noop write — the row counts ARE part of the artifact.
  * Gate: no query's sf1 time exceeds 10× its sf0.1 time
  * (linear-or-better); set-based detector pair counts exactly 10×.
  * Each row also carries a two-point linear fit (fit_floor_sec,
  * fit_marginal_sec_per_copy, floor_frac): floor_frac near 1 marks a
  * base tier dominated by fixed scheduler/collect overhead, where a
  * raw time_ratio well under 10 is expected and the marginal per-copy
  * cost is the number the 100 TB extrapolation actually rides on.
  *
  * Writes `target/stress_sf1.json`; the tracked copy (STRESS_SF1.json)
  * is promoted explicitly after checking loadavg telemetry, like the
  * refscale artifacts.
  */
object StressSf1 {

  private val Copies = 10
  // divisible by 3 so q70's doc_id%3 corpus/batch split lands identically
  // in every copy family — each family then reproduces the base split and
  // the cross-match count stays exactly 10x (a stride ≡ 1 mod 3 would
  // rotate the split per family and break the linearity contract)
  private val IdStride = 9999999L
  private val EmbIdStride = 100000L
  private val EmbDim = 64

  private def buildCorpus(spark: org.apache.spark.sql.SparkSession,
      base: DataFrame, path: String, copies: Int = Copies): Unit = {
    val corpus = (0 until copies).map { k =>
      if (k == 0) base
      else base.select(
        (col("doc_id") + lit(k * IdStride)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"~$k"))), " ").as("text"),
        col("lang"))
        .withColumn("n_chars", length(col("text")))
        .select("doc_id", "text", "lang", "n_chars")
    }.reduce(_ unionByName _)
    // spread across the session's cores so the scan side of every stress
    // query starts parallel (the sf tables are single-row-group files)
    corpus.repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(path)
  }

  private def buildEmbCorpus(spark: org.apache.spark.sql.SparkSession,
      base: DataFrame, path: String, copies: Int = Copies): Unit = {
    val corpus = (0 until copies).map { k =>
      if (k == 0) base
      else {
        // family-keyed ±1 diagonal: orthogonal, so within-family cosines
        // are bit-preserved; deterministic from (k, dim) like the SRP
        // plane family
        val signs = typedlit((0 until EmbDim).map(d =>
          if ((scala.util.hashing.MurmurHash3.productHash((k, d)) & 1) == 0)
            1.0f else -1.0f))
        base.select((col("vec_id") + lit(k * EmbIdStride)).as("vec_id"),
          zip_with(col("embedding"), signs, (a, b) => a * b).as("embedding"),
          col("label"))
      }
    }.reduce(_ unionByName _)
    corpus.repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(path)
  }

  private val sfDir = "/root/testdata/sf0.1"

  /** `table` at `copies`× the sf0.1 base, staged once as
    * `<root>/<table>.parquet` by `build(path)`; returns that path. The
    * root doubles as a table folder holding the one table. */
  private def stressTable(spark: org.apache.spark.sql.SparkSession, table: String,
      copies: Int = Copies)(build: String => Unit): String = {
    val root = Staging.stage(spark,
        Staging.Key(s"stress/$table", Seq(s"$sfDir/$table.parquet"), copies)) { tmp =>
      build(s"$tmp/$table.parquet")
    }
    s"$root/$table.parquet"
  }

  /** The 10× embeddings corpus path — shared with [[Recall]]'s 10×-tier
    * frontier sweep (the sf0.1 frontier latencies are
    * fixed-overhead-dominated; the 10× corpus is where probe width has a
    * measurable cost). */
  private[graft] def ensureStressEmbeddings(
      spark: org.apache.spark.sql.SparkSession): String =
    stressTable(spark, "embeddings")(buildEmbCorpus(spark,
      Tables.embeddings(spark, sfDir).select("vec_id", "embedding", "label"), _))

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-stress-sf1")
    val base = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "n_chars")
    val embBase = Tables.embeddings(spark, sfDir).select("vec_id", "embedding", "label")
    val stressPath = stressTable(spark, "documents")(buildCorpus(spark, base, _))
    val embStressPath = ensureStressEmbeddings(spark)
    val stress = spark.read.parquet(stressPath)
    val embStress = spark.read.parquet(embStressPath)

    // MID tier (round-11 verdict task 5): the two-point (1, 10)-copy
    // fit ASSUMES linearity; a third point at 4 copies tests it. Only
    // the five largest-marginal rows carry the extra tier — the fit
    // residual at the mid point is the check, reported per row.
    val MidCopies = 4
    val midPath = stressTable(spark, "documents", MidCopies)(
      buildCorpus(spark, base, _, copies = MidCopies))
    val docsMid = spark.read.parquet(midPath)
    // mid-tier embeddings (round-12 verdict task 6: the graph family's
    // (1, 10) fits were untested between the endpoints)
    val embMidPath = stressTable(spark, "embeddings", MidCopies)(
      buildEmbCorpus(spark, embBase, _, copies = MidCopies))
    val embMid = spark.read.parquet(embMidPath)

    // lineitem at 10x under remapped order AND part keys: the key
    // columns' distinct counts grow 10x (the profile's exchange must
    // carry 10x more distinct partials; the FK families stay aligned
    // with the 10x orders/part tables below so dq violations replicate
    // per family) while value columns replicate verbatim — the
    // realistic wide-table mix for the all-columns profile (q83)
    val liStressPath = stressTable(spark, "lineitem") { path =>
      val liBase = Tables.lineitem(spark, sfDir)
      (0 until Copies).map { k =>
        if (k == 0) liBase
        else liBase
          .withColumn("l_orderkey", col("l_orderkey") + lit(k * IdStride))
          .withColumn("l_partkey", col("l_partkey") + lit(k * IdStride))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(path)
    }
    val liStress = spark.read.parquet(liStressPath)

    // orders/part at 10x under the same key stride (value columns
    // verbatim): the FK parents of the 10x lineitem — each family is a
    // self-consistent replica, so q113's orphan/temporal violation
    // counts are exactly 10x the base audit's
    val ordStressPath = stressTable(spark, "orders") { path =>
      val oBase = Tables.orders(spark, sfDir)
      (0 until Copies).map { k =>
        if (k == 0) oBase
        else oBase
          .withColumn("o_orderkey", col("o_orderkey") + lit(k * IdStride))
          .withColumn("o_custkey", col("o_custkey") + lit(k * IdStride))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(path)
    }
    val ordStress = spark.read.parquet(ordStressPath)
    val partStressPath = stressTable(spark, "part") { path =>
      val pBase = Tables.part(spark, sfDir)
      (0 until Copies).map { k =>
        if (k == 0) pBase
        else pBase.withColumn("p_partkey", col("p_partkey") + lit(k * IdStride))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(path)
    }
    val partStress = spark.read.parquet(partStressPath)

    // customer at 10x with family-distinct names: the "~kkk" suffix
    // keeps every cross-family distance >= 3 > k=1 (no fabricated
    // cross-family pairs — a 1-char suffix would plant dist-1 pairs
    // between families), so edit-join pairs replicate per family ->
    // rows exactly 10x
    val custStressPath = stressTable(spark, "customer") { path =>
      val cBase = Tables.customer(spark, sfDir)
        .select("c_custkey", "c_name", "c_acctbal")
      (0 until Copies).map { k =>
        if (k == 0) cBase
        else cBase.select(
          (col("c_custkey") + lit(k * IdStride)).as("c_custkey"),
          concat(col("c_name"), lit(s"~$k$k$k")).as("c_name"),
          col("c_acctbal"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(path)
    }
    val custStress = spark.read.parquet(custStressPath)

    // customer at MidCopies for the q118 three-point fit (round-17:
    // the merge row's (1,10) fit had floor_frac 0.63 with no residual
    // check between the endpoints — r16 verdict item 4)
    val custMidPath = stressTable(spark, "customer", MidCopies) { path =>
      val cBase = Tables.customer(spark, sfDir)
        .select("c_custkey", "c_name", "c_acctbal")
      (0 until MidCopies).map { k =>
        if (k == 0) cBase
        else cBase.select(
          (col("c_custkey") + lit(k * IdStride)).as("c_custkey"),
          concat(col("c_name"), lit(s"~$k$k$k")).as("c_name"),
          col("c_acctbal"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(path)
    }
    val custMid = spark.read.parquet(custMidPath)

    // events at 10x under disjoint user families (ts/event_type
    // verbatim, event_id offset to stay unique): each family replays
    // the base per-user series -> spike rows AND SCD-2 version rows 10x
    val evStressPath = stressTable(spark, "events") { path =>
      val eBase = Tables.events(spark, sfDir)
        .select("user_id", "ts", "event_id", "event_type")
      (0 until Copies).map { k =>
        if (k == 0) eBase
        else eBase
          .withColumn("user_id", col("user_id") + lit(k * IdStride))
          .withColumn("event_id", col("event_id") + lit(k * IdStride))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(path)
    }
    val evStress = spark.read.parquet(evStressPath)

    val docCases: Seq[(String, DataFrame => DataFrame)] = Seq(
      "q17_dedup_minhash" -> (d => Dedup.nearDuplicates(d, n = 3, k = 192, b = 64, r = 3, threshold = 0.7)),
      "q22_simhash" -> (d => Dedup.simhashNearDups(d, maxDist = 3)),
      "q28_jaccard_join" -> (d => Dedup.jaccardJoin(d, n = 3, tau = 0.7)),
      "q40_dup_clusters" -> (d => DupClusters.connectedComponents(
        Dedup.jaccardJoin(d, n = 3, tau = 0.7)
          .select(col("doc_a").as("u"), col("doc_b").as("v")))),
      // span rows replicate per copy family (cross-family grams can't
      // collide — every token differs), so sf1_rows = 10 x sf0.1_rows
      // exactly, same linearity contract as the set-based detectors
      "q64_span_dedup" -> (d => Dedup.spanDedup(d, n = 20)),
      // cross-corpus: same %3 split per family (IdStride % 3 == 0), so
      // matches replicate per family -> rows exactly 10x
      "q70_cross_dedup" -> (d => Dedup.crossJaccardMatches(
        d.filter(col("doc_id") % 3 =!= 0), d.filter(col("doc_id") % 3 === 0),
        n = 3, tau = 0.7)),
      // map-only explode: token counts are family-invariant (the ~k
      // suffix never adds tokens), so chunk rows are exactly 10x
      "q65_chunk_overlap" -> (d => operators.Shards.chunkOverlap(d, 64, 48)),
      // per-family token suffixes keep segments family-local, so each
      // family replays the base corpus's duplicate pattern: output rows
      // (= docs) and dropped segments are both exactly 10x
      "q97_segment_dedup" -> (d => Dedup.segmentDedup(d, w = 10)),
      // model vocab and the token-keyed probe both scale with the 10
      // disjoint token families -> rows (= held-out docs) exactly 10x
      "q96_lm_score" -> (d => Vocab.lmFrequencyScore(
        d.filter(col("doc_id") % 3 === 0),
        Vocab.unigramModel(d.filter(col("doc_id") % 3 =!= 0)))),
      // two-level LM (q106): both model tables scale with the 10
      // disjoint token families and the %3 split replicates per family
      // (IdStride % 3 == 0) -> rows (= held-out docs) exactly 10x
      "q106_lm_bigram" -> (d => {
        val ref = d.filter(col("doc_id") % 3 =!= 0)
        Vocab.bigramBackoffScore(d.filter(col("doc_id") % 3 === 0),
          Vocab.bigramModel(ref, floor = 2L), Vocab.unigramModel(ref))
      }),
      // map-only native deflate expression -> rows (= docs) exactly 10x
      "q107_compress_ratio" -> (d => d
        .select(col("doc_id"),
          graft.functions.DeflateStats.deflate_stats(col("text")).as("ds"))
        .select(col("doc_id"), col("ds.n_bytes").as("n_bytes"),
          col("ds.n_deflate").as("n_deflate"))),
      // BM25: the ~k suffixes keep the query terms in copy 0 only, so
      // candidates and the top-20 output are CONSTANT across tiers —
      // this row gates the scan side's linearity (tokenize+filter is
      // the 10x cost; the exchange carries copy-0 postings only); the
      // gate is the time ratio (the q76 rule)
      "q108_bm25_search" -> (d => operators.TextIndex.bm25Search(d,
        Seq("spark", "join", "filter"), k = 20, k1 = 1.2, b = 0.75)),
      // containment pairs are family-local (cross-family grams cannot
      // collide), so ordered pairs replicate per family -> rows 10x
      "q99_containment" -> (d => Dedup.containmentJoin(d, n = 3, tau = 0.8)),
      // composed split chain (q28 pairs -> q40 components -> md5 split),
      // the COMPUTE form (the catalog entry reads the write-once cluster
      // stage; the stress measures the chain itself): rows (= docs) 10x
      "q98_leakage_split" -> (d => operators.Sampling.leakageSafeSplit(d,
        DupClusters.connectedComponents(
          Dedup.jaccardJoin(d, n = 3, tau = 0.7)
            .select(col("doc_a").as("u"), col("doc_b").as("v"))), 0.8, 0.1)),
      // full clean-manifest composition (q97 + the q98 chain + manifest
      // aggregate), compute form; output is the 3-row per-split manifest
      // at both tiers, so the gate is the time ratio (the q76 rule)
      "q100_clean_manifest" -> (d => {
        val cleaned = Dedup.segmentDedup(d, w = 10)
        val splitFrame = operators.Sampling.leakageSafeSplit(d,
          DupClusters.connectedComponents(
            Dedup.jaccardJoin(d, n = 3, tau = 0.7)
              .select(col("doc_a").as("u"), col("doc_b").as("v"))), 0.8, 0.1)
        cleaned.join(splitFrame.select("doc_id", "split"), Seq("doc_id"))
          .select(col("split"), col("n_kept"),
            when(col("text_kept") === "", lit(0L))
              .otherwise(size(split(col("text_kept"), " ")).cast("long"))
              .as("n_tokens"))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_kept").as("n_kept_segments"),
            sum("n_tokens").as("n_tokens"))
      }),
      // BPE, compute form (the catalog entries read the staged
      // tokenizer): the corpus pass (wordFreqs) scales linearly; the 32
      // merge rounds run over the Heaps'-bounded word table (~31 words
      // per disjoint token family -> ~300 at 10x), so learn's output is
      // the constant 32-row merge table and its gate is the time ratio
      "q102_bpe_learn" -> (d => {
        val (rules, _) = operators.Bpe.learn(d, merges = 32)
        d.sparkSession.createDataFrame(rules)
      }),
      // encode emits one row per document -> rows exactly 10x; the
      // in-flight learn rides inside the timed window (compute form)
      "q103_bpe_encode" -> (d => {
        val (_, words) = operators.Bpe.learn(d, merges = 32)
        operators.Bpe.encode(d, words.select("word", "syms"),
          operators.Bpe.subwordIds(operators.Bpe.subwordVocab(words)))
      }),
      // the O(1)-job production path at 10x: the corpus aggregate and
      // the word-table collect scale with the corpus (10 token families
      // -> ~10x the word table), the driver loop with the table only;
      // rows = merges learned (the 10x vocabulary fills the budget the
      // base tier cannot), so the gate is the time ratio (q76 rule).
      // NOTE on the measured ~3x ratio: both tiers run in well under a
      // second (0.3 -> 1.0 s in round 10) — the denominator is the
      // scheduler/collect floor, the q96 small-denominator pattern; the
      // marginal driver-loop cost is bounded by the word table, which
      // Heaps' keeps sublinear in the corpus
      "q104_bpe_learn_1k" -> (d => {
        val (rules, _) =
          operators.Bpe.learnCollected(d, merges = 1024, minCount = 1L)
        d.sparkSession.createDataFrame(rules)
      }),
      // subword-budget packing, compute form (tokenizer learn + subword
      // count join + two-pass prefix sum all inside the timed window);
      // manifest rows track total subwords -> ~10x
      "q105_pack_subword_shards" -> (d => {
        val (_, segs) = operators.Bpe.learnCollected(d, merges = 32)
        operators.Bpe.subwordShardManifest(d, segs, budget = 2048L)
      }),
      // composed curation (q15 admission + q16 exact dedup + q28
      // prefix-filter near-dup + accounting) — the heaviest catalog
      // entry absent from the 10x suite until round 10; each stage is
      // independently stress-verified, this row gates the COMPOSITION
      "q34_curation" -> (d => operators.Curation.curated(d)),
      // NB classifier evidence: model vocabulary scales with the 10
      // disjoint token families while the class list (langs) is
      // family-invariant -> rows (= held-out docs x classes) exactly
      // 10x; the C-row class fan-out and the model probe both ride the
      // corpus-sized pass. Measured ~3.8x at 10x: the 0.5 s base tier
      // is the job-overhead floor (the q96 small-denominator pattern);
      // marginal cost is the map-side fan-out, linear by shape
      "q115_nb_classify" -> (d => Vocab.nbEvidence(
        d.filter(col("doc_id") % 3 === 0),
        Vocab.nbModel(d.filter(col("doc_id") % 3 =!= 0), "lang"))),
      // map-only blocklist regex (q129): the ~k suffixes keep blocked
      // tokens in copy 0 only, so the 10x tier gates the pure
      // scan+alternation cost; rows (= docs) exactly 10x
      "q129_blocklist_filter" -> (d => {
        val hits = operators.TextAnalysis.blocklistHits(col("text"),
          operators.TextAnalysis.blocklist)
        val nTok = size(operators.TextAnalysis.tokens(col("text")))
        d.select(col("doc_id"), nTok.cast("int").as("n_tokens"),
          hits.cast("int").as("n_blocked"))
          .withColumn("keep", col("n_blocked") * 100 <= col("n_tokens") * 12)
      }),
      // native Aho-Corasick dictionary profile (q131), map-only: same
      // copy-0-only hit structure as q129; the row gates the automaton
      // scan's linearity at 10x the text; rows exactly 10x
      "q131_dict_hits" -> (d => d
        .select(col("doc_id"), operators.TextAnalysis.dictHitStats(col("text"),
          operators.TextAnalysis.dictionary).as("h"))
        .select(col("doc_id"), col("h.n_hits"), col("h.n_terms"))),
      // mojibake plant+corrupt+detect+repair (q130), compute form: the
      // 'fast'/'slow' SUBSTRINGS survive the ~k token suffixing, so
      // every family plants and repairs like the base corpus; the
      // encode/validate/decode chain is map-only; rows exactly 10x
      "q130_mojibake_repair" -> (d => d
        .select(col("doc_id"),
          operators.TextAnalysis.mojibakeCorruptPlanted(col("text")).as("text"))
        .select(col("doc_id"),
          operators.TextAnalysis.mojibakeIsBroken(col("text")).as("was_mojibake"),
          md5(operators.TextAnalysis.mojibakeFix(col("text")).cast("binary"))
            .as("text_md5"))),
      // trained IRLS gate (q132), compute form: one feature pass + 12
      // Hessian/gradient aggregates over the persisted features + one
      // scoring pass, all corpus-sized with O(1) driver traffic per
      // step; scored rows exactly 10x
      "q132_logreg_gate" -> (d => operators.Logit.scored(
        operators.Logit.featuresOf(d))),
      // gate evaluation (q133), compute form: the q132 training chain
      // plus the score-keyed aggregate and the bucket-decomposed
      // prefix scan; output bins are constant — the row gates the
      // corpus-sized aggregates' linearity
      "q133_gate_eval" -> (d => operators.Eval.aucReliability(
        operators.Logit.scored(operators.Logit.featuresOf(d)))),
      // DSIR selection (q134), compute form: the tokenize-explode
      // bucket aggregate and the broadcast λ join are corpus-sized;
      // the λ table is 4,096 rows at ANY scale (closed alphabet), the
      // bounded collect + selection constant — timed end to end
      // including the eager λ fit
      "q134_dsir_select" -> (d => {
        val gb = operators.Dsir.gramBuckets(d, col("lang") === "en")
        val w = operators.Dsir.docWeights(gb,
          operators.Dsir.bucketLogRatios(spark, gb))
          .withColumn("w_u", lit(0L))
        operators.Dsir.selectTopK(w)
      }),
      // the streaming gate's one-sided prefix filter (probe = FULL hash
      // set) trades candidate volume for statelessness — this is the
      // check that the trade stays LINEAR at 10x: same %3 split per
      // family, so matches are exactly 10x, like q70; index build +
      // probe both inside the timed window
      "ingest_gate_batch" -> (d => {
        val idx = streaming.IngestGateStream.buildIndex(
          d.filter(col("doc_id") % 3 =!= 0), n = 3, tau = 0.7)
        streaming.IngestGateStream.matches(idx,
          d.filter(col("doc_id") % 3 === 0)
            .withColumn("ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))),
          n = 3, tau = 0.7, "ts")
      }))

    // SemDeDup over a planted-twin corpus (the q80 shape); `centroids`
    // scales as C ∝ √n (see the object scaladoc: balances assignment
    // against within-cluster pair volume at n^1.5 each)
    def semdedup(e: DataFrame, centroids: Int): DataFrame =
      SemanticDedup.semanticDedup(
        Similarity.plantedDupCorpus(e, offset = 10000000L)
          .withColumnRenamed("emb", "embedding"),
        threshold = 0.95, centroids = centroids)

    // the q114 purchase graph and its 10-family stress copy (node ids
    // offset by an EVEN stride so the 2k/2k+1 parity encoding holds and
    // families stay disjoint)
    val prEdges = operators.Graph.purchaseEdges(spark, sfDir)
    def prEdgesCopies(copies: Int): DataFrame = (0 until copies).map { k =>
      if (k == 0) prEdges
      else prEdges.select(
        (col("src") + lit(2L * k * IdStride)).as("src"),
        (col("dst") + lit(2L * k * IdStride)).as("dst"),
        col("weight"))
    }.reduce(_ unionByName _)
    val prEdgesStress = prEdgesCopies(Copies)

    // the q118 merge shape with the batch selected on the FAMILY-LOCAL
    // key (pmod(key, IdStride) == the base key in every family), so the
    // 10x tier replays the base delete/update/insert mix exactly
    def mergeCase(cust: DataFrame, sup: DataFrame): DataFrame = {
      val keyLocal = pmod(col("c_custkey"), lit(IdStride))
      val del = cust.filter(keyLocal % 7 === 0)
        .select(col("c_custkey"), lit("D").as("__op"),
          lit(null).cast("string").as("c_name"),
          lit(null).cast("double").as("c_acctbal"))
      val upd = cust.filter(keyLocal % 7 =!= 0 && keyLocal % 5 === 0)
        .select(col("c_custkey"), lit("U").as("__op"),
          concat(col("c_name"), lit("*")).as("c_name"),
          (col("c_acctbal") + 100.0).as("c_acctbal"))
      // inserted keys 1e6 + s_suppkey + k*IdStride stay disjoint from
      // every family's custkey range (base keys < 1e6 << IdStride)
      val ins = sup.select(
        (lit(1000000L) + col("s_suppkey")).as("c_custkey"),
        lit("I").as("__op"), col("s_name").as("c_name"),
        col("s_acctbal").as("c_acctbal"))
      operators.SnapshotDiff.mergeInto(cust,
        del.unionByName(upd).unionByName(ins),
        "c_custkey", Seq("c_name", "c_acctbal"))
    }
    // supplier side of the q118 merge batch at `copies` families —
    // shared by the 10x and mid-tier cases
    def supCopies(copies: Int): DataFrame = (0 until copies).map { k =>
      val sBase = Tables.supplier(spark, sfDir)
        .select("s_suppkey", "s_name", "s_acctbal")
      if (k == 0) sBase
      else sBase.withColumn("s_suppkey",
        col("s_suppkey") + lit(k * IdStride))
    }.reduce(_ unionByName _)

    // persisted ANN segments for the q109 build/probe rows — ensured
    // (or reused) UNTIMED like the corpora: those rows measure the
    // steady-state ingest/query cost, not the one-time index build
    val annBase = operators.AnnIndex.ivfDeltaIndex(spark, sfDir)
    val annSfRoot = operators.AnnIndex.ivfIndex(spark, sfDir)

    // persisted BM25 index over the 10x corpus (base tier reuses the
    // content-keyed sf0.1 index), both ensured untimed — the q126 row
    // measures the pruned-scan query, not the build
    val bm25SfRoot = operators.TextIndex.bm25Index(spark, sfDir)
    val bm25StressRoot =
      Staging.stage(spark, Staging.Key("stress/text_bm25", Seq(stressPath))) { tmp =>
        operators.TextIndex.writeIndexSegment(stress, tmp)
      }
    val annStressRoot =
      Staging.stage(spark, Staging.Key("stress/ann_ivf", Seq(embStressPath))) { tmp =>
        val e = Similarity.prepared(embStress)
        val cent = Similarity.ivfCentroids(e, 256, 3)
        cent.write.mode("overwrite").parquet(s"$tmp/centroids")
        Similarity.assignToCentroids(e, cent)
          .write.mode("overwrite").partitionBy("cluster").parquet(s"$tmp/lists")
        cent.unpersist()
      }

    // ORC copies of both document tiers, staged untimed like the
    // indexes — the q128 row measures the pushed-down scan, not the
    // one-time format conversion
    val orcSfRoot = operators.Layout.orcDocuments(spark, sfDir)
    val orcStressRoot =
      Staging.stage(spark, Staging.Key("stress/docs_orc", Seq(stressPath))) { tmp =>
        stress.write.mode("overwrite").orc(tmp)
      }

    // the composed paths: full in-memory pipeline chain (q76's semantic
    // twin — the catalog entry's parquet stage writes are write-once and
    // excluded on purpose: the stress measures the COMPUTE chain), and
    // the SemDeDup composition
    // converged base graphs for the q148 insert row, built EAGERLY
    // here (outside every timed thunk) — the staged-artifact analogy:
    // the row measures the INSERT, not the base build
    val nnAppendBase01 = operators.NnDescent.build(
      embBase.filter(col("vec_id") % 10 =!= 0)).localCheckpoint(true)
    val nnAppendBase10 = operators.NnDescent.build(
      embStress.filter(col("vec_id") % 10 =!= 0)).localCheckpoint(true)
    val nnAppendBaseMid = operators.NnDescent.build(
      embMid.filter(col("vec_id") % 10 =!= 0)).localCheckpoint(true)

    val cases: Seq[(String, () => DataFrame, () => DataFrame)] =
      docCases.map { case (n, f) => (n, () => f(base), () => f(stress)) } ++ Seq(
        ("q76_pipeline",
          () => Shards.shardManifest(TrainingPipeline.curatedCorpus(base), budget = 2048L),
          () => Shards.shardManifest(TrainingPipeline.curatedCorpus(stress), budget = 2048L)),
        ("q80_semantic_dedup",
          () => semdedup(embBase, centroids = 64),
          () => semdedup(embStress,
            centroids = (64 * math.sqrt(Copies)).round.toInt)),
        // all-columns single-scan profile over the 10x lineitem: output
        // is the constant 8-row card at both tiers; the key column's
        // 10x distinct count is what the shared-scan fold must absorb
        // edit-distance join over the 10x customer table: within-family
        // pair structure replicates (constant per-family suffix), the
        // "~kkk" suffix forbids cross-family candidates -> pairs 10x
        ("q111_edit_join",
          () => operators.Fuzzy.editJoin(Tables.customer(spark, sfDir)
            .select(col("c_custkey").as("id"), col("c_name").as("name")),
            k = 1),
          () => operators.Fuzzy.editJoin(custStress
            .select(col("c_custkey").as("id"), col("c_name").as("name")),
            k = 1)),
        // PageRank over 10 disjoint copies of the purchase graph (node
        // ids offset by an even stride so the parity encoding holds):
        // per-iteration join volume is edge-sized -> time linear, node
        // rows exactly 10x; the checkpointed iterations ride inside the
        // timed window (compute form)
        ("q114_pagerank",
          () => operators.Graph.pageRank(prEdges, 0.85, 15),
          () => operators.Graph.pageRank(prEdgesStress, 0.85, 15)),
        // SQ8 over the 10x embeddings: constant 10-query/top-5 output,
        // the gate is the time ratio of the corpus-sized encode+scan
        ("q116_knn_sq8",
          () => Similarity.knnSq8(embBase, 10, 5),
          () => Similarity.knnSq8(embStress, 10, 5)),
        // rolling spike detection over the 10x events: disjoint user
        // families replay the base day series -> rows exactly 10x; the
        // corpus-sized pass is the daily count, the window runs on the
        // compacted user x day frame
        ("q117_spike_detect",
          () => operators.Events.spikeDetect(
            Tables.events(spark, sfDir), window = 7, factor = 3),
          () => operators.Events.spikeDetect(evStress, window = 7, factor = 3)),
        ("q83_profile_columns",
          () => operators.Profiling.profileColumns(
            Tables.lineitem(spark, sfDir),
            numeric = Seq("l_orderkey", "l_quantity", "l_extendedprice",
              "l_discount", "l_tax"),
            other = Seq("l_returnflag", "l_linestatus", "l_shipdate")),
          () => operators.Profiling.profileColumns(
            liStress,
            numeric = Seq("l_orderkey", "l_quantity", "l_extendedprice",
              "l_discount", "l_tax"),
            other = Seq("l_returnflag", "l_linestatus", "l_shipdate"))),
        // SCD-2 over the 10x event log: disjoint user families replay
        // the base per-user version chains -> version rows exactly 10x;
        // per-entity windows only, so the exchange is user-keyed
        ("q112_scd2",
          () => operators.SnapshotDiff.scd2(
            Tables.events(spark, sfDir).withColumn("ts",
              expr(operators.Intervals.floorDiv("ts", 1000L))),
            key = "user_id", ts = "ts", tiebreak = "event_id",
            state = "event_type"),
          () => operators.SnapshotDiff.scd2(
            evStress.withColumn("ts",
              expr(operators.Intervals.floorDiv("ts", 1000L))),
            key = "user_id", ts = "ts", tiebreak = "event_id",
            state = "event_type")),
        // declarative DQ audit over the 10x warehouse (lineitem/orders/
        // customer/part families key-aligned, documents the 10x corpus):
        // output is the constant 10-row battery at both tiers. The
        // key-aligned tables replay the base FK/uniqueness/temporal
        // violations per family; the two DOCUMENTS checks do not (the
        // stress corpus rewrites text and recomputes n_chars, so those
        // violations exist in copy 0 only) — the gate is the time
        // ratio of the fused scans + the one lineitem-orders join
        ("q113_dq_audit",
          () => operators.Profiling.dqAudit(
            Tables.customer(spark, sfDir), Tables.orders(spark, sfDir),
            Tables.lineitem(spark, sfDir), Tables.part(spark, sfDir),
            Tables.documents(spark, sfDir)),
          () => operators.Profiling.dqAudit(
            custStress, ordStress, liStress, partStress, stress)),
        // MERGE INTO over the 10x dimension: the change batch selects on
        // the FAMILY-LOCAL key (pmod(key, IdStride)), so every family
        // replays the base delete/update/insert mix exactly -> merged
        // rows exactly 10x; the full-outer key join is the only exchange
        ("q118_merge_upsert",
          () => mergeCase(Tables.customer(spark, sfDir)
              .select("c_custkey", "c_name", "c_acctbal"),
            supCopies(1)),
          () => mergeCase(custStress, supCopies(Copies))),
        // q109 build form — the per-ingest cost of the incremental IVF
        // index: one broadcast-centroid assignment pass over the delta
        // arrivals (frozen centroids read from the persisted index, the
        // production shape); delta rows exactly 10x, cost map-linear
        ("q109_ivf_delta_build",
          () => Similarity.assignToCentroids(
            Similarity.prepared(Tables.embeddings(spark, sfDir))
              .filter(col("vec_id") % 10 === 0),
            spark.read.parquet(s"${annBase._1}/centroids")),
          () => Similarity.assignToCentroids(
            Similarity.prepared(embStress).filter(col("vec_id") % 10 === 0),
            spark.read.parquet(s"$annStressRoot/centroids"))),
        // byte-level encode at 10x, compute form (the q103 convention:
        // the in-flight byte-mode learn rides inside the timed window):
        // one row per document -> rows exactly 10x; the corpus-side
        // cost is the explode + broadcast word/ids joins
        ("q123_bpe_byte_encode",
          () => {
            val (_, words) = operators.Bpe.learnCollected(base, merges = 32,
              symsOf = operators.Bpe.byteSymsLocal)
            operators.Bpe.encodeBytes(base, words.select("word", "syms"),
              operators.Bpe.subwordIds(operators.Bpe.byteVocab(words)))
          },
          () => {
            val (_, words) = operators.Bpe.learnCollected(stress, merges = 32,
              symsOf = operators.Bpe.byteSymsLocal)
            operators.Bpe.encodeBytes(stress, words.select("word", "syms"),
              operators.Bpe.subwordIds(operators.Bpe.byteVocab(words)))
          }),
        // persisted-index BM25 query at 10x (indexes pre-built untimed):
        // the query terms live in copy 0 only, so candidates and the
        // top-20 output are constant — the row gates the linearity of
        // the bucket-pruned, term-filtered index scan (the pruned
        // partitions hold 10x the postings; the term pushdown discards
        // the suffixed families at the scan)
        ("q126_bm25_indexed",
          () => operators.TextIndex.bm25SearchAt(spark, bm25SfRoot,
            Seq("spark", "join", "filter"), k = 20, k1 = 1.2, b = 0.75),
          () => operators.TextIndex.bm25SearchAt(spark, bm25StressRoot,
            Seq("spark", "join", "filter"), k = 20, k1 = 1.2, b = 0.75)),
        // PCA whitening at 10x (q135): the moment aggregate is the
        // corpus-sized piece (one 2,145-field decimal row shipped per
        // partition's partial); the 64x64 Jacobi fit is constant
        // driver work at both tiers; projected rows exactly 10x
        ("q135_pca_whiten",
          () => {
            val m = operators.Pca.fit(embBase)
            operators.Pca.project(embBase, m)
          },
          () => {
            val m = operators.Pca.fit(embStress)
            operators.Pca.project(embStress, m)
          }),
        // two-stage rerank at 10x (q136): constant 10-query/top-5
        // output; the gated cost is the 16-d candidate scan (corpus-
        // sized, 10x) + the constant-size rerank — fit included in the
        // timed window at both tiers (one moment aggregate)
        ("q136_knn_pca_rerank",
          () => operators.Pca.knnPcaRerank(embBase, nQueries = 10, k = 5),
          () => operators.Pca.knnPcaRerank(embStress, nQueries = 10, k = 5)),
        // NN-descent graph build at 10x (q146): per-round candidate
        // volume is N*cap^2 — linear in N (the published economics);
        // degree, cap and rounds fixed at both tiers
        ("q146_knn_graph",
          () => operators.NnDescent.build(embBase),
          () => operators.NnDescent.build(embStress)),
        // graph delta insert at 10x (q148): base graphs prebuilt
        // EAGERLY outside the timed thunks (the staged-artifact
        // analogy — the row measures the INSERT, not the base build);
        // delta volume is 10% of each tier, so cost must stay linear
        ("q148_knn_graph_append",
          () => operators.NnDescent.appendToGraph(embBase,
            nnAppendBase01, col("vec_id") % 10 === 0),
          () => operators.NnDescent.appendToGraph(embStress,
            nnAppendBase10, col("vec_id") % 10 === 0)),
        // cluster-quality audit at 10x (q138), compute form: train +
        // assign + the n x C silhouette aggregate all inside the timed
        // window; C = 256 at both tiers, so cost is corpus-linear and
        // cluster rows stay bounded by C
        ("q138_cluster_quality",
          () => {
            val e = operators.Similarity.prepared(embBase)
            val c = operators.Similarity.ivfCentroids(e, 256, 3)
            operators.AnnIndex.clusterQualityOf(
              operators.Similarity.assignToCentroids(e, c), c)
          },
          () => {
            val e = operators.Similarity.prepared(embStress)
            val c = operators.Similarity.ivfCentroids(e, 256, 3)
            operators.AnnIndex.clusterQualityOf(
              operators.Similarity.assignToCentroids(e, c), c)
          }),
        // ORC interchange scan (q128): both tiers read a pre-staged ORC
        // copy (ensured untimed); the timed query is the pushed-down
        // lang filter + projection + md5 — filtered rows exactly 10x
        // (lang rides every copy family verbatim)
        ("q128_orc_roundtrip",
          () => spark.read.orc(orcSfRoot).filter(col("lang").isin("en", "zh"))
            .select(col("doc_id"), md5(col("text").cast("binary")).as("m")),
          () => spark.read.orc(orcStressRoot).filter(col("lang").isin("en", "zh"))
            .select(col("doc_id"), md5(col("text").cast("binary")).as("m"))),
        // q109/q77 probe form — the steady-state query cost against the
        // persisted single-segment index (both indexes pre-built
        // untimed): constant 10-query/top-5 output, the gate is the
        // time ratio of the partition-pruned nProbe/C list scan
        ("q109_ivf_probe",
          () => Similarity.ivfProbe(
            spark.read.parquet(s"$annSfRoot/lists"),
            spark.read.parquet(s"$annSfRoot/centroids"),
            Similarity.prepared(Tables.embeddings(spark, sfDir))
              .filter(col("vec_id") < 10), 32, 5),
          () => Similarity.ivfProbe(
            spark.read.parquet(s"$annStressRoot/lists"),
            spark.read.parquet(s"$annStressRoot/centroids"),
            Similarity.prepared(embStress).filter(col("vec_id") < 10), 32, 5)))

    // ONE untimed warm-up (JIT + file cache) before any timed row: on a
    // fresh JVM the first timed query otherwise absorbs ~5 s of cold
    // JIT, which reads as a bogus sublinear "speedup" at 10× whenever
    // the stress corpus is already built (when it isn't, the corpus
    // build itself warms the JVM — the asymmetry that made early runs
    // incomparable). Per-query timing stays single-pass on purpose: the
    // stress measures scaling shape, not steady-state medians.
    spark.catalog.clearCache()
    docCases.head._2(base).count()

    val loadStart = Bench.loadavgJson()
    val results = cases.map { case (name, buildBase, buildStress) =>
      def timed(build: () => DataFrame): (Double, Long) = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val rows = build().count()
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      val (s01, rows01) = timed(buildBase)
      val (s1, rows1) = timed(buildStress)
      println(f"[stress] $name%-18s sf0.1 $s01%6.1f s / $rows01%,d rows -> " +
        f"sf1 $s1%6.1f s / $rows1%,d rows  (time x${s1 / s01}%.1f, rows x${rows1.toDouble / math.max(rows01, 1)}%.1f)")
      (name, s01, rows01, s1, rows1)
    }

    // third point at MidCopies for the five largest-marginal rows
    // (r10: q114 2.83 s/copy, q76 1.61, then q17/q100/q40) — timed
    // AFTER the full two-tier pass so the JVM is equally hot
    val docFn = docCases.toMap
    val midCases: Seq[(String, () => DataFrame)] = Seq(
      "q17_dedup_minhash" -> (() => docFn("q17_dedup_minhash")(docsMid)),
      "q40_dup_clusters" -> (() => docFn("q40_dup_clusters")(docsMid)),
      "q100_clean_manifest" -> (() => docFn("q100_clean_manifest")(docsMid)),
      "q76_pipeline" -> (() => Shards.shardManifest(
        TrainingPipeline.curatedCorpus(docsMid), budget = 2048L)),
      "q114_pagerank" -> (() =>
        operators.Graph.pageRank(prEdgesCopies(MidCopies), 0.85, 15)),
      // graph family (round-12 verdict task 6): the newest fits get the
      // same three-point linearity test as the dedup family
      "q146_knn_graph" -> (() => operators.NnDescent.build(embMid)),
      "q148_knn_graph_append" -> (() => operators.NnDescent.appendToGraph(
        embMid, nnAppendBaseMid, col("vec_id") % 10 === 0)),
      // round-17 (r16 verdict item 4): the worst-ratio row gets the
      // same three-point linearity check — the (1,10) fit said
      // floor 0.38 s + 0.23 s/copy, and the residual here tests it
      "q118_merge_upsert" -> (() => mergeCase(custMid, supCopies(MidCopies))))
    val midSec: Map[String, Double] = midCases.map { case (n, b) =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      b().count()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[stress] $n%-18s mid(${MidCopies}x) $s%6.1f s")
      n -> s
    }.toMap

    // graph-search hop telemetry at 1x and 10x (round-12 verdict task
    // 4: "hops, not just time"): flat layer-0 search vs the q152
    // hierarchical descent, BOTH under the same adaptive hops-to-
    // converge rule, over the persisted indexes (staged untimed — the
    // rows measure the SEARCH). The claim under test: flat hops grow
    // with the layer-0 diameter as the corpus grows; hier hops grow
    // with the LEVEL count (logarithmic), so the hier column must stay
    // ~flat (within +levels) while the corpus grows 10x.
    // the 10x embeddings' stage root is a folder holding embeddings.parquet
    val embStressDir = Paths.get(embStressPath).getParent.toString
    val hierHops = Seq("sf0.1" -> sfDir, "sf1" -> embStressDir).map {
      case (tag, d) =>
        operators.NnDescent.graphIndexStaged(spark, d) // staged untimed
        operators.GraphServe.graphHierStaged(spark, d)
        spark.catalog.clearCache()
        val tF0 = System.nanoTime()
        val flat = operators.GraphServe.graphSearchFlatTrace(spark, d, 10, 5)
        val flatSec = (System.nanoTime() - tF0) / 1e9
        spark.catalog.clearCache()
        val tH0 = System.nanoTime()
        val hier = operators.GraphServe.graphSearchHierTrace(spark, d, 10, 5)
        val hierSec = (System.nanoTime() - tH0) / 1e9
        println(f"[stress] hier-hops $tag%-6s flat=${flat.hops}%2d hops " +
          f"($flatSec%5.1f s)  hier=${hier.hops}%2d hops over " +
          f"${hier.levels} levels ($hierSec%5.1f s)")
        s""""$tag":{"flat_hops":${flat.hops},"flat_sec":$flatSec,""" +
          s""""hier_hops":${hier.hops},"hier_levels":${hier.levels},""" +
          s""""hier_sec":$hierSec}"""
    }

    // two-point linear fit t(c) = floor + c·marginal over the 1-copy and
    // 10-copy tiers (round-10 verdict: four of five >2.5x ratios were
    // the same fixed-overhead pattern explained in prose — the artifact
    // now separates floor from slope directly). floor_frac ~ 1 means
    // the base tier is scheduler/collect overhead and a raw time_ratio
    // far below 10 is EXPECTED; fit_marginal_sec_per_copy is the honest
    // per-copy cost the 100 TB extrapolation rides on. A sublinear pair
    // (s1 < s01, ambient noise) clamps marginal to 0 and floor to s01.
    val json = results.map { case (name, s01, rows01, s1, rows1) =>
      val marginal = math.max(0.0, (s1 - s01) / (Copies - 1).toDouble)
      val floor = math.max(0.0, s01 - marginal)
      val floorFrac = if (s01 > 0) floor / s01 else 0.0
      // mid-tier residual (r11 task 5): measured t(MidCopies) vs the
      // two-point fit's prediction — |frac| well under ~0.3 says the
      // linearity the (1,10) fit assumes actually holds between the
      // endpoints; a large positive residual would mark hidden
      // super-linearity the endpoints alone cannot see
      val midPart = midSec.get(name).map { m =>
        val pred = floor + MidCopies * marginal
        val frac = if (m > 0) (m - pred) / m else 0.0
        s""","mid_copies":$MidCopies,"mid_sec":$m,"fit_pred_mid_sec":$pred,"fit_residual_frac":$frac"""
      }.getOrElse("")
      s""""$name":{"sf0.1_sec":$s01,"sf0.1_rows":$rows01,"sf1_sec":$s1,"sf1_rows":$rows1,"time_ratio":${s1 / s01},"fit_floor_sec":$floor,"fit_marginal_sec_per_copy":$marginal,"floor_frac":$floorFrac$midPart}"""
    }.mkString("{", ",", "}")
    val out =
      s"""{"metric":"stress_sf1","copies":$Copies,"queries":$json,""" +
        s""""graph_search_hops":${hierHops.mkString("{", ",", "}")},""" +
        s""""loadavg_start":$loadStart,"loadavg_end":${Bench.loadavgJson()}}"""
    Files.writeString(Paths.get("target/stress_sf1.json"), out + "\n")
    spark.stop()
    println(out)
  }
}
