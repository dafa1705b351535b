package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query

/** Classifier evaluation over a scored corpus: exact tie-aware ROC AUC
  * (the Mann–Whitney/rank-sum statistic every model-quality gate ships)
  * plus a 10-bin reliability (calibration) table — the audit a trained
  * curation filter (q132's logistic gate, q115's NB classifier) needs
  * before its threshold is trusted to cut a 100 TB corpus.
  *
  * Scale design — AUC is a GLOBAL-rank statistic, and global ranks are
  * the q31 single-task pathology if computed with a bare corpus-wide
  * window. This operator never ranks rows:
  *
  *   1. ONE score-keyed map-side-combining aggregate collapses the
  *      corpus to the distinct-score table `(s, n_pos, n_neg)` — for
  *      discrete-feature models (q132's integer-derived features) this
  *      is orders of magnitude below corpus size; ties are handled
  *      EXACTLY by construction (the ½·n_pos·n_neg midrank term is a
  *      per-group product, never a rank comparison).
  *   2. The exclusive "negatives below this score" prefix is a
  *      distributed scan, not a window: scores shard into 65,536
  *      equal-width buckets; per-bucket totals (a constant-bounded
  *      frame, ≤ 65,537 rows) get their exclusive prefix in one
  *      constant-width window (the q85 convention: windows only over
  *      constant-bounded frames), broadcast-joined back; within-bucket
  *      prefixes run in windows PARTITIONED BY bucket, whose input is
  *      the distinct-score table — never per-document rows. Bucket
  *      width is the knob for pathological continuous-score models;
  *      equal-width on [0,1] is exact for any probability output.
  *   3. AUC = Σ_s n_pos(s)·(2·cumneg(s) + n_neg(s)) over 2·P·N — the
  *      numerator and denominator are INTEGER aggregates (order-free,
  *      engine-exact; the q96/q71 rule), and the final division is one
  *      IEEE double op on exactly-represented integers, so the double
  *      is bit-identical in any engine. (At corpus sizes where P·N
  *      exceeds 2⁵³ the two integer columns are the contract and the
  *      ratio derives downstream in wider arithmetic.)
  *
  * The reliability table is one bin-keyed aggregate: per decile bin of
  * the predicted probability, document count, positive count, and the
  * predicted-probability sum in integer micro-units (`round(p·1e6)` —
  * HALF_UP on positive doubles is identical in Spark and DuckDB, and
  * the micro-unit sum keeps the oracle integer-exact where a double
  * sum would be partial-aggregation-order-dependent).
  *
  * Oracle: the q105 staged convention — the scored frame (whose
  * p_keep doubles come from the bit-deterministic q132 training, gated
  * in LogitSpec) is staged write-once; DuckDB recomputes AUC and the
  * bins from the SAME staged parquet with a naive single-window
  * cumulative, so the bucket-decomposed scan is checked against the
  * textbook form hash-exactly. EvalSpec adds a hand-computed tied AUC,
  * perfect/inverted separation, a plain-Scala midrank twin, and the
  * no-corpus-window plan guard.
  */
object Eval {

  /** Distinct-score shard count for the prefix scan — the constant
    * bound on the one unpartitioned (bucket-totals) window. */
  val PrefixBuckets = 65536

  /** Exact tie-aware ROC AUC + decile reliability bins over a scored
    * frame with columns (`label` ∈ {0,1} int, `score` ∈ [0,1] double).
    * Returns one row per TOUCHED decile bin, each carrying the global
    * AUC columns (broadcast one-row attach, the q46 pattern):
    * (bin, n_docs, n_pos, sum_p_u, auc_num, auc_den, auc,
    * n_pos_total, n_neg_total). Degenerate single-class input yields
    * auc_den = 0 and auc = NaN rather than an error — the caller's
    * gate (EvalSpec / the q129 non-degenerate-split gate) owns that
    * contract. */
  def aucReliability(scored: DataFrame, score: String = "p_keep",
      label: String = "label"): DataFrame = {
    val s = col(score)
    // 1. corpus -> distinct-score table (the only corpus-wide pass
    //    besides the independent bin aggregate below)
    val groups = scored
      .groupBy(s.as("s"))
      .agg(count(lit(1)).as("n"), sum(col(label)).cast("long").as("npos"))
      .withColumn("nneg", col("n") - col("npos"))
      // clamp in LONG space before the int cast: via the graft_auc TVF
      // the score column is arbitrary, and floor(s*65536) beyond int
      // range would wrap under the non-ANSI cast, scrambling bucket
      // order and the cumneg prefix. Clamping to [0, buckets-1] keeps
      // out-of-[0,1] scores CORRECT — every s<0 lands in bucket 0 and
      // every s>1 in the top bucket, and the in-bucket window still
      // orders by the raw score, so the global score order (all AUC
      // needs) is preserved exactly.
      .withColumn("b", greatest(lit(0L), least(
        floor(col("s") * PrefixBuckets), lit((PrefixBuckets - 1).toLong)))
        .cast("int"))
    // 2. distributed exclusive prefix of nneg in score order:
    //    constant-bounded bucket-total window + partitioned in-bucket
    //    windows (input = distinct scores, never documents)
    val bucketTotals = groups.groupBy("b").agg(sum("nneg").as("bneg"))
    val bucketOffsets = bucketTotals.withColumn("boff",
      coalesce(sum("bneg").over(Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("b", "boff")
    val inBucket = Window.partitionBy("b").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val withCum = groups
      .join(broadcast(bucketOffsets), "b")
      .withColumn("cumneg",
        col("boff") + coalesce(sum("nneg").over(inBucket), lit(0L)))
    // 3. integer AUC aggregate
    val tot = withCum.agg(
      sum(col("npos") * (lit(2L) * col("cumneg") + col("nneg")))
        .cast("long").as("auc_num"),
      (lit(2L) * sum("npos") * sum("nneg")).cast("long").as("auc_den"),
      sum("npos").cast("long").as("n_pos_total"),
      sum("nneg").cast("long").as("n_neg_total"))
    // reliability bins: one independent bin-keyed aggregate. Bin id
    // and the micro-unit mean are CALIBRATION-of-a-probability
    // readings, so out-of-[0,1] scores (reachable via the graft_auc
    // TVF) clamp to the edge bins/micro-units — same discipline as
    // the prefix bucket above, and it keeps the ANSI int/long casts
    // from overflowing on arbitrary score magnitudes
    val sCal = greatest(lit(0.0d), least(s, lit(1.0d)))
    val bins = scored
      .groupBy(least(floor(sCal * 10).cast("int"), lit(9)).as("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(label)).cast("long").as("n_pos"),
        sum(round(sCal * 1e6d).cast("long")).as("sum_p_u"))
    bins.crossJoin(broadcast(tot))
      .withColumn("auc",
        // the degenerate single-class corpus yields NaN, not an ANSI
        // divide-by-zero error (the guard never fires on real input —
        // the q129 split is non-degenerate, EvalSpec-gated)
        when(col("auc_den") === 0L, lit(Double.NaN))
          .otherwise(
            col("auc_num").cast("double") / col("auc_den").cast("double")))
      .orderBy("bin")
  }

  /** Write-once content-keyed staging of the q132 scored corpus — the
    * frame both the entry and the DuckDB oracle read, so the two sides
    * share the training output bit-for-bit (training itself is the
    * LogitSpec-gated deterministic IRLS). */
  def stagedScored(spark: SparkSession, dir: String): String = {
    Staging.stage(spark, Staging.Key("gate_eval/scored", Seq(s"$dir/documents.parquet"))) { tmp =>
      Logit.scored(Logit.features(spark, dir))
        .repartition(4)
        .write.mode("overwrite").parquet(tmp)
    }
  }

  // ---- q137: dedup-pipeline recall evaluation -------------------------

  /** Write-once staging of a DELIBERATELY miscalibrated MinHash-LSH
    * pass: b=4 bands × r=24 rows puts the banding S-curve's midpoint
    * at (1/4)^(1/24) ≈ 0.94 — far above the τ=0.7 contract, so even
    * the corpus's 0.90–0.96 near-twin pairs get missed with real
    * probability. This is exactly the misconfiguration the audit
    * below exists to expose ("what recall is this banding actually
    * buying at my τ?") — q17's production b=64×r=3 misses at ~1e-12,
    * which would make the audit vacuous. Deterministic
    * (structural-hash permutations), so the miss set is a fixed fact
    * of the corpus, not a sample. */
  def lshPairsStaged(spark: SparkSession, dir: String): String = {
    Staging.stage(spark,
        Staging.Key("dedup_eval/lsh_b4r24", Seq(s"$dir/documents.parquet"))) { tmp =>
      Dedup.nearDuplicates(graft.sources.Tables.documents(spark, dir),
        n = 3, k = 96, b = 4, r = 24, threshold = 0.7)
        .select("doc_a", "doc_b")
        .repartition(1)
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** Recall evaluation of an approximate dedup candidate generator
    * against the exact ground truth: one row with the confusion counts
    * (n_true from the lossless q28 prefix-filter join, n_found/n_hit/
    * n_missed against the approximate pair set) and the largest missed
    * pair's Jaccard in integer micro-units — misses concentrate just
    * above τ, and this column proves it. All corpus-sized work is the
    * two generators themselves; the comparison is a left join on the
    * (small) true-pair set. Integer columns only (the q96/q71 rule). */
  def dedupRecallEval(truth: DataFrame, approx: DataFrame): DataFrame = {
    val t = truth
      .join(approx.withColumn("hit", lit(1)), Seq("doc_a", "doc_b"), "left")
      .select(col("jaccard"), coalesce(col("hit"), lit(0)).as("hit"))
    val agg = t.agg(
      count(lit(1)).cast("long").as("n_true"),
      sum(col("hit")).cast("long").as("n_hit"),
      sum(lit(1) - col("hit")).cast("long").as("n_missed"),
      coalesce(max(when(col("hit") === 0,
        floor(col("jaccard") * 1e6d).cast("long"))), lit(-1L))
        .as("j_missed_max_u"))
    val nf = approx.agg(count(lit(1)).cast("long").as("n_found"))
    agg.crossJoin(broadcast(nf))
  }

  @volatile private[graft] var stagedOracleRoot: Option[String] = None
  @volatile private[graft] var stagedLshRoot: Option[String] = None

  // `def`, not `val`: the oracle SQL embeds [[stagedOracleRoot]], which
  // the entry's run sets (the q105/q121 staged-oracle convention)
  def queries: Seq[Query] = Seq(
    Query(
      "q133_gate_eval",
      "Exact tie-aware ROC AUC + decile reliability table for the " +
        "trained q132 curation gate — the model-quality audit before a " +
        "learned filter's threshold cuts a corpus. Global ranks are " +
        "never computed: one score-keyed aggregate collapses the " +
        "corpus to the distinct-score table (midrank tie term is a " +
        "per-group product), and the negatives-below prefix is a " +
        "distributed scan — 65,536 score buckets, one constant-bounded " +
        "bucket-totals window, partitioned in-bucket windows — not a " +
        "corpus-wide bare window (the q31 pathology). AUC numerator " +
        "and denominator are integer aggregates; the division is one " +
        "IEEE op on exact integers, bit-identical across engines. " +
        "Oracle: DuckDB recomputes from the SAME staged scored parquet " +
        "with a naive single-window cumulative (the q105 staged " +
        "convention), checking the decomposed scan against the " +
        "textbook form hash-exactly.",
      (s, dir) => {
        val root = stagedScored(s, dir)
        stagedOracleRoot = Some(new java.io.File(root).getAbsolutePath)
        aucReliability(s.read.parquet(root))
      },
      oracleFn = Some(() => stagedOracleRoot.map(root => s"""
        WITH sc AS (
          SELECT label, p_keep FROM read_parquet('$root/*.parquet')
        ), g AS (
          SELECT p_keep AS s, COUNT(*) AS n,
                 CAST(SUM(label) AS BIGINT) AS npos
          FROM sc GROUP BY 1
        ), w AS (
          SELECT s, npos, n - npos AS nneg,
                 CAST(COALESCE(SUM(n - npos) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cumneg
          FROM g
        ), tot AS (
          SELECT CAST(SUM(npos * (2 * cumneg + nneg)) AS BIGINT) AS auc_num,
                 CAST(2 * SUM(npos) * SUM(nneg) AS BIGINT) AS auc_den,
                 CAST(SUM(npos) AS BIGINT) AS n_pos_total,
                 CAST(SUM(nneg) AS BIGINT) AS n_neg_total
          FROM w
        ), bins AS (
          SELECT CAST(LEAST(CAST(FLOOR(p_keep * 10) AS INT), 9) AS INT) AS bin,
                 COUNT(*) AS n_docs,
                 CAST(SUM(label) AS BIGINT) AS n_pos,
                 CAST(SUM(CAST(ROUND(p_keep * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_p_u
          FROM sc GROUP BY 1
        )
        SELECT bin, n_docs, n_pos, sum_p_u, auc_num, auc_den,
               CAST(auc_num AS DOUBLE) / CAST(auc_den AS DOUBLE) AS auc,
               n_pos_total, n_neg_total
        FROM bins CROSS JOIN tot
        ORDER BY bin"""))),

    Query(
      "q141_gate_divergence",
      "Model-vs-rule divergence monitor - the per-segment disagreement " +
        "audit a deployed learned filter needs continuously (the batch " +
        "twin of the signal the streaming gate emits): per language, " +
        "document count, rule-keep count, model-keep count, and the " +
        "two disagreement directions (model keeps what the rule drops " +
        "/ drops what the rule keeps), from ONE join of the staged " +
        "scored frame back to the documents table and one group " +
        "aggregate - integer columns only. Oracle: DuckDB recomputes " +
        "the audit from documents + the SAME staged parquet (the q105 " +
        "convention; the scores themselves are LogitSpec/EvalSpec-" +
        "gated).",
      (s, dir) => {
        val root = stagedScored(s, dir)
        stagedOracleRoot = Some(new java.io.File(root).getAbsolutePath)
        val sc = s.read.parquet(root).select("doc_id", "label", "pred")
        graft.sources.Tables.documents(s, dir).select("doc_id", "lang")
          .join(sc, "doc_id")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("label")).cast("long").as("n_rule_keep"),
            sum(col("pred")).cast("long").as("n_model_keep"),
            sum(when(col("pred") === 1 && col("label") === 0, 1L)
              .otherwise(0L)).as("n_model_only"),
            sum(when(col("pred") === 0 && col("label") === 1, 1L)
              .otherwise(0L)).as("n_rule_only"))
          .orderBy("lang")
      },
      oracleFn = Some(() => stagedOracleRoot.map(root => s"""
        SELECT d.lang,
               COUNT(*) AS n_docs,
               CAST(SUM(s.label) AS BIGINT) AS n_rule_keep,
               CAST(SUM(s.pred) AS BIGINT) AS n_model_keep,
               CAST(SUM(CASE WHEN s.pred = 1 AND s.label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_model_only,
               CAST(SUM(CASE WHEN s.pred = 0 AND s.label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rule_only
        FROM documents d
        JOIN read_parquet('$root/*.parquet') s USING (doc_id)
        GROUP BY d.lang
        ORDER BY d.lang"""))),

    Query(
      "q137_dedup_recall_eval",
      "Recall audit of an approximate dedup candidate generator " +
        "against exact ground truth — the measurement a dedup owner " +
        "runs before trusting a banding at 100 TB: ground truth from " +
        "the lossless q28 prefix-filter Jaccard join, the candidate " +
        "under audit a deliberately miscalibrated MinHash-LSH pass " +
        "(b=4 x r=24 - S-curve midpoint ~0.94, far above the tau=0.7 " +
        "contract, so the corpus's near-twin pairs get missed with " +
        "real probability; q17's production banding misses at 1e-12, " +
        "which would make the audit vacuous), compared by one left " +
        "join on the small true-pair set. One row: confusion counts " +
        "+ the largest missed pair's " +
        "Jaccard in micro-units (misses concentrate just above tau). " +
        "Oracle: DuckDB recomputes the exact pairs from documents " +
        "(the q28 SQL) and the confusion against the STAGED candidate " +
        "parquet (the q105 convention) — integer-exact.",
      (s, dir) => {
        val root = lshPairsStaged(s, dir)
        stagedLshRoot = Some(new java.io.File(root).getAbsolutePath)
        val truth = Dedup.jaccardJoin(
          graft.sources.Tables.documents(s, dir), n = 3, tau = 0.7)
          .select("doc_a", "doc_b", "jaccard")
        dedupRecallEval(truth, s.read.parquet(root))
      },
      oracleFn = Some(() => stagedLshRoot.map(root => s"""
        WITH sh AS (
          SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(ws) - 1),
                                         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
          FROM (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS ws
                FROM documents)
        ), sz AS (
          SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), truth AS (
          SELECT doc_a, doc_b,
                 CAST(i AS DOUBLE) / CAST(za.n + zb.n - i AS DOUBLE) AS jaccard
          FROM inter
          JOIN sz za ON za.doc_id = doc_a
          JOIN sz zb ON zb.doc_id = doc_b
          WHERE CAST(i AS DOUBLE) / CAST(za.n + zb.n - i AS DOUBLE) >= 0.7
        ), found AS (
          SELECT doc_a, doc_b FROM read_parquet('$root/*.parquet')
        ), m AS (
          SELECT t.jaccard, (f.doc_a IS NOT NULL) AS hit
          FROM truth t LEFT JOIN found f USING (doc_a, doc_b)
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
               CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
               CAST(SUM(CASE WHEN hit THEN 0 ELSE 1 END) AS BIGINT) AS n_missed,
               CAST(COALESCE(MAX(CASE WHEN NOT hit
                 THEN CAST(FLOOR(jaccard * 1000000.0) AS BIGINT) END), -1)
                 AS BIGINT) AS j_missed_max_u,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM found) AS n_found
        FROM m""")))
  )
}
