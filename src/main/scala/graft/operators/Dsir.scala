package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.sources.Tables

/** Data selection via importance resampling (the DSIR shape — Xie et
  * al. 2023, "Data Selection for Language Models via Importance
  * Resampling"): fit hashed-n-gram bag-of-words models on a TARGET
  * slice (the distribution you want more of — here the `lang='en'`
  * documents) and on the RAW pool, weight every raw document by the
  * log-likelihood ratio of its n-gram counts under the two models, and
  * keep the top-k. This is the standard published recipe for steering
  * a web-scale corpus toward a quality domain without training a
  * classifier — the third selection signal next to the hand rule
  * (q129) and the learned gates (q115/q132).
  *
  * Scale design — everything corpus-sized is an aggregate:
  *   1. ONE tokenize-explode pass emits unigram+bigram shingles mapped
  *      to a CLOSED 4,096-bucket alphabet (`pmod` of the md5-hex
  *      prefix — hashing makes the model size a constant, the paper's
  *      trick, and md5 gives the spec an independently-constructible
  *      twin via `java.security.MessageDigest`), combined to
  *      per-(doc, bucket) counts map-side.
  *   2. The two hashed LMs are ONE bucket-keyed conditional aggregate
  *      (≤ 4,096 rows — a constant, like the BPE word table); the
  *      add-one-smoothed log-ratios λ_b are driver arithmetic pinned
  *      to `StrictMath.log` in a FIXED operation order (the q132
  *      JIT-tier lesson) and return as a broadcast 4,096-row frame.
  *   3. Per-doc weight = Σ_b n_db·λ_b with each double term cast to
  *      DECIMAL(30,15) BEFORE the sum (the Logit trick) — the weight
  *      table is bit-identical at any partition count, and DsirSpec's
  *      plain-Scala twin reproduces it digit-for-digit.
  *   4. Selection is `TakeOrdered` top-k on (w DESC, doc_id) — never a
  *      corpus-wide window; k is a constant.
  *
  * Oracle (the q105 staged convention): the weight table is staged
  * write-once (weights themselves are DsirSpec-twin-gated, exact
  * decimals); DuckDB replays the top-k selection, tie-break and
  * micro-unit projection from the SAME parquet — so the ordering and
  * quota logic is hash-checked against an independent engine.
  */
object Dsir {

  /** Hashed-feature alphabet size — a constant, so the model (and the
    * broadcast λ frame) never grows with the corpus. */
  val Buckets = 4096

  /** Selection quota: entries keep the top-k raw documents. */
  val SelectK = 200

  /** Unigram + bigram shingles of the canonical token stream. The
    * bigram arm is empty (not null) for sub-2-token documents so the
    * concat stays total. */
  private def grams(text: Column): Column = {
    val t = TextAnalysis.tokens(text)
    concat(t, coalesce(TextAnalysis.shingleArray(t, 2),
      array().cast("array<string>")))
  }

  /** The closed hashed-feature id: `pmod(hex-prefix-of-md5, 4096)` —
    * engine-exact and mirrorable both by DuckDB and by a plain-Java
    * MessageDigest twin. */
  private def bucketOf(gram: Column): Column =
    pmod(conv(substring(md5(gram), 1, 8), 16, 10).cast("long"),
      lit(Buckets.toLong))

  /** Per-(doc, bucket) n-gram counts with the doc-level target flag:
    * the one corpus-sized tokenize-explode pass both models and the
    * weights derive from. */
  def gramBuckets(docs: DataFrame, isTarget: Column): DataFrame =
    docs
      .select(col("doc_id"), isTarget.as("is_target"),
        explode(grams(col("text"))).as("gram"))
      .groupBy(col("doc_id"), col("is_target"),
        bucketOf(col("gram")).as("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Driver-side λ table from the ≤4,096-row bucket-count aggregate:
    * λ_b = [log(c_t(b)+1) − log(C_t+V)] − [log(c_r(b)+1) − log(C_r+V)]
    * in exactly this operation order, every log `StrictMath.log`.
    * Buckets unseen in BOTH models would have λ ≠ 0 from smoothing
    * alone, but no document can reference them — the returned frame
    * covers every bucket any doc count joins to. */
  def bucketLogRatios(spark: SparkSession, gb: DataFrame): DataFrame = {
    val stats = gb.groupBy("bucket")
      .agg(sum(when(col("is_target"), col("n")).otherwise(0L)).as("ct"),
        sum(when(!col("is_target"), col("n")).otherwise(0L)).as("cr"))
      .collect() // bounded: ≤ Buckets rows, a constant
    val tTot = stats.map(_.getAs[Long]("ct")).sum
    val rTot = stats.map(_.getAs[Long]("cr")).sum
    val logZt = StrictMath.log(tTot.toDouble + Buckets)
    val logZr = StrictMath.log(rTot.toDouble + Buckets)
    val rows = stats.map { r =>
      val lam =
        (StrictMath.log(r.getAs[Long]("ct").toDouble + 1.0d) - logZt) -
          (StrictMath.log(r.getAs[Long]("cr").toDouble + 1.0d) - logZr)
      (r.getAs[Long]("bucket"), lam)
    }.toSeq
    import spark.implicits._
    rows.toDF("bucket", "lam")
  }

  /** Raw-pool importance weights: per-doc Σ n·λ with the decimal-cast-
    * then-sum determinism trick — (doc_id, w DECIMAL(38,15)), exact and
    * partition-order-free. */
  def docWeights(gb: DataFrame, lambdas: DataFrame): DataFrame =
    gb.filter(!col("is_target"))
      .join(broadcast(lambdas), "bucket")
      .groupBy("doc_id")
      .agg(sum((col("n").cast("double") * col("lam"))
        .cast("decimal(30,15)")).as("w"))

  /** Write-once content-keyed weight table over the test corpus with
    * target = `lang = 'en'`. */
  def weightsStaged(spark: SparkSession, dir: String): String = {
    Staging.stage(spark, Staging.Key("dsir/weights", Seq(s"$dir/documents.parquet"))) { tmp =>
      val docs = Tables.rebalanced(Tables.documents(spark, dir))
      val gb = gramBuckets(docs, col("lang") === "en")
      val weighted = docWeights(gb, bucketLogRatios(spark, gb))
        // micro-unit projection happens ONCE here (exact decimal
        // shift) — the oracle then replays ordering and quota only,
        // with no cross-engine decimal arithmetic to disagree on.
        // decimal(27,15) × decimal(10,0) lands on decimal(38,15)
        // EXACTLY (27+10+1 = 38): no precision clamp, no scale
        // adjustment, 12 integer digits of headroom — the earlier
        // decimal(22,15) form overflowed to NULL (non-ANSI cast) for
        // any |Σ n·λ| > ~10^7, silently demoting that doc in the top-k
        .select(col("doc_id"), col("w"),
          floor(col("w").cast("decimal(27,15)") * lit(1000000))
            .cast("long").as("w_u"))
      weighted.repartition(4).write.mode("overwrite").parquet(tmp)
      // loud overflow gate on the write-once path: a weight beyond the
      // 10^12 headroom would surface as w_u NULL with w non-NULL (the
      // silent-demotion failure the decimal widening is there to stop)
      val overflowed = spark.read.parquet(tmp)
        .filter(col("w_u").isNull && col("w").isNotNull).count()
      require(overflowed == 0L,
        s"DSIR micro-unit projection overflowed on $overflowed docs " +
          "(|w| beyond decimal(27,15) headroom)")
    }
  }

  /** Top-k selection from a staged weight table: (w DESC, doc_id) — a
    * TakeOrdered plan, constant result size, never a window. The
    * output weight is the staged integer micro-unit column (the
    * q96/q71 integer-columns rule). */
  def selectTopK(weights: DataFrame, k: Int = SelectK): DataFrame =
    weights
      .orderBy(col("w").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("w_u"))

  @volatile private[graft] var stagedOracleRoot: Option[String] = None

  // `def`, not `val`: the oracle SQL embeds [[stagedOracleRoot]] (the
  // q105/q121 staged-oracle convention)
  def queries: Seq[Query] = Seq(
    Query(
      "q134_dsir_select",
      "Importance-resampling data selection (the DSIR recipe, Xie et " +
        "al. 2023): hashed unigram+bigram LMs (closed 4,096-bucket " +
        "alphabet) fit on the lang='en' target slice and the raw pool " +
        "in ONE bucket-keyed conditional aggregate; per-doc log-" +
        "likelihood-ratio weights via a broadcast λ join with the " +
        "decimal-cast-then-sum exactness trick (bit-identical at any " +
        "partition count, StrictMath-pinned driver logs); top-k " +
        "selection as TakeOrdered, never a corpus window. Oracle: " +
        "DuckDB replays selection order, tie-break and micro-unit " +
        "projection from the staged weight table (weights themselves " +
        "are DsirSpec-twin-gated digit-for-digit).",
      (s, dir) => {
        val root = weightsStaged(s, dir)
        stagedOracleRoot = Some(new java.io.File(root).getAbsolutePath)
        selectTopK(s.read.parquet(root))
      },
      oracleFn = Some(() => stagedOracleRoot.map(root => s"""
        SELECT doc_id, w_u
        FROM read_parquet('$root/*.parquet')
        ORDER BY w DESC, doc_id
        LIMIT $SelectK""")))
  )
}
