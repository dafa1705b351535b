package graft.operators


import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Query
import graft.sources.Tables

/** Similarity search over the `embeddings` table (`Array[Float]`
  * vectors): exact brute-force cosine top-k as the correctness baseline,
  * sign-random-projection (SimHash/SRP) bucketed LSH as the approximate
  * scale path, and embedding-cosine near-duplicate pairing.
  *
  * All vector math is built-in higher-order functions (`zip_with` +
  * `aggregate` folds) over `array<double>` — codegen'd, no UDFs, and the
  * identical left-to-right fold order on both Spark and DuckDB makes the
  * double-precision scores bit-comparable for the oracle.
  *
  * Scale shape:
  *   - brute-force kNN broadcasts the (small) query set and streams the
  *     corpus — one pass, no corpus shuffle; the final top-k window
  *     shuffles only |Q|×|corpus| scored (id,id,double) triples, which is
  *     the part SRP-LSH (q20) removes;
  *   - SRP-LSH joins query and corpus signatures on (table, bucket) —
  *     an equi-join, never a cross product; tables × bits trade recall
  *     for candidate volume (P[bit agrees] = 1 − θ/π, Charikar 2002).
  */
object Similarity {

  /** Dot product of two `array<double>` columns — the native codegen'd
    * [[graft.functions.VectorDot]] expression (single fused primitive
    * loop, no per-row array allocation). Accumulation is strict
    * left-to-right IEEE double, identical to the composed
    * `aggregate(zip_with(a,b,_*_), 0.0, _+_)` form ([[dotComposed]]) and
    * to DuckDB's `list_dot_product` — deterministic and engine-portable,
    * which the oracle gate depends on. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorDot.vector_dot(a, b)

  /** The built-ins-only formulation of [[dot]] (kept as the reference
    * semantics and the cross-check in ScalaTest). */
  def dotComposed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, an: Column, b: Column, bn: Column): Column =
    dot(a, b) / (an * bn)

  /** Embeddings with doubled vectors and precomputed norms. */
  def prepared(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", l2norm(col("emb")))

  /** [[prepared]] plus the payload attribute (`lab`) — the frame the
    * graph serving index stages so attribute-constrained search (q157)
    * can test the predicate on edge rows without any per-hop join
    * (the q156 "attribute rides the index" rule, graph form). One
    * projection over the source table; no join. */
  def preparedLab(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"),
        col("label").cast("int").as("lab"))
      .withColumn("nrm", l2norm(col("emb")))

  /** Exact top-k among the label-constrained corpus for UNCONSTRAINED
    * query vectors — the ground truth a filtered-ANN probe (q156) is
    * gated against: the query is any vector, the answer set is the
    * `label = ?` slice. Same shape as [[knnBrute]] with the corpus
    * side pre-filtered. */
  def knnBruteFiltered(emb: DataFrame, nQueries: Int, k: Int,
      label: Int): DataFrame = {
    val e = prepared(emb)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val corpus = prepared(emb.filter(col("label") === lit(label)))
    val scored = corpus.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("q_emb"), col("q_nrm"), col("emb"), col("nrm")).as("score"))
    topK(scored, k)
  }

  /** Exact top-k cosine neighbors for the query set `vec_id < nQueries`.
    * Output: (query_id, neighbor_id, rank, score). */
  def knnBrute(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val e = prepared(emb)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("q_emb"), col("q_nrm"), col("emb"), col("nrm")).as("score"))
    topK(scored, k)
  }

  /** Deterministic per-query rank + cut on (score desc, id asc) via the
    * q43 two-level salted tournament ([[Skew.groupTopK]]) — NEVER a bare
    * `Window.partitionBy("query_id")` over the scored frame: for the
    * brute/ADC paths that frame is |Q|×corpus rows, and a bare window
    * funnels each query's whole corpus-sized partition through one task.
    * The tournament ranks per (query, salt) first (a query's rows spread
    * over nSalts tasks), then ranks the ≤ nSalts·k survivors — bounded
    * input independent of corpus size; exact by the tournament property
    * (a group's true top k is contained in the union of its per-salt
    * top k), and (score, neighbor_id) totally orders each query's rows
    * so the result is the naive window's, bit for bit. Guarded in
    * SimilaritySpec by a plan assertion: every bare query_id window in
    * the ANN plans must sit above the survivor filter. */
  private[operators] def topK(scored: DataFrame, k: Int): DataFrame =
    Skew.groupTopK(scored, col("query_id"),
        Seq(col("score").desc, col("neighbor_id").asc),
        Seq(col("score"), col("neighbor_id")), n = k, nSalts = 8)
      .select(col("query_id"), col("neighbor_id"), col("rk").as("rank"), col("score"))
      .orderBy("query_id", "rank")

  /** [[topK]] for pools that are ALREADY BOUNDED per query by
    * construction (a traversal's running top-workBeam, a rerank pool,
    * a served graph's ≤ k edges per node — never a corpus-sized scored
    * frame): one bare window on the same (score desc, id asc) total
    * order, which equals the tournament's output bit for bit (the
    * tournament exists to keep corpus-sized groups off a single task;
    * a ≤ workBeam-per-query pool has no such group, and the salted
    * two-window form was two exchanges + two sorts of pure overhead on
    * every serving entry — round 17). Callers MUST NOT pass unbounded
    * frames; the corpus-scored ANN paths stay on [[topK]], and
    * SimilaritySpec's plan guard pins those. */
  private[operators] def topKBounded(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rk").as("rank"), col("score"))
      .orderBy("query_id", "rank")
  }

  // ---- sign-random-projection LSH ----

  /** Deterministic uniform[-1,1) hyperplane entry for (table, bit, dim)
    * — seeded by structural hashing, so every run and every executor
    * agrees without shipping a matrix. Continuous (not ±1): the single
    * parity bit's Rademacher family carries inter-plane correlations
    * that measurably cost recall — see [[graft.functions.SrpSignatures]]. */
  private def planeVal(table: Int, bit: Int, d: Int): Double =
    graft.functions.SrpSignatures.planeEntry(table, bit, d)

  /** SRP signature for one hash table: `bits` sign bits packed into an
    * int. Each bit is the sign of a dot product against a fixed
    * hyperplane (expressed as a literal array → `zip_with` fold, fully
    * codegen'd). */
  def srpSignature(emb: Column, table: Int, bits: Int, dim: Int): Column =
    (0 until bits).map { b =>
      val plane = typedlit((0 until dim).map(d => planeVal(table, b, d)))
      when(dot(emb, plane) >= 0, lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)

  /** All XOR masks of Hamming weight ≤ `h` over `bits` bit positions —
    * the multi-probe sequence (Lv et al., VLDB 2007, applied to SRP:
    * a near neighbor that lands one or two sign-flips away from the
    * query's bucket is reached by probing the perturbed buckets instead
    * of paying for more tables). Bounded: 1 + b + b(b−1)/2 for h=2. */
  private[graft] def probeMasks(bits: Int, h: Int): Seq[Int] = {
    require(h >= 0 && h <= 2, s"probeHamming $h not in [0, 2]")
    val h0 = Seq(0)
    val h1 = if (h >= 1) (0 until bits).map(1 << _) else Nil
    val h2 = if (h >= 2)
      for { i <- 0 until bits; j <- (i + 1) until bits } yield (1 << i) | (1 << j)
    else Nil
    h0 ++ h1 ++ h2
  }

  /** (vec_id, table, bucket) — one row per hash table per vector. All
    * tables×bits sign dots run in the native fused
    * [[graft.functions.SrpSignatures]] expression (primitive plane
    * matrix; the composed per-plane `typedlit` form paid a boxed unbox
    * per element access). Same plane family → identical buckets. */
  def srpBuckets(e: DataFrame, tables: Int, bits: Int, dim: Int): DataFrame =
    e.select(col("vec_id"), col("emb"), col("nrm"),
      posexplode(graft.functions.SrpSignatures.srp_signatures(
        col("emb"), tables, bits, dim)).as(Seq("table", "bucket")))

  /** Approximate top-k: candidates = corpus vectors sharing any (table,
    * bucket ⊕ mask) with the query for a Hamming-≤`probeHamming` probe
    * mask, then exact cosine on candidates only. Output shape matches
    * [[knnBrute]]; ranks may differ where recall misses (measured in
    * ScalaTest against the brute-force baseline, tracked per round in
    * RECALL_LOCAL.json).
    *
    * Multi-probe is a QUERY-side-only expansion: the corpus keeps one
    * bucket row per (vector, table) — storage and build cost unchanged —
    * while each query probes the 1 + b + b(b−1)/2 buckets within two
    * sign-flips per table. The probe frame is (query_id, table, bucket)
    * triples only (the query vectors join back AFTER candidate dedup),
    * so its broadcast is |Q|·tables·masks 12-byte rows, never vectors.
    * Measured on the sf0.1 embeddings (near-random, the hard case):
    * recall@5 0.46 → ~0.74 at the same ~20% candidate volume as the
    * old 12×6 no-probe shape. */
  def knnLsh(emb: DataFrame, nQueries: Int, k: Int,
      tables: Int = 32, bits: Int = 14, dim: Int = 64,
      probeHamming: Int = 2): DataFrame = {
    val e = prepared(emb)
    // persisted: both the query-side filter and the corpus side read this
    // frame — unpersisted, the signature dots run twice. Cache contract
    // as in Dedup.jaccardJoin: the returned frame reads this lazily, so
    // the operator cannot release it itself; batch drivers clearCache()
    // between queries (Bench and Verify both do)
    val buckets = srpBuckets(e, tables, bits, dim).persist()
    val probes = buckets.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("table"),
        explode(typedlit(probeMasks(bits, probeHamming))).as("mask"),
        col("bucket"))
      .select(col("query_id"), col("table"),
        col("bucket").bitwiseXOR(col("mask")).as("bucket"))
    val cand = buckets.join(broadcast(probes), Seq("table", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("emb"), col("nrm"))
      .dropDuplicates("query_id", "neighbor_id")
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val scored = cand.join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_emb"), col("q_nrm"), col("emb"), col("nrm")).as("score"))
    topK(scored, k)
  }

  /** Root of the staged SRP signature table the last q20 run probed —
    * late-bound into its oracle SQL (the q110 staged-root thunk
    * convention). */
  @volatile private[graft] var lshOracleRoot: Option[String] = None

  /** Write-once content-keyed SRP signature table (vec_id, tbl,
    * bucket) — the deterministic, spec-gated intermediate
    * (SignatureExprSpec pins the fused native expression bit for bit)
    * that the q20 oracle recomputes candidates from: the hyperplane
    * dots themselves have no SQL twin (structurally-hashed plane
    * seeds), but everything DOWNSTREAM of the signatures — the
    * multi-probe mask expansion, the bucket equi-join, the exact
    * cosine re-rank — is pure relational algebra DuckDB replays from
    * the same staged parquet (the staged-fingerprint convention). */
  private[graft] def srpSignaturesStaged(spark: org.apache.spark.sql.SparkSession,
      dir: String, tables: Int = 32, bits: Int = 14, dim: Int = 64): String = {
    Staging.stage(spark, Staging.Key("similarity/srp", Seq(s"$dir/embeddings.parquet"),
        tables, bits, dim)) { tmp =>
      srpBuckets(prepared(Tables.embeddings(spark, dir)), tables, bits, dim)
        .select(col("vec_id"), col("table").as("tbl"), col("bucket"))
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** q20's probe over the STAGED signature table — candidate set and
    * re-rank identical to [[knnLsh]] by construction (the signatures
    * are deterministic; staging just materializes them where the
    * oracle can read the same bytes). */
  def knnLshStaged(spark: org.apache.spark.sql.SparkSession, dir: String,
      nQueries: Int, k: Int, bits: Int = 14,
      probeHamming: Int = 2): DataFrame = {
    val root = srpSignaturesStaged(spark, dir)
    lshOracleRoot = Some(Staging.abs(root))
    val sig = spark.read.parquet(root)
    val probes = sig.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("tbl"),
        explode(typedlit(probeMasks(bits, probeHamming))).as("mask"),
        col("bucket"))
      .select(col("query_id"), col("tbl"),
        col("bucket").bitwiseXOR(col("mask")).as("bucket"))
    val cand = sig.join(broadcast(probes), Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    val e = prepared(Tables.embeddings(spark, dir))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val scored = cand
      .join(broadcast(q), Seq("query_id"))
      .join(e.select(col("vec_id").as("neighbor_id"), col("emb"),
        col("nrm")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_emb"), col("q_nrm"), col("emb"), col("nrm")).as("score"))
    topK(scored, k)
  }

  // ---- IVF (inverted-file) ANN ----

  /** Corpus × centroid cosine scores. The centroid side is ALWAYS a
    * bounded broadcast (≤ `centroids` rows), so this nested loop is
    * O(n·C) with C fixed — never corpus × corpus. */
  private[operators] def centScores(side: DataFrame, cent: DataFrame): DataFrame =
    side.join(broadcast(cent), lit(true))
      .withColumn("cs", cosine(col("emb"), col("nrm"), col("c_emb"), col("c_nrm")))

  /** Nearest-centroid assignment via max_by on (score, cent_id) — a hash
    * aggregate whose partials combine MAP-SIDE, so the exchange carries
    * one row per vector, not the n×C scored rows a window-rank
    * formulation would sort and shuffle. Ties (two centroids at identical
    * cosine) break deterministically to the higher cent_id via the struct
    * ordering. Output: (vec_id, emb, nrm, cluster). */
  private[graft] def assignToCentroids(e: DataFrame, cent: DataFrame): DataFrame =
    centScores(e, cent)
      .groupBy("vec_id")
      .agg(max_by(struct(col("emb"), col("nrm"), col("cent_id")),
        struct(col("cs"), col("cent_id"))).as("m"))
      .select(col("vec_id"), col("m.emb").as("emb"), col("m.nrm").as("nrm"),
        col("m.cent_id").as("cluster"))

  /** One deterministic Lloyd (k-means) step: assign every vector to its
    * nearest centroid, then replace each centroid with its members' mean.
    * Element sums run over the posexploded (cluster, dim) key — a map-side
    * partial aggregate whose exchange carries ≤ C·d tiny rows per
    * partition — and are summed in the exact decimal domain so the
    * refined centroids are bit-deterministic regardless of partition
    * order (a plain double sum would vary run to run). Clusters that lose
    * all members (or degenerate to a zero mean) drop out — C never grows. */
  private def lloydStep(e: DataFrame, cent: DataFrame): DataFrame =
    assignToCentroids(e, cent)
      .select(col("cluster"), posexplode(col("emb")).as(Seq("pos", "v")))
      .groupBy("cluster", "pos")
      .agg((sum(col("v").cast(DecimalType(38, 18))).cast("double") /
        count(lit(1)).cast("double")).as("m"))
      .groupBy("cluster")
      // struct ordering is field-lexicographic, so sorting on (pos, m)
      // reassembles the mean vector in dimension order
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        t => t("m")).as("c_emb"))
      .select(col("cluster").as("cent_id"), col("c_emb"), l2norm(col("c_emb")).as("c_nrm"))
      .filter(col("c_nrm") > 0)

  /** IVF-flat approximate kNN: the corpus is coarse-quantized to its
    * nearest centroid (the "inverted file"), a query probes only its
    * `nProbe` nearest centroids' lists, and exact cosine re-ranks inside
    * the probed lists — the other classic ANN decomposition next to LSH
    * (q20): LSH buckets by random projection, IVF buckets by data-driven
    * proximity.
    *
    * Centroids: seeded by the `centroids` smallest-xxhash64(vec_id)
    * vectors — a deterministic hash-order sample whose size is FIXED
    * independent of corpus size (a production IVF pins C ≈ √n or a
    * constant; round 3's every-64th-vec_id stride made C grow O(n) and
    * the assignment O(n²)) — then tightened by `lloydIters` deterministic
    * k-means steps (decimal-domain member means, see [[lloydStep]]) over
    * a bounded TRAINING SAMPLE of 8·C hash-order vectors, not the corpus.
    * Training the coarse quantizer on a sample is what production IVF
    * builds do (the quantizer only needs the density shape, and 8 points
    * per centroid bounds its variance); it also cuts the corpus-sized
    * assignment passes from lloydIters+1 to exactly ONE — the final
    * inverted-list assignment (round 4 paid a full-corpus pass per Lloyd
    * step plus the final assignment, 2× the corpus work at lloydIters=1).
    *
    * Scale shape: every centroid frame is ≤ C rows — broadcast
    * everywhere; Lloyd runs on the 8·C-row sample (constant work at any
    * corpus size); index build cost is O(n·C) cosine evaluations for the
    * single corpus assignment pass, all map-side, plus one vec-keyed
    * exchange; the probe step shuffles the corpus ONCE keyed on cluster
    * id — on a real deployment that partitioning is written out
    * bucketed-by-cluster, making every later query's probe a
    * partition-pruned read touching nProbe/C of the data. Never a cross
    * product against the corpus; each corpus vector lives in exactly one
    * list, so no candidate dedup is needed. */
  /** The IVF coarse quantizer: `centroids` hash-order seeds tightened by
    * `lloydIters` deterministic k-means steps over a bounded 8·C
    * hash-order training sample (see [[knnIvf]]'s scaladoc for why the
    * sample bounds training at any corpus size). Returned frame is
    * PERSISTED and eagerly materialized (the eager barrier keeps AQE
    * from racing the Lloyd pipeline into both consuming broadcasts);
    * same session-scoped cache contract as jaccardJoin/knnLsh — batch
    * drivers clearCache() between queries, and the index builder
    * ([[AnnIndex.ivfIndex]]) unpersists after its one-shot write. */
  private[graft] def ivfCentroids(e: DataFrame, centroids: Int,
      lloydIters: Int): DataFrame = {
    // bounded training set; its smallest-hash prefix IS the seed set (the
    // same hash order), so seeding is unchanged from the full-corpus form
    val train = e.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(centroids * 8)
      .persist()
    val seeds = train.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(centroids)
      .select(col("vec_id").as("cent_id"), col("emb").as("c_emb"), col("nrm").as("c_nrm"))
    val cent = (1 to lloydIters).foldLeft(seeds)((c, _) => lloydStep(train, c))
    cent.persist().count()
    // the training sample is consumed entirely by the materialized
    // centroid frame — release it before the corpus-sized stages run
    train.unpersist()
    cent
  }

  /** The probe-side of IVF: rank each query's centroids, keep `nProbe`,
    * equi-join the inverted lists on cluster id, exact cosine, top-k.
    * `lists` carries (vec_id, emb, nrm, cluster) — either freshly
    * assigned ([[knnIvf]]) or read back from the persisted index
    * ([[AnnIndex.knnIvfIndexed]], where the cluster-partitioned layout
    * turns this join into a partition-pruned read). The probe window is
    * bare but bounded: each query's frame is exactly C centroid rows. */
  private[graft] def ivfProbe(lists: DataFrame, cent: DataFrame,
      q: DataFrame, nProbe: Int, k: Int): DataFrame = {
    val wProbe = Window.partitionBy("vec_id").orderBy(desc("cs"), asc("cent_id"))
    val probes = centScores(q, cent)
      .withColumn("rn", row_number().over(wProbe)).filter(col("rn") <= nProbe)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"), col("cent_id").as("cluster"))
    val scored = lists.join(broadcast(probes), Seq("cluster"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("q_emb"), col("q_nrm"), col("emb"), col("nrm")).as("score"))
    topK(scored, k)
  }

  def knnIvf(emb: DataFrame, nQueries: Int, k: Int,
      centroids: Int = 256, nProbe: Int = 32, lloydIters: Int = 3): DataFrame = {
    val e = prepared(emb)
    val cent = ivfCentroids(e, centroids, lloydIters)
    val assigned = assignToCentroids(e, cent)
    ivfProbe(assigned, cent, e.filter(col("vec_id") < nQueries), nProbe, k)
  }

  /** Deterministic near-duplicate benchmark corpus: every vector plus a
    * perturbed copy (first coordinate ×1.05, worst-case cosine ≈ 0.9997 to its
    * original even when that coordinate dominates the norm) at `vec_id + offset`. The test embeddings carry no
    * natural high-similarity pairs (max cross cosine ≈ 0.5), and
    * bucketed near-dup is meaningful only in the high-similarity regime
    * — planting puts the operator in the regime it exists for, exactly
    * reproducibly on both engines (float→double cast, then one IEEE
    * multiply). */
  def plantedDupCorpus(emb: DataFrame, offset: Long): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    e.unionByName(e.select((col("vec_id") + offset).as("vec_id"),
      concat(array(element_at(col("emb"), 1) * 1.05),
        slice(col("emb"), lit(2), size(col("emb")) - 1)).as("emb")))
  }

  /** Bucketed embedding near-dup: SRP-LSH candidates → exact cosine
    * verify ≥ τ — the scale path [[cosineNearDups]]'s scaladoc promises.
    * Candidates come from a (table, bucket) self-equi-join; cosine is
    * computed in the join projection and thresholded BEFORE the
    * dedup shuffle, so only surviving pairs (not vectors) are ever
    * re-shuffled. At 12 tables × 16 bits a planted pair (cos ≥ 0.9997)
    * is missed with p ≈ 4e-12 while random pairs (cos ≤ 0.52) collide in
    * ~2% of cases — candidate volume stays near-linear in the corpus. */
  def cosineNearDupsLsh(corpus: DataFrame, threshold: Double,
      tables: Int = 12, bits: Int = 16, dim: Int = 64): DataFrame = {
    val e = corpus.withColumn("nrm", l2norm(col("emb")))
    val buckets = srpBuckets(e, tables, bits, dim)
    // bucket-grouped pair expansion (no self-join, signatures computed
    // once); vectors ride in the member structs so the verify is inline —
    // cosine is thresholded BEFORE the cross-bucket dedup, so only
    // surviving id pairs are ever re-shuffled
    graft.operators.Dedup.pairsWithinBuckets(
        buckets, Seq("table", "bucket"), Seq("vec_id", "emb", "nrm"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        cosine(col("a.emb"), col("a.nrm"), col("b.emb"), col("b.nrm")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .dropDuplicates("vec_a", "vec_b")
      .orderBy("vec_a", "vec_b")
  }

  /** Embedding-cosine near-duplicate pairs (vec_a < vec_b, cosine ≥ τ),
    * exact via a broadcast self-join on the prepared corpus. This exact
    * form is the oracle-checkable dedup contract and the correctness
    * twin of the bucketed scale path [[cosineNearDupsLsh]] (q27). */
  def cosineNearDups(emb: DataFrame, threshold: Double): DataFrame = {
    val e = prepared(emb)
    val l = e.select(col("vec_id").as("vec_a"), col("emb").as("ea"), col("nrm").as("na"))
    val r = e.select(col("vec_id").as("vec_b"), col("emb").as("eb"), col("nrm").as("nb"))
    l.join(r, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        cosine(col("ea"), col("na"), col("eb"), col("nb")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  // ---- product quantization (PQ/ADC) ----

  /** Squared L2 distance between two equal-length arrays — built-ins
    * only (zip_with fold), fully codegen'd. */
  private[operators] def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** Per-subspace PQ codebooks over L2-NORMALIZED vectors: (sub, cid,
    * c_sv) with `m` subspaces of `subdim` dims and `k` centroids each.
    *
    * Training follows the IVF playbook exactly (bounded work at any
    * corpus size): an 8·k hash-order sample, seed centroids = the k
    * smallest-hash sample rows' sub-slices, one deterministic Lloyd
    * step per subspace with decimal-domain member means. A cluster that
    * loses every member keeps its SEED centroid (coalesce on the left
    * join) — the codebook always holds exactly m·k entries, so the
    * encoder's argmin never meets a hole. */
  def pqCodebooks(e: DataFrame, m: Int, subdim: Int, k: Int): DataFrame = {
    val train = e.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(k * 8)
      .select(col("vec_id"), col("u"))
      .persist()
    train.count()
    val subv = train.select(col("vec_id"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        s => slice(col("u"), s * subdim + 1, lit(subdim)))).as(Seq("sub", "sv")))
    val seeds = train.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(k)
      .withColumn("cid", row_number().over(
        Window.orderBy(xxhash64(col("vec_id")), col("vec_id"))) - 1)
      .select(col("cid"), posexplode(transform(sequence(lit(0), lit(m - 1)),
        s => slice(col("u"), s * subdim + 1, lit(subdim)))).as(Seq("sub", "c_sv")))
      .persist()
    seeds.count()
    // one Lloyd step per subspace, all subspaces in one plan: assign each
    // sample sub-vector to its nearest seed, then decimal-exact member
    // means (the lloydStep reassembly pattern)
    val assigned = subv.join(broadcast(seeds), Seq("sub"))
      .select(col("sub"), col("vec_id"), col("sv"),
        col("cid"), l2sq(col("sv"), col("c_sv")).as("d"))
      .groupBy("sub", "vec_id")
      .agg(min_by(col("cid"), struct(col("d"), col("cid"))).as("cid"),
        first(col("sv")).as("sv"))
    val refined = assigned
      .select(col("sub"), col("cid"), posexplode(col("sv")).as(Seq("pos", "v")))
      .groupBy("sub", "cid", "pos")
      .agg((sum(col("v").cast(DecimalType(38, 18))).cast("double") /
        count(lit(1)).cast("double")).as("mv"))
      .groupBy("sub", "cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mv")))),
        t => t("mv")).as("r_sv"))
    val out = seeds.join(refined, Seq("sub", "cid"), "left")
      .select(col("sub"), col("cid"),
        coalesce(col("r_sv"), col("c_sv")).as("c_sv"))
      .persist()
    // barrier (consumed by the one-row array AND the ADC luts) doubles
    // as the NO-HOLE enforcement: the dense codebook ARRAY downstream
    // ([[codebookArray]]) indexes positionally by sub·k + cid, so a
    // codebook short of m·k entries (corpus with fewer than k distinct
    // nonzero vectors → seeds < k) would silently misalign every
    // subspace past the first. Fail loudly instead.
    val nOut = out.count()
    require(nOut == m.toLong * k,
      s"PQ codebook holds $nOut entries, expected ${m * k} (m=$m × k=$k): " +
        s"the corpus has fewer than $k distinct nonzero vectors — lower kCent")
    Seq(train, seeds).foreach(_.unpersist())
    out
  }

  /** PQ-compressed approximate kNN with asymmetric-distance (ADC) scan
    * and exact re-rank — the memory-bound ANN decomposition next to LSH
    * (q20, random planes) and IVF (q29, coarse partition): each corpus
    * vector is stored as m code BYTES (64 d × 8 B → m B, a 64× memory
    * cut at m=8), distances are looked up, never recomputed.
    *
    * Plan shape, all broadcast-sided:
    *   1. codebooks ([[pqCodebooks]]; bounded training, m·k rows);
    *   2. encode: the m·k codebook rows collapse into ONE map row
    *     (key = sub·k + cid) broadcast into a per-row argmin over
    *     nested higher-order functions — the corpus pass is map-only,
    *     no shuffle, emitting (vec_id, codes: array<int>);
    *   3. ADC: each query precomputes its m·k partial-distance lookup
    *     table (query × codebook broadcast join, grouped to one MAP row
    *     per query); the corpus-codes scan then scores a (query, row)
    *     pair with m map lookups — independent of subdim, the whole
    *     point of ADC;
    *   4. top-`candidates` by ADC per query (window over the scored
    *     scan), then exact cosine re-ranks the candidates only — the
    *     production recall repair, touching `candidates` full vectors
    *     per query instead of the corpus.
    *
    * On unit vectors ||q−x||² = 2−2·cos(q,x), so the ADC ordering
    * approximates the cosine ordering and the re-rank recovers it
    * exactly within the candidate set (recall gated in ScalaTest
    * against q19's oracle-checked brute force). Deterministic end to
    * end: hash-order training, decimal means, (distance, id) tie
    * breaks. */
  /** Zero-norm-filtered, L2-normalized (`u`) embedding frame — the PQ
    * working domain, with the in-plan dimension guard: a wrong-width
    * vector would otherwise slice to empty upper subspaces and silently
    * collapse their codes to centroid 0 — fail loudly per row instead
    * (one int compare). */
  private[graft] def pqPrepared(emb: DataFrame, d: Int): DataFrame = {
    val e0 = prepared(emb).filter(col("nrm") > 0)
    val dimOk = assert_true(size(col("emb")) === lit(d),
      lit(s"knnPq expects $d-dim embeddings"))
    e0.select(col("vec_id"), col("emb"), col("nrm"),
      when(dimOk.isNull, transform(col("emb"), x => x / col("nrm"))).as("u"))
  }

  /** The m·k codebook rows collapsed into ONE row holding a dense ARRAY
    * indexed by `sub·k + cid` (keys are dense 0..m·k−1 by the
    * [[pqCodebooks]] no-hole invariant). An array, NOT a map, on
    * purpose: Catalyst's `element_at` over `ArrayBasedMapData` is a
    * LINEAR key scan — O(m·k) per lookup, which multiplied into the
    * corpus-sized encode/ADC stages (measured: 4× the per-lookup work
    * at kCent=64 made the fresh-build q74 ~3× slower); array indexing
    * is O(1) regardless of kCent. */
  private def codebookArray(cb: DataFrame, kCent: Int, name: String): DataFrame =
    cb.groupBy().agg(transform(array_sort(collect_list(
      struct((col("sub") * kCent + col("cid")).as("key"), col("c_sv").as("val")))),
      t => t("val")).as(name))

  /** Map-only PQ encode: the dense codebook array broadcast into a
    * per-row argmin over nested higher-order functions — the corpus
    * pass is map-only, no shuffle, emitting (vec_id, codes:
    * array<int>). */
  private[graft] def pqEncode(e: DataFrame, cb: DataFrame, m: Int,
      subdim: Int, kCent: Int): DataFrame = {
    val cbArr = codebookArray(cb, kCent, "cba")
    val zero = struct(lit(Double.MaxValue).as("bd"), lit(-1).as("bc"))
    // the subvector slice is materialized ONCE per subspace by binding
    // it through the outer transform's lambda variable — inlining
    // `slice(u, ...)` into the aggregate lambda would re-slice on every
    // one of the kCent accumulator steps (measured on the encode pass)
    e.crossJoin(broadcast(cbArr))
      .select(col("vec_id"), col("u"),
        zip_with(
          transform(sequence(lit(0), lit(m - 1)),
            s => slice(col("u"), s * subdim + 1, lit(subdim))),
          sequence(lit(0), lit(m - 1)),
          (sv, s) =>
            aggregate(sequence(lit(0), lit(kCent - 1)), zero, (acc, c) => {
              val dist = l2sq(sv, element_at(col("cba"), s * kCent + c + 1))
              when(dist < acc("bd"), struct(dist.as("bd"), c.as("bc")))
                .otherwise(acc)
            })("bc")).as("codes"))
  }

  /** The ADC query side: per-query m·k partial-distance lookup tables,
    * the lookup-only scan over `codes`, the salted-tournament candidate
    * cut, and the exact cosine re-rank of candidates only. `codes` is
    * (vec_id, codes) — freshly encoded ([[knnPq]]) or read back from the
    * persisted index ([[AnnIndex.knnPqIndexed]]); `eq` carries the query
    * vectors (normalized `u` for the LUTs, raw for the re-rank) and
    * `eAll` the full corpus vectors the re-rank touches candidates-only. */
  private[graft] def pqAdcSearch(codes: DataFrame, cb: DataFrame,
      eq: DataFrame, eAll: DataFrame, k: Int, m: Int, subdim: Int,
      kCent: Int, candidates: Int): DataFrame = {
    // per-query LUT as a dense array indexed by sub·k + cid — same
    // O(1)-vs-O(m·k) argument as [[codebookArray]], here on the
    // |Q|×corpus ADC scan (the operator's hottest loop)
    val luts = eq
      .select(col("vec_id").as("query_id"), col("u").as("q_u"))
      .crossJoin(broadcast(cb))
      .groupBy("query_id")
      .agg(transform(array_sort(collect_list(struct(
        (col("sub") * kCent + col("cid")).as("key"),
        l2sq(slice(col("q_u"), col("sub") * subdim + 1, lit(subdim)),
          col("c_sv")).as("val")))), t => t("val")).as("lut"))
    val scored = codes.join(broadcast(luts), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        aggregate(zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
          (c, s) => element_at(col("lut"), s * kCent + c + 1)),
          lit(0.0), (acc, v) => acc + v).as("adc"))
    // ADC candidate cut through the salted tournament, as [[topK]]: the
    // scored frame is |Q|×corpus rows — the one frame in this operator
    // that must never meet a bare per-query window (this cut is the
    // memory-bound SCAN, the whole point of PQ)
    val cand = Skew.groupTopK(scored, col("query_id"),
        Seq(col("adc").asc, col("neighbor_id").asc),
        Seq(col("adc"), col("neighbor_id")), n = candidates, nSalts = 8)
      .select("query_id", "neighbor_id")
    // exact re-rank of the candidate lists only
    val q = eq.select(col("vec_id").as("query_id"),
      col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    topK(cand
      .join(broadcast(q), Seq("query_id"))
      .join(eAll.select(col("vec_id").as("neighbor_id"), col("emb"), col("nrm")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_emb"), col("q_nrm"), col("emb"), col("nrm")).as("score")), k)
  }

  def knnPq(emb: DataFrame, nQueries: Int, k: Int, m: Int = 8,
      kCent: Int = 64, candidates: Int = 256, d: Int = 64): DataFrame = {
    require(d % m == 0, s"dim $d not divisible by $m subspaces")
    val e = pqPrepared(emb, d)
    val subdim = d / m
    val cb = pqCodebooks(e, m, subdim, kCent)
    pqAdcSearch(pqEncode(e, cb, m, subdim, kCent), cb,
      e.filter(col("vec_id") < nQueries), e, k, m, subdim, kCent, candidates)
  }

  /** Per-(label, dimension) exact component sums + counts — see the q90
    * catalog doc. The decimal domain makes the sum bit-reproducible
    * under ANY partial-aggregation order (the q63 money-sum argument
    * applied to vector components); consumers divide sum/n for the
    * centroid, exactly like [[lloydStep]] does internally. */
  def labelCentroidSums(emb: DataFrame): DataFrame =
    emb.select(col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      // the sum STAYS decimal in the output: decimal→double conversion
      // is not correctly rounded in every engine (DuckDB divides an
      // int128 by 10^18 in floating point — two roundings), so casting
      // back would reintroduce last-ulp divergence the decimal domain
      // exists to remove. double→decimal(38,18) on the way IN is safe:
      // no double can tie at digit 19 (a tie would need a value
      // odd/(2·10^18), which is not a binary fraction), so the rounding
      // mode never fires differently across engines.
      .agg(sum(col("v").cast(DecimalType(38, 18))).as("sum_v"),
        count(lit(1)).as("n"))

  // ---- int8 scalar quantization (q116) ----

  /** Per-dimension quantization bounds from one corpus pass: a ONE-ROW
    * frame (mns, spans) of D-element arrays — the Faiss SQ8 training
    * step. Map-side-combining min/max over (dim, value) reduces to D
    * rows before the exchange; the fold to one row is free. Spans are
    * floored at 1e-12 so a constant dimension dequantizes to itself
    * instead of dividing by zero. Bounds stay INSIDE the plan (the q46
    * one-row-broadcast pattern, no driver round-trip). */
  def sqBounds(e: DataFrame): DataFrame =
    e.select(posexplode(col("emb")).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("mn"), max("x").as("mx"))
      .agg(sort_array(collect_list(struct(col("d"), col("mn"), col("mx"))))
        .as("b"))
      .select(
        transform(col("b"), t => t("mn")).as("mns"),
        transform(col("b"), t => greatest(t("mx") - t("mn"), lit(1e-12)))
          .as("spans"))

  /** Quantize each vector to 8-bit codes under `bounds`:
    * code_d = round(255 · (x_d − mn_d)/span_d) clamped to [0, 255] —
    * map-only (bounds broadcast), 4× smaller than float32 storage (the
    * catalog keeps codes as an int array for plan inspectability; a
    * persisted deployment packs them into a D-byte binary column, the
    * q74 code-byte layout). */
  def sqEncode(e: DataFrame, bounds: DataFrame): DataFrame =
    e.crossJoin(broadcast(bounds))
      .withColumn("codes",
        zip_with(zip_with(col("emb"), col("mns"), (x, m) => x - m),
          col("spans"),
          (xm, s) => least(greatest(round(xm / s * 255.0), lit(0.0)),
            lit(255.0)).cast("int")))

  /** Dequantized vector: x̂_d = mn_d + code_d · span_d / 255. */
  private[operators] def sqDequant(codes: Column, mns: Column, spans: Column): Column =
    zip_with(zip_with(codes, spans, (c, s) => c.cast("double") * s / 255.0),
      mns, (cs, m) => cs + m)

  /** Approximate top-k via int8 scalar quantization, asymmetric
    * distance (Faiss SQ8 shape): the CORPUS lives as 8-bit codes (4×
    * memory cut, trivially composable with the q29/q77 IVF layout for
    * the pruned-probe scale path), queries stay float, and each
    * candidate is scored against its dequantized reconstruction —
    * quantization error enters once (corpus side), not twice. Same
    * salted-tournament top-k as every ANN path (no bare window). */
  def knnSq8(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val e = prepared(emb)
    val bounds = sqBounds(e)
    val codes = sqEncode(e.select(col("vec_id"), col("emb")), bounds)
      .select(col("vec_id"), col("codes"), col("mns"), col("spans"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val deq = codes.withColumn("emb_hat",
        sqDequant(col("codes"), col("mns"), col("spans")))
      .withColumn("nrm_hat", l2norm(col("emb_hat")))
    val scored = deq.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("q_emb"), col("q_nrm"), col("emb_hat"), col("nrm_hat"))
          .as("score"))
    topK(scored, k)
  }

  val queries: Seq[Query] = Seq(

    Query(
      "q19_knn_brute",
      "Exact cosine top-5 neighbors for the first 10 vectors: broadcast the " +
        "query set, stream the corpus once, window-rank the scored pairs. The " +
        "correctness baseline every ANN variant is measured against.",
      (s, dir) => knnBrute(Tables.embeddings(s, dir), nQueries = 10, k = 5),
      Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        s AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS score
          FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id != q.vec_id)
        SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank, score
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
              FROM s)
        WHERE rn <= 5
        ORDER BY query_id, rank""")),

    Query(
      "q20_knn_lsh",
      "Approximate top-5 neighbors via multi-probe sign-random-projection " +
        "LSH (32 tables × 14-bit buckets, Hamming<=2 query-side probes): " +
        "signatures are codegen'd hyperplane dot folds in one fused native " +
        "expression, each query probes its bucket plus all 1-and-2-sign-flip " +
        "perturbations per table (corpus-side storage unchanged — one row " +
        "per vector per table), candidates come from a bucket equi-join " +
        "(never a cross product), exact cosine re-ranks candidates only. " +
        "Recall@5 ~0.74 on near-random data at ~20% candidate volume " +
        "(was 0.46 pre-multi-probe at the same volume); measured vs q19 in " +
        "ScalaTest and tracked in RECALL_LOCAL.json. ORACLE since round " +
        "14 via the staged-fingerprint convention: the hyperplane dots " +
        "have no SQL twin (structurally-hashed plane seeds), but the " +
        "signature table is their spec-gated deterministic output, and " +
        "everything downstream — the 106-mask multi-probe expansion, " +
        "the bucket equi-join, the exact-cosine re-rank — is pure " +
        "relational algebra DuckDB replays from the same staged " +
        "parquet, hash-exact.",
      (s, dir) => knnLshStaged(s, dir, nQueries = 10, k = 5),
      oracleFn = Some(() => lshOracleRoot.map { root =>
        val masks = probeMasks(14, 2).mkString("(", "), (", ")")
        s"""
        WITH sig AS (SELECT vec_id, tbl, bucket
                     FROM read_parquet('$root/*.parquet')),
        masks(mask) AS (VALUES $masks),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        q AS (SELECT vec_id AS query_id, v AS q_emb, nrm AS q_nrm
              FROM n WHERE vec_id < 10),
        probes AS (SELECT s.vec_id AS query_id, s.tbl,
                          xor(s.bucket, m.mask) AS pb
                   FROM sig s CROSS JOIN masks m WHERE s.vec_id < 10),
        cand AS (SELECT DISTINCT p.query_id, s.vec_id AS neighbor_id
                 FROM probes p
                 JOIN sig s ON p.tbl = s.tbl AND s.bucket = p.pb
                 WHERE s.vec_id <> p.query_id),
        scored AS (
          SELECT c.query_id, c.neighbor_id,
                 list_dot_product(q.q_emb, n.v) / (q.q_nrm * n.nrm)
                   AS score
          FROM cand c
          JOIN q USING (query_id)
          JOIN n ON c.neighbor_id = n.vec_id)
        SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank, score
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id) AS rn FROM scored)
        WHERE rn <= 5
        ORDER BY query_id, rank"""
      })),

    Query(
      "q29_knn_ivf",
      "Approximate top-5 neighbors via IVF-flat (C=256 hash-sampled seed " +
        "centroids — bounded regardless of corpus size — tightened by " +
        "three deterministic Lloyd steps over a bounded 8·C training " +
        "sample, nProbe=32): corpus coarse-quantized to inverted lists in ONE " +
        "assignment pass, queries probe their nearest lists only, exact " +
        "cosine re-ranks candidates. The data-driven-bucketing counterpart " +
        "of q20's LSH; at scale the cluster-keyed layout is written bucketed " +
        "so probes are partition-pruned reads. Recall vs q19 measured in " +
        "ScalaTest. ORACLE since round 17 via the q77 staged-root " +
        "convention: the ad-hoc build is bit-identical to the persisted " +
        "q77 index (deterministic training, asserted in AnnIndexSpec), " +
        "so DuckDB replays the probe from the staged parquet — the " +
        "equality check is exactly that build-determinism invariant, " +
        "now cross-engine on bytes.",
      (s, dir) => {
        AnnIndex.ivfOracleRoot = Some(Staging.abs(AnnIndex.ivfIndex(s, dir)))
        knnIvf(Tables.embeddings(s, dir), nQueries = 10, k = 5)
      },
      oracleFn = Some(() => AnnIndex.ivfOracleRoot.map(idx =>
        AnnIndex.ivfProbeSql(Seq(s"$idx/lists/*/*.parquet"),
          s"$idx/centroids", queryPred = "vec_id < 10", nProbe = 32,
          k = 5)))),

    Query(
      "q74_knn_pq",
      "Approximate top-5 neighbors via product quantization (m=8 " +
        "subspaces x 64 centroids, bounded hash-order training, one " +
        "decimal-exact Lloyd step per subspace): each corpus vector " +
        "stored as 8 code bytes (64x memory cut), the ADC scan scores a " +
        "pair with 8 map lookups from the query's precomputed partial-" +
        "distance table, exact cosine re-ranks the top-256 candidates " +
        "only. The memory-bound ANN decomposition next to q20 (LSH) and " +
        "q29 (IVF); recall@5 ~0.9 on the near-random sf0.1 embeddings " +
        "(was 0.48 at 16 centroids/64 candidates), gated in ScalaTest " +
        "and tracked in RECALL_LOCAL.json. ORACLE since round 17 via " +
        "the q78 staged-root convention: the ad-hoc build is bit-" +
        "identical to the persisted q78 index (deterministic codebook " +
        "fit, asserted in AnnIndexSpec), so DuckDB replays the " +
        "LUT-build + ADC scan + re-rank from the staged parquet — the " +
        "build-determinism invariant checked cross-engine on bytes.",
      (s, dir) => {
        AnnIndex.pqOracleRoot = Some(Staging.abs(AnnIndex.pqIndex(s, dir)))
        knnPq(Tables.embeddings(s, dir), nQueries = 10, k = 5)
      },
      oracleFn = Some(() => AnnIndex.pqOracleRoot.map(idx =>
        AnnIndex.pqProbeSql(Seq(s"$idx/codes/*.parquet"),
          s"$idx/codebooks", queryPred = "vec_id < 10",
          candidates = 256, k = 5)))),

    Query(
      "q116_knn_sq8",
      "Approximate top-5 neighbors via int8 scalar quantization (Faiss " +
        "SQ8): per-dimension bounds from one training pass (a one-row " +
        "broadcast, no driver round-trip), corpus stored as 8-bit codes " +
        "(4x memory cut; composable with the q29/q77 IVF layout for " +
        "pruned probes), asymmetric scoring — float queries against " +
        "dequantized reconstructions, so quantization error enters once. " +
        "The gentlest point on the ANN compression spectrum next to " +
        "q74's PQ (64x). Recall vs q19 gated in ScalaTest plus a " +
        "reconstruction-error bound of half a quantization step. " +
        "ORACLE since round 14: unlike the iteratively-trained ANN " +
        "paths, SQ8 is CLOSED-FORM end to end (bounds are a min/max " +
        "aggregate, encode/decode are arithmetic), so DuckDB replays " +
        "the whole pipeline — bounds, clamp-round quantization, " +
        "reconstruction, asymmetric cosine, top-k — from the source " +
        "table, hash-exact.",
      (s, dir) => knnSq8(Tables.embeddings(s, dir), nQueries = 10, k = 5),
      Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        x AS (SELECT vec_id, unnest(v) AS x,
                     unnest(range(1, len(v) + 1)) AS d
              FROM e),
        b AS (SELECT d, min(x) AS mn,
                     greatest(max(x) - min(x), 1e-12) AS span
              FROM x GROUP BY d),
        deq AS (
          SELECT vec_id,
                 list(least(greatest(round((x - mn) / span * 255.0), 0.0),
                            255.0) * span / 255.0 + mn
                      ORDER BY d) AS vh
          FROM x JOIN b USING (d)
          GROUP BY vec_id),
        nh AS (SELECT vec_id, vh, sqrt(list_dot_product(vh, vh)) AS nrmh
               FROM deq),
        q AS (SELECT vec_id AS query_id, v AS q_emb,
                     sqrt(list_dot_product(v, v)) AS q_nrm
              FROM e WHERE vec_id < 10),
        scored AS (
          SELECT q.query_id, n.vec_id AS neighbor_id,
                 list_dot_product(q.q_emb, n.vh) / (q.q_nrm * n.nrmh)
                   AS score
          FROM nh n JOIN q ON n.vec_id <> q.query_id)
        SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank, score
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id) AS rn FROM scored)
        WHERE rn <= 5
        ORDER BY query_id, rank""")),

    Query(
      "q21_embed_neardup",
      "Embedding-cosine near-duplicate pairs (cosine ≥ 0.45): the vector-space " +
        "dedup contract, exact over the corpus. At 100 TB the same verify runs " +
        "behind SRP bucketing instead of the self-join — that scale path is " +
        "registered as q27_embed_neardup_lsh.",
      (s, dir) => cosineNearDups(Tables.embeddings(s, dir), threshold = 0.45),
      Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.45
        ORDER BY vec_a, vec_b""")),

    Query(
      "q27_embed_neardup_lsh",
      "Bucketed embedding near-dup at scale: SRP-LSH (12 tables × 16-bit " +
        "signatures) candidate equi-join → exact cosine verify ≥ 0.9, over a " +
        "deterministic planted-duplicate corpus (every vector + a perturbed " +
        "copy). Never an all-pairs product — the scale path for q21. Oracle is " +
        "the brute-force pair scan; they agree because a planted pair is missed " +
        "with p≈4e-12.",
      (s, dir) => cosineNearDupsLsh(
        plantedDupCorpus(Tables.embeddings(s, dir), offset = 1000000L),
        threshold = 0.9),
      Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        c AS (SELECT * FROM e
              UNION ALL
              SELECT vec_id + 1000000 AS vec_id, [v[1] * 1.05] || v[2:] AS v FROM e),
        n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM c)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.9
        ORDER BY vec_a, vec_b""")),

    Query(
      "q90_label_centroid",
      "Per-label centroid component sums — the distributed mean-pooling / " +
        "class-prototype primitive (lloydStep's aggregation shape surfaced " +
        "as its own operator): posexplode to (label, dim, value), one " +
        "map-side-combining aggregate in the DECIMAL(38,18) domain — exact " +
        "and ORDER-INDEPENDENT where a double sum would vary with partial- " +
        "aggregation order — emitting (sum, count) per component so the " +
        "consumer divides. The catalog entry accumulates in fixed-point " +
        "nano-units — floor(v * 1e9) per COMPONENT, then an integer sum — " +
        "because cross-engine decimal parity breaks twice otherwise: " +
        "double→decimal casts round different representations (Spark " +
        "rounds the shortest decimal string, DuckDB the true binary " +
        "value — digits 17-18 diverge), and decimal→double back-casts " +
        "are not correctly rounded everywhere. The per-element double " +
        "multiply and floor are IEEE-identical in both engines, and the " +
        "LONG sum is order-independent — zero boundary risk at any " +
        "scale. Output bounded by |labels| x dim regardless of corpus " +
        "size.",
      (s, dir) =>
        Tables.embeddings(s, dir)
          .select(col("label"),
            posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
          .groupBy("label", "pos")
          .agg(sum(floor(col("v") * lit(1e9)).cast("long")).as("sum_v_nano"),
            count(lit(1)).as("n"))
          .orderBy("label", "pos"),
      Some("""
        WITH comp AS (
          SELECT label, CAST(i - 1 AS INT) AS pos,
                 CAST(FLOOR(v[i] * 1e9) AS BIGINT) AS c
          FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
               LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) r
        )
        SELECT label, pos,
               CAST(SUM(c) AS BIGINT) AS sum_v_nano,
               COUNT(*) AS n
        FROM comp
        GROUP BY label, pos
        ORDER BY label, pos"""))
  )
}
