package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Query
import graft.sources.Tables

/** Semantic deduplication — SemDeDup (Abbas et al. 2023,
  * arXiv:2303.09540): remove documents that are SEMANTICALLY redundant
  * (same content, different words) by deduplicating in embedding space.
  * The paper's decomposition, re-expressed on the catalog's existing
  * machinery:
  *
  *   1. coarse-cluster the embeddings with k-means — here the q29 IVF
  *      quantizer ([[Similarity.ivfCentroids]]): hash-order seed sample,
  *      one deterministic Lloyd step, bounded training at any corpus
  *      size — and assign every vector to its nearest centroid
  *      ([[Similarity.assignToCentroids]], a map-side max_by aggregate);
  *   2. WITHIN each cluster only, find pairs with cosine ≥ τ — a
  *      cluster-keyed self-equi-join, never the corpus × corpus product
  *      (the clustering exists precisely to make near-duplicate search
  *      linear-ish: candidate volume is Σ|cluster|², expected n²/C for
  *      balanced clusters; production deployments additionally cap or
  *      split outlier clusters). The join formulation streams pairs
  *      through a sort-merge join — unlike the bounded-LSH-bucket path
  *      (q27's `pairsWithinBuckets`), a data-driven cluster is NOT
  *      size-bounded, so collecting one into a single row would be a
  *      memory hazard;
  *   3. resolve pair transitivity with the q40 connected components
  *      (alternating star contraction) and elect one survivor per
  *      component with the q72 election ([[DupClusters.keepList]]) —
  *      keeping the member FARTHEST from its centroid (lowest cosine to
  *      centroid), the paper's keep policy (§4.1: keeping low-similarity
  *      examples preserves diversity; ties break to the smallest id).
  *
  * Approximate by design — a true near-pair straddling a cluster
  * boundary is missed, the accepted SemDeDup trade (the paper dedups
  * within clusters only) — so there is no SQL oracle; the ScalaTest
  * gate checks a planted-twin recall floor, a full differential against
  * an independent plain-Scala reimplementation (same centroids, scalar
  * loops), and determinism across runs.
  *
  * Scale shape: centroid frames are ≤ C rows (broadcast); the corpus is
  * exchanged once for assignment, once (×2 sides) for the self-join;
  * pairs — ids only, never vectors — flow into CC whose rounds shuffle
  * id pairs; the election exchanges (id, id, score). No stage holds a
  * cluster in memory; no driver-side data. */
object SemanticDedup {

  /** Keep/drop verdicts for every vector in a semantic-duplicate
    * component: (vec_id, component_id, canonical_vec, keep). Vectors in
    * no component are implicitly kept (the q72 convention). */
  def semanticDedup(emb: DataFrame, threshold: Double, centroids: Int = 64,
      lloydIters: Int = 1): DataFrame = {
    val e = Similarity.prepared(emb)
    val cent = Similarity.ivfCentroids(e, centroids, lloydIters)
    // (vec_id, emb, nrm, cluster) + cosine to OWN centroid — the
    // election score, computed once here while the centroid broadcast
    // is at hand. Persisted: read by both self-join sides and the
    // election stats (the codebase's eager-barrier contract).
    val assigned = Similarity.assignToCentroids(e, cent)
      .join(broadcast(cent), col("cluster") === col("cent_id"))
      .select(col("vec_id"), col("emb"), col("nrm"), col("cluster"),
        Similarity.cosine(col("emb"), col("nrm"), col("c_emb"), col("c_nrm"))
          .as("cent_cos"))
      .persist()
    assigned.count()
    val l = assigned.select(col("cluster"), col("vec_id").as("u"),
      col("emb").as("ea"), col("nrm").as("na"))
    val r = assigned.select(col("cluster"), col("vec_id").as("v"),
      col("emb").as("eb"), col("nrm").as("nb"))
    val pairs = l.join(r, Seq("cluster"))
      .filter(col("u") < col("v"))
      .filter(Similarity.cosine(col("ea"), col("na"), col("eb"), col("nb"))
        >= threshold)
      .select(col("u"), col("v"))
    // farthest-from-centroid wins: election score = -cosine(centroid)
    val stats = assigned.select(col("vec_id").as("doc_id"),
      (-col("cent_cos")).as("score"))
    DupClusters.keepList(DupClusters.connectedComponents(pairs), stats)
      .select(col("doc_id").as("vec_id"), col("cluster_id").as("component_id"),
        col("canonical_doc").as("canonical_vec"), col("keep"))
  }

  /** The q80 demo corpus: planted twins over the embeddings table. */
  private def q80Corpus(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    Similarity.plantedDupCorpus(Tables.embeddings(spark, dir), offset = 100000)
      .withColumnRenamed("emb", "embedding")

  /** Staged-twin oracle root for q80 (round-14 upgrade — the q102/q143
    * convention): [[graft.SemanticDedupReference]]'s verdicts staged as
    * parquet, so DuckDB hash-compares the Spark operator against a full
    * independent reimplementation instead of the check living only in
    * ScalaTest. */
  @volatile private[graft] var twinOracleRoot: Option[String] = None

  /** Write-once staged reference verdicts. Driver-side collects are the
    * oracle-twin convention (BpeReference/UnigramReference): an oracle
    * runs at oracle scale — thousands of vectors, single-digit MB — and
    * the artifact is content-keyed write-once. */
  private[graft] def twinStaged(spark: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    Staging.stage(spark, Staging.Key("semdedup/sdd", Seq(s"$dir/embeddings.parquet"))) { tmp =>
      val e = Similarity.prepared(q80Corpus(spark, dir))
      val cent = Similarity.ivfCentroids(e, centroids = 64, lloydIters = 1)
      val centRows = cent.collect().map(r => (r.getLong(0),
        r.getSeq[Double](1).toArray, r.getDouble(2)))
      cent.unpersist()
      val vecs = e.collect().map(r => (r.getLong(0),
        r.getSeq[Double](1).toArray, r.getDouble(2)))
      import spark.implicits._
      graft.SemanticDedupReference.verdicts(vecs, centRows, tau = 0.95)
        .toDF("vec_id", "component_id", "canonical_vec", "keep")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/verdicts")
    }
  }

  val queries: Seq[Query] = Seq(
    Query(
      "q80_semantic_dedup",
      "SemDeDup (Abbas et al. 2023): semantic dedup in embedding space " +
        "over the q27 planted-twin corpus — IVF k-means coarse clusters " +
        "(bounded hash-order training), within-cluster-only cosine pairs " +
        "(cluster-keyed self-join, never corpus x corpus), q40 connected " +
        "components, survivor = farthest from centroid (the paper's keep " +
        "policy). Approximate by design (cross-cluster pairs are missed), " +
        "so no SQL twin exists — the oracle (round-14 upgrade, the " +
        "q102/q143 staged-twin convention) is the independent plain-Scala " +
        "reimplementation the spec differentials against, staged as " +
        "parquet and hash-compared by DuckDB: assignment, pair search, " +
        "union-find transitivity and the election all re-derived from " +
        "the paper's definitions, sharing only the deterministic " +
        "centroid frame. ScalaTest keeps planted recall, the in-memory " +
        "differential, and determinism.",
      (s, dir) => {
        twinOracleRoot =
          Some(new java.io.File(twinStaged(s, dir)).getAbsolutePath)
        semanticDedup(q80Corpus(s, dir), threshold = 0.95)
          .orderBy("vec_id")
      },
      oracleFn = Some(() => twinOracleRoot.map(root => s"""
        SELECT vec_id, component_id, canonical_vec, keep
        FROM read_parquet('$root/verdicts/*.parquet')
        ORDER BY vec_id""")))
  )
}
