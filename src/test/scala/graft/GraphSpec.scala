package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** q114 — weighted PageRank. No SQL oracle (float power iteration);
  * the gates are a plain-Scala reference at 1e-9, exact rank-mass
  * conservation, and structural sanity on crafted graphs. */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Plain-Scala power iteration with the operator's exact update
    * rule: rank' = (1-d)/N + d * Σ_in rank(u) * w(u,v)/outw(u). */
  private def reference(edges: Seq[(Long, Long, Double)], d: Double,
      iters: Int): Map[Long, Double] = {
    val outw = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nodes = edges.map(_._1).distinct.sorted
    val n = nodes.size
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _, w) => rank(s) * w / outw(s) }.sum).toMap
      rank = nodes.map(v => v -> ((1.0 - d) / n + d * in(v))).toMap
    }
    rank
  }

  private def sparkRanks(edges: Seq[(Long, Long, Double)], d: Double,
      iters: Int): Map[Long, Double] = {
    import spark.implicits._
    Graph.pageRank(edges.toDF("src", "dst", "weight"), d, iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  private def sym(e: Seq[(Long, Long, Double)]): Seq[(Long, Long, Double)] =
    e ++ e.map { case (a, b, w) => (b, a, w) }

  test("an empty edge frame is refused, not silently NaN-ranked") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      Graph.pageRank(Seq.empty[(Long, Long, Double)]
        .toDF("src", "dst", "weight"), 0.85, 5).collect()
    }
    assert(e.getMessage.contains("non-empty"))
  }

  test("two-node symmetric graph converges to equal ranks of 1/2") {
    val got = sparkRanks(sym(Seq((1L, 2L, 3.0))), 0.85, 10)
    assert(math.abs(got(1L) - 0.5) < 1e-12 && math.abs(got(2L) - 0.5) < 1e-12)
  }

  test("star graph: hub outranks leaves; ranks sum to 1") {
    val star = sym((1L to 6L).map(i => (0L, i, 1.0)))
    val got = sparkRanks(star, 0.85, 20)
    assert(got(0L) > got(1L) * 2)
    assert((1L to 6L).forall(i => math.abs(got(i) - got(1L)) < 1e-12))
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("weights matter: the heavier neighbor of a hub ranks higher") {
    val g = sym(Seq((0L, 1L, 10.0), (0L, 2L, 1.0), (1L, 2L, 1.0)))
    val got = sparkRanks(g, 0.85, 25)
    assert(got(1L) > got(2L))
  }

  test("pageRank releases its edge checkpoint once the loop inputs are built") {
    import org.apache.spark.sql.execution.LogicalRDD
    import spark.implicits._
    val sc = spark.sparkContext
    val star = sym((1L to 6L).map(i => (0L, i, 1.0)))
    // under 5 rounds no rank checkpoint is taken, so the result reads
    // exactly two checkpoints: the normalized edges and the node set; at
    // 15 rounds it reads the normalized edges and the round-10 ranks, and
    // the node set and the round-5 ranks are released too
    for (iters <- Seq(3, 15)) {
      val before = sc.getPersistentRDDs.keySet
      val ranks = Graph.pageRank(star.toDF("src", "dst", "weight"), 0.85, iters)
      val read = ranks.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet
      assert(read.size === 2)
      // nothing pageRank checkpointed stays pinned but what its result reads
      assert(sc.getPersistentRDDs.keySet -- before === read, s"$iters rounds")
    }
  }

  test("sf0.001 purchase graph matches the plain-Scala reference at 1e-9") {
    val edges = Graph.purchaseEdges(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = reference(edges, 0.85, 15)
    val got = sparkRanks(edges, 0.85, 15)
    assert(got.size === want.size)
    got.foreach { case (n, r) =>
      assert(math.abs(r - want(n)) <= 1e-9 * math.max(r, want(n)) + 1e-15,
        s"node $n: $r vs ${want(n)}")
    }
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("q114 catalog entry: disjoint node spaces, full coverage, mass 1") {
    val rows = SparkEntry.queries("q114_pagerank")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    val types = rows.map(_.getString(0)).toSet
    assert(types === Set("customer", "supplier"))
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-9)
    // every (type, id) appears once
    assert(rows.map(r => (r.getString(0), r.getLong(1))).distinct.length === rows.length)
  }
}
