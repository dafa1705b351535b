package perfbench

import org.apache.spark.sql.Row

import graft.Recall

/** Output checks for the corpus entries, against plain-Scala answers
  * computed from the generator's own rows:
  *
  *   - q17 (MinHash LSH) and q28 (exact prefix-filter join) return the
  *     same pair set, which equals the exact word-3-gram Jaccard >= 0.7
  *     pairs and holds exactly the `docs / 50` planted near-copies;
  *   - q151's recall@5 against q19's exact neighbours is at least the
  *     engine's own `Recall.methods` floor;
  *   - q114's PageRank mass is 1 within 1e-9. */
object CorpusOracle {
  val Tau = 0.7

  def shingles(text: String): Set[String] = {
    val ws = text.trim.toLowerCase.split("\\s+")
    ws.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
  }

  /** Exact Jaccard >= `Tau` pairs (a < b) via an inverted shingle index. */
  def exactPairs(docs: Seq[(Long, String)]): Set[(Long, Long)] = {
    val sets = docs.map { case (id, t) => id -> shingles(t) }.toMap
    val postings = sets.toSeq.flatMap { case (id, s) => s.toSeq.map(_ -> id) }
      .groupMap(_._1)(_._2)
    val shared = scala.collection.mutable.Map.empty[(Long, Long), Int].withDefaultValue(0)
    postings.values.foreach { ids =>
      val s = ids.sorted
      for (i <- s.indices; j <- i + 1 until s.size) shared((s(i), s(j))) += 1
    }
    shared.collect { case ((a, b), n)
      if n.toDouble / (sets(a).size + sets(b).size - n) >= Tau => (a, b) }.toSet
  }

  private def pairs(rows: Array[Row]): Set[(Long, Long)] =
    rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet

  private def neighbours(rows: Array[Row]): Map[Long, Set[Long]] =
    rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap

  def recall(got: Map[Long, Set[Long]], truth: Map[Long, Set[Long]]): Double =
    truth.map { case (q, t) => (got.getOrElse(q, Set.empty) & t).size.toDouble / t.size }
      .sum / truth.size

  def check(results: Map[String, Array[Row]], seed: Long, shape: CorpusGen.Shape): Seq[String] = {
    val problems = Seq.newBuilder[String]
    val q17 = pairs(results("q17_dedup_minhash"))
    val q28 = pairs(results("q28_jaccard_join"))
    val exact = exactPairs(CorpusGen.documents(seed, shape.docs))
    val planted = (0 until shape.docs).count(CorpusGen.isPlanted)
    if (q17 != q28) problems += s"q17 and q28 pair sets differ: ${(q17 diff q28).size} only " +
      s"in q17, ${(q28 diff q17).size} only in q28"
    if (q28 != exact) problems += s"q28 has ${q28.size} pairs, the exact join ${exact.size} " +
      s"(${(q28 diff exact).size} spurious, ${(exact diff q28).size} missed)"
    if (q28.size != planted) problems += s"q28 has ${q28.size} pairs, $planted were planted"

    val truth = neighbours(results("q19_knn_brute"))
    if (truth.isEmpty) problems += "q19 returned no neighbours"
    else {
      val q = "q151_knn_graph_batch"
      val floor = Recall.methods.toMap.apply(q)
      val r = recall(neighbours(results(q)), truth)
      if (r < floor) problems += f"$q recall@5 $r%.3f below the floor $floor%.2f"
    }

    val mass = results("q114_pagerank").map(_.getAs[Double]("rank")).sum
    if (math.abs(mass - 1.0) > 1e-9) problems += s"q114 rank mass $mass, not 1 within 1e-9"
    problems.result()
  }
}
