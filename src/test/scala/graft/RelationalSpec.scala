package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke + sanity per catalog query on the sf0.001 tier. The driver's
  * DuckDB oracle at sf0.01 is the deep correctness gate; these catch
  * regressions fast. The entries that read the reference sample
  * (q10/q11/q63) run over a generated folder of its layout on hosts
  * without it. */
class RelationalSpec extends AnyFunSuite with ReferenceLayout.OnSampleLayout {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  SparkEntry.catalog.foreach { q =>
    test(s"${q.name} returns rows and a stable schema") {
      onSampleLayout {
        val df = q.run(spark, sf)
        assert(df.columns.distinct.length === df.columns.length, "duplicate column names")
        assert(df.count() > 0, s"${q.name} returned no rows")
      }
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q12 approx distinct is self-validating: every group within its 3-sigma band") {
    val rows = SparkEntry.queries("q12_approx_distinct")(spark, sf)
      .select("l_returnflag", "err_orders", "err_parts", "within_3sigma").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(3),
        s"${r.getString(0)}: err_orders=${r.getDouble(1)} err_parts=${r.getDouble(2)} exceed 3%")
    }
    // the in-plan exact branch agrees with the standalone exact operator q6
    val fromQ12 = SparkEntry.queries("q12_approx_distinct")(spark, sf)
      .select("l_returnflag", "exact_orders").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val fromQ6 = SparkEntry.queries("q6_distinct")(spark, sf)
      .select("l_returnflag", "d_orders").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromQ12 === fromQ6)
  }

  test("q12 3-sigma band also holds at the oracle tier (sf0.01)") {
    // the driver's CORRECTNESS records q12 as no_oracle (sketches are
    // engine-specific); this pins the |approx-exact|/exact <= 3*rsd
    // numeric bound at the same tier the oracle queries run on, so the
    // no_oracle gate is a stated bound there too, not just at sf0.001
    val rows = SparkEntry.queries("q12_approx_distinct")(spark, "/root/testdata/sf0.01")
      .select("l_returnflag", "err_orders", "err_parts", "within_3sigma").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(3),
        s"${r.getString(0)}: err_orders=${r.getDouble(1)} err_parts=${r.getDouble(2)} exceed 3%")
    }
  }

  test("q31 exact percentiles never sort a whole group in one task") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.SparkPlan
    // Two groups, many rows, forced multi-partition input: the old
    // Window.partitionBy(group) plan would funnel each group's 25k rows
    // through a single task; the bucketed two-pass plan must not.
    val two = spark.range(50000).repartition(8)
      .select(when(col("id") % 2 === 0, "G").otherwise("H").as("g"),
        (col("id") % 9973).cast("double").as("x"))
    val out = graft.operators.Relational.exactPercentiles(
      two, "g", Seq(0.5 -> "p50", 0.95 -> "p95"))
    val rows = out.collect().map(r => r.getString(0) -> r).toMap
    assert(rows.size === 2)
    def q(vals: Seq[Double], p: Double): Double = {
      val sorted = vals.sorted
      val pos = p * (sorted.length - 1)
      val (lo, hi) = (sorted(pos.floor.toInt), sorted(pos.ceil.toInt))
      lo * (1 - (pos - pos.floor)) + hi * (pos - pos.floor)
    }
    val byG = (0L until 50000L).groupBy(i => if (i % 2 == 0) "G" else "H")
      .map { case (g, is) => g -> is.map(i => (i % 9973).toDouble).toSeq }
    byG.foreach { case (g, vals) =>
      assert(rows(g).getAs[Double]("p50") === q(vals, 0.5), s"group $g p50")
      assert(rows(g).getAs[Double]("p95") === q(vals, 0.95), s"group $g p95")
    }
    // Structural guard: every window over row-scale data partitions by
    // (group, bucket) — parallelism G×B; a 1-column window spec is only
    // allowed over the pre-aggregated counts frame (≤B rows per group).
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.ReusedSubqueryExec
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val expanded = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => Seq.empty
      }
      p +: (p.children ++ expanded ++ p.subqueries.map {
        case r: ReusedSubqueryExec => r.child
        case s => s
      }).flatMap(allNodes)
    }
    val nodes = allNodes(out.queryExecution.executedPlan)
    val ws = nodes.collect { case w: WindowExec => w }
    assert(ws.nonEmpty, "expected window nodes in the percentile plan")
    ws.foreach { w =>
      // The cumulative-counts window (ordered by the bucket id) runs over
      // the aggregated histogram — ≤B rows per group at any data size.
      val overCounts = w.orderSpec.exists(_.child.references.exists(_.name == "bkt"))
      assert(w.partitionSpec.length >= 2 || overCounts,
        s"window partitioned by a bare group key over row-scale data:\n$w")
    }
  }

  test("exact percentiles handle tie-dominated groups and exclude NULL measures") {
    import org.apache.spark.sql.functions._
    // 99% of the group is one constant (the tie-skew that would refill a
    // single bucket), plus NULLs that quantile_cont semantics exclude
    val vals = Seq.fill(9900)(42.0) ++ (1 to 100).map(_.toDouble)
    val df = spark.createDataFrame(
        vals.map(v => ("G", Option(v))) ++ Seq.fill(50)(("G", None: Option[Double])))
      .toDF("g", "x").repartition(8)
    val out = graft.operators.Relational.exactPercentiles(
      df, "g", Seq(0.5 -> "p50", 0.99 -> "p99")).collect().head
    def q(sorted: Seq[Double], p: Double): Double = {
      val pos = p * (sorted.length - 1)
      val (lo, hi) = (sorted(pos.floor.toInt), sorted(pos.ceil.toInt))
      lo * (1 - (pos - pos.floor)) + hi * (pos - pos.floor)
    }
    val sorted = vals.sorted
    assert(out.getAs[Double]("p50") === q(sorted, 0.5))
    assert(out.getAs[Double]("p99") === q(sorted, 0.99))
    assert(out.getAs[Long]("n") === 10000L) // NULLs not counted
  }

  test("q33 approx percentiles are within 5% of the exact sort-based q31") {
    val approx = SparkEntry.queries("q33_approx_percentiles")(spark, sf)
      .collect().map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    val exact = SparkEntry.queries("q31_percentiles")(spark, sf)
      .collect().map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    exact.foreach { case (k, ex) =>
      ex.zip(approx(k)).foreach { case (e, a) =>
        assert(math.abs(a - e) / e < 0.05, s"$k: approx $a vs exact $e")
      }
    }
  }

  test("deterministic sampling is stable, near-fraction, and monotone in the fraction") {
    import org.apache.spark.sql.functions._
    import graft.operators.Sampling
    val docs = graft.sources.Tables.documents(spark, sf)
    val n = docs.count().toDouble
    val s10 = Sampling.deterministicSample(docs, col("doc_id"), 0.1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s30 = Sampling.deterministicSample(docs, col("doc_id"), 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // stable across runs (hash-based, no RNG)
    val s10again = Sampling.deterministicSample(docs, col("doc_id"), 0.1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s10 === s10again)
    // monotone: growing the fraction only ADDS rows (an RNG sample can't)
    assert(s10.subsetOf(s30))
    // near the requested fraction (binomial tolerance at n=500)
    assert(math.abs(s10.size / n - 0.1) < 0.05)
    assert(math.abs(s30.size / n - 0.3) < 0.07)
  }

  test("localize refuses a frame larger than its cap and names the small-group contract") {
    import graft.operators.Relational
    val big = spark.range(Relational.LocalizeCap + 1L).toDF("x")
    val e = intercept[IllegalArgumentException](Relational.localize(big))
    assert(e.getMessage.contains(s"more than ${Relational.LocalizeCap} rows"))
    assert(e.getMessage.contains("Curation.quantileFilter"))
    assert(e.getMessage.contains("graft_quantile_gate"))
    assert(e.getMessage.contains("few distinct values"))
    assert(Relational.localize(big.limit(3)).count() === 3)
  }

  test("every oracle key exists in queries") {
    val qs = SparkEntry.queries.keySet
    SparkEntry.oracleSql.keys.foreach(k => assert(qs.contains(k)))
  }
}
