package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The action-free scan-split estimate behind [[Tables.rebalanced]]
  * (round-8 fix: the probe used to force `df.rdd` materialization of
  * the scan lineage). The estimate replays `FilePartition`'s split
  * arithmetic from the cached file listing, so it must agree EXACTLY
  * with the RDD-derived partition count on real file scans — asserted
  * here on every test table and both sf tiers, plus the non-file and
  * shuffle-shaped pass-through cases. */
class RebalanceSpec extends AnyFunSuite with SparkTestSession.TempDirs {
  private lazy val spark = SparkTestSession.spark

  test("estimate equals the RDD-derived split count on every test table") {
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01");
         t <- Tables.names) {
      val df = Tables.load(spark, sf, t)
      val est = Tables.estimatedScanPartitions(df)
      assert(est.isDefined, s"$sf/$t: no estimate for a plain file scan")
      assert(est.get === df.rdd.getNumPartitions, s"$sf/$t")
    }
  }

  test("estimate survives projection and filter on top of the scan") {
    val df = Tables.documents(spark, "/root/testdata/sf0.01")
      .select("doc_id", "text").filter(col("doc_id") % 2 === 0)
    assert(Tables.estimatedScanPartitions(df)
      === Some(df.rdd.getNumPartitions))
  }

  test("partition-pruned scans estimate the PRUNED listing, exactly as the real scan") {
    // hive-partitioned layout written dir-by-dir from spark.range with
    // EXPLICIT partition counts (range plans carry their slice count
    // through a shuffle-free write, so AQE cannot coalesce the file
    // counts away): p=0 holds 12 files, p=1 holds 1 — pruning to p=1
    // must shrink the estimate
    val root = tempDir("graft_part_est").toString
    spark.range(0L, 12000L, 1L, 12)
      .selectExpr("id", "repeat('x', 200) as body")
      .write.mode("overwrite").parquet(s"$root/p=0")
    spark.range(12000L, 13000L, 1L, 1)
      .selectExpr("id", "repeat('x', 200) as body")
      .write.mode("overwrite").parquet(s"$root/p=1")
    val all = spark.read.parquet(root)
    val pruned = all.filter(col("p") === 1)
    val estAll = Tables.estimatedScanPartitions(all)
    val estPruned = Tables.estimatedScanPartitions(pruned)
    assert(estAll.isDefined && estPruned.isDefined)
    // the pruned estimate must match the pruned scan's REAL split count
    // (the pre-fix unpruned listing over-counted and could silently
    // skip the repalance the probed plan needed)
    assert(estPruned.get === pruned.rdd.getNumPartitions)
    assert(estAll.get === all.rdd.getNumPartitions)
    assert(estPruned.get < estAll.get)
  }

  test("a filter above an outer join does not prune the null-supplying scan") {
    // two hive-partitioned tables; the filter on the RIGHT (null-
    // supplying) side's partition column sits ABOVE the left join, so
    // the optimizer cannot push it into the right scan — the estimate
    // must not replay it as a partition filter either (round-8 advice:
    // doing so under-estimated vs the real unpruned scan)
    val root = tempDir("graft_join_est").toString
    spark.range(0L, 6000L, 1L, 6).selectExpr("id", "id % 2 as lp")
      .write.partitionBy("lp").mode("overwrite").parquet(s"$root/left")
    spark.range(0L, 6000L, 1L, 6).selectExpr("id", "id % 2 as p")
      .write.partitionBy("p").mode("overwrite").parquet(s"$root/right")
    val l = spark.read.parquet(s"$root/left")
    val r = spark.read.parquet(s"$root/right")
    val bare = l.join(r, Seq("id"), "left")
    // null-tolerant predicate on the right side's partition column: the
    // optimizer keeps it ABOVE the join, so the right scan stays
    // unpruned — the estimate must equal the filter-free join's (the
    // pre-fix code replayed the conjunct as a partition filter and
    // under-estimated)
    val filtered = bare.filter(col("p") === 1 || col("p").isNull)
    val est = Tables.estimatedScanPartitions(filtered)
    assert(est.isDefined)
    assert(est === Tables.estimatedScanPartitions(bare))
    // while a DIRECT chain filter on the same column still prunes
    val prunedR = r.filter(col("p") === 1)
    assert(Tables.estimatedScanPartitions(prunedR).get
      < Tables.estimatedScanPartitions(r).get)
  }

  test("non-file leaves yield no estimate (pass-through, no job)") {
    import spark.implicits._
    val local = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(Tables.estimatedScanPartitions(local).isEmpty)
    // rebalanced must leave the frame untouched rather than guess
    assert(Tables.rebalanced(local).queryExecution.optimizedPlan
      === local.queryExecution.optimizedPlan)
  }

  test("shuffle-shaped plans pass through untouched") {
    val agg = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    assert(Tables.rebalanced(agg).queryExecution.logical
      === agg.queryExecution.logical)
  }

  test("rebalanced still spreads a single-split scan across the cores") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    assume(Tables.estimatedScanPartitions(docs).exists(
      _ < spark.sparkContext.defaultParallelism))
    val out = Tables.rebalanced(docs)
    assert(out.rdd.getNumPartitions === spark.sparkContext.defaultParallelism)
  }
}
