package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The split count behind [[Tables.rebalanced]]: `Tables.scanSplits`
  * reads it from the planned file scan, so it must equal the partition
  * count of the frame's RDD on real file scans, and `rebalanced` must
  * fan out exactly when that count is below `defaultParallelism`.
  * Asserted on every test table at both sf tiers, on pruned and joined
  * hive layouts, and on the non-file and shuffle-shaped pass-through
  * cases. */
class RebalanceSpec extends AnyFunSuite with SparkTestSession.TempDirs {
  private lazy val spark = SparkTestSession.spark
  private def cores = spark.sparkContext.defaultParallelism

  /** `rebalanced` fans out to the core count below it and otherwise
    * returns the very frame it was given. */
  private def assertDecision(df: DataFrame, splits: Int, clue: String): Unit = {
    val out = Tables.rebalanced(df)
    if (splits < cores) assert(out.rdd.getNumPartitions === cores, clue)
    else assert(out eq df, clue)
  }

  test("estimate equals the RDD-derived split count on every test table") {
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01");
         t <- Tables.names) {
      val df = Tables.load(spark, sf, t)
      val planned = Tables.scanSplits(df)
      assert(planned.isDefined, s"$sf/$t: no split count for a plain file scan")
      assert(planned.get === df.rdd.getNumPartitions, s"$sf/$t")
      assertDecision(df, planned.get, s"$sf/$t")
    }
  }

  test("estimate survives projection and filter on top of the scan") {
    val df = Tables.documents(spark, "/root/testdata/sf0.01")
      .select("doc_id", "text").filter(col("doc_id") % 2 === 0)
    val planned = Tables.scanSplits(df)
    assert(planned === Some(df.rdd.getNumPartitions))
    assertDecision(df, planned.get, "documents, projected and filtered")
  }

  test("partition-pruned scans estimate the PRUNED listing, exactly as the real scan") {
    // hive-partitioned layout written dir-by-dir from spark.range with
    // EXPLICIT partition counts (range plans carry their slice count
    // through a shuffle-free write, so AQE cannot coalesce the file
    // counts away): p=0 holds 12 files, p=1 holds 1 — pruning to p=1
    // must shrink the count
    val root = tempDir("graft_part_est").toString
    spark.range(0L, 12000L, 1L, 12)
      .selectExpr("id", "repeat('x', 200) as body")
      .write.mode("overwrite").parquet(s"$root/p=0")
    spark.range(12000L, 13000L, 1L, 1)
      .selectExpr("id", "repeat('x', 200) as body")
      .write.mode("overwrite").parquet(s"$root/p=1")
    val all = spark.read.parquet(root)
    val pruned = all.filter(col("p") === 1)
    val plannedAll = Tables.scanSplits(all)
    val plannedPruned = Tables.scanSplits(pruned)
    assert(plannedAll.isDefined && plannedPruned.isDefined)
    assert(plannedPruned.get === pruned.rdd.getNumPartitions)
    assert(plannedAll.get === all.rdd.getNumPartitions)
    assert(plannedPruned.get < plannedAll.get)
    assertDecision(all, plannedAll.get, "unpruned layout")
    assertDecision(pruned, plannedPruned.get, "layout pruned to p=1")
  }

  test("a filter above an outer join does not prune the null-supplying scan") {
    // two hive-partitioned tables; the filter on the RIGHT (null-
    // supplying) side's partition column sits ABOVE the left join, so
    // the optimizer cannot push it into the right scan
    val root = tempDir("graft_join_est").toString
    spark.range(0L, 6000L, 1L, 6).selectExpr("id", "id % 2 as lp")
      .write.partitionBy("lp").mode("overwrite").parquet(s"$root/left")
    spark.range(0L, 6000L, 1L, 6).selectExpr("id", "id % 2 as p")
      .write.partitionBy("p").mode("overwrite").parquet(s"$root/right")
    val l = spark.read.parquet(s"$root/left")
    val r = spark.read.parquet(s"$root/right")
    val bare = l.join(r, Seq("id"), "left")
    val filtered = bare.filter(col("p") === 1 || col("p").isNull)
    def scanSplitsOf(df: DataFrame): Seq[Int] = df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.inputRDD.getNumPartitions
    }
    // both scans plan the same splits as under the filter-free join
    assert(scanSplitsOf(filtered) === scanSplitsOf(bare))
    // a join is not a plain scan: no split count, and rebalanced passes it through
    assert(Tables.scanSplits(filtered).isEmpty)
    assert(Tables.rebalanced(filtered) eq filtered)
    // while a DIRECT chain filter on the same column still prunes
    val prunedR = r.filter(col("p") === 1)
    assert(Tables.scanSplits(prunedR).get < Tables.scanSplits(r).get)
  }

  test("non-file leaves yield no estimate (pass-through, no job)") {
    import spark.implicits._
    val local = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(Tables.scanSplits(local).isEmpty)
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
    assume(Tables.scanSplits(docs).exists(_ < cores))
    val out = Tables.rebalanced(docs)
    assert(out.rdd.getNumPartitions === cores)
  }

  test("a scan that plans at least defaultParallelism splits passes through unchanged") {
    // 2 × cores equal files: Spark's split size is total bytes / cores,
    // so the scan plans (at least) one split per core
    val root = tempDir("graft_wide_scan").toString
    spark.range(0L, 1000L * cores, 1L, 2 * cores)
      .selectExpr("id", "repeat('x', 200) as body")
      .write.mode("overwrite").parquet(root)
    val wide = spark.read.parquet(root)
    val planned = Tables.scanSplits(wide)
    assert(planned.exists(_ >= cores), s"planned $planned splits on $cores cores")
    assert(Tables.rebalanced(wide).queryExecution.logical === wide.queryExecution.logical)
  }
}
