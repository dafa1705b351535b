package graft

import java.io.{DataOutputStream, FileOutputStream}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FixedWidthBinary => FWB, FixedWidthBinaryV2}

/** DataSource V2 fixed-width binary source: decode exactness, split
  * planning (Spark's file-source rule),
  * column-pruning pushdown, reported statistics, trailing partial-record
  * handling. */
class FixedWidthBinaryV2Spec extends AnyFunSuite with SparkTestSession.TempDirs {
  private lazy val spark = SparkTestSession.spark

  private val layout: Seq[FWB.Field] =
    Seq(FWB.I32("a"), FWB.Skip(2), FWB.I16("b"), FWB.Chars("c", 4)) // 12 bytes/record

  /** 10 records (a=i, b=i*2, c="r<i>" NUL-padded) plus 5 garbage bytes. */
  private lazy val path: String = {
    val f = tempDir("fwb").resolve("t.bin").toFile
    val out = new DataOutputStream(new FileOutputStream(f))
    (0 until 10).foreach { i =>
      out.writeInt(i)
      out.writeShort(0x7777) // the Skip(2) hole
      out.writeShort(i * 2)
      out.write(s"r$i".getBytes("UTF-8")); out.write(0); out.write(0) // NUL pad to 4
    }
    out.write(Array[Byte](1, 2, 3, 4, 5)) // trailing partial record
    out.close()
    f.getAbsolutePath
  }

  test("decodes records exactly and drops the trailing partial record") {
    val rows = FWB.read(spark, path, layout).collect().sortBy(_.getInt(0))
    assert(rows.length === 10)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getInt(0) === i)
      assert(r.getInt(1) === i * 2)
      assert(r.getString(2) === s"r$i") // trailing NULs stripped
    }
  }

  test("column pruning pushes into the scan (only requested fields decoded)") {
    val df = FWB.read(spark, path, layout).select("b")
    val leaves = df.queryExecution.executedPlan.collectLeaves()
    assert(leaves.head.output.map(_.name) === Seq("b"))
    assert(df.collect().map(_.getInt(0)).sorted.toSeq === (0 until 10).map(_ * 2))
  }

  test("splits follow files.maxPartitionBytes and remain record-aligned") {
    // 2 records per split -> 5 splits
    SparkTestSession.withConf("spark.sql.files.maxPartitionBytes" -> "24") {
      val df = FWB.read(spark, path, layout)
      assert(df.rdd.getNumPartitions === 5)
      assert(df.count() === 10)
      assert(df.select("a").collect().map(_.getInt(0)).sorted.toSeq === (0 until 10))
    }
  }

  test("default splits follow Spark's file-source rule: at least one per core, " +
      "record-aligned, none above maxPartitionBytes") {
    val cores = spark.sparkContext.defaultParallelism
    val openCost = 1200
    val n = 250 * cores // 3,000 bytes a core: the file outgrows openCost × cores
    val f = tempDir("fwb-rule").resolve("t.bin").toFile
    val out = new DataOutputStream(new FileOutputStream(f))
    (0 until n).foreach { i => out.writeInt(i); out.writeShort(0); out.writeShort(i); out.writeInt(0) }
    out.close()
    assert(f.length() > openCost.toLong * cores)
    for (maxBytes <- Seq(128L << 20, 1000L)) // the per-core share binds, then the cap
      SparkTestSession.withConf("spark.sql.files.openCostInBytes" -> openCost.toString,
          "spark.sql.files.maxPartitionBytes" -> maxBytes.toString) {
        val df = FWB.read(spark, f.getAbsolutePath, layout)
        val perSplit = df.rdd.mapPartitions(it => Iterator(it.size)).collect().toSeq
        assert(perSplit.size >= cores)
        assert(perSplit.forall(_ * 12L <= maxBytes))
        assert(perSplit.sum === n)
        assert(FixedWidthBinaryV2.splitBytes(spark, f.getAbsolutePath, 12) === perSplit.head * 12L)
        assert(df.select("a").collect().map(_.getInt(0)).sorted.toSeq === (0 until n))
      }
  }

  test("statistics report exact file size and row count to Catalyst") {
    val df = FWB.read(spark, path, layout)
    val stats = df.queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes === BigInt(125)) // 10*12 + 5 trailing bytes
    assert(stats.rowCount.forall(_ === BigInt(10))) // when propagated
  }
}
