package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ReferenceHypercube
import graft.sources.FixedWidthBinaryV2

/** Binary decode → hypercube → CSV against the plain-Scala `ETL.java`
  * twin ([[EtlTwin]]), on a folder of the reference sample's shape
  * generated by [[RefScale]] — no external fixture, so this gates the
  * path on every host. Covers both plans (packed, and the generic
  * fallback `broadcastDim = false` takes), both sink modes and one and
  * seven shuffle partitions: every CSV must equal the twin's line for
  * line. */
class HypercubeDifferentialSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val folder: String = {
    val dir = Files.createTempDirectory("hypercube-sample").toString
    RefScale.generate(dir, RefScale.Sample)
    dir
  }
  private lazy val expected: Vector[String] = EtlTwin.csvLines(folder)

  private def packed(): DataFrame = ReferenceHypercube.fromFolder(spark, folder)
  private def chained(): DataFrame = ReferenceHypercube.hypercube(
    ReferenceHypercube.clients(spark, s"$folder/clients.csv"),
    ReferenceHypercube.contracts(spark, s"$folder/contracts.csv"),
    ReferenceHypercube.invoices(spark, s"$folder/invoices.bin"),
    broadcastDim = false)

  /** Part files of a written cube in partition-index order, as lines. */
  private def partLines(out: Path): Seq[Vector[String]] =
    Files.list(out).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .sortBy(_.getFileName.toString) // zero-padded partition index
      .map(p => Files.readAllLines(p, StandardCharsets.US_ASCII).asScala.toVector)

  test("the generated folder has the sample's shape and a non-trivial cube") {
    assert(ReferenceHypercube.invoices(spark, s"$folder/invoices.bin").count() === 57600L)
    assert(expected.head === EtlTwin.Header)
    assert(expected.size > 10000)
  }

  for {
    parts <- Seq(1, 7)
    (plan, cube, globalSort) <- Seq(("packed", packed _, false), ("chained", chained _, true))
    singleFile <- Seq(true, false)
  } test(s"$plan plan, $parts shuffle partitions, singleFile = $singleFile: " +
      "the CSV equals the ETL.java twin") {
    SparkTestSession.withConf("spark.sql.shuffle.partitions" -> parts.toString) {
      val c = cube()
      // the packed plan orders partitions without a global sort; the
      // fallback keeps its range-partitioned orderBy
      assert(c.queryExecution.logical.collect { case s: Sort => s.global } === Seq(globalSort))
      val out = Files.createTempDirectory("hypercube-out").resolve("cube")
      ReferenceHypercube.writeCsv(c, out.toString, singleFile)
      val files = partLines(out)
      if (singleFile) {
        assert(files.size === 1)
        assert(files.head === expected)
      } else {
        assert(files.forall(_.headOption.contains(EtlTwin.Header)))
        assert(files.flatMap(_.tail) === expected.tail)
      }
    }
  }

  test("EtlMain, default and --stage-times, writes the twin's CSV; the timing " +
      "line's chunk is the split size the fact scan planned") {
    val outs = Seq(false, true).map { staged =>
      val out = Files.createTempDirectory("etlmain-out").resolve("cube")
      val printed = new java.io.ByteArrayOutputStream()
      Console.withOut(printed)(EtlMain.run(spark, folder, out.toString, singleFile = true, staged))
      (out, printed.toString.trim)
    }
    outs.foreach { case (out, _) => assert(partLines(out) === Seq(expected)) }
    val chunk = outs(1)._2.split(',')(2).toLong
    val scan = ReferenceHypercube.invoices(spark, s"$folder/invoices.bin")
    assert(chunk === FixedWidthBinaryV2.splitBytes(spark, s"$folder/invoices.bin", 16))
    assert(scan.rdd.getNumPartitions === math.ceil(57600 * 16.0 / chunk).toInt)
  }

  test("EtlMain --stage-times runs the default path's plan: no range-partitioned exchange") {
    import org.apache.spark.sql.execution.QueryExecution
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.map(_.name) == Seq("stage_times_sentinel")) drained.countDown()
        else plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = Files.createTempDirectory("etlmain-staged").resolve("cube")
      Console.withOut(new java.io.ByteArrayOutputStream())(
        EtlMain.run(spark, folder, out.toString, singleFile = true, stageTimes = true))
      // listener events arrive in order: once the sentinel is seen, every
      // plan of the run has been recorded
      spark.range(1).toDF("stage_times_sentinel").collect()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    val executed = plans.asScala.toSeq
    assert(executed.exists(_.contains("HashAggregate")), s"the cube's plan was not seen: $executed")
    assert(!executed.exists(_.contains("rangepartitioning")),
      s"--stage-times ran a range-partitioned sort:\n${executed.mkString("\n\n")}")
  }

  test("fromFolder(...).collect() returns the rows in key order") {
    SparkTestSession.withConf("spark.sql.shuffle.partitions" -> "7") {
      val keys = packed().collect().map(r => Seq(0, 1, 2, 3, 4).map(r.getInt)).toSeq
      val twinKeys = expected.tail.map(_.split(',').take(5).map(_.toInt).toSeq)
      assert(keys === twinKeys)
    }
  }
}
