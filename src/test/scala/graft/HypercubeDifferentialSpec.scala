package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CubePassExec, ReferenceHypercube}
import graft.sources.FixedWidthBinaryV2

/** Binary decode → hypercube → CSV against the plain-Scala `ETL.java`
  * twin ([[EtlTwin]]), on a folder of the reference sample's shape
  * generated by [[RefScale]] — no external fixture, so this gates the
  * path on every host. Covers the one plan over a broadcast join, over a
  * shuffled join, and on a copy of the folder with negative geo keys,
  * in both sink modes and at one and seven shuffle partitions: every CSV
  * must equal the twin's line for line, and no plan sorts globally. */
class HypercubeDifferentialSpec extends AnyFunSuite with AdaptiveSparkPlanHelper
    with SparkTestSession.TempDirs {
  private lazy val spark = SparkTestSession.spark

  private lazy val folder: String = {
    val dir = tempDir("hypercube-sample").toString
    RefScale.generate(dir, RefScale.Sample)
    dir
  }
  private lazy val expected: Vector[String] = EtlTwin.csvLines(folder)

  /** Added to every client's geo in [[shifted]]: negative keys, which
    * the plan packs as offsets from the minimum. */
  private val GeoShift = -1000

  /** A copy of [[folder]] with every geo shifted by [[GeoShift]]. */
  private lazy val shifted: String = {
    val dir = tempDir("hypercube-shifted")
    Seq("contracts.csv", "invoices.bin").foreach(f => Files.copy(Paths.get(folder, f), dir.resolve(f)))
    val clients = Files.readAllLines(Paths.get(folder, "clients.csv")).asScala.toSeq // id,type,geo,misc
    Files.write(dir.resolve("clients.csv"), (clients.head +: clients.tail.map { l =>
      val f = l.split(',')
      f(2) = (f(2).toInt + GeoShift).toString
      f.mkString(",")
    }).asJava)
    dir.toString
  }
  /** The twin's lines with geo (the first field) shifted by [[GeoShift]]. */
  private lazy val shiftedExpected: Vector[String] = expected.head +: expected.tail.map { l =>
    val (geo, rest) = l.splitAt(l.indexOf(','))
    s"${geo.toInt + GeoShift}$rest"
  }

  private def packed(): DataFrame = ReferenceHypercube.fromFolder(spark, folder)

  /** Part files of a written cube in partition-index order, as lines. */
  private def partLines(out: Path): Seq[Vector[String]] =
    Files.list(out).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .sortBy(_.getFileName.toString) // zero-padded partition index
      .map(p => Files.readAllLines(p, StandardCharsets.US_ASCII).asScala.toVector)

  /** The executed plans of the queries `body` runs, in order. */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.map(_.name) == Seq("executed_plans_sentinel")) drained.countDown()
        else plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events arrive in order: once the sentinel is seen, every
      // plan of `body` has been recorded
      spark.range(1).toDF("executed_plans_sentinel").collect()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  test("the generated folder has the sample's shape and a non-trivial cube") {
    assert(ReferenceHypercube.invoices(spark, s"$folder/invoices.bin").count() === 57600L)
    assert(expected.head === EtlTwin.Header)
    assert(expected.size > 10000)
  }

  /** One arm: its input folder, the twin's CSV for it, the SQL settings
    * it runs under, and whether it broadcasts the dim. */
  private final class Arm(val dir: () => String, val lines: () => Vector[String],
      val conf: Seq[(String, String)], val broadcast: Boolean)

  private val arms = Seq(
    "packed" -> new Arm(() => folder, () => expected, Nil, broadcast = true),
    "shuffled-join packed" -> new Arm(() => folder, () => expected,
      Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"), broadcast = false),
    "negative-key" -> new Arm(() => shifted, () => shiftedExpected, Nil, broadcast = true))

  for {
    parts <- Seq(1, 7)
    (plan, arm) <- arms
    singleFile <- Seq(true, false)
  } test(s"$plan plan, $parts shuffle partitions, singleFile = $singleFile: " +
      "the CSV equals the ETL.java twin") {
    SparkTestSession.withConf(arm.conf :+ ("spark.sql.shuffle.partitions" -> parts.toString): _*) {
      val c = ReferenceHypercube.fromFolder(spark, arm.dir())
      val out = tempDir("hypercube-out").resolve("cube")
      val executed = executedPlans(ReferenceHypercube.writeCsv(c, out.toString, singleFile))
      val joins = executed.flatMap(p => collect(p) { case j: BroadcastHashJoinExec => j })
      assert(joins.nonEmpty === arm.broadcast, executed.mkString("\n\n"))
      // the plan orders partitions without a global sort
      assert(c.queryExecution.logical.collect { case s: Sort => s.global } === Seq(false))
      val sorts = executed.flatMap(p => collect(p) { case s: SortExec => s.global })
      assert(!sorts.contains(true), executed.mkString("\n\n"))
      val files = partLines(out)
      if (singleFile) {
        assert(files.size === 1)
        assert(files.head === arm.lines())
      } else {
        assert(files.forall(_.headOption.contains(EtlTwin.Header)))
        assert(files.flatMap(_.tail) === arm.lines().tail)
      }
    }
  }

  test("the packed plan is one exchange, one in-partition sort and one pass: " +
      "no aggregate operator and no global sort") {
    for (parts <- Seq(1, 7); dir <- Seq(folder, shifted))
      SparkTestSession.withConf("spark.sql.shuffle.partitions" -> parts.toString) {
        val c = ReferenceHypercube.fromFolder(spark, dir)
        val out = tempDir("hypercube-plan").resolve("cube")
        val executed = executedPlans(ReferenceHypercube.writeCsv(c, out.toString))
        val all = executed.mkString("\n\n")
        // the listeners see the cube's own plan, once, and no Spark writer
        assert(executed.size === 1, all)
        assert(executed.flatMap(p => collect(p) {
          case w: DataWritingCommandExec => w
          case w: WriteFilesExec => w
        }).isEmpty, all)
        assert(executed.flatMap(p => collect(p) { case j: BroadcastHashJoinExec => j }).nonEmpty, all)
        assert(executed.flatMap(p => collect(p) { case e: ShuffleExchangeExec => e }).size === 1, all)
        assert(executed.flatMap(p => collect(p) { case a: BaseAggregateExec => a }).isEmpty, all)
        assert(executed.flatMap(p => collect(p) { case s: SortExec => s.global }) === Seq(false), all)
        assert(executed.flatMap(p => collect(p) { case p: CubePassExec => p }).size === 1, all)
      }
  }

  test("EtlMain, default and --stage-times, writes the twin's CSV; the timing " +
      "line's chunk is the split size the fact scan planned") {
    val outs = Seq(false, true).map { staged =>
      val out = tempDir("etlmain-out").resolve("cube")
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
    val out = tempDir("etlmain-staged").resolve("cube")
    val executed = executedPlans(Console.withOut(new java.io.ByteArrayOutputStream())(
      EtlMain.run(spark, folder, out.toString, singleFile = true, stageTimes = true))).map(_.toString)
    assert(executed.exists(_.contains("CubePass")), s"the cube's plan was not seen: $executed")
    assert(!executed.exists(_.contains("rangepartitioning")),
      s"--stage-times ran a range-partitioned sort:\n${executed.mkString("\n\n")}")
  }

  test("EtlMain accepts two positional arguments and its two flags, and rejects anything else") {
    import EtlMain.{parseArgs, Args}
    assert(parseArgs(Seq("in", "out")) === Some(Args("in", "out", singleFile = true, stageTimes = false)))
    assert(parseArgs(Seq("in", "out", "--partitioned", "--stage-times")) ===
      Some(Args("in", "out", singleFile = false, stageTimes = true)))
    assert(parseArgs(Seq("--stage-times", "in", "out")) ===
      Some(Args("in", "out", singleFile = true, stageTimes = true)))
    assert(parseArgs(Seq("in", "out", "--stage-time")) === None) // typo
    assert(parseArgs(Seq("in", "out", "extra")) === None)
    assert(parseArgs(Seq("in", "out", "-t", "8")) === None) // the reference's thread knob
    assert(parseArgs(Seq("in")) === None)
  }

  test("fromFolder(...).collect() returns the rows in key order") {
    SparkTestSession.withConf("spark.sql.shuffle.partitions" -> "7") {
      val keys = packed().collect().map(r => Seq(0, 1, 2, 3, 4).map(r.getInt)).toSeq
      val twinKeys = expected.tail.map(_.split(',').take(5).map(_.toInt).toSeq)
      assert(keys === twinKeys)
    }
  }
}
