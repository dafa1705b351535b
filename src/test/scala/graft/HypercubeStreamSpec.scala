package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CubePass, ReferenceHypercube}

/** The hypercube's one plan, the sort-stream pass, against plain Spark
  * SQL: on small frames built for its edge cases (NULL, negative and
  * empty dims among them), `hypercube` must return exactly the rows of
  * `GROUP BY (geo, type, misc, nature, time)` with `SUM`,
  * `COUNT(DISTINCT …)` and `COUNT(*)`, ordered by the five keys, and
  * must reject with the column's name the inputs it cannot pack. On the
  * same frames, `writeCsv` must write what Spark's CSV writer makes of
  * the cube with its amount formatted by a column expression. */
class HypercubeStreamSpec extends AnyFunSuite with AdaptiveSparkPlanHelper with SparkTestSession.TempDirs {
  private lazy val spark = SparkTestSession.spark
  import SparkTestSession.withConf

  /** The hypercube as one SQL aggregate (the engine's own operators). */
  private def grouped(clients: DataFrame, contracts: DataFrame, invoices: DataFrame): DataFrame = {
    val dims = Seq("geo", "type", "misc", "nature", "time").map(col)
    invoices.join(contracts.withColumnRenamed("id", "contract_id"), col("contract") === col("contract_id"))
      .join(clients, col("client") === col("id"))
      .groupBy(dims: _*)
      .agg(sum("consumption").as("consumption"), sum("amount").as("amount"),
        countDistinct("client").as("nclients"), countDistinct("contract").as("ncontrats"),
        count(lit(1)).as("ninvoices"))
      .orderBy(dims: _*)
  }

  /** `hypercube` over the frames, checked to run the stream. */
  private def streamed(clients: DataFrame, contracts: DataFrame, invoices: DataFrame): DataFrame = {
    val cube = ReferenceHypercube.hypercube(clients, contracts, invoices)
    assert(cube.queryExecution.optimizedPlan.collect { case p: CubePass => p }.size === 1,
      cube.queryExecution.optimizedPlan)
    cube
  }

  private def assertSameRows(clients: DataFrame, contracts: DataFrame, invoices: DataFrame): Unit =
    assert(streamed(clients, contracts, invoices).collect().toSeq ===
      grouped(clients, contracts, invoices).collect().toSeq)

  private lazy val clients = {
    import spark.implicits._
    Seq((1, 1, 5, 2), (2, 1, 5, 2), (3, 2, 7, 1)).toDF("id", "type", "geo", "misc")
  }
  // client 1 holds two contracts of nature 3, so they fall in one group
  private lazy val contracts = {
    import spark.implicits._
    Seq((1, 1, 3), (2, 1, 3), (3, 2, 3), (4, 3, 1), (5, 2, 4)).toDF("id", "client", "nature")
  }
  /** (contract, time, amount, consumption), every measure nullable. The
    * amounts are exact binary fractions, so every summation order gives
    * the same double. */
  private lazy val invoices = {
    import spark.implicits._
    Seq[(Int, Option[Int], Option[Float], Option[Int])](
      (1, Some(4), Some(1.5f), Some(10)), (2, Some(4), Some(2.25f), Some(20)),
      (3, Some(4), Some(0.5f), None), (1, Some(4), Some(1.0f), Some(5)),
      (1, None, Some(3.0f), Some(1)), (2, None, None, Some(2)), // NULL time: its own group
      (4, Some(1), None, None), (4, Some(1), None, None), // all-NULL measures
      (4, None, Some(1.0f), Some(1)), (5, Some(36), Some(-0.75f), Some(-7))
    ).toDF("contract", "time", "amount", "consumption")
  }

  test("NULL times, NULL measures and two contracts of one client in a group " +
      "equal the SQL GROUP BY at 1, 4 and 64 shuffle partitions") {
    for (parts <- Seq(1, 4, 64)) // 64 buckets over three g values: most are empty
      withConf("spark.sql.shuffle.partitions" -> parts.toString) {
        assertSameRows(clients, contracts, invoices)
        val rows = streamed(clients, contracts, invoices).collect().toSeq.map(_.toSeq)
        assert(rows.head === Seq(5, 1, 2, 3, null, 3L, 3.0, 1L, 2L, 2L)) // NULL time sorts first
        assert(rows(1) === Seq(5, 1, 2, 3, 4, 35L, 5.25, 2L, 3L, 4L))
        assert(rows.contains(Seq(7, 2, 1, 1, 1, null, null, 1L, 1L, 2L)))
      }
  }

  /** Clients, contracts and invoices with NULL and negative keys. */
  private lazy val (nullClients, nullContracts, nullInvoices) = {
    import spark.implicits._
    (Seq[(Int, Option[Int], Option[Int], Option[Int])](
      (-7, Some(-3), Some(-5), Some(2)), (2, None, Some(5), Some(-1)),
      (3, Some(2), None, None), (4, Some(-3), Some(-5), Some(2))).toDF("id", "type", "geo", "misc"),
    Seq[(Int, Int, Option[Int])]((-2, -7, Some(-4)), (2, -7, Some(-4)), (3, 2, None),
      (4, 3, Some(1)), (5, 4, Some(-4)), (6, 3, None)).toDF("id", "client", "nature"),
    Seq[(Int, Option[Int], Option[Float], Option[Int])](
      (-2, Some(4), Some(1.5f), Some(10)), (2, Some(4), Some(2.25f), Some(20)),
      (5, Some(4), Some(0.5f), Some(3)), (3, Some(1), Some(1.0f), None), (3, None, None, Some(2)),
      (4, Some(-9), Some(-0.75f), Some(-7)), (6, Some(-9), Some(0.25f), Some(1)), (6, Some(2), None, Some(5))
    ).toDF("contract", "time", "amount", "consumption"))
  }

  test("NULL and negative geo, type, misc, nature, client and contract keys " +
      "equal the SQL GROUP BY at 1, 4 and 64 shuffle partitions") {
    val (cl, co, inv) = (nullClients, nullContracts, nullInvoices)
    for (parts <- Seq(1, 4, 64))
      withConf("spark.sql.shuffle.partitions" -> parts.toString) {
        assertSameRows(cl, co, inv)
        val rows = streamed(cl, co, inv).collect().toSeq.map(_.toSeq)
        assert(rows.head.take(5) === Seq(null, 2, null, null, -9)) // NULLs sort first
        // clients -7 and 4 share (geo, type, misc, nature, time)
        assert(rows.contains(Seq(-5, -3, 2, -4, 4, 33L, 4.25, 2L, 3L, 3L)))
      }
  }

  /** The CSV lines (header first) Spark's CSV writer makes of `cube`
    * with its amount formatted by the column expression `writeCsv` used
    * before it rendered rows itself. A NULL amount stays NULL, an empty
    * cell: that expression turned a NULL double into `nu` (the
    * `format_string` branch, `String.format("%.2f", null)`). */
  private def sparkCsv(cube: DataFrame): Vector[String] = {
    val r = round(col("amount"), 2)
    val decimal =
      concat(when(r < 0, "-").otherwise(""), ltrim(abs(r).cast(DecimalType(38, 2)).cast("string"), "0"))
    val amount = when(r.isNotNull,
      if (cube.schema("amount").dataType.isInstanceOf[DecimalType]) decimal
      else when(abs(r) < 1e12, decimal).otherwise(regexp_replace(format_string("%.2f", r), "^(-?)0\\.", "$1.")))
    val out = tempDir("sink-oracle").resolve("csv")
    cube.withColumn("amount", amount).write.option("header", "true").csv(out.toString)
    val files = Files.list(out).iterator().asScala.toSeq.map(_.getFileName.toString)
      .filter(_.startsWith("part-")).sorted // part-<index>-<job uuid>-c000.csv
      .map(f => Files.readAllLines(out.resolve(f)).asScala.toVector)
    (files.head.head +: files.flatMap(_.tail)).toVector
  }

  test("writeCsv writes the CSV Spark's writer makes of the formatted cube: NULL and " +
      "negative keys, NULL amounts and a DECIMAL(10,2) amount, at 1, 4 and 64 shuffle partitions") {
    def decimal(inv: DataFrame): DataFrame = inv.withColumn("amount", col("amount").cast(DecimalType(10, 2)))
    val inputs = Seq((clients, contracts, invoices), (nullClients, nullContracts, nullInvoices))
      .flatMap { case (cl, co, inv) => Seq((cl, co, inv), (cl, co, decimal(inv))) }
    for (parts <- Seq(1, 4, 64); (cl, co, inv) <- inputs)
      withConf("spark.sql.shuffle.partitions" -> parts.toString) {
        val cube = streamed(cl, co, inv)
        val out = tempDir("sink-stream").resolve("cube")
        ReferenceHypercube.writeCsv(cube, out.toString)
        val lines = Files.readAllLines(out.resolve("part-00000.csv")).asScala.toVector
        assert(lines === sparkCsv(cube), s"$parts partitions, amount ${cube.schema("amount").dataType.sql}")
        if (cl eq clients) assert(lines.contains("7,2,1,1,1,,,1,1,2")) // NULL sums are empty cells
      }
  }

  test("an empty dim gives an empty cube with the schema of a non-empty one") {
    val decimal = invoices.withColumn("amount", col("amount").cast(DecimalType(10, 2)))
    for (inv <- Seq(invoices, decimal)) {
      val empty = ReferenceHypercube.hypercube(clients, contracts.limit(0), inv)
      assert(empty.collect().isEmpty)
      assert(empty.schema === streamed(clients, contracts, inv).schema)
    }
  }

  test("keys that span more than 62 bits are rejected, naming the columns") {
    import spark.implicits._
    val wide = Seq((1, Int.MinValue, Int.MaxValue, 2), (2, Int.MaxValue, Int.MinValue, 2))
      .toDF("id", "type", "geo", "misc")
    val e = intercept[IllegalArgumentException](ReferenceHypercube.hypercube(wide, contracts, invoices))
    assert(e.getMessage.contains("hypercube columns geo, type, misc, nature span 4294967296, " +
      "4294967296, 1, 2: 69 bits, over the 62 of a packed key"), e.getMessage)
  }

  test("a DOUBLE consumption is rejected, naming the column") {
    val e = intercept[IllegalArgumentException](ReferenceHypercube.hypercube(clients, contracts,
      invoices.withColumn("consumption", col("consumption").cast("double"))))
    assert(e.getMessage.contains("hypercube column consumption is DOUBLE, not integral"), e.getMessage)
  }

  /** A generated folder of the reference sample's shape. */
  private lazy val sample: String = {
    val dir = tempDir("hypercube-stream").toString
    RefScale.generate(dir, RefScale.Sample)
    dir
  }

  /** The sort orders of each `SortExec` that running `cube` executed. */
  private def sortOrders(cube: DataFrame): Seq[Int] = {
    cube.collect()
    collect(cube.queryExecution.executedPlan) { case s: SortExec => s.sortOrder.size }
  }

  test("a DECIMAL(10,2) amount on the generated folder sums exactly to DECIMAL(20,2)") {
    val dir = sample
    val cl = ReferenceHypercube.clients(spark, s"$dir/clients.csv")
    val co = ReferenceHypercube.contracts(spark, s"$dir/contracts.csv")
    val inv = ReferenceHypercube.invoices(spark, s"$dir/invoices.bin")
      .withColumn("amount", col("amount").cast(DecimalType(10, 2)))
    assert(streamed(cl, co, inv).schema("amount").dataType === DecimalType(20, 2))
    withConf("spark.sql.shuffle.partitions" -> "7")(assertSameRows(cl, co, inv))
  }

  /** Whether `body` throws with an `ArithmeticException` among the causes. */
  private def arithmetic(body: => Unit): Boolean = {
    val e = intercept[Exception](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException])
  }

  test("a consumption sum that overflows a long throws as SUM does, and wraps " +
      "as SUM does without ANSI") {
    import spark.implicits._
    val big = Seq((1, 4, 1.0f, Long.MaxValue / 2 + 1), (2, 4, 1.0f, Long.MaxValue / 2 + 1))
      .toDF("contract", "time", "amount", "consumption")
    assert(arithmetic(grouped(clients, contracts, big).collect()))
    assert(arithmetic(streamed(clients, contracts, big).collect()))
    withConf("spark.sql.ansi.enabled" -> "false")(assertSameRows(clients, contracts, big))
  }

  test("a DECIMAL(38,0) amount sum that overflows throws as SUM does, and is NULL " +
      "as SUM gives without ANSI") {
    import spark.implicits._
    // contracts 1 and 2 fall in one group: 6e37 + 6e37 has 39 digits
    val big = Seq((1, 4, "6e37", 1), (2, 4, "6e37", 2)).toDF("contract", "time", "amount", "consumption")
      .withColumn("amount", col("amount").cast(DecimalType(38, 0)))
    assert(arithmetic(grouped(clients, contracts, big).collect()))
    assert(arithmetic(streamed(clients, contracts, big).collect()))
    withConf("spark.sql.ansi.enabled" -> "false") {
      assertSameRows(clients, contracts, big)
      assert(streamed(clients, contracts, big).collect().head.isNullAt(6))
    }
  }

  test("group and client keys that pack apart but not together sort by two keys " +
      "and equal the SQL GROUP BY at 1, 4 and 64 shuffle partitions; the generated " +
      "folder sorts by one") {
    import spark.implicits._
    // geo and client span 2^30 + 1: g takes 37 bits, client‖contract 34
    val cl = Seq((1, 1, 0, 1), (1 << 30, 2, 1 << 30, 1), (5, 1, 0, 2)).toDF("id", "type", "geo", "misc")
    val co = Seq((1, 1, 1), (2, 1 << 30, 2), (3, 5, 1), (4, 1 << 30, 2), (5, 1, 1))
      .toDF("id", "client", "nature")
    val inv = Seq[(Int, Option[Int], Option[Float], Option[Int])](
      (1, Some(3), Some(1.5f), Some(4)), (5, Some(3), Some(0.25f), Some(1)), (2, Some(3), Some(2.0f), None),
      (4, Some(3), None, Some(7)), (4, None, Some(-0.5f), Some(2)), (3, Some(1), Some(1.0f), Some(3)),
      (1, Some(1), Some(0.5f), Some(5)), (2, Some(-2), Some(0.75f), Some(6))
    ).toDF("contract", "time", "amount", "consumption")
    for (parts <- Seq(1, 4, 64))
      withConf("spark.sql.shuffle.partitions" -> parts.toString) {
        assertSameRows(cl, co, inv)
        assert(sortOrders(streamed(cl, co, inv)) === Seq(2))
      }
    val dir = sample
    assert(sortOrders(ReferenceHypercube.fromFolder(spark, dir)) === Seq(1))
  }

  test("one group with 5,000 distinct times and a NULL time over two clients' contracts " +
      "equals the SQL GROUP BY at 1, 4 and 64 shuffle partitions") {
    import spark.implicits._
    // every i gives time (7919 i) mod 5000 - 100, but a multiple of 997 gives NULL;
    // the amounts are exact binary fractions
    val inv = (0 until 12000).map { i =>
      (i % 3 + 1, if (i % 997 == 0) None else Some(i * 7919 % 5000 - 100), Some((i % 8) * 0.25f), Some(i % 50))
    }.toDF("contract", "time", "amount", "consumption")
    val (cl, co) = (clients.filter(col("id") <= 2), contracts.filter(col("id") <= 3))
    for (parts <- Seq(1, 4, 64))
      withConf("spark.sql.shuffle.partitions" -> parts.toString) {
        assertSameRows(cl, co, inv)
        val rows = streamed(cl, co, inv).collect()
        assert(rows.length === 5001)
        assert(rows.head.isNullAt(4))
      }
  }

  test("a projection over the cube keeps the pass's input: selected columns and " +
      "a recast amount equal the SQL GROUP BY at 1, 4 and 64 shuffle partitions") {
    val decimal = invoices.withColumn("amount", col("amount").cast(DecimalType(10, 2)))
    for (parts <- Seq(1, 4, 64); inv <- Seq(invoices, decimal))
      withConf("spark.sql.shuffle.partitions" -> parts.toString) {
        val (cube, sql) = (streamed(clients, contracts, inv), grouped(clients, contracts, inv))
        assert(cube.select("geo", "ninvoices").collect().toSeq === sql.select("geo", "ninvoices").collect().toSeq)
        def recast(df: DataFrame) = df.withColumn("amount", col("amount").cast("double")).collect().toSeq
        assert(recast(cube) === recast(sql))
      }
  }
}
