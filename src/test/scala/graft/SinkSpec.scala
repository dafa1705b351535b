package graft

import java.io.{DataOutputStream, FileOutputStream}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ReferenceHypercube
import graft.sources.FixedWidthBinary

/** S4 sink round-trip (reference output contract, `ETL.java:254-270` /
  * FIXTURES.md §1) and binary-source decode unit tests. */
class SinkSpec extends AnyFunSuite with SparkTestSession.TempDirs {
  private lazy val spark = SparkTestSession.spark

  test("writeCsv round-trip matches the reference output contract") {
    ReferenceLayout.assumeSample()
    val out = tempDir("sink-reference").resolve("cube_csv").toString
    val cube = ReferenceHypercube.fromFolder(spark, ReferenceHypercube.referenceSample())
    ReferenceHypercube.writeCsv(cube, out, singleFile = true)

    val parts = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(parts.size === 1) // singleFile contract
    val lines = Files.readAllLines(parts.head).asScala.toVector

    // Header, including the French `ncontrats` (ETL.java:258).
    assert(lines.head === "geo,type,misc,nature,time,consumption,amount,nclients,ncontrats,ninvoices")
    // 34,271 non-empty groups (FIXTURES.md §1), empty groups omitted.
    assert(lines.size - 1 === 34271)
    // First group in (geo,type,misc,nature,time) order with #.00 amount.
    assert(lines(1) === "1,1,5,1,1,1598,184.92,1,1,1")
    // Amounts render 2-decimal with no leading zero (DecimalFormat("#.00")).
    val amounts = lines.drop(1).map(_.split(",")(6))
    assert(amounts.forall(_.matches("-?\\d*\\.\\d\\d")))
    // Rows are totally ordered by the 5 dimensions.
    val keys = lines.drop(1).map { l =>
      val f = l.split(","); (f(0).toInt, f(1).toInt, f(2).toInt, f(3).toInt, f(4).toInt)
    }
    assert(keys === keys.sorted)
  }

  /** A generated folder of the reference sample's shape. */
  private lazy val generated: String = {
    val dir = tempDir("sink-sample").toString
    RefScale.generate(dir, RefScale.Sample)
    dir
  }

  /** Entries directly under `dir`, by name. */
  private def entries(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
    Files.list(dir).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
  private def partFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
    entries(dir).filter(_.getFileName.toString.startsWith("part-"))

  test("writeCsv(singleFile = true) of an empty cube writes a header-only single file") {
    val out = tempDir("sink-empty").resolve("cube")
    val empty = ReferenceHypercube.hypercube(
      ReferenceHypercube.clients(spark, s"$generated/clients.csv"),
      ReferenceHypercube.contracts(spark, s"$generated/contracts.csv"),
      ReferenceHypercube.invoices(spark, s"$generated/invoices.bin").limit(0))
    ReferenceHypercube.writeCsv(empty, out.toString, singleFile = true)
    assert(partFiles(out).size === 1)
    assert(Files.readAllLines(partFiles(out).head).asScala.toSeq === Seq(EtlTwin.Header))
  }

  test("writeCsv(singleFile = true) replaces an existing outPath and leaves no " +
      "temporary part directory") {
    val out = tempDir("sink-overwrite").resolve("cube")
    val cube = ReferenceHypercube.fromFolder(spark, generated)
    ReferenceHypercube.writeCsv(cube, out.toString, singleFile = false) // several headed parts
    assert(partFiles(out).size > 1)
    ReferenceHypercube.writeCsv(cube, out.toString, singleFile = true)
    assert(partFiles(out).size === 1)
    assert(Files.readAllLines(partFiles(out).head).asScala.toVector === EtlTwin.csvLines(generated))
    assert(!entries(out).exists(Files.isDirectory(_)), entries(out).mkString(", "))
  }

  test("writeCsv(singleFile = false) at more shuffle partitions than non-empty key " +
      "ranges writes one headed file per non-empty partition, in key order") {
    // a copy of the generated folder whose clients all have geo 1 or 578:
    // of 64 equal-width key ranges, only the first and the last hold rows
    val dir = tempDir("sink-two-geos")
    Seq("contracts.csv", "invoices.bin").foreach(f => Files.copy(Paths.get(generated, f), dir.resolve(f)))
    val clients = Files.readAllLines(Paths.get(generated, "clients.csv")).asScala.toSeq // id,type,geo,misc
    Files.write(dir.resolve("clients.csv"), (clients.head +: clients.tail.map { l =>
      val f = l.split(',')
      f(2) = if (f(2).toInt <= 289) "1" else "578"
      f.mkString(",")
    }).asJava)
    val out = tempDir("sink-partitioned").resolve("cube")
    SparkTestSession.withConf("spark.sql.shuffle.partitions" -> "64") {
      ReferenceHypercube.writeCsv(ReferenceHypercube.fromFolder(spark, dir.toString), out.toString, singleFile = false)
    }
    assert(partFiles(out).map(_.getFileName.toString) === Seq("part-00000.csv", "part-00063.csv"))
    val files = partFiles(out).map(p => Files.readAllLines(p).asScala.toVector)
    assert(files.forall(_.head == EtlTwin.Header))
    val expected = EtlTwin.csvLines(dir.toString)
    assert(files.flatMap(_.tail) === expected.tail)
    assert(expected.tail.map(_.takeWhile(_ != ',')).distinct === Seq("1", "578"))
    assert(!entries(out).exists(Files.isDirectory(_)), entries(out).mkString(", "))
  }

  test("writeCsv rejects a column it cannot render, naming it, and leaves outPath as it was") {
    import org.apache.spark.sql.functions.col
    val out = tempDir("sink-string").resolve("cube")
    val cube = ReferenceHypercube.fromFolder(spark, generated)
    ReferenceHypercube.writeCsv(cube, out.toString)
    val e = intercept[IllegalArgumentException](
      ReferenceHypercube.writeCsv(cube.withColumn("misc", col("misc").cast("string")), out.toString))
    assert(e.getMessage.contains("writeCsv column misc is STRING"), e.getMessage)
    assert(Files.readAllLines(partFiles(out).head).asScala.toVector === EtlTwin.csvLines(generated))
  }

  test("amountString matches DecimalFormat('#.00') for |x| < 1") {
    val rendered = Seq(0.5, -0.5, 0.0, 1.5, -12.345, 0.004).map(ReferenceHypercube.amountString)
    // java.text.DecimalFormat("#.00") renders: .50, -.50, .00, 1.50, -12.35 (HALF_EVEN
    // on exact .345 — but Math.round(100*x)/100 in the reference is HALF_UP; we follow
    // Spark round() = HALF_UP), .00
    assert(rendered === Seq(".50", "-.50", ".00", "1.50", "-12.35", ".00"))
  }

  test("amountString is byte-identical to the format_string renderer on every input") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    import spark.implicits._
    // the renderer the sink used before: String.format, then a regex
    def oracle(c: Column): Column = regexp_replace(format_string("%.2f", round(c, 2)), "^(-?)0\\.", "$1.")
    // each frame twice: as a local relation (the optimizer evaluates the
    // oracle interpreted) and shuffled (generated code)
    def bothWays(x: org.apache.spark.sql.DataFrame)(f: org.apache.spark.sql.DataFrame => Unit): Unit =
      Seq(x, x.repartition(3)).foreach(f)
    def mismatches(x: org.apache.spark.sql.DataFrame): Seq[String] =
      x.select(col("x").cast("string"), col("x"), oracle(col("x"))).collect().toSeq
        .map(r => (r.getString(0), ReferenceHypercube.amountString(r.getDouble(1)), r.getString(2)))
        .collect { case (v, got, want) if got != want => s"$v | $got | $want" }
    val rnd = new scala.util.Random(20261018L)
    def sign(): Int = if (rnd.nextBoolean()) -1 else 1
    val edges = Seq(0.0, -0.0, 0.005, -0.005, 0.015, -0.015, 1.005, 2.675, -12.345,
      0.004, -0.004, 1e15 + 0.125, -(1e15 + 0.125), 1e12 - 0.005, 1e12, Double.MaxValue,
      -Double.MaxValue, Double.MinPositiveValue, -Double.MinPositiveValue,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val spread = Seq.fill(3000)(sign() * rnd.nextDouble() * math.pow(10, rnd.nextInt(44) - 5))
    val halfway = Seq.fill(1000)(sign() * (rnd.nextLong(1L << (1 + rnd.nextInt(52))) + 0.5) / 100)
    val doubles = (edges ++ spread ++ halfway).toDF("x")
    bothWays(doubles)(d => assert(mismatches(d) === Nil))
    // format_string hands Spark's Decimal to String.format, which rejects
    // it, so for a DECIMAL the oracle is the same format of the Java value;
    // the wider types hold magnitudes of 1e12 and above, up to 1e28
    for ((p, s) <- Seq((10, 2), (20, 10), (30, 2), (38, 10))) {
      val unscaled = Seq.fill(2000)(BigInt(sign() * rnd.nextLong(Long.MaxValue)) * BigInt(rnd.nextLong(Long.MaxValue)))
        .map(u => u % BigInt(10).pow(rnd.nextInt(p) + 1)) ++
        Seq(0, 5, -5, 15, 4, -4).map(d => BigInt(d) * BigInt(10).pow(math.max(s - 3, 0)))
      val large = if (p - s < 13) Nil else Seq("1e12", "-1e12", "999999999999.995", "-999999999999.995",
        "1000000000000.005", "-1000000000000.005", "123456789012345.675", s"-${"9" * (p - s)}.${"9" * s}")
        .map(new java.math.BigDecimal(_).setScale(s, java.math.RoundingMode.HALF_UP))
      val values = unscaled.map(u => new java.math.BigDecimal(u.bigInteger, s)) ++ large
      val expected = values.map(v => v.toPlainString -> String.format(java.util.Locale.ROOT, "%.2f",
        v.setScale(2, java.math.RoundingMode.HALF_UP)).replaceFirst("^(-?)0\\.", "$1.")).sorted
      // through strings: an encoded BigDecimal is a DECIMAL(38,18), too narrow for (38,10)
      bothWays(values.map(_.toPlainString).toDF("x").select(col("x").cast(DecimalType(p, s)).as("x"))) { d =>
        val rendered = d.select(col("x").cast("string"), col("x")).collect().toSeq
          .map(r => r.getString(0) -> ReferenceHypercube.amountString(r.getDecimal(1))).sorted
        assert(rendered === expected, s"DECIMAL($p,$s)")
      }
    }
  }

  test("amountString's shortcut rounds as BigDecimal.valueOf does next to every half cent") {
    import java.math.{BigDecimal => JBigDecimal, RoundingMode}
    // Spark's round(x, 2), then the digits without a leading zero
    def reference(x: Double): String = {
      val r = JBigDecimal.valueOf(x).setScale(2, RoundingMode.HALF_UP)
      (if (r.signum < 0) "-" else "") + r.abs.toPlainString.dropWhile(_ == '0')
    }
    val rnd = new scala.util.Random(20261019L)
    // up to 2^30 cents, the shortcut's range, and past it; on a half
    // cent, a few ulps off it, and at a cent
    val xs = Seq.fill(20000) {
      val half = (rnd.nextLong(1L << (1 + rnd.nextInt(32))) + 0.5) / 100
      val x = Seq(half, Math.nextUp(half), Math.nextDown(half), half + 3 * Math.ulp(half),
        half - 3 * Math.ulp(half), half - 0.005)(rnd.nextInt(6))
      if (rnd.nextBoolean()) -x else x
    }
    assert(xs.filter(x => ReferenceHypercube.amountString(x) != reference(x)) === Nil)
  }

  test("a DECIMAL(10,2) amount input sums exactly") {
    ReferenceLayout.assumeSample()
    import org.apache.spark.sql.functions.{col, sum}
    import org.apache.spark.sql.types.DecimalType
    val sample = ReferenceHypercube.referenceSample()
    val invoices = ReferenceHypercube.invoices(spark, s"$sample/invoices.bin")
    val mk = (inv: org.apache.spark.sql.DataFrame) => ReferenceHypercube.hypercube(
      ReferenceHypercube.clients(spark, s"$sample/clients.csv"),
      ReferenceHypercube.contracts(spark, s"$sample/contracts.csv"), inv)
    val dec = mk(invoices.withColumn("amount", col("amount").cast(DecimalType(10, 2))))
    assert(dec.schema("amount").dataType.isInstanceOf[DecimalType]) // a decimal input sums as decimal
    val decTotal = dec.agg(sum("amount")).head().getDecimal(0)
    val dblTotal = mk(invoices).agg(sum("amount")).head().getDouble(0)
    // float32 decode rounds to cents either way on this data; totals agree closely
    assert(math.abs(decTotal.doubleValue - dblTotal) < 1.0)
    assert(dec.count() === 34271L) // same groups in both modes
  }

  test("Chars fields strip trailing NUL padding only") {
    val path = tempDir("sink-chars").resolve("chars.bin").toString
    val dos = new DataOutputStream(new FileOutputStream(path))
    // record: int32 id, 8-byte NUL-padded tag
    def rec(id: Int, tag: String): Unit = {
      dos.writeInt(id)
      val b = tag.getBytes("UTF-8")
      dos.write(b); (b.length until 8).foreach(_ => dos.writeByte(0))
    }
    rec(1, "abc")
    rec(2, "exact8ch")
    rec(3, "a b") // inner space preserved, trailing NULs stripped
    dos.close()

    import FixedWidthBinary._
    val df = read(spark, path, Seq(I32("id"), Chars("tag", 8)))
    val rows = df.collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(rows.toSeq === Seq((1, "abc"), (2, "exact8ch"), (3, "a b")))
  }
}
