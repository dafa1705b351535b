package graft

import java.io.{DataOutputStream, FileOutputStream}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ReferenceHypercube
import graft.sources.FixedWidthBinary

/** S4 sink round-trip (reference output contract, `ETL.java:254-270` /
  * FIXTURES.md §1) and binary-source decode unit tests. */
class SinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("writeCsv round-trip matches the reference output contract") {
    val out = "target/test-out/cube_csv"
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
    val dir = Files.createTempDirectory("sink-sample").toString
    RefScale.generate(dir, RefScale.Sample)
    dir
  }

  /** Entries directly under `dir`, by name. */
  private def entries(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
    Files.list(dir).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
  private def partFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
    entries(dir).filter(_.getFileName.toString.startsWith("part-"))

  test("writeCsv(singleFile = true) of an empty cube writes a header-only single file") {
    val out = Files.createTempDirectory("sink-empty").resolve("cube")
    val empty = ReferenceHypercube.hypercube(
      ReferenceHypercube.clients(spark, s"$generated/clients.csv"),
      ReferenceHypercube.contracts(spark, s"$generated/contracts.csv"),
      ReferenceHypercube.invoices(spark, s"$generated/invoices.bin").limit(0),
      broadcastDim = true)
    ReferenceHypercube.writeCsv(empty, out.toString, singleFile = true)
    assert(partFiles(out).size === 1)
    assert(Files.readAllLines(partFiles(out).head).asScala.toSeq === Seq(EtlTwin.Header))
  }

  test("writeCsv(singleFile = true) replaces an existing outPath and leaves no " +
      "temporary part directory") {
    val out = Files.createTempDirectory("sink-overwrite").resolve("cube")
    val cube = ReferenceHypercube.fromFolder(spark, generated)
    ReferenceHypercube.writeCsv(cube, out.toString, singleFile = false) // several headed parts
    assert(partFiles(out).size > 1)
    ReferenceHypercube.writeCsv(cube, out.toString, singleFile = true)
    assert(partFiles(out).size === 1)
    assert(Files.readAllLines(partFiles(out).head).asScala.toVector === EtlTwin.csvLines(generated))
    assert(!entries(out).exists(Files.isDirectory(_)), entries(out).mkString(", "))
  }

  test("refAmountFormat matches DecimalFormat('#.00') for |x| < 1") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rendered = Seq(0.5, -0.5, 0.0, 1.5, -12.345, 0.004)
      .toDF("x").select(ReferenceHypercube.refAmountFormat(col("x")))
      .as[String].collect().toSeq
    // java.text.DecimalFormat("#.00") renders: .50, -.50, .00, 1.50, -12.35 (HALF_EVEN
    // on exact .345 — but Math.round(100*x)/100 in the reference is HALF_UP; we follow
    // Spark round() = HALF_UP), .00
    assert(rendered === Seq(".50", "-.50", ".00", "1.50", "-12.35", ".00"))
  }

  test("SQL-exact amount mode (M3): decimal sums agree with double mode to the cent") {
    import org.apache.spark.sql.types.DecimalType
    val sample = ReferenceHypercube.referenceSample()
    val mk = (m: ReferenceHypercube.AmountMode) => ReferenceHypercube.hypercube(
      ReferenceHypercube.clients(spark, s"$sample/clients.csv"),
      ReferenceHypercube.contracts(spark, s"$sample/contracts.csv"),
      ReferenceHypercube.invoices(spark, s"$sample/invoices.bin"), m)
    val dec = mk(ReferenceHypercube.SqlExact)
    assert(dec.schema("amount").dataType.isInstanceOf[DecimalType]) // exact mode surfaces decimals
    val decTotal = dec.agg(org.apache.spark.sql.functions.sum("amount")).head().getDecimal(0)
    val dblTotal = mk(ReferenceHypercube.ReferenceExact)
      .agg(org.apache.spark.sql.functions.sum("amount")).head().getDouble(0)
    // float32 decode rounds to cents either way on this data; totals agree closely
    assert(math.abs(decTotal.doubleValue - dblTotal) < 1.0)
    assert(dec.count() === 34271L) // same groups in both modes
  }

  test("Chars fields strip trailing NUL padding only") {
    val path = "target/test-out/chars.bin"
    Files.createDirectories(Paths.get("target/test-out"))
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
