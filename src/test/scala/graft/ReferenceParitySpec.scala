package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ReferenceHypercube
import graft.sources.FixedWidthBinary

/** Golden tests against the reference's own data-sample
  * ([[ReferenceHypercube.referenceDir]]), values from
  * FIXTURES.md §1 (independently computed simulation of the reference
  * semantics over invoices.bin's 58,176 records). */
class ReferenceParitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  /** Each test fails with "reference sample missing at …" when the
    * folder `SPARK_GRAFT_REFERENCE_DIR` names does not exist. */
  private lazy val sample = ReferenceHypercube.referenceSample()

  private lazy val cube = ReferenceHypercube.fromFolder(spark, sample).cache()

  test("binary source decodes exactly 58,176 records") {
    val inv = FixedWidthBinary.invoices(spark, s"$sample/invoices.bin")
    assert(inv.count() === 58176L)
    val r = inv.agg(
      min("time").as("mn"), max("time").as("mx"),
      sum("consumption").as("sc")).head()
    assert(r.getAs[Int]("mn") === 1)
    assert(r.getAs[Int]("mx") === 36)
    assert(r.getAs[Long]("sc") === 58294383L)
  }

  test("staged binary decode (the q10/q11 oracle root) matches the " +
    "live reader record for record") {
    // the round-14 staged-fingerprint oracle feeds BOTH engines from
    // this parquet — a silent staging bug would make the hash compare
    // vacuous, so the stage is pinned against the live decode here:
    // same count, same golden totals, and the decimal amounts
    // round-trip the float values exactly (cast back == original)
    val root = ReferenceHypercube.invoicesStaged(spark)
    val staged = spark.read.parquet(s"$root/fact")
    assert(staged.count() === 58176L)
    val r = staged.agg(
      org.apache.spark.sql.functions.min("time").as("mn"),
      org.apache.spark.sql.functions.max("time").as("mx"),
      sum("consumption").as("sc")).head()
    assert(r.getAs[Int]("mn") === 1)
    assert(r.getAs[Int]("mx") === 36)
    assert(r.getAs[Long]("sc") === 58294383L)
    val live = FixedWidthBinary.invoices(spark, s"$sample/invoices.bin")
      .select(col("contract"), col("time"),
        col("amount").cast(org.apache.spark.sql.types.DecimalType(20, 10))
          .as("amount"),
        col("consumption"))
    assert(staged.exceptAll(live).isEmpty && live.exceptAll(staged).isEmpty,
      "staged decode diverged from the live DSv2 reader")
  }

  test("hypercube: 34,271 non-empty groups") {
    assert(cube.count() === 34271L)
  }

  test("CSV-twin hypercube (q63) conserves the CSV fact count and its invariants") {
    // the CSV lacks the bin's 576-record stale prefix, so totals differ
    // from the bin goldens by exactly that prefix's contribution; the
    // conservation and per-group FD invariants hold identically
    val csv = SparkEntry.queries("q63_hypercube_ref_csv")(spark, "unused").cache()
    assert(csv.agg(sum("ninvoices")).head().getLong(0) === 57600L)
    assert(csv.filter(col("nclients") > col("ncontrats") ||
      col("ncontrats") > col("ninvoices")).isEmpty)
    csv.unpersist()
  }

  test("hypercube: measure totals match the goldens") {
    val r = cube.agg(
      sum("ninvoices").as("ni"),
      sum("consumption").as("sc"),
      sum("amount").as("sa")).head()
    assert(r.getAs[Long]("ni") === 58176L)
    assert(r.getAs[Long]("sc") === 58294383L)
    assert(math.abs(r.getAs[Double]("sa") - 3862500.83) < 1.0) // float32 accumulation tolerance
  }

  test("hypercube: first 3 groups in output order match the goldens") {
    // (geo,type,misc,nature,time → ninv,cons,amt,ncli,ncon), FIXTURES.md §1
    val rows = cube.limit(3).collect()
    val expected = Seq(
      (1, 1, 5, 1, 1, 1L, 1598L, 184.92, 1L, 1L),
      (1, 1, 5, 1, 2, 1L, 1197L, 18.91, 1L, 1L),
      (1, 1, 5, 1, 3, 1L, 1107L, 135.37, 1L, 1L))
    rows.zip(expected).foreach { case (row, (geo, typ, misc, nature, time, ninv, cons, amt, ncli, ncon)) =>
      assert(row.getAs[Int]("geo") === geo)
      assert(row.getAs[Int]("type") === typ)
      assert(row.getAs[Int]("misc") === misc)
      assert(row.getAs[Int]("nature") === nature)
      assert(row.getAs[Int]("time") === time)
      assert(row.getAs[Long]("ninvoices") === ninv)
      assert(row.getAs[Long]("consumption") === cons)
      assert(math.abs(row.getAs[Double]("amount") - amt) < 0.005)
      assert(row.getAs[Long]("nclients") === ncli)
      assert(row.getAs[Long]("ncontrats") === ncon)
    }
  }

  test("hypercube: per-group invariants nclients <= ncontrats <= ninvoices") {
    val bad = cube.filter(
      col("nclients") > col("ncontrats") || col("ncontrats") > col("ninvoices")).count()
    assert(bad === 0L)
    val outOfDomain = cube.filter(
      col("geo") < 1 || col("geo") > 578 || col("type") < 1 || col("type") > 5 ||
        col("misc") < 1 || col("misc") > 6 || col("nature") < 1 || col("nature") > 5 ||
        col("time") < 1 || col("time") > 36).count()
    assert(outOfDomain === 0L)
  }

  test("--stage-times (the reference's -l 1 twin) writes a byte-identical " +
      "hypercube CSV and a schema-compatible timing line") {
    val outA = java.nio.file.Files.createTempDirectory("etl-default").toString
    val outB = java.nio.file.Files.createTempDirectory("etl-staged").toString
    EtlMain.run(spark, sample, outA, singleFile = true)
    EtlMain.run(spark, sample, outB, singleFile = true, stageTimes = true)
    def csvOf(dir: String): String = {
      val f = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".csv")).minBy(_.getName)
      java.nio.file.Files.readString(f.toPath)
    }
    assert(csvOf(outB) === csvOf(outA),
      "staged timing mode changed the hypercube output")
  }
}
