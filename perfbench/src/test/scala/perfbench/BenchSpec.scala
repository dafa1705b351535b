package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.operators.ReferenceHypercube

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val tiny = HypercubeGen.Shape(100, 160, 5760)
  private lazy val tmp: Path = Files.createTempDirectory("perfbench-spec")
  private lazy val spark: SparkSession =
    GraftSession.builder("local[2]", shufflePartitions = 4).appName("perfbench-spec").getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    Workloads.deleteTree(tmp)
  }

  private def bytes(dir: Path): Seq[Seq[Byte]] =
    Seq("clients.csv", "contracts.csv", "invoices.bin")
      .map(f => Files.readAllBytes(dir.resolve(f)).toSeq)

  private def folder(name: String, seed: Long, shape: HypercubeGen.Shape = tiny): Path = {
    val d = tmp.resolve(name)
    HypercubeGen.generate(d.toString, seed, shape)
    d
  }

  test("the hypercube generator is a pure function of the seed") {
    val a = bytes(folder("a", 7))
    assert(a == bytes(folder("b", 7)))
    val c = bytes(folder("c", 8))
    assert(a.zip(c).forall { case (x, y) => x != y })
    assert(a(2).size == 16 * tiny.invoices)
  }

  test("the corpus generator is a pure function of the seed") {
    assert(CorpusGen.documents(3, 200) == CorpusGen.documents(3, 200))
    assert(CorpusGen.documents(3, 200) != CorpusGen.documents(4, 200))
    def vecs(seed: Long) = CorpusGen.embeddings(seed, 50).map { case (i, v, l) => (i, v.toSeq, l) }
    assert(vecs(3) == vecs(3))
    assert(vecs(3) != vecs(4))
  }

  test("the corpus's Jaccard >= 0.7 pairs are exactly the planted near-copies") {
    val docs = CorpusGen.documents(5, 500)
    val pairs = CorpusOracle.exactPairs(docs)
    assert(pairs.size == 10)
    assert(pairs.forall { case (a, b) => CorpusGen.isPlanted(b.toInt) && a < b })
  }

  test("the oracle agrees with ReferenceHypercube on a generated folder") {
    val in = folder("agree", 11)
    val out = tmp.resolve("agree-out").toString
    ReferenceHypercube.writeCsv(ReferenceHypercube.fromFolder(spark, in.toString), out)
    val cube = EtlOracle.compute(in.toString)
    assert(cube.ninvoices.sum == tiny.invoices)
    assert(EtlOracle.check(cube, out) == Nil)
  }

  test("the oracle rejects a corrupted CSV row") {
    val in = folder("corrupt", 12)
    val out = tmp.resolve("corrupt-out")
    ReferenceHypercube.writeCsv(ReferenceHypercube.fromFolder(spark, in.toString), out.toString)
    val cube = EtlOracle.compute(in.toString)
    val part = Files.list(out).iterator().asScala.find(_.getFileName.toString.startsWith("part-")).get
    val lines = Files.readAllLines(part).asScala.toIndexedSeq
    def corrupted(row: Int)(edit: Array[String] => Unit): Seq[String] = {
      val f = lines(row).split(',')
      edit(f)
      Files.write(part, lines.updated(row, f.mkString(",")).asJava)
      EtlOracle.check(cube, out.toString)
    }
    val ninv = corrupted(5)(f => f(9) = (f(9).toInt + 1).toString)
    assert(ninv.nonEmpty && ninv.head.startsWith("row 5:"), ninv)
    val amount = corrupted(7)(f => f(6) = f"${f(6).toDouble + 0.05}%.2f")
    assert(amount.nonEmpty && amount.head.contains("amount"), amount)
  }
}
