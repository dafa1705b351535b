package graft

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.scalatest.{Assertions, Suite}

import graft.operators.{ReferenceHypercube, Staging}

/** The reference's `data-sample` folder ([[ReferenceHypercube.referenceDir]])
  * for tests: the golden specs cancel without it, and the catalog specs
  * run over a generated folder of its layout where it is absent. */
object ReferenceLayout {
  /** Whether the reference sample folder exists on this host. */
  def sampleExists: Boolean = new File(ReferenceHypercube.referenceDir).isDirectory

  /** Cancels the running test when the reference sample is absent. */
  def assumeSample(): Unit =
    Assertions.assume(sampleExists,
      s"reference sample missing at ${ReferenceHypercube.referenceDir} (set SPARK_GRAFT_REFERENCE_DIR)")

  /** Writes a folder of the sample's layout into `dir`: [[RefScale]]'s
    * `Sample` shape (`clients.csv`, `contracts.csv`, `invoices.bin`) and
    * the `invoices.csv` twin of its `invoices.bin`, one line per record
    * with `Float.toString` amounts, which q63's `DECIMAL(20,10)` amount
    * column holds. Returns `dir`. */
  def generate(dir: Path): String = {
    RefScale.generate(dir.toString, RefScale.Sample)
    val buf = ByteBuffer.wrap(Files.readAllBytes(dir.resolve("invoices.bin")))
      .order(ByteOrder.BIG_ENDIAN)
    val w = Files.newBufferedWriter(dir.resolve("invoices.csv"), StandardCharsets.US_ASCII)
    try {
      w.write("id,id_contract,time,amount,consumption\n")
      while (buf.remaining() >= 16) {
        val id = buf.getInt()
        val contract = buf.getInt()
        val time = buf.get().toInt
        val amount = buf.getFloat()
        val consumption = buf.getShort().toInt
        buf.get() // pad
        w.write(s"$id,$contract,$time,${java.lang.Float.toString(amount)},$consumption\n")
      }
    } finally w.close()
    dir.toString
  }

  /** Runs `body` over the reference sample where it exists, else over a
    * folder [[generate]]d once per suite. At suite end the generated
    * folder goes, and with it the stage of its decoded `invoices.bin`
    * ([[ReferenceHypercube.invoicesStaged]]), which is keyed by that
    * folder's path and so is never read again; the sample's stage stays. */
  trait OnSampleLayout extends SparkTestSession.TempDirs { this: Suite =>
    @volatile private var made: Option[String] = None
    private lazy val generated = {
      made = Some(generate(tempDir("reference-layout")))
      made.get
    }

    def onSampleLayout[T](body: => T): T =
      if (sampleExists) body
      else ReferenceHypercube.withReferenceDir(generated)(body)

    override def afterAll(): Unit =
      try made.foreach(dir => ReferenceHypercube.withReferenceDir(dir)(FileUtils.deleteDirectory(
        new File(Staging.root(SparkTestSession.spark, ReferenceHypercube.invoicesStageKey)))))
      finally super.afterAll()
  }
}
