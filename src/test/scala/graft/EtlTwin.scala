package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Plain-Scala twin of the reference `ETL.java` algorithm (SURVEY.md §1),
  * no Spark: one dense linear group index over the 578·5·6·5·36 =
  * 3,121,200 (geo, type, misc, nature, time) slots, per-slot sums and
  * counts, and exact per-slot sets of distinct clients and contracts.
  * Emits the reference's CSV: header, then the non-empty groups in slot
  * order with `#.00` amounts (HALF_UP, no leading zero). */
object EtlTwin {
  val Header = "geo,type,misc,nature,time,consumption,amount,nclients,ncontrats,ninvoices"
  private val Slots = 578 * 5 * 6 * 5 * 36

  private def slot(geo: Int, tpe: Int, misc: Int, nature: Int, time: Int): Int = {
    require(geo >= 1 && geo <= 578 && tpe >= 1 && tpe <= 5 && misc >= 1 && misc <= 6 &&
      nature >= 1 && nature <= 5 && time >= 1 && time <= 36,
      s"key ($geo,$tpe,$misc,$nature,$time) outside the reference domains")
    ((((geo - 1) * 5 + (tpe - 1)) * 6 + (misc - 1)) * 5 + (nature - 1)) * 36 + (time - 1)
  }

  private def csvRows(path: String): Seq[Array[Int]] =
    Files.readAllLines(Paths.get(path), StandardCharsets.US_ASCII).asScala.toSeq
      .drop(1).filter(_.nonEmpty).map(_.split(',').map(_.toInt))

  /** `DecimalFormat("#.00")` with the reference's HALF_UP rounding. */
  def amount(x: Double): String =
    BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
      .replaceFirst("^(-?)0\\.", "$1.")

  /** The CSV lines (header first) the reference writes for `dir`. */
  def csvLines(dir: String): Vector[String] = {
    val clients = csvRows(s"$dir/clients.csv").map(r => r(0) -> r).toMap // id,type,geo,misc
    val contracts = csvRows(s"$dir/contracts.csv").map(r => r(0) -> r).toMap // id,id_client,nature,…
    val cons = new Array[Long](Slots)
    val amt = new Array[Double](Slots)
    val ninv = new Array[Long](Slots)
    val clientSets = mutable.HashMap.empty[Int, mutable.HashSet[Int]]
    val contractSets = mutable.HashMap.empty[Int, mutable.HashSet[Int]]
    val buf = ByteBuffer.wrap(Files.readAllBytes(Paths.get(s"$dir/invoices.bin")))
      .order(ByteOrder.BIG_ENDIAN)
    while (buf.remaining() >= 16) {
      buf.getInt() // invoice id, unused (ETL.java:147)
      val contract = buf.getInt()
      val time = buf.get().toInt
      val a = buf.getFloat()
      val c = buf.getShort().toInt
      buf.get() // pad
      val k = contracts(contract)
      val cl = clients(k(1))
      val s = slot(cl(2), cl(1), cl(3), k(2), time)
      cons(s) += c
      amt(s) += a.toDouble
      ninv(s) += 1
      clientSets.getOrElseUpdate(s, mutable.HashSet.empty) += k(1)
      contractSets.getOrElseUpdate(s, mutable.HashSet.empty) += contract
    }
    Header +: (0 until Slots).iterator.filter(ninv(_) > 0).map { s =>
      val time = s % 36 + 1
      val nature = s / 36 % 5 + 1
      val misc = s / (36 * 5) % 6 + 1
      val tpe = s / (36 * 5 * 6) % 5 + 1
      val geo = s / (36 * 5 * 6 * 5) + 1
      s"$geo,$tpe,$misc,$nature,$time,${cons(s)},${amount(amt(s))}," +
        s"${clientSets(s).size},${contractSets(s).size},${ninv(s)}"
    }.toVector
  }
}
