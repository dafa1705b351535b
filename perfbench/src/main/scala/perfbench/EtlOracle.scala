package perfbench

import java.io.{BufferedReader, FileInputStream, InputStreamReader}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Plain-Scala twin of the reference `ETL.java` algorithm: one dense
  * linear group index over the 578·5·6·5·36 = 3,121,200 (geo, type, misc,
  * nature, time) slots, SUM/COUNT accumulators per slot, and per-group
  * distinct client and contract counts. No Spark: it is the independent
  * answer every timed hypercube job is checked against. */
object EtlOracle {
  val Header = "geo,type,misc,nature,time,consumption,amount,nclients,ncontrats,ninvoices"
  val Slots: Int = 578 * 5 * 6 * 5 * 36

  /** Linear slot in output order (geo slowest, time fastest). */
  def slot(geo: Int, tpe: Int, misc: Int, nature: Int, time: Int): Int =
    ((((geo - 1) * 5 + (tpe - 1)) * 6 + (misc - 1)) * 5 + (nature - 1)) * 36 + (time - 1)

  final class Cube(val consumption: Array[Long], val amount: Array[Double],
      val nclients: Array[Int], val ncontracts: Array[Int], val ninvoices: Array[Int]) {
    lazy val groups: Int = ninvoices.count(_ > 0)
  }

  private def csvRows(path: String): Iterator[Array[Int]] =
    Files.readAllLines(Paths.get(path), StandardCharsets.US_ASCII).asScala.iterator
      .drop(1).filter(_.nonEmpty).map(_.split(',').map(_.toInt))

  private def inRange(v: Int, lo: Int, hi: Int, what: String): Int = {
    require(v >= lo && v <= hi, s"$what $v outside [$lo, $hi]")
    v
  }

  def compute(dir: String): Cube = {
    val clients = csvRows(s"$dir/clients.csv").toArray
    val clientKey = new Array[Int](clients.map(_(0)).max + 1) // slot of (geo,type,misc,·,·)
    java.util.Arrays.fill(clientKey, -1)
    clients.foreach { r =>
      clientKey(r(0)) = slot(inRange(r(2), 1, 578, "geo"), inRange(r(1), 1, 5, "type"),
        inRange(r(3), 1, 6, "misc"), 1, 1)
    }
    val contracts = csvRows(s"$dir/contracts.csv").toArray
    val n = contracts.map(_(0)).max + 1
    val base = new Array[Int](n)
    val owner = new Array[Int](n)
    java.util.Arrays.fill(base, -1)
    contracts.foreach { r =>
      val c = r(1)
      require(c < clientKey.length && clientKey(c) >= 0, s"contract ${r(0)}: unknown client $c")
      base(r(0)) = clientKey(c) + (inRange(r(2), 1, 5, "nature") - 1) * 36
      owner(r(0)) = c
    }

    val cons = new Array[Long](Slots)
    val amt = new Array[Double](Slots)
    val ninv = new Array[Int](Slots)
    val bytes = Files.size(Paths.get(s"$dir/invoices.bin"))
    require(bytes % 16 == 0, s"invoices.bin is $bytes bytes, not a multiple of 16")
    val rows = (bytes / 16).toInt
    val byContract = new Array[Long](rows)
    val byClient = new Array[Long](rows)
    val ch = new FileInputStream(s"$dir/invoices.bin").getChannel
    try {
      val buf = ByteBuffer.allocate(16 * 65536).order(ByteOrder.BIG_ENDIAN)
      var i = 0
      while (ch.read(buf) > 0 || buf.position() > 0) {
        buf.flip()
        while (buf.remaining() >= 16) {
          buf.getInt() // invoice id, unused
          val c = buf.getInt()
          val t = buf.get().toInt
          val a = buf.getFloat()
          val s = buf.getShort().toInt
          buf.get()
          require(c > 0 && c < n && base(c) >= 0, s"invoice ${i + 1}: unknown contract $c")
          val g = base(c) + inRange(t, 1, 36, "time") - 1
          ninv(g) += 1
          cons(g) += s
          amt(g) += a.toDouble
          byContract(i) = (g.toLong << 32) | c
          byClient(i) = (g.toLong << 32) | owner(c)
          i += 1
        }
        buf.compact()
      }
      require(i == rows, s"read $i of $rows invoice records")
    } finally ch.close()
    new Cube(cons, amt, distinctPerGroup(byClient), distinctPerGroup(byContract), ninv)
  }

  /** Count of distinct low words per high word of the packed keys. */
  private def distinctPerGroup(keys: Array[Long]): Array[Int] = {
    java.util.Arrays.sort(keys)
    val out = new Array[Int](Slots)
    var i = 0
    while (i < keys.length) {
      if (i == 0 || keys(i) != keys(i - 1)) out((keys(i) >>> 32).toInt) += 1
      i += 1
    }
    out
  }

  private val AmountFormat = "^-?[0-9]*\\.[0-9]{2}$".r

  /** Check the hypercube CSV part files under `outDir` against `cube`:
    * exact header, strictly ascending group order, exactly the non-empty
    * groups, integer columns equal, `amount` in the reference's `#.00`
    * form and equal to the oracle sum to the cent. Returns the problems
    * found (at most `maxErrors`); empty means the output is correct. */
  def check(cube: Cube, outDir: String, maxErrors: Int = 5): Seq[String] = {
    val parts = Files.list(Paths.get(outDir)).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.getFileName.toString)
    if (parts.isEmpty) return Seq(s"no part files under $outDir")
    val errors = Seq.newBuilder[String]
    var nErr = 0
    def fail(msg: String): Unit = { if (nErr < maxErrors) errors += msg; nErr += 1 }
    var prev = -1
    var rows = 0
    var line = 0
    parts.foreach { (p: Path) =>
      val r = new BufferedReader(new InputStreamReader(new FileInputStream(p.toFile),
        StandardCharsets.US_ASCII), 1 << 20)
      try {
        val header = r.readLine()
        if (header != Header) fail(s"${p.getFileName}: header '$header'")
        var s = r.readLine()
        while (s != null) {
          line += 1
          val f = s.split(',')
          if (f.length != 10) fail(s"row $line: ${f.length} fields in '$s'")
          else try {
            val g = slot(inRange(f(0).toInt, 1, 578, "geo"), inRange(f(1).toInt, 1, 5, "type"),
              inRange(f(2).toInt, 1, 6, "misc"), inRange(f(3).toInt, 1, 5, "nature"),
              inRange(f(4).toInt, 1, 36, "time"))
            if (g <= prev) fail(s"row $line: out of order '$s'")
            prev = g
            rows += 1
            if (cube.ninvoices(g) == 0) fail(s"row $line: group absent from the oracle '$s'")
            else if (f(5).toLong != cube.consumption(g) || f(7).toInt != cube.nclients(g) ||
                f(8).toInt != cube.ncontracts(g) || f(9).toInt != cube.ninvoices(g))
              fail(s"row $line: '$s' but oracle has consumption=${cube.consumption(g)} " +
                s"nclients=${cube.nclients(g)} ncontrats=${cube.ncontracts(g)} ninvoices=${cube.ninvoices(g)}")
            else if (AmountFormat.findFirstIn(f(6)).isEmpty)
              fail(s"row $line: amount '${f(6)}' is not in #.00 form")
            else if (math.abs(math.round(f(6).toDouble * 100) - math.round(cube.amount(g) * 100)) > 1)
              fail(s"row $line: amount ${f(6)} but oracle has ${cube.amount(g)}")
          } catch {
            case e: IllegalArgumentException => fail(s"row $line: unparsable '$s' (${e.getMessage})")
          }
          s = r.readLine()
        }
      } finally r.close()
    }
    if (rows != cube.groups) fail(s"$rows groups in the CSV, oracle has ${cube.groups}")
    errors.result()
  }
}
