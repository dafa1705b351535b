package perfbench

import java.io.{BufferedOutputStream, FileOutputStream, OutputStreamWriter}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Seeded generator of hypercube input folders in the reference layout:
  * `clients.csv` (`id,type,geo,misc`), `contracts.csv`
  * (`id,id_client,nature,start,end`) and `invoices.bin` (16-byte
  * big-endian records: id i32, contract i32, time i8, amount f32,
  * consumption i16, pad). Value domains follow the reference README:
  * type/nature in [1,5], geo in [1,578], misc in [1,6], time in [1,36].
  *
  * Every value is a SplitMix64 hash of (seed, table, row, field), so a
  * folder is a pure function of (seed, shape): same seed, same bytes. */
object HypercubeGen {
  final case class Shape(clients: Int, contracts: Int, invoices: Int) {
    def scaled(den: Int): Shape = Shape(clients / den, contracts / den, invoices / den)
  }
  /** The reference's published dataset (1 M / 1.6 M / 57.6 M rows). */
  val Reference: Shape = Shape(1000000, 1600000, 57600000)

  /** SplitMix64 finalizer (public-domain algorithm). */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Uniform value in [lo, hi] keyed by (seed, stream, row, field). */
  def draw(seed: Long, stream: Int, row: Long, field: Int, lo: Int, hi: Int): Int = {
    val h = mix(mix(seed * 0x632be59bd9b4e019L + stream) ^ (row * 8 + field))
    lo + java.lang.Long.remainderUnsigned(h, (hi - lo + 1).toLong).toInt
  }

  def generate(dir: String, seed: Long, shape: Shape): Unit = {
    Files.createDirectories(Paths.get(dir))
    writeText(s"$dir/clients.csv", "id,type,geo,misc", shape.clients) { i =>
      s"$i,${draw(seed, 1, i, 0, 1, 5)},${draw(seed, 1, i, 1, 1, 578)},${draw(seed, 1, i, 2, 1, 6)}"
    }
    writeText(s"$dir/contracts.csv", "id,id_client,nature,start,end", shape.contracts) { i =>
      val start = draw(seed, 2, i, 2, 201401, 201412)
      s"$i,${draw(seed, 2, i, 0, 1, shape.clients)},${draw(seed, 2, i, 1, 1, 5)},$start,${start + 200}"
    }
    val out = new FileOutputStream(s"$dir/invoices.bin")
    try {
      val ch = out.getChannel
      val buf = ByteBuffer.allocate(16 * 65536).order(ByteOrder.BIG_ENDIAN)
      var i = 1
      while (i <= shape.invoices) {
        buf.putInt(i)
        buf.putInt(draw(seed, 3, i, 0, 1, shape.contracts))
        buf.put(draw(seed, 3, i, 1, 1, 36).toByte)
        buf.putFloat(draw(seed, 3, i, 2, 0, 99999) / 100.0f)
        buf.putShort(draw(seed, 3, i, 3, 0, 2000).toShort)
        buf.put(0.toByte)
        if (!buf.hasRemaining || i == shape.invoices) {
          buf.flip()
          while (buf.hasRemaining) ch.write(buf)
          buf.clear()
        }
        i += 1
      }
    } finally out.close()
  }

  private def writeText(path: String, header: String, n: Int)(line: Int => String): Unit = {
    val w = new OutputStreamWriter(
      new BufferedOutputStream(new FileOutputStream(path), 1 << 20), StandardCharsets.US_ASCII)
    try {
      w.write(header); w.write('\n')
      var i = 1
      while (i <= n) { w.write(line(i)); w.write('\n'); i += 1 }
    } finally w.close()
  }
}
