package graft

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream, PrintWriter}
import java.nio.file.{Files, Paths}

import graft.operators.ReferenceHypercube

/** Reference-scale benchmark: generates a deterministic dataset of the
  * exact shape the reference's published numbers describe
  * (`README.md:76`: 1 M clients, 1.6 M contracts, 57.6 M invoices ≈
  * 922 MB of 16-byte binary records) and times the full hypercube
  * pipeline over it — so the "within 2× of the reference" gate can be
  * judged at the *same* scale instead of extrapolated from sf-tier data
  * 1000× smaller. Baseline: the reference does this end-to-end in 11.5 s
  * on 8 threads / 2012 hardware ≈ 11.8 M invoices/s peak
  * (`README.md:81`, `Processing-rate.PNG`).
  *
  * Generation is fixture tooling, not a query path: a SplitMix64-seeded
  * stream written once to `target/refscale/` (~950 MB, regenerated only
  * if absent). Value domains follow `README.md:12-38`.
  */
object RefScale {
  /** Row counts of a generated folder. */
  final case class Shape(clients: Int, contracts: Int, invoices: Int)
  /** The reference's published dataset (`README.md:76`). */
  val Reference: Shape = Shape(1000000, 1600000, 57600000)
  /** The shape of the reference's `data-sample` (1,000 clients, 1,600
    * contracts, 57,600 invoices). */
  val Sample: Shape = Shape(1000, 1600, 57600)

  /** SplitMix64 — tiny deterministic PRNG (public-domain algorithm). */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  private def bounded(seed: Long, lo: Int, hi: Int): Int =
    lo + (Math.floorMod(mix(seed), (hi - lo + 1).toLong)).toInt

  def generate(dir: String, shape: Shape = Reference): Unit = {
    Files.createDirectories(Paths.get(dir))
    val cw = new PrintWriter(new BufferedOutputStream(new FileOutputStream(s"$dir/clients.csv"), 1 << 20))
    cw.println("id,type,geo,misc")
    var i = 1
    while (i <= shape.clients) {
      cw.println(s"$i,${bounded(i * 7L + 1, 1, 5)},${bounded(i * 7L + 2, 1, 578)},${bounded(i * 7L + 3, 1, 6)}")
      i += 1
    }
    cw.close()
    // PrintWriter swallows IOExceptions — without this check a full disk
    // yields a silently truncated fixture that benchmarks "fine" forever
    if (cw.checkError()) throw new java.io.IOException(s"failed writing $dir/clients.csv")

    val kw = new PrintWriter(new BufferedOutputStream(new FileOutputStream(s"$dir/contracts.csv"), 1 << 20))
    kw.println("id,id_client,nature,start,end")
    i = 1
    while (i <= shape.contracts) {
      kw.println(s"$i,${bounded(i * 13L + 1, 1, shape.clients)},${bounded(i * 13L + 2, 1, 5)},201401,201612")
      i += 1
    }
    kw.close()
    if (kw.checkError()) throw new java.io.IOException(s"failed writing $dir/contracts.csv")

    val bw = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(s"$dir/invoices.bin"), 1 << 20))
    i = 1
    while (i <= shape.invoices) {
      bw.writeInt(i)                                         // id (discarded by the engine)
      bw.writeInt(bounded(i * 17L + 1, 1, shape.contracts))  // contract
      bw.writeByte(bounded(i * 17L + 2, 1, 36))              // time
      bw.writeFloat(bounded(i * 17L + 3, 0, 99999) / 100.0f) // amount [0, 1000), 2dp
      bw.writeShort(bounded(i * 17L + 4, 0, 2000))           // consumption
      bw.writeByte(0)                                        // pad
      i += 1
    }
    bw.close()
  }

  private[graft] def invoiceRows: Int = Reference.invoices

  /** Size-gated fixture materialization, not existence-gated: a crash
    * mid-write leaves a truncated invoices.bin that a bare exists()
    * would silently accept and benchmark (rows_per_sec computed against
    * the full Reference.invoices). Shared by the single-point main and the
    * thread-sweep main. */
  private[graft] def ensure(dir: String): Unit = {
    val binPath = Paths.get(s"$dir/invoices.bin")
    val expectedBytes = Reference.invoices.toLong * 16L
    if (!Files.exists(binPath) || Files.size(binPath) != expectedBytes) {
      println("generating reference-scale dataset (~950 MB)...")
      val t0 = System.nanoTime()
      generate(dir)
      println(f"generated in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      require(Files.size(binPath) == expectedBytes,
        s"invoices.bin is ${Files.size(binPath)} bytes, expected $expectedBytes")
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = "target/refscale"
    ensure(dir)
    val spark = GraftSession.local("graft-refscale")
    def time[A](label: String)(f: => A): A = {
      val t = System.nanoTime(); val r = f
      println(f"[stage] $label: ${(System.nanoTime() - t) / 1e9}%.1f s"); r
    }
    // plan audit: print the AQE-final physical plan of one executed run.
    // FIRST, so explain mode skips the diagnostic scan stage below — its
    // purpose is just the plan, not a ~1 GB scan job
    if (sys.env.contains("SPARK_GRAFT_REFSCALE_EXPLAIN")) {
      val df = ReferenceHypercube.fromFolder(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      // after execution the AdaptiveSparkPlan holds the final plan
      println(df.queryExecution.executedPlan.toString)
      spark.stop()
      return
    }
    // stage isolation: how much of the budget is the binary scan alone?
    time("scan+decode only (noop)") {
      ReferenceHypercube.invoices(spark, s"$dir/invoices.bin")
        .write.format("noop").mode("overwrite").save()
    }
    // stage-by-stage budget breakdown (each stage includes its inputs)
    if (sys.env.contains("SPARK_GRAFT_REFSCALE_STAGES")) {
      import org.apache.spark.sql.functions._
      val cl = ReferenceHypercube.clients(spark, s"$dir/clients.csv")
      val ct = ReferenceHypercube.contracts(spark, s"$dir/contracts.csv")
      val inv = ReferenceHypercube.invoices(spark, s"$dir/invoices.bin")
      val dim = ReferenceHypercube.contractDim(cl, ct)
      val dimSide = broadcast(dim)
      val dims = Seq(col("geo"), col("type"), col("misc"), col("nature"), col("time"))
      val joined = inv.join(dimSide, col("contract") === dimSide("contract_id"))
        .select(dims ++ Seq(col("contract"), col("client"),
          col("consumption"), col("amount").as("amt")): _*)
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      time("scan+join+project")(noop(joined))
      // NOTE: this shuffles the GENERIC 5-dim keys; the full run at this
      // data size takes the packedPlan branch, which repartitions on
      // (packed g, time) longs — so this line bounds the unpacked
      // shuffle's cost, it does not decompose the packed run exactly
      time("...+repartition (generic dims; full run packs keys)")(
        noop(joined.repartition(dims: _*)))
      val cube = ReferenceHypercube.fromFolder(spark, dir)
      time("...+chained aggs+sort (full, noop)")(noop(cube))
      time("full incl. CSV write")(
        ReferenceHypercube.writeCsv(ReferenceHypercube.fromFolder(spark, dir),
          s"$dir/out", singleFile = false))
      spark.stop()
      return
    }
    // warm-up (file cache + JIT), then the timed end-to-end run incl. CSV write
    time("full cube (noop, warm-up)") {
      ReferenceHypercube.fromFolder(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }
    // median of 5 timed end-to-end runs (host contention makes single
    // shots vary up to 3× — with ~1 outlier per batch, 3 runs is not
    // robust enough for a stable median)
    val loadStart = Bench.loadavgJson()
    val times = (1 to 5).map { _ =>
      val t1 = System.nanoTime()
      ReferenceHypercube.writeCsv(
        ReferenceHypercube.fromFolder(spark, dir), s"$dir/out", singleFile = false)
      (System.nanoTime() - t1) / 1e9
    }.sorted
    val secs = times(2)
    val json = f"""{"metric":"refscale_end_to_end","value":$secs%.3f,"unit":"sec","runs":[${times.map(t => f"$t%.3f").mkString(",")}],"rows":${Reference.invoices},"rows_per_sec":${(Reference.invoices / secs).toLong},"baseline_sec":11.5,"baseline_rows_per_sec":11800000,"loadavg_start":$loadStart,"loadavg_end":${Bench.loadavgJson()}}"""
    Files.writeString(Paths.get("target/refscale_bench.json"), json + "\n")
    // The tracked root copy is OPT-IN: an unconditional write here once
    // let a contention-skewed experiment (median 28.6 s at loadavg 14.7)
    // silently replace the repo's steady-state claim via a broad git add.
    // Promote a run explicitly after checking its loadavg telemetry.
    if (sys.env.contains("SPARK_GRAFT_REFSCALE_TRACK"))
      Files.writeString(Paths.get("REFSCALE_BENCH.json"), json + "\n")
    spark.stop()
    println(json)
  }
}
