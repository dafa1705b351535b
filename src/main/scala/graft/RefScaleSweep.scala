package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.operators.ReferenceHypercube

/** Thread-scaling sweep of the reference-scale workload — the engine's
  * counterpart of the reference's published throughput-vs-threads curve
  * (`Processing-rate.PNG` / `README.md:85-89`: ~3.5 M rows/s at 1 thread
  * rising to ~11.8 M rows/s at 7 threads on 2012 hardware).
  *
  * Runs the full end-to-end pipeline (CSV+binary scans → broadcast join
  * → packed sort-stream aggregation → ordered CSV write) at `local[c]` for
  * each core count, sequentially in ONE JVM so every point shares the
  * same JIT-warm code. Per point: one warm-up run, then 3 timed runs,
  * median reported (the single-point `RefScale` main uses 5 runs; the
  * sweep trades a little per-point robustness for covering 6 points in
  * one quiet-host window — raw run lists are kept in the artifact so a
  * contended point is visible).
  *
  * Each session sizes shuffle partitions to 3× its core count, exactly
  * like [[GraftSession.local]] — so a point measures the configuration a
  * c-core deployment would actually run, not 32-core settings on c
  * cores. Writes `target/refscale_sweep.json`; promotion into the
  * tracked `REFSCALE_BENCH.json` is a deliberate edit (see the opt-in
  * note in [[RefScale]] — loadavg telemetry decides).
  */
object RefScaleSweep {

  def main(args: Array[String]): Unit = {
    val dir = "target/refscale"
    RefScale.ensure(dir)
    val cores = sys.env.getOrElse("SPARK_GRAFT_SWEEP_CORES", "1,2,4,8,16,32")
      .split(",").map(_.trim.toInt).toSeq
    val loadStart = Bench.loadavgJson()
    val points = cores.map { c =>
      val spark = GraftSession.builder(s"local[$c]", shufflePartitions = c * 3)
        .appName(s"graft-refscale-sweep-$c")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      def run(): Double = {
        val t0 = System.nanoTime()
        ReferenceHypercube.writeCsv(
          ReferenceHypercube.fromFolder(spark, dir), s"$dir/out", singleFile = false)
        (System.nanoTime() - t0) / 1e9
      }
      run() // warm-up (file cache at c=first point, fresh-session JIT paths)
      val times = (1 to 3).map(_ => run()).sorted
      spark.stop()
      // a stopped session must not be served to the next point's
      // getOrCreate (the builder consults the default-session registry)
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val median = times(times.length / 2)
      println(f"[sweep] cores=$c%2d  median=$median%6.2f s  " +
        f"rows/s=${(RefScale.invoiceRows / median).toLong}%,d  runs=${times.map(t => f"$t%.2f").mkString(",")}")
      (c, median, times)
    }
    val json = points.map { case (c, median, times) =>
      s""""$c":{"sec":$median,"rows_per_sec":${(RefScale.invoiceRows / median).toLong},"runs":[${times.map(t => f"$t%.3f").mkString(",")}]}"""
    }.mkString("{", ",", "}")
    val out =
      s"""{"metric":"refscale_thread_sweep","rows":${RefScale.invoiceRows},"points":$json,"baseline_curve_rows_per_sec":{"1":3500000,"7":11800000},"loadavg_start":$loadStart,"loadavg_end":${Bench.loadavgJson()}}"""
    Files.writeString(Paths.get("target/refscale_sweep.json"), out + "\n")
    println(out)
  }
}
