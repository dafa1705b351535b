package graft

import org.apache.spark.sql.SparkSession

/** One place to assemble the engine's SparkSession configuration so the
  * mains (Bench/Verify/EtlMain) and the test JVM agree on semantics:
  *
  *   - UTC session time zone (oracle comparisons are tz-sensitive);
  *   - AQE on — at scale it re-plans joins (broadcast↔shuffle), coalesces
  *     shuffle partitions and splits skewed ones at runtime, which is the
  *     engine's answer to skew/sizing questions the reference never faces
  *     (single JVM, `ETL.java:196-208`);
  *   - `nanosAsLong` so `events.parquet`'s INT64 TIMESTAMP(NANOS) column
  *     reads as epoch-nanos LongType (see [[graft.sources.Tables.events]]);
  *   - shuffle partitions sized to the local core count, not the 200
  *     default — on a real cluster this would instead be ~2–3× total
  *     executor cores (and AQE coalesces the excess anyway).
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // native expressions as SQL functions (minhash_signature, …)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      // Size-GATED broadcast policy (not a hint): dims up to 64 MB — e.g.
      // the reference-scale 1.6 M-row denormalized contract dim — replicate
      // instead of shuffling the fact stream; anything larger still gets a
      // shuffled join, so this stays safe when dimensions outgrow memory.
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      // zstd compresses the int-heavy shuffle rows of the aggregation
      // pipelines ~2× tighter than lz4 at negligible CPU cost — less
      // shuffle I/O locally, less network at cluster scale.
      .config("spark.io.compression.codec", "zstd")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** Session for the driver-facing mains: `local[$SPARK_GRAFT_CPUS]`.
    * Shuffle partitions are 3× the core count: multiple waves of
    * smaller tasks let the scheduler route around cores stolen by host
    * co-tenants (with exactly one wave, a single slowed task drags the
    * whole stage), and AQE coalesces the excess on small exchanges. */
  def local(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val s = builder(s"local[$cpus]", shufflePartitions = cpus * 3)
      .appName(appName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
