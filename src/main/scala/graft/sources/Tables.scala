package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet test tables (TESTDATA.md).
  *
  * Schema-on-read comes from the parquet footers; Catalyst prunes columns
  * and pushes predicates into the scan automatically, so every query built
  * on these loaders gets `PushedFilters`/`ReadSchema` pruning for free —
  * the Spark-native equivalent of the reference's hand-rolled positional
  * column pruning (reference `ETL.java:101-105,147`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Spread a thin file scan across the cluster's cores, for inputs
    * feeding heavy per-row pipelines only. The rule: when the scan plans
    * fewer splits than `defaultParallelism`, repartition to
    * `defaultParallelism`; otherwise, and for any frame that is not a
    * plain scan, return `df` unchanged. A single-row-group test table
    * plans one split and would pin every downstream map-side stage to
    * one core; on files with many row groups the branch does not fire.
    * The explicit partition count keeps AQE from coalescing the exchange
    * back down.
    *
    * Deliberately NOT applied in [[load]]: for cheap-per-row consumers
    * (plain partial aggregates, SRP plane dots) the measured A/B shows
    * the extra full-table shuffle COSTS more than the parallelism gains —
    * partial aggregation already reduces on the scan side. Callers with
    * expensive per-row derivation (MinHash/SimHash signature hashing:
    * ~200 hash evaluations per exploded shingle row) opt in.
    *
    * The split count is Spark's own, read from the planned scan by
    * [[scanSplits]]; no job runs. */
  def rebalanced(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    scanSplits(df) match {
      case Some(n) if n < target => df.repartition(target)
      case _ => df
    }
  }

  /** The number of splits Spark plans for `df` when its physical plan is
    * a chain of projections and filters over one file scan; None for any
    * other shape (joins, aggregates, shuffles, in-memory or stream
    * leaves). The count is the partition count of the scan's
    * `FileScanRDD`, which Spark builds from the relation's cached,
    * already-pruned file listing without running a job. */
  private[graft] def scanSplits(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SparkPlan}
    def splits(p: SparkPlan): Option[Int] = p match {
      case ProjectExec(_, child) => splits(child)
      case FilterExec(_, child) => splits(child)
      case scan: FileSourceScanExec => Some(scan.inputRDD.getNumPartitions)
      case _ => None
    }
    splits(df.queryExecution.sparkPlan)
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  /** Events with `ts` NORMALIZED to epoch-nanosecond LongType — the one
    * type every downstream operator (sessionize, range/interval/as-of
    * joins, gap-fill, retention, CDC dedup) does integer arithmetic on.
    * Exact, and cheaper to compare/lag than timestamps anyway.
    *
    * The driver has regenerated `events.parquet` with different physical
    * types across rounds (INT64 TIMESTAMP(NANOS) through round 5;
    * `timestamp[us]` → TIMESTAMP_NTZ since round 6), so the loader
    * adapts on the RESULTING Catalyst type, not on session confs:
    *   - LongType: already epoch nanos (the nanos file read under
    *     `spark.sql.legacy.parquet.nanosAsLong=true`, which
    *     [[graft.GraftSession]] still sets so a nanos regeneration keeps
    *     loading) — pass through.
    *   - TIMESTAMP / TIMESTAMP_NTZ: `unix_micros(cast(ts as timestamp))
    *     * 1000L`. The NTZ→TIMESTAMP cast interprets the wall-clock
    *     datetime in the session timezone; GraftSession pins
    *     `spark.sql.session.timeZone=UTC`, so the micros value is the
    *     file's verbatim — the cast is made EXPLICIT (not left to
    *     unix_micros' implicit coercion) and the UTC assumption checked
    *     below so a non-UTC session fails loudly instead of silently
    *     shifting every timestamp.
    * Both are cheap codegen'd projections over the scan — pruning and
    * pushdown on the other columns are unaffected. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // A nanos-typed regeneration read by a session built WITHOUT
    // GraftSession dies inside the parquet footer read with an opaque
    // "Illegal Parquet type: INT64 (TIMESTAMP(NANOS,...))" — translate
    // it to the actionable message the old conf-require used to give.
    val df =
      try load(spark, dir, "events")
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getMessage).exists(_.contains("NANOS")) =>
          throw new IllegalStateException(
            "events.parquet carries INT64 TIMESTAMP(NANOS): build the session " +
              "via graft.GraftSession (or set spark.sql.legacy.parquet." +
              "nanosAsLong=true at session construction) before reading it", e)
      }
    df.schema("ts").dataType match {
      case LongType => df
      case TimestampType | TimestampNTZType =>
        require(
          spark.conf.get("spark.sql.session.timeZone") == "UTC",
          "events.ts is a timestamp column; converting it to epoch nanos " +
            "requires spark.sql.session.timeZone=UTC (build the session via " +
            s"graft.GraftSession) — got ${spark.conf.get("spark.sql.session.timeZone")}")
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case other => throw new IllegalStateException(
        s"events.parquet ts column loaded as unsupported type $other " +
          s"(expected LongType epoch-nanos, TIMESTAMP, or TIMESTAMP_NTZ) — " +
          s"the driver likely regenerated /root/testdata with a new physical " +
          s"type; teach Tables.events to normalize it")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
