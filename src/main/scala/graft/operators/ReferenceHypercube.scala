package graft.operators

import java.math.RoundingMode
import java.nio.charset.StandardCharsets
import java.util.Locale

import scala.util.DynamicVariable

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.IOUtils
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.sources.FixedWidthBinary

/** The reference engine's entire semantic surface, Spark-first.
  *
  * Implements the canonical hypercube query (reference
  * `hypercube.sql:1-14`): `clients ⋈ contracts ⋈ invoices`, GROUP BY the
  * 5 bounded dimensions `(geo, type, misc, nature, time)` with measures
  * `SUM(consumption), SUM(amount), COUNT(DISTINCT client),
  * COUNT(DISTINCT contract), COUNT(*)`, emitted in `(geo, type, misc,
  * nature, time)` ascending order (reference emit loops
  * `ETL.java:259-264`).
  *
  * Where the reference hand-builds a perfect-hash dense aggregation array
  * (`ETL.java:35,109,153`), thread-local partials and coarse merge locks
  * (`ETL.java:130-132,181-192`), the Spark plan is one join of the fact
  * against the denormalized contract dim, one exchange by a monotone
  * bucket of the packed group key, one in-partition sort and one
  * streaming pass that makes both distinct counts exact as change
  * counts, without an `Expand` or a hash map ([[hypercube]]). Like the
  * reference, it takes no plan options: one statistics pass over the dim
  * decides the join strategy and the key packing.
  *
  * Semantics choices (SURVEY.md §7.4):
  *   - SQL inner-join semantics: a dangling FK drops the row (the
  *     reference would silently mis-bucket it, `ETL.java:106-108,153`);
  *     on valid data — FKs are `not null ≥ 1` per `README.md:14-37` —
  *     the results are identical.
  *   - amount is summed in its input type: the binary fact's float32
  *     amounts accumulate in double, the reference's precision contract
  *     (`ETL.java:126,150,38`); a DECIMAL amount column sums exactly.
  */
object ReferenceHypercube {

  /** Schema-first CSV read of `clients.csv` (reference `ETL.java:44-74`).
    * No max-id sizing pass is needed: there are no dense arrays here. */
  val clientSchema: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("type", IntegerType, nullable = false),
    StructField("geo", IntegerType, nullable = false),
    StructField("misc", IntegerType, nullable = false)))

  /** `contracts.csv` (reference `ETL.java:76-112`). `start`/`end` are in
    * the file but never consumed — declared here, pruned in [[contracts]]
    * (reference prunes positionally, `ETL.java:101-105`). Field names
    * match the file header exactly (`id_client`, not `client`) so
    * CSVHeaderChecker stays quiet; [[contracts]] renames to the engine's
    * `client`. */
  val contractSchema: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("id_client", IntegerType, nullable = false),
    StructField("nature", IntegerType, nullable = false),
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false)))

  def clients(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(clientSchema).csv(path)

  def contracts(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(contractSchema).csv(path)
      .select(col("id"), col("id_client").as("client"), col("nature"))

  def invoices(spark: SparkSession, path: String): DataFrame =
    FixedWidthBinary.invoices(spark, path)

  /** J1: denormalize contracts against the client dimension (reference
    * fuses this into the contract load, `ETL.java:106-108`). No broadcast
    * hint: under `autoBroadcastJoinThreshold`/AQE Catalyst broadcasts the
    * build side while it is small and falls back to a shuffled join when
    * clients outgrow executor memory at scale — a forced hint would OOM
    * at 100× (clients is 1 M rows at reference scale, unbounded above). */
  def contractDim(clients: DataFrame, contracts: DataFrame): DataFrame =
    contracts.alias("k")
      .join(clients.alias("c"), col("k.client") === col("c.id"))
      .select(
        col("k.id").as("contract_id"), col("k.client").as("client"),
        col("k.nature").as("nature"), col("c.type").as("type"),
        col("c.geo").as("geo"), col("c.misc").as("misc"))

  /** J2 + A1–A6 + P3 + O1: the hypercube of the three inputs, as one
    * plan ([[packedPlan]]): the fact is joined against the denormalized
    * dim, shuffled ONCE by a monotone bucket of the packed group key,
    * each partition is sorted by (group, time, client‖contract), and one
    * streaming pass folds each (group, time) run into its cube row.
    * Sorted keys make both exact distinct counts change counts — no
    * `Expand`, no hash map.
    *
    * Empty groups never materialize (the reference needs its `!= 0`
    * filter only because its dense array pre-materializes all 3.1 M
    * slots, `ETL.java:265`). The amount is summed with `SUM`'s types
    * (float → double, DECIMAL(p, s) exact → DECIMAL(min(38, p + 10), s)).
    *
    * Accepted inputs — bounded dimensions, as the reference's dense
    * array assumes (`ETL.java:33-35`): integral geo, type, misc, nature,
    * client and contract keys, of any sign and with NULLs, whose spans
    * pack into two longs (geo‖type‖misc‖nature and client‖contract, 62
    * bits each); integral `time` and `consumption`; a float, double or
    * DECIMAL amount. Anything else throws an `IllegalArgumentException`
    * that names the column.
    *
    * One statistics row over the dim ([[dimStats]]: key mins and maxes,
    * row count, non-null counts) makes both plan decisions:
    *   - broadcast: the dim is hinted as the broadcast side when its exact
    *     size, rows × `EstimationUtils.getSizePerRow`, is within
    *     `spark.sql.autoBroadcastJoinThreshold` — Spark's own rule, fed the
    *     exact row count instead of the CSV scans' row-product estimate
    *     (which would plan a sort-merge join and a full fact shuffle);
    *     otherwise the join stays shuffled;
    *   - packing: the bit width of each key ([[packedPlan]]).
    *
    * Output contract — ordered partitions: the cube comes out split into
    * partitions that are each sorted by (geo, type, misc, nature, time),
    * NULLs first, and hold disjoint, ascending key ranges, so reading the
    * partitions in index order (`collect()`, the part files of
    * [[writeCsv]]) yields the reference's total order
    * (`ETL.java:259-264`), with no sampling pass. The cube's column types
    * follow from the input types alone; a dim column is nullable in the
    * cube exactly when it holds a NULL. */
  def hypercube(clients: DataFrame, contracts: DataFrame, invoices: DataFrame): DataFrame = {
    val dim = contractDim(clients, contracts)
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
    (Keys.map(dim.schema(_)) ++ Seq("time", "consumption").map(invoices.schema(_))).foreach(f =>
      require(integral(f.dataType), s"hypercube column ${f.name} is ${f.dataType.sql}, not integral"))
    // SUM's result type: a float sums in double, widened per row
    val amountT = invoices.schema("amount").dataType match {
      case FloatType | DoubleType => DoubleType
      case d: DecimalType => DecimalType(math.min(DecimalType.MAX_PRECISION, d.precision + 10), d.scale)
      case t => throw new IllegalArgumentException(
        s"hypercube column amount is ${t.sql}, not FLOAT, DOUBLE or DECIMAL")
    }
    val stats = dimStatsCached(dim)
    val dimBytes = EstimationUtils.getSizePerRow(dim.queryExecution.analyzed.output) * stats.getLong(12)
    val dimSide =
      if (dimBytes <= dim.sparkSession.sessionState.conf.autoBroadcastJoinThreshold) broadcast(dim)
      else dim
    val joined = invoices
      .join(dimSide, col("contract") === dimSide("contract_id"))
      .select(col("geo"), col("type"), col("misc"), col("nature"), col("time"),
        col("client"), col("contract_id"), col("consumption"), col("amount").as("amt"))
    packedPlan(stats, joined, amountT)
  }

  /** The dim's key columns, in the order of the statistics row. */
  private val Keys = Seq("geo", "type", "misc", "nature", "client", "contract_id")

  /** Driver-side memo of the dim-statistics row — the stats job is
    * deterministic for a given input, and callers (bench loops, retries)
    * rebuild the same plan many times. Same spirit as Spark's own
    * file-index/footer caches. The key includes the dim's RESOLVED INPUT
    * FILES, not just the canonicalized plan: canonicalization strips
    * file paths (two same-schema CSV scans of different folders render
    * identically), so a plan-only key would silently reuse one dataset's
    * min/max for another and mis-size the packed key bit widths. Plans
    * with no resolvable input files are not cached at all. */
  private val dimStatsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Row]()

  private def dimStatsCached(dim: DataFrame): Row = {
    val files = dim.inputFiles
    if (files.isEmpty) dimStats(dim)
    else try {
      // key on (path, length, mtime), not path alone: a CSV regenerated
      // IN PLACE within one long-lived session must not serve the old
      // min/max — stale maxes would mis-size the packed-key bit widths
      // and silently corrupt the aggregation
      val hconf = dim.sparkSession.sparkContext.hadoopConfiguration
      val sig = files.sorted.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        val st = p.getFileSystem(hconf).getFileStatus(p)
        s"$f:${st.getLen}:${st.getModificationTime}"
      }.mkString("\n")
      dimStatsCache.computeIfAbsent(
        sig + "\n" + dim.queryExecution.analyzed.canonicalized.toString,
        _ => dimStats(dim))
    } catch {
      // a file vanished between planning and signing — skip the cache
      case _: java.io.IOException => dimStats(dim)
    }
  }

  /** The one-off statistics aggregate over the dim table, per [[Keys]]
    * column: maxes (0–5), mins (6–11), then the row count (12) and the
    * non-null counts (13–18). */
  private def dimStats(dim: DataFrame): Row = {
    val keys = Keys.map(col)
    dim.agg(max(keys.head), keys.tail.map(max) ++ keys.map(min) ++ (count(lit(1)) +: keys.map(count)): _*)
      .head()
  }

  /** The plan of [[hypercube]]. The grouping keys are packed into single
    * longs:
    *
    *   - `g`  = geo‖type‖misc‖nature, power-of-two strides (pure
    *     shifts/ors — no overflow, order-preserving, bijective);
    *   - `cc` = client‖contract, so `cc >>>` the contract bit width is
    *     the client, and ordering by `cc` orders by client first.
    *
    * Each key is packed as its slot: 1 + its offset from the key's
    * minimum, with slot 0 for NULL — so NULL sorts first, as
    * `NULLS FIRST` does, and is a group of its own. On the reference's
    * domain (keys ≥ 1, `README.md:14-37`) a key's slot is its value. The
    * minimums, spans and NULLs come from the dim statistics row `s`
    * ([[dimStats]]) — the same cheap pass over the dims any cost-based
    * planner runs; an empty dim's NULL min and max read as 0. `time`
    * stays unpacked, so fact-side values are unconstrained.
    *
    * One exchange, one sort and one pass: the joined fact is shuffled
    * by a monotone bucket of `g` (below), each partition is sorted by
    * (g, time, cc), and one `mapPartitions` pass ([[CubeStream]]) folds
    * every (g, time) run into its cube row. With the keys sorted, both
    * distinct counts are change counts — contracts are the changes of
    * `cc`, clients the changes of `cc >>> bContract` — as in the
    * reference's sorted distinct passes, so no hash map is built.
    *
    * Ordering without sampling: the same statistics bound every `g` to
    * `[lo, hi]` (the packed lowest and highest slots), so
    * `pid = (g - lo) div w` with `w = (hi - lo) / parts + 1` is a
    * monotone bucket of `g` in `[0, parts)`,
    * `parts` = `spark.sql.shuffle.partitions` — long arithmetic on values
    * below 2^62, no overflow. Partition `i` thus holds the `i`-th key
    * range, sorted: the ordered partitions of [[hypercube]] come straight
    * out of the pass. The buckets are equal width in `g`, so skew in `g`
    * is skew in the fact's partitions, and AQE does not split a
    * `repartitionById` partition. */
  private def packedPlan(s: Row, joined: DataFrame, amountT: DataType): DataFrame = {
    def long(i: Int): Long = if (s.isNullAt(i)) 0L else s.get(i).asInstanceOf[Number].longValue
    val nulls = Keys.indices.map(i => s.getLong(13 + i) < s.getLong(12))
    val mins = Keys.indices.map(i => long(6 + i))
    val spans = Keys.indices.map(i => BigInt(long(i)) - mins(i) + 1) // the highest slot
    val bits = spans.map(_.bitLength)
    for (ks <- Seq(0 to 3, 4 to 5))
      require(ks.map(bits).sum <= 62, s"hypercube columns ${ks.map(Keys).mkString(", ")} span " +
        s"${ks.map(spans).mkString(", ")}: ${ks.map(bits).sum} bits, over the 62 of a packed key")
    val Seq(_, bType, bMisc, bNature, _, bContract) = bits
    val shifts = Seq(bType + bMisc + bNature, bMisc + bNature, bNature, 0)

    def slot(i: Int): Column = {
      val slot = col(Keys(i)).cast("long") - lit(mins(i)) + 1
      if (nulls(i)) coalesce(slot, lit(0L)) else slot
    }
    def unslot(i: Int, slot: Column): Column = {
      val value = slot - 1 + lit(mins(i))
      (if (nulls(i)) when(slot > 0, value) else value).cast(joined.schema(Keys(i)).dataType).as(Keys(i))
    }
    val g = (0 to 3).map(i => shiftleft(slot(i), shifts(i))).reduce(_ bitwiseOR _)
    val cc = shiftleft(slot(4), bContract).bitwiseOR(slot(5))
    def pack(slots: Int => Long): Long = (0 to 3).map(i => slots(i) << shifts(i)).reduce(_ | _)
    val lo = pack(i => if (nulls(i)) 0L else 1L)
    val hi = pack(spans(_).toLong)
    val conf = joined.sparkSession.sessionState.conf
    val parts = conf.numShufflePartitions
    val cube = StructType(Seq(
      StructField("g", LongType, nullable = false),
      StructField("time", joined.schema("time").dataType),
      StructField("consumption", LongType),
      StructField("amount", amountT),
      StructField("nclients", LongType, nullable = false),
      StructField("ncontrats", LongType, nullable = false),
      StructField("ninvoices", LongType, nullable = false)))
    joined
      .select(g.as("g"), col("time"), cc.as("cc"), col("consumption").cast("long").as("consumption"),
        (if (amountT == DoubleType) col("amt").cast(DoubleType) else col("amt")).as("amt"))
      .repartitionById(parts, call_function("div", col("g") - lit(lo), lit((hi - lo) / parts + 1)).cast("int"))
      .sortWithinPartitions("g", "time", "cc") // order-preserving packing ⇒ same order as the 5 dims
      .mapPartitions(new CubeStream(bContract, amountT, conf.ansiEnabled))(Encoders.row(cube))
      .select((0 to 3).map(i => unslot(i,
          shiftright(col("g"), shifts(i)).bitwiseAND(lit((1L << bits(i)) - 1)))) ++
        Seq("time", "consumption", "amount", "nclients", "ncontrats", "ninvoices").map(col): _*)
  }

  /** The pass of [[packedPlan]] over one partition of (g, time, cc,
    * consumption, amt) rows sorted by (g, time, cc): one cube row
    * (g, time, consumption, amount, nclients, ncontrats, ninvoices) per
    * (g, time) run, with SQL `SUM` semantics — NULL measures are
    * skipped and an all-NULL run sums to NULL; the long sum overflows
    * as `SUM` does under the session's ANSI setting (throws, or wraps);
    * a `DECIMAL(p, s)` amount sums exactly and, like `SUM`'s
    * `DECIMAL(min(38, p + 10), s)` result, throws (ANSI) or gives NULL
    * when the total does not fit `amountT`. A NULL `time` is a key like
    * any other: it sorts first and forms its own run. */
  private final class CubeStream(bContract: Int, amountT: DataType, ansi: Boolean)
      extends (Iterator[Row] => Iterator[Row]) with Serializable {
    private val decimal = amountT.isInstanceOf[DecimalType]
    private val precision = amountT match {
      case d: DecimalType => d.precision
      case _ => 0
    }

    def apply(rows: Iterator[Row]): Iterator[Row] = new Iterator[Row] {
      private val in = rows.buffered
      def hasNext: Boolean = in.hasNext
      def next(): Row = {
        val g = in.head.getLong(0)
        val time = in.head.get(1)
        var cons = 0L
        var dbl = 0.0
        var dec: java.math.BigDecimal = null
        var anyCons, anyAmt = false
        var nclients, ncontrats, ninvoices = 0L
        var lastCc, lastClient = -1L // cc >= 0
        while (in.hasNext && in.head.getLong(0) == g && in.head.get(1) == time) {
          val r = in.next()
          ninvoices += 1
          val cc = r.getLong(2)
          if (cc != lastCc) {
            ncontrats += 1
            lastCc = cc
            if ((cc >>> bContract) != lastClient) {
              nclients += 1
              lastClient = cc >>> bContract
            }
          }
          if (!r.isNullAt(3)) {
            cons = if (ansi) Math.addExact(cons, r.getLong(3)) else cons + r.getLong(3)
            anyCons = true
          }
          if (!r.isNullAt(4)) {
            if (!decimal) dbl += r.getDouble(4)
            else dec = if (dec == null) r.getDecimal(4) else dec.add(r.getDecimal(4))
            anyAmt = true
          }
        }
        val amount =
          if (!anyAmt) null
          else if (!decimal) dbl
          else if (dec.precision <= precision) dec
          else if (ansi) throw new ArithmeticException(s"sum $dec overflows $amountT")
          else null
        Row(g, time, if (anyCons) cons else null, amount, nclients, ncontrats, ninvoices)
      }
    }
  }

  /** End-to-end over a reference-layout data folder (`clients.csv`,
    * `contracts.csv`, `invoices.bin` — reference `ETL.java:292-294`). */
  def fromFolder(spark: SparkSession, dataFolder: String): DataFrame =
    hypercube(
      clients(spark, s"$dataFolder/clients.csv"),
      contracts(spark, s"$dataFolder/contracts.csv"),
      invoices(spark, s"$dataFolder/invoices.bin"))

  private val referenceDirVar = new DynamicVariable(new java.io.File(sys.env.getOrElse(
    "SPARK_GRAFT_REFERENCE_DIR", s"${sys.props("user.home")}/reference/data-sample")).getAbsolutePath)

  /** Folder of the reference's `data-sample` (`clients.csv`,
    * `contracts.csv`, `invoices.bin`, `invoices.csv`), which the golden
    * tests and the q10/q11/q63 entries read. It is one setting,
    * `SPARK_GRAFT_REFERENCE_DIR`, by default `~/reference/data-sample`;
    * the folder is not part of the repository. Within
    * [[withReferenceDir]] the current thread (and threads it starts)
    * reads another folder of the same layout instead; only the catalog
    * smoke and plan specs use that override, on hosts without the
    * sample. Absolute, because the oracle SQL embeds it and DuckDB runs
    * from another working directory. Not checked — [[referenceSample]]
    * is. */
  def referenceDir: String = referenceDirVar.value

  /** Runs `body` with [[referenceDir]] set to `dir` (made absolute):
    * the test-only scoped override of the one setting. */
  private[graft] def withReferenceDir[T](dir: String)(body: => T): T =
    referenceDirVar.withValue(new java.io.File(dir).getAbsolutePath)(body)

  /** [[referenceDir]], failing with one clear message when it is
    * missing, so every reader of the sample names the setting to fix. */
  def referenceSample(): String = {
    if (!new java.io.File(referenceDir).isDirectory)
      throw new java.io.FileNotFoundException(
        s"reference sample missing at $referenceDir (set SPARK_GRAFT_REFERENCE_DIR)")
    referenceDir
  }

  /** Staged-fingerprint oracle root for q10/q11 (round-14 upgrade —
    * the q110 convention, applied to the binary fact): DuckDB cannot
    * read the 16-byte big-endian format, but the DSv2 decode is
    * deterministic and independently golden-gated (58,176 records,
    * FIXTURES totals — `ReferenceParitySpec`), so the decoded fact is
    * staged once as parquet and the oracle recomputes the ENTIRE
    * downstream pipeline from it: q10's totals and q11's full
    * 34k-group hypercube become driver-checked hash compares. The
    * float32 amounts are converted to exact DECIMAL once, at stage
    * time (Spark's deterministic float→decimal), so both engines
    * aggregate bit-identical values — the q63 decimal-differential
    * convention; the reference's float→double accumulation contract
    * stays golden-gated on the `fromFolder`/EtlMain path. */
  @volatile private[graft] var binOracleRoot: Option[String] = None

  /** The stage of [[invoicesStaged]]: keyed by [[referenceSample]]'s `invoices.bin`. */
  private[graft] def invoicesStageKey: Staging.Key =
    Staging.Key("reference/invbin", Seq(s"${referenceSample()}/invoices.bin"))

  /** Write-once staged decode of the reference's `invoices.bin`
    * (contract, time, amount DECIMAL(20,10), consumption). */
  private[graft] def invoicesStaged(spark: SparkSession): String = {
    val key = invoicesStageKey
    Staging.stage(spark, key) { tmp =>
      invoices(spark, key.inputs.head)
        .select(col("contract"), col("time"),
          col("amount").cast(DecimalType(20, 10)).as("amount"),
          col("consumption"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/fact")
    }
  }

  /** S4: the cube's CSV, with the reference's header, row order and
    * amount rendering (reference `ETL.java:254-270`), for a cube with
    * ordered partitions (see [[hypercube]]). An existing `outPath` is
    * replaced.
    *
    * Rendering: the header is the cube's column names; an integral cell
    * is its decimal digits, a DOUBLE or DECIMAL cell is an amount
    * ([[amountString]]), and a NULL is an empty cell, as in Spark's CSV
    * writer. A column of any other type is rejected with an
    * `IllegalArgumentException` that names it.
    *
    * Each partition of the cube is rendered by its own task, which
    * writes the partition's rows (headed when `singleFile = false`) to
    * `outPath/_parts/part-<index>-<task attempt id>.csv` through the
    * Hadoop `FileSystem` and returns the partition index and the file's
    * path; an empty partition writes no file. The driver reads only the
    * paths the successful tasks returned, so a failed or retried
    * attempt's file is never read. Then:
    *   - `singleFile = true` reproduces the reference's one ordered file:
    *     the driver writes `outPath/part-00000.csv` as the header and the
    *     parts in index order. The copy is bounded by the cube's size (at
    *     most 3,121,200 rows, `ETL.java:33-35`), not by the fact's;
    *   - `singleFile = false` renames each part to
    *     `outPath/part-<index>.csv`, index zero-padded to 5 digits; the
    *     rows are totally ordered across the files taken in name order.
    *     A cube with no rows writes no part file.
    * `_SUCCESS` is written last, and `_parts` is deleted in every case.
    *
    * The cube runs as its own query under
    * `SQLExecution.withNewExecutionId`, as a Dataset action does, so the
    * session's `QueryExecutionListener`s see the cube's executed plan.
    * Spark's CSV writer is not used: on a 1/64-scale reference folder
    * (4 vCPUs), its `FileFormatWriter` and `FileOutputCommitter` cost
    * about 0.2 s per job on their own (a 12-row, 12-partition
    * `write.text` took 0.25 s against 0.04 s to `noop`), and the amount
    * projection and Univocity's per-cell `String` formatting another
    * 0.3-0.45 s on ~540k cube rows, where rendering the rows by hand
    * costs 0.15-0.25 s. */
  def writeCsv(cube: DataFrame, outPath: String, singleFile: Boolean = true): Unit = {
    val cells = cube.schema.fields.map(cellWriter)
    val header = cube.columns.mkString("", ",", "\n")
    val hadoopConf = cube.sparkSession.sparkContext.hadoopConfiguration
    val conf = new SerializableConfiguration(hadoopConf)
    val out = new Path(outPath)
    val fs = out.getFileSystem(hadoopConf)
    val tmp = new Path(out, "_parts")
    fs.delete(out, true)
    try {
      val qe = cube.queryExecution
      val parts = SQLExecution.withNewExecutionId(qe, Some("writeCsv")) {
        qe.toRdd.mapPartitionsWithIndex { (index, rows) =>
          if (!rows.hasNext) Iterator.empty
          else {
            val path = new Path(tmp, s"part-$index-${TaskContext.get().taskAttemptId()}.csv")
            val os = path.getFileSystem(conf.value).create(path, false)
            try {
              // rows are appended to one buffer, written out in ~64 KB chunks
              val sb = new java.lang.StringBuilder(1 << 17)
              if (!singleFile) sb.append(header)
              rows.foreach { row =>
                var i = 0
                while (i < cells.length) {
                  if (i > 0) sb.append(',')
                  if (!row.isNullAt(i)) cells(i)(sb, row, i)
                  i += 1
                }
                sb.append('\n')
                if (sb.length >= (1 << 16)) {
                  os.write(sb.toString.getBytes(StandardCharsets.UTF_8))
                  sb.setLength(0)
                }
              }
              os.write(sb.toString.getBytes(StandardCharsets.UTF_8))
            } finally os.close()
            Iterator((index, path.toString))
          }
        }.collect().sortBy(_._1)
      }
      if (singleFile) {
        val sink = fs.create(new Path(out, "part-00000.csv"))
        try {
          sink.write(header.getBytes(StandardCharsets.UTF_8))
          parts.foreach { case (_, p) =>
            val in = fs.open(new Path(p))
            try IOUtils.copyBytes(in, sink, 1 << 20, false) finally in.close()
          }
        } finally sink.close()
      } else parts.foreach { case (index, p) =>
        val dest = new Path(out, f"part-$index%05d.csv")
        if (!fs.rename(new Path(p), dest)) throw new java.io.IOException(s"could not rename $p to $dest")
      }
      // written last: marks the output complete
      fs.create(new Path(out, "_SUCCESS")).close()
    } finally fs.delete(tmp, true)
  }

  /** Appends the CSV cell of column `f` of a row, for [[writeCsv]]. */
  private def cellWriter(f: StructField): (java.lang.StringBuilder, InternalRow, Int) => Unit =
    f.dataType match {
      case ByteType => (sb, r, i) => sb.append(r.getByte(i).toInt)
      case ShortType => (sb, r, i) => sb.append(r.getShort(i).toInt)
      case IntegerType => (sb, r, i) => sb.append(r.getInt(i))
      case LongType => (sb, r, i) => sb.append(r.getLong(i))
      case DoubleType => (sb, r, i) => sb.append(amountString(r.getDouble(i)))
      case d: DecimalType =>
        (sb, r, i) => sb.append(amountString(r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal))
      case t => throw new IllegalArgumentException(
        s"writeCsv column ${f.name} is ${t.sql}, not integral, DOUBLE or DECIMAL")
    }

  /** Reference-exact `#.00` amount rendering (`ETL.java:255,266`):
    * half-up to 2 decimals, no leading zero before the point (`.50`,
    * `-.50`, `.00` — `DecimalFormat("#.00")` drops it), locale-stable
    * (the reference's `DecimalFormat` would print `,` under a French
    * default locale; we always print `.`).
    *
    * A double `x` is rounded as Spark's `round(x, 2)` rounds it:
    * `BigDecimal.valueOf(x)`, half-up to 2 places. Below 1e12 in
    * magnitude the rounded value's digits are printed, after a `-` when
    * it is negative. This equals `String.format("%.2f", …)` of the
    * rounded double `r`: `r` is the double nearest its 2-decimal value
    * `X` and its ulp is below 0.0002, so any digit string of it rounds
    * half-up to `X` again. NaN, the infinities and larger doubles, where
    * `String.format`'s digits decide, print as
    * `String.format(Locale.US, "%.2f", r)` (which has no leading zero to
    * drop there).
    *
    * Most amounts skip the `BigDecimal`: when `y = |x|·100 < 2^30`, `y`
    * is within 2^-24 of the exact `100·|x|`, which is within
    * 100·ulp(x)/2 < 1e-7 of 100 times `valueOf(x)`'s digits, so a `y`
    * whose fraction is more than 1e-6 from a half rounds to the same
    * cents as those digits do. */
  private[graft] def amountString(x: Double): String = {
    val y = Math.abs(x) * 100
    val f = Math.floor(y)
    if (y < (1 << 30) && Math.abs(y - f - 0.5) > 1e-6) {
      val cents = f.toLong + (if (y - f > 0.5) 1 else 0)
      val sb = new java.lang.StringBuilder(16)
      if (x < 0 && cents > 0) sb.append('-')
      if (cents >= 100) sb.append(cents / 100)
      sb.append('.').append((cents % 100 / 10).toInt).append((cents % 10).toInt).toString
    } else if (x.isNaN || x.isInfinite) String.format(Locale.US, "%.2f", x)
    else {
      val r = java.math.BigDecimal.valueOf(x).setScale(2, RoundingMode.HALF_UP)
      if (r.abs.compareTo(Trillion) < 0) digits(r) else String.format(Locale.US, "%.2f", r.doubleValue)
    }
  }

  /** A DECIMAL amount, at every magnitude: half-up to 2 places, then
    * its digits. */
  private[graft] def amountString(d: java.math.BigDecimal): String =
    digits(d.setScale(2, RoundingMode.HALF_UP))

  private val Trillion = java.math.BigDecimal.valueOf(1000000000000L)

  /** `r`'s plain digits without leading zeros, after a `-` when negative. */
  private def digits(r: java.math.BigDecimal): String = {
    val s = r.abs.toPlainString
    var k = 0
    while (s.charAt(k) == '0') k += 1
    if (r.signum < 0) "-" + s.substring(k) else s.substring(k)
  }
}
