package graft.sources

import java.io.{ObjectInputStream, ObjectOutputStream}
import java.util.OptionalLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.{FilePartition, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 implementation of the fixed-width big-endian binary
  * source (layout DSL shared with [[FixedWidthBinary]]).
  *
  * What V2 buys over the `binaryRecords` RDD path:
  *   - **splits + statistics reported to Catalyst**: record-aligned input
  *     partitions sized by Spark's own file-source rule ([[splitBytes]]),
  *     so a file fans out over every core like a parquet or CSV scan of
  *     the same bytes would, and exact `sizeInBytes` / `numRows`
  *     estimates (`SupportsReportStatistics`) so join-strategy and AQE
  *     decisions see real numbers instead of defaults;
  *   - **column pruning pushdown** (`SupportsPushDownRequiredColumns`):
  *     un-projected fields are never decoded — the byte offsets are
  *     skipped, mirroring the reference's positional pruning
  *     (reference `ETL.java:101-105,147`);
  *   - **zero per-record allocation**: the reader decodes straight into a
  *     reused `UnsafeRowWriter` buffer — the RDD path allocated a
  *     `byte[]` plus a case-class instance per record and paid an
  *     encoder pass (measured ~2× slower at 57.6 M records).
  *
  * Usage: `spark.read.format(classOf[FixedWidthBinaryV2].getName)
  * .option("layout", "skip:4,i32:contract,i8:time,f32:amount,i16:consumption,skip:1")
  * .load(path)`. An explicit `.option("targetSplitBytes", n)` replaces the
  * split rule with `n` bytes (rounded down to whole records).
  */
class FixedWidthBinaryV2 extends TableProvider {
  import FixedWidthBinaryV2._

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FixedWidthBinary.schema(parseLayout(layoutOf(options)))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    // The record layout, not the caller, is the source of truth for
    // types: the reader writes layout-typed values into fixed UnsafeRow
    // slots, so silently trusting a mismatched user schema (say DOUBLE
    // declared over an f32 field) would decode garbage with no error.
    // A user-supplied schema is accepted only if it matches the layout.
    val opts = new CaseInsensitiveStringMap(properties)
    val layoutSchema = FixedWidthBinary.schema(parseLayout(layoutOf(opts)))
    require(schema == null || schema == layoutSchema,
      s"user-specified schema $schema does not match the layout schema $layoutSchema")
    new FwbTable(opts)
  }
}

object FixedWidthBinaryV2 {
  import FixedWidthBinary._

  /** Serialize a layout to the option-string DSL. */
  def layoutString(layout: Seq[Field]): String = layout.map {
    case I8(n) => s"i8:$n"
    case I16(n) => s"i16:$n"
    case I32(n) => s"i32:$n"
    case I64(n) => s"i64:$n"
    case F32(n) => s"f32:$n"
    case F64(n) => s"f64:$n"
    case Chars(n, w) => s"chars:$n:$w"
    case Skip(w) => s"skip:$w"
  }.mkString(",")

  def parseLayout(s: String): Seq[Field] =
    s.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { tok =>
      tok.split(":").toSeq match {
        case Seq("i8", n) => I8(n)
        case Seq("i16", n) => I16(n)
        case Seq("i32", n) => I32(n)
        case Seq("i64", n) => I64(n)
        case Seq("f32", n) => F32(n)
        case Seq("f64", n) => F64(n)
        case Seq("chars", n, w) => Chars(n, w.toInt)
        case Seq("skip", w) => Skip(w.toInt)
        case _ => throw new IllegalArgumentException(s"bad layout token: $tok")
      }
    }

  private def layoutOf(options: CaseInsensitiveStringMap): String = {
    val l = options.get("layout")
    require(l != null, "fixed-width binary source requires a 'layout' option")
    l
  }

  /** Minimal serializable Hadoop-conf carrier (the task needs the
    * driver's filesystem configuration to open the split). */
  final class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {
    private def writeObject(out: ObjectOutputStream): Unit = { out.defaultWriteObject(); value.write(out) }
    private def readObject(in: ObjectInputStream): Unit = {
      in.defaultReadObject(); value = new Configuration(false); value.readFields(in)
    }
  }

  /** One decoded field: output ordinal ← (byte offset within the record,
    * type tag, width for chars). */
  private final case class FieldPlan(offset: Int, tag: Byte, width: Int)
  private val TInt8 = 0.toByte; private val TInt16 = 1.toByte; private val TInt32 = 2.toByte
  private val TInt64 = 3.toByte; private val TFloat = 4.toByte; private val TDouble = 5.toByte
  private val TChars = 6.toByte

  /** Byte offset and plan for every named column of a layout. */
  private def fieldPlans(layout: Seq[Field]): Map[String, FieldPlan] = {
    var off = 0
    val out = Map.newBuilder[String, FieldPlan]
    layout.foreach { f =>
      f match {
        case c: Col =>
          val tag = c match {
            case _: I8 => TInt8
            case _: I16 => TInt16
            case _: I32 => TInt32
            case _: I64 => TInt64
            case _: F32 => TFloat
            case _: F64 => TDouble
            case _: Chars => TChars
          }
          out += c.name -> FieldPlan(off, tag, f.width)
        case _: Skip => ()
      }
      off += f.width
    }
    out.result()
  }

  /** The one file a scan reads. Fails loudly on a directory: its inode
    * "length" is meaningless and would silently plan an empty/garbage scan
    * (globs never resolve to a status and already throw). Multi-file
    * layouts would need a listing + per-file partition planning — a
    * contract widening, not a silent fallback. */
  private def fileStatus(spark: SparkSession, path: String): FileStatus = {
    val p = new Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    require(st.isFile,
      s"FixedWidthBinaryV2 reads a single record-aligned file; $path is a directory")
    st
  }

  /** Bytes per split a scan of `path` (records of `recLen` bytes) plans
    * when no `targetSplitBytes` option is given: Spark's own file-source
    * rule (`FilePartition.maxSplitBytes`), `min(files.maxPartitionBytes,
    * max(files.openCostInBytes, (bytes + openCost) / parallelism))` with
    * parallelism = `files.minPartitionNum`, else the leaf-node default
    * parallelism — rounded down to whole records, at least one. A file
    * larger than `openCost × parallelism` thus gets at least one split
    * per core, and no split exceeds `maxPartitionBytes`. */
  def splitBytes(spark: SparkSession, path: String, recLen: Int): Long = {
    val dir = PartitionDirectory(InternalRow.empty,
      Seq(FileStatusWithMetadata(fileStatus(spark, path))))
    math.max(1L, FilePartition.maxSplitBytes(spark, Seq(dir)) / recLen) * recLen
  }

  private final class FwbTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
    val layout: Seq[Field] = parseLayout(layoutOf(options))
    val path: String = {
      val p = options.get("path")
      require(p != null, "fixed-width binary source requires a path")
      p
    }
    override def name(): String = s"fixed_width_binary($path)"
    override def schema(): StructType = FixedWidthBinary.schema(layout)
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
      new FwbScanBuilder(this, o)
  }

  private final class FwbScanBuilder(table: FwbTable, options: CaseInsensitiveStringMap)
      extends ScanBuilder with SupportsPushDownRequiredColumns {
    private var required: StructType = table.schema()
    override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
    override def build(): Scan = {
      val explicit = Option(options.get("targetSplitBytes")).map(b => math.max(1L, b.toLong))
      new FwbScan(table, required, explicit)
    }
  }

  private final case class FwbPartition(path: String, startByte: Long, numRecords: Long)
      extends InputPartition

  private final class FwbScan(table: FwbTable, required: StructType,
      targetSplitBytes: Option[Long]) extends Scan with Batch with SupportsReportStatistics {
    private val recLen = recordLength(table.layout)
    private lazy val fileLen: Long = fileStatus(SparkSession.active, table.path).getLen
    private def totalRecords: Long = fileLen / recLen // trailing partial record dropped

    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def description(): String = s"FixedWidthBinaryV2 ${table.name()}"

    override def estimateStatistics(): Statistics = new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(fileLen)
      override def numRows(): OptionalLong = OptionalLong.of(totalRecords)
    }

    override def planInputPartitions(): Array[InputPartition] = {
      val total = totalRecords
      val recsPerSplit = math.max(1L, targetSplitBytes.getOrElse(
        splitBytes(SparkSession.active, table.path, recLen)) / recLen)
      val nSplits64 = (total + recsPerSplit - 1) / recsPerSplit
      // a silent .toInt wrap (huge file + tiny targetSplitBytes) would
      // plan a negative/empty split range and read NOTHING — fail loudly
      require(nSplits64 <= Int.MaxValue,
        s"$nSplits64 splits of $recsPerSplit records exceed Int range; raise targetSplitBytes")
      val nSplits = nSplits64.toInt
      (0 until nSplits).map { i =>
        val startRec = i * recsPerSplit
        val n = math.min(recsPerSplit, total - startRec)
        FwbPartition(table.path, startRec * recLen, n): InputPartition
      }.toArray
    }

    override def createReaderFactory(): PartitionReaderFactory = {
      val conf = new SerializableHadoopConf(
        SparkSession.active.sparkContext.hadoopConfiguration)
      val plans = fieldPlans(table.layout)
      val req = required.fields.map(f =>
        plans.getOrElse(f.name,
          throw new IllegalArgumentException(s"column ${f.name} not in layout")))
      new FwbReaderFactory(recLen, req, conf)
    }
  }

  private final class FwbReaderFactory(recLen: Int, required: Array[FieldPlan],
      conf: SerializableHadoopConf) extends PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val p = partition.asInstanceOf[FwbPartition]
      new FwbReader(p, recLen, required, conf.value)
    }
  }

  /** Streams one record-aligned split, decoding straight into a reused
    * UnsafeRow — no per-record allocation. */
  private final class FwbReader(p: FwbPartition, recLen: Int,
      required: Array[FieldPlan], conf: Configuration)
      extends PartitionReader[InternalRow] {
    private val stream = {
      val path = new Path(p.path)
      val in = path.getFileSystem(conf).open(path)
      in.seek(p.startByte)
      new java.io.DataInputStream(new java.io.BufferedInputStream(in, 1 << 20))
    }
    private val recBuf = new Array[Byte](recLen)
    private val bb = java.nio.ByteBuffer.wrap(recBuf) // big-endian by default
    private val writer = new UnsafeRowWriter(required.length)
    private var remaining = p.numRecords
    writer.resetRowWriter()

    override def next(): Boolean =
      if (remaining <= 0) false
      else {
        stream.readFully(recBuf)
        writer.reset()
        writer.zeroOutNullBytes()
        var i = 0
        while (i < required.length) {
          val f = required(i)
          f.tag match {
            case TInt8 => writer.write(i, bb.get(f.offset).toInt)
            case TInt16 => writer.write(i, bb.getShort(f.offset).toInt)
            case TInt32 => writer.write(i, bb.getInt(f.offset))
            case TInt64 => writer.write(i, bb.getLong(f.offset))
            case TFloat => writer.write(i, bb.getFloat(f.offset))
            case TDouble => writer.write(i, bb.getDouble(f.offset))
            case TChars =>
              var end = f.offset + f.width
              while (end > f.offset && recBuf(end - 1) == 0) end -= 1 // strip trailing NULs
              writer.write(i, UTF8String.fromBytes(recBuf, f.offset, end - f.offset))
          }
          i += 1
        }
        remaining -= 1
        true
      }

    override def get(): InternalRow = writer.getRow
    override def close(): Unit = stream.close()
  }
}
