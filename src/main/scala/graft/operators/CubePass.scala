package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types._

/** How [[CubePass]] unpacks the group key `g` (see
  * [[ReferenceHypercube.hypercube]]): key `i` of geo, type, misc, nature
  * has the slot `(g >>> shifts(i)) & mask(bits(i))`; slot 0 is NULL when
  * the key's output column is nullable, and any other slot is the value
  * `slot - 1 + mins(i)`. `cc >>> bContract` is the client of a packed
  * client‖contract `cc`; `ansi` is the session's overflow rule for
  * `SUM`. The output columns' types say how each value is written. */
private[graft] final case class CubeLayout(
    mins: Seq[Long], shifts: Seq[Int], bits: Seq[Int], bContract: Int, ansi: Boolean)

/** The aggregating pass of the hypercube as a Catalyst operator: over
  * one partition of (g, time, cc, consumption, amt) rows sorted by
  * (g, cc), it writes the cube columns (geo, type, misc, nature, time,
  * consumption, amount, nclients, ncontrats, ninvoices) of each `g`, in
  * ascending time order (NULL first).
  *
  * The node makes every column of its `output` and reads every column
  * of its child, so it declares both: `producedAttributes` is its
  * output and `references` the child's output. Without the latter,
  * `ColumnPruning` under a `Project` on top of the cube would prune the
  * sorted columns away and hand the pass rows with no fields.
  *
  * Planned by [[CubePass.Strategy]], which [[graft.GraftExtensions]]
  * injects into every session built with
  * `spark.sql.extensions=graft.GraftExtensions`. */
private[graft] final case class CubePass(layout: CubeLayout, output: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode {
  override def producedAttributes: AttributeSet = outputSet
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): CubePass = copy(child = newChild)
}

/** The physical [[CubePass]]: `child.execute().mapPartitions` of the
  * fold, so partition `i` of the cube is partition `i` of the sort. */
private[graft] final case class CubePassExec(layout: CubeLayout, output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {
  override def producedAttributes: AttributeSet = outputSet

  override protected def doExecute(): RDD[InternalRow] = {
    val (layout, out, amt) = (this.layout, output, child.output(4).dataType)
    child.execute().mapPartitions(rows => new CubePass.Fold(layout, out, amt, rows))
  }

  override protected def withNewChildInternal(newChild: SparkPlan): CubePassExec = copy(child = newChild)
}

private[graft] object CubePass {

  /** Plans a [[CubePass]] as a [[CubePassExec]]. */
  object Strategy extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case p: CubePass => CubePassExec(p.layout, p.output, planLater(p.child)) :: Nil
      case _ => Nil
    }
  }

  /** One time's accumulators within a `g` run, reused from run to run. */
  private final class Acc {
    var time = 0L
    var slot = 0 // its entry in the time table
    var cons = 0L
    var dbl = 0.0
    var dec: java.math.BigDecimal = null
    var anyCons, anyAmt = false
    var nclients, ncontrats, ninvoices = 0L
    var lastCc, lastClient = -1L // cc >= 0

    def reset(t: Long, s: Int): Acc = {
      time = t; slot = s
      cons = 0L; dbl = 0.0; dec = null; anyCons = false; anyAmt = false
      nclients = 0L; ncontrats = 0L; ninvoices = 0L
      lastCc = -1L; lastClient = -1L
      this
    }
  }

  private val ByTime: java.util.Comparator[Acc] = (a, b) => java.lang.Long.compare(a.time, b.time)

  /** The fold of one partition of (g, time, cc, consumption, amt) rows
    * sorted by (g, cc): for each run of one `g` it keeps one [[Acc]] per
    * distinct time, found through an open-addressing table (NULL time
    * apart). Rows of one time arrive in `cc` order, so its contracts
    * are the changes of `cc` and its clients the changes of
    * `cc >>> bContract`. At the end of the run it emits the run's cube
    * rows in time order, through one reused `UnsafeRowWriter`. State is
    * the current `g`'s accumulators: at most 36 on the reference's
    * domain (`ETL.java:33-35`), in general that `g`'s cube rows.
    *
    * SQL `SUM` semantics: NULL measures are skipped and an all-NULL run
    * sums to NULL; the long sum overflows as `SUM` does under the
    * session's ANSI setting (throws, or wraps); a `DECIMAL(p, s)` amount
    * sums exactly and, like `SUM`'s `DECIMAL(min(38, p + 10), s)`
    * result, throws (ANSI) or gives NULL when the total does not fit
    * the amount column's type. */
  private[operators] final class Fold(layout: CubeLayout, output: Seq[Attribute], amtT: DataType,
      in: Iterator[InternalRow]) extends Iterator[InternalRow] {
    import layout._
    private val keyType = output.take(4).map(_.dataType).toArray
    private val keyNullable = output.take(4).map(_.nullable).toArray
    private val timeType = output(4).dataType
    private val min = mins.toArray
    private val shift = shifts.toArray
    private val mask = bits.map(b => (1L << b) - 1).toArray
    private val decimal = output(6).dataType match {
      case d: DecimalType => d
      case _ => null
    }
    private val amtIn = amtT match {
      case d: DecimalType => d
      case _ => null
    }
    private val out = new UnsafeRowWriter(10)

    private var g = 0L
    private var accs = new Array[Acc](16) // accs(0 until n): the run's non-NULL times
    private var n = 0
    private val nullAcc = new Acc
    private var hasNull = false
    private var table = new Array[Int](64) // acc index + 1 by time hash, 0 = free
    private var pending: InternalRow = null // the next run's first row, read but not folded
    private var emit, emitEnd = 0 // next and end index into accs; -1 is the NULL time's

    def hasNext: Boolean = emit < emitEnd || pending != null || in.hasNext

    def next(): InternalRow = {
      if (emit == emitEnd) fold()
      val a = if (emit < 0) nullAcc else accs(emit)
      emit += 1
      row(a)
    }

    /** Reads the next `g` run and orders its accumulators by time. The
      * input row is consumed before the input is advanced: the sorter
      * reuses it. */
    private def fold(): Unit = {
      var i = 0
      while (i < n) { table(accs(i).slot) = 0; i += 1 }
      n = 0
      hasNull = false
      var r = if (pending != null) pending else in.next()
      pending = null
      g = r.getLong(0)
      add(r)
      while (pending == null && in.hasNext) {
        r = in.next()
        if (r.getLong(0) == g) add(r) else pending = r
      }
      java.util.Arrays.sort(accs, 0, n, ByTime)
      emit = if (hasNull) -1 else 0
      emitEnd = n
    }

    private def add(r: InternalRow): Unit = {
      val a =
        if (!r.isNullAt(1)) acc(r.getLong(1))
        else {
          if (!hasNull) { nullAcc.reset(0L, -1); hasNull = true }
          nullAcc
        }
      a.ninvoices += 1
      val cc = r.getLong(2)
      if (cc != a.lastCc) {
        a.ncontrats += 1
        a.lastCc = cc
        if ((cc >>> bContract) != a.lastClient) {
          a.nclients += 1
          a.lastClient = cc >>> bContract
        }
      }
      if (!r.isNullAt(3)) {
        a.cons = if (ansi) Math.addExact(a.cons, r.getLong(3)) else a.cons + r.getLong(3)
        a.anyCons = true
      }
      if (!r.isNullAt(4)) {
        if (decimal == null) a.dbl += r.getDouble(4)
        else {
          val d = r.getDecimal(4, amtIn.precision, amtIn.scale).toJavaBigDecimal
          a.dec = if (a.dec == null) d else a.dec.add(d)
        }
        a.anyAmt = true
      }
    }

    private def hash(t: Long): Int = ((t * 0x9E3779B97F4A7C15L) >>> 32).toInt & (table.length - 1)

    /** The accumulator of the non-NULL time `t`, new when the run has not seen it. */
    private def acc(t: Long): Acc = {
      var s = hash(t)
      while (table(s) != 0) {
        val a = accs(table(s) - 1)
        if (a.time == t) return a
        s = (s + 1) & (table.length - 1)
      }
      if (n == accs.length) accs = java.util.Arrays.copyOf(accs, 2 * n)
      if (accs(n) == null) accs(n) = new Acc
      val a = accs(n).reset(t, s)
      n += 1
      table(s) = n
      if (2 * n > table.length) grow()
      a
    }

    private def grow(): Unit = {
      table = new Array[Int](2 * table.length)
      var i = 0
      while (i < n) {
        var s = hash(accs(i).time)
        while (table(s) != 0) s = (s + 1) & (table.length - 1)
        table(s) = i + 1
        accs(i).slot = s
        i += 1
      }
    }

    private def writeIntegral(i: Int, t: DataType, v: Long): Unit = t match {
      case ByteType => out.write(i, v.toByte)
      case ShortType => out.write(i, v.toShort)
      case IntegerType => out.write(i, v.toInt)
      case _ => out.write(i, v)
    }

    private def row(a: Acc): InternalRow = {
      out.reset()
      out.zeroOutNullBytes()
      var i = 0
      while (i < 4) {
        val slot = (g >>> shift(i)) & mask(i)
        if (keyNullable(i) && slot == 0) out.setNullAt(i) else writeIntegral(i, keyType(i), slot - 1 + min(i))
        i += 1
      }
      if (a eq nullAcc) out.setNullAt(4) else writeIntegral(4, timeType, a.time)
      if (a.anyCons) out.write(5, a.cons) else out.setNullAt(5)
      if (decimal == null) {
        if (a.anyAmt) out.write(6, a.dbl) else out.setNullAt(6)
      } else {
        val sum =
          if (!a.anyAmt) null
          else if (a.dec.precision <= decimal.precision) Decimal(a.dec)
          else if (ansi) throw new ArithmeticException(s"sum ${a.dec} overflows ${decimal.sql}")
          else null
        out.write(6, sum, decimal.precision, decimal.scale)
      }
      out.write(7, a.nclients)
      out.write(8, a.ncontrats)
      out.write(9, a.ninvoices)
      out.getRow
    }
  }
}
