package org.apache.spark.sql.graftkernel

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, BoundReference, Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{GroupedIterator, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._

import graft.ops.KernelGuard

/**
 * One group's rows as a per-group kernel sees them: sorted, copied out of
 * the input iterator, and read through the ordinals of the node's `reads`
 * (`k` below indexes `reads`, `i` the row). A kernel returns its output
 * rows through [[emit]], which lays each one out as the group row it
 * carries forward followed by the node's written columns; the exec
 * projects every emitted row before it pulls the next, so a kernel may
 * reuse its written row.
 */
final class GroupRows(rows: Array[InternalRow], ordinals: Array[Int],
                      types: Array[DataType]) {
  private val joined = new JoinedRow

  def length: Int = rows.length

  def isNullAt(k: Int, i: Int): Boolean = rows(i).isNullAt(ordinals(k))

  /** The read column `k` at row `i`, in its own Catalyst type. */
  def value(k: Int, i: Int): Any = rows(i).get(ordinals(k), types(k))

  /** The numeric read column `k` as doubles, `nullAs` at its nulls (NaN
    * by default: numpy semantics). */
  def doubles(k: Int, nullAs: Double = Double.NaN): Array[Double] = {
    val o = ordinals(k)
    val get: InternalRow => Double = types(k) match {
      case DoubleType     => _.getDouble(o)
      case FloatType      => _.getFloat(o).toDouble
      case LongType       => _.getLong(o).toDouble
      case IntegerType    => _.getInt(o).toDouble
      case ShortType      => _.getShort(o).toDouble
      case ByteType       => _.getByte(o).toDouble
      case d: DecimalType => _.getDecimal(o, d.precision, d.scale).toDouble
      case other => throw new IllegalArgumentException(s"non-numeric type $other")
    }
    val out = new Array[Double](rows.length)
    var i = 0
    while (i < rows.length) {
      out(i) = if (rows(i).isNullAt(o)) nullAs else get(rows(i))
      i += 1
    }
    out
  }

  /** One output row: group row `i`'s pass-through columns, then `written`
    * (the node's rewrites followed by its appends). */
  def emit(i: Int, written: InternalRow): InternalRow = joined(rows(i), written)
}

/**
 * Run `kernel` once per `key` group over the group's rows sorted by
 * `(key, order...)`, ascending with NULLS FIRST. `reads` are the columns
 * the kernel reads. `rewrites` are fresh attributes that replace `reads`
 * position for position (`rewrites(k)` replaces `reads(k)`); `appends` are
 * fresh attributes after them. With `keepRows` the output is the child's
 * columns, each rewritten one replaced in place, then the appends, one
 * output row per input row in input order; without it the output is the
 * key followed by the rewrites and the appends. Every column the kernel
 * does not write keeps the child's attribute, so the planner sees through
 * the node: column pruning reaches below it, and the exec reports the
 * child's partitioning (and, with `keepRows`, its ordering).
 */
case class GroupKernel(
    op: String,
    key: Attribute,
    order: Seq[Attribute],
    reads: Seq[Attribute],
    rewrites: Seq[Attribute],
    appends: Seq[Attribute],
    keepRows: Boolean,
    maxGroupRows: Int,
    kernel: GroupRows => Iterator[InternalRow],
    child: LogicalPlan) extends UnaryNode {

  override def output: Seq[Attribute] =
    GroupKernel.layout(child.output, key, reads, rewrites, appends, keepRows)

  override def producedAttributes: AttributeSet = AttributeSet(rewrites ++ appends)

  override protected def stringArgs: Iterator[Any] =
    Iterator(op, key, order, reads)

  override protected def withNewChildInternal(newChild: LogicalPlan): GroupKernel =
    copy(child = newChild)
}

object GroupKernel {
  private[graftkernel] def layout(in: Seq[Attribute], key: Attribute,
      reads: Seq[Attribute], rewrites: Seq[Attribute], appends: Seq[Attribute],
      keepRows: Boolean): Seq[Attribute] =
    if (!keepRows) key +: (rewrites ++ appends)
    else in.map { a =>
      val k = reads.indexWhere(_.exprId == a.exprId)
      if (k >= 0 && k < rewrites.length) rewrites(k) else a
    } ++ appends

  /** The node over `df`, as a DataFrame; registers [[GroupKernelStrategy]]
    * on `df`'s session first, so a session without the graft extensions
    * plans it too. */
  def apply(df: DataFrame, op: String, key: String, order: Seq[String],
            reads: Seq[String], rewrites: Seq[StructField],
            appends: Seq[StructField], keepRows: Boolean, maxGroupRows: Int)(
            kernel: GroupRows => Iterator[InternalRow]): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    GroupKernelStrategy.register(spark)
    val plan = df.queryExecution.analyzed
    def attr(name: String): Attribute = plan.output(df.schema.fieldIndex(name))
    val readAttrs = reads.map(attr)
    readAttrs.foreach(a => require(a.dataType.isInstanceOf[NumericType],
      s"$op: column ${a.name} is ${a.dataType.simpleString}, not numeric"))
    def fresh(f: StructField): Attribute =
      org.apache.spark.sql.catalyst.expressions.AttributeReference(
        f.name, f.dataType, nullable = true)()
    val keyAttr = attr(key)
    val orderAttrs = order.map(attr)
    // a kernel that does not keep rows passes only the key through: read
    // nothing else
    val child =
      if (keepRows) plan
      else Project((keyAttr +: (orderAttrs ++ readAttrs)).distinct, plan)
    classic.Dataset.ofRows(spark,
      GroupKernel(op, keyAttr, orderAttrs, readAttrs, rewrites.map(fresh),
        appends.map(fresh), keepRows, maxGroupRows, kernel, child))
  }
}

/**
 * The physical [[GroupKernel]]. It requires the key's clustered
 * distribution and the `(key, order...)` child ordering, so
 * EnsureRequirements plans the exchange and the sort only where the child
 * does not already provide them (none over a scan bucketed on the key, none
 * over another kernel or a window on the same key). Each group's rows are
 * copied into one buffer, capped at `maxGroupRows`.
 */
case class GroupKernelExec(
    op: String,
    key: Attribute,
    order: Seq[Attribute],
    reads: Seq[Attribute],
    rewrites: Seq[Attribute],
    appends: Seq[Attribute],
    keepRows: Boolean,
    maxGroupRows: Int,
    kernel: GroupRows => Iterator[InternalRow],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] =
    GroupKernel.layout(child.output, key, reads, rewrites, appends, keepRows)

  override def producedAttributes: AttributeSet = AttributeSet(rewrites ++ appends)

  override protected def stringArgs: Iterator[Any] =
    Iterator(op, key, order, reads)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(key)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq((key +: order).map(SortOrder(_, Ascending)))

  // every output row of a group carries that group's key, and a column
  // the kernel does not write keeps its value: any child partitioning
  // over columns still in the output holds for the output
  override def outputPartitioning: Partitioning = child.outputPartitioning match {
    case p: Expression if !p.references.subsetOf(outputSet) =>
      UnknownPartitioning(child.outputPartitioning.numPartitions)
    case p => p
  }

  // a row-preserving kernel emits its rows in input order: the child's
  // ordering holds for as long as its columns pass through
  override def outputOrdering: Seq[SortOrder] =
    if (!keepRows) Nil
    else child.outputOrdering
      .takeWhile(_.child.references.subsetOf(outputSet))
      .map(o => o.copy(sameOrderExpressions =
        o.sameOrderExpressions.filter(_.references.subsetOf(outputSet))))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  protected override def doExecute(): RDD[InternalRow] = {
    val in = child.output
    def ordinal(a: Attribute): Int = in.indexWhere(_.exprId == a.exprId)
    val readOrdinals = reads.map(ordinal).toArray
    val readTypes = reads.map(_.dataType).toArray
    val written = rewrites ++ appends
    // output columns bound over (child row ++ written row)
    val outExprs = output.map { a =>
      val w = written.indexWhere(_.exprId == a.exprId)
      if (w >= 0) BoundReference(in.length + w, a.dataType, nullable = true)
      else BoundReference(ordinal(a), a.dataType, a.nullable)
    }
    val (op, key, cap, kernel) = (this.op, this.key, maxGroupRows, this.kernel)
    val numOutputRows = longMetric("numOutputRows")
    child.execute().mapPartitionsInternal { iter =>
      val project = UnsafeProjection.create(outExprs)
      GroupedIterator(iter, Seq(key), in).flatMap { case (k, group) =>
        val buf = new ArrayBuffer[InternalRow](256)
        while (group.hasNext) {
          buf += group.next().copy()
          if (buf.length > cap) {
            val kv = CatalystTypeConverters.convertToScala(
              k.get(0, key.dataType), key.dataType)
            throw new IllegalStateException(
              s"$op: cast group ${key.name}=$kv exceeds " +
              s"${KernelGuard.ConfKey}=$cap rows — the " +
              "per-cast kernels materialize one cast per task and this " +
              "group does not look like a cast. Check the cast-id column, " +
              s"or raise the cap with spark.conf.set(\"${KernelGuard.ConfKey}\", n).")
          }
        }
        kernel(new GroupRows(buf.toArray, readOrdinals, readTypes)).map { r =>
          numOutputRows += 1
          project(r)
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GroupKernelExec =
    copy(child = newChild)
}

/** Plans [[GroupKernel]] as [[GroupKernelExec]]. Reaches a session through
  * `graft.GraftExtensions` or through [[register]], which every kernel op
  * calls on its own session. */
object GroupKernelStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case k: GroupKernel =>
      GroupKernelExec(k.op, k.key, k.order, k.reads, k.rewrites, k.appends,
        k.keepRows, k.maxGroupRows, k.kernel, planLater(k.child)) :: Nil
    case _ => Nil
  }

  /** Add the strategy to `spark`'s experimental strategies, once. */
  def register(spark: SparkSession): Unit = {
    val exp = spark.experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(this))
        exp.extraStrategies = this +: exp.extraStrategies
    }
  }
}
