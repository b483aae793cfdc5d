package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftshim.DataFrameBridge
import org.apache.spark.sql.types.StructType

/** A kernel over all rows of one key: the rows arrive in the input frame's
  * column order (key first) and the kernel returns its output rows, whose
  * columns follow the key in the result. */
trait GroupFn extends Serializable {
  def outputSchema: StructType
  def apply(rows: Array[InternalRow]): Array[InternalRow]
}

/** Logical node of [[GroupKernel.apply]]: `input` is the child's output,
  * its head the group key; the output is the key and `produced`. */
case class GroupKernelNode(input: Seq[Attribute], fn: GroupFn, produced: Seq[Attribute],
                           child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = input.head +: produced
  override def producedAttributes: AttributeSet = AttributeSet(produced)
  override protected def withNewChildInternal(c: LogicalPlan): GroupKernelNode = copy(child = c)
}

/** Physical [[GroupKernelNode]]: the planner puts one exchange on the key
  * and a sort by it below, so each key's rows arrive together; groups are
  * buffered one at a time. */
case class GroupKernelExec(input: Seq[Attribute], fn: GroupFn, produced: Seq[Attribute],
                           child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = input.head +: produced
  override def producedAttributes: AttributeSet = AttributeSet(produced)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(input.take(1)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(input.head, Ascending)))
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numGroups" -> SQLMetrics.createMetric(sparkContext, "number of groups"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val groups = longMetric("numGroups"); val rowsOut = longMetric("numOutputRows")
    val (in, childOut, keyType, f) = (input, child.output, input.head.dataType, fn)
    val outTypes = output.map(_.dataType).toArray
    child.execute().mapPartitions { it =>
      val layout = UnsafeProjection.create(in, childOut)
      val toUnsafe = UnsafeProjection.create(outTypes)
      val joined = new JoinedRow
      val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      val rows = it.map(r => layout(r).copy()).buffered
      def sameKey(a: InternalRow, b: InternalRow): Boolean =
        if (a.isNullAt(0) || b.isNullAt(0)) a.isNullAt(0) && b.isNullAt(0)
        else a.get(0, keyType) == b.get(0, keyType)
      new Iterator[Iterator[InternalRow]] {
        def hasNext: Boolean = rows.hasNext
        def next(): Iterator[InternalRow] = {
          buf.clear()
          buf += rows.next()
          while (rows.hasNext && sameKey(buf(0), rows.head)) buf += rows.next()
          val key = new GenericInternalRow(Array[Any](buf(0).get(0, keyType)))
          val out = f(buf.toArray)
          groups += 1; rowsOut += out.length
          out.iterator.map(o => toUnsafe(joined(key, o)))
        }
      }.flatten
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): GroupKernelExec = copy(child = c)
}

object GroupKernelStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupKernelNode(input, fn, produced, child) =>
      GroupKernelExec(input, fn, produced, planLater(child)) :: Nil
    case _ => Nil
  }
}

object GroupKernel {
  /** `fn` over each group of `df` keyed by its FIRST column: one exchange
    * on the key + a sort by it, no aggregate buffers or windows. The result
    * has the key column followed by `fn.outputSchema`. */
  def apply(df: DataFrame, fn: GroupFn): DataFrame = {
    install(df.sparkSession)
    val child = df.queryExecution.analyzed
    val produced = fn.outputSchema.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    DataFrameBridge.ofRows(df, GroupKernelNode(child.output, fn, produced, child))
  }

  /** Register [[GroupKernelStrategy]] on the session, once. */
  def install(spark: SparkSession): Unit = spark.experimental.synchronized {
    if (!spark.experimental.extraStrategies.contains(GroupKernelStrategy))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ GroupKernelStrategy
  }
}
