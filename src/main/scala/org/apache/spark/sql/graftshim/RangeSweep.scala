package org.apache.spark.sql.graftshim

import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, RepartitionByExpression, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, SQLExecution, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.DataType
import org.apache.spark.util.SizeEstimator

/** One kernel input column, bound to its ordinal in the child's rows. */
final case class SweepCol(ordinal: Int, dataType: DataType) {
  def isNull(r: InternalRow): Boolean = r.isNullAt(ordinal)
  def get(r: InternalRow): Any =
    if (r.isNullAt(ordinal)) null else r.get(ordinal, dataType)
  /** The value detached from the (possibly reused) row buffer. */
  def copy(r: InternalRow): Any = InternalRow.copyValue(get(r))
}

/** A kernel's view of its child, bound in the exec: the input columns
  * in the kernel's order and the type of every child field. */
final case class SweepInput(cols: IndexedSeq[SweepCol],
    types: IndexedSeq[DataType]) {
  /** Every field of `r` plus `extra` empty slots, detached when the row
    * outlives the next pull. */
  def fields(r: InternalRow, extra: Int = 0, detach: Boolean = false)
      : Array[Any] = {
    val vals = new Array[Any](types.length + extra)
    var i = 0
    while (i < types.length) {
      if (!r.isNullAt(i)) {
        val v = r.get(i, types(i))
        vals(i) = if (detach) InternalRow.copyValue(v) else v
      }
      i += 1
    }
    vals
  }
}

/** The operator-specific part of a [[RangeSweep]], in three steps:
  * summarize one sorted partition (executors), resolve every
  * partition's carry from all summaries (driver, O(partitions)), and
  * sweep one sorted partition seeded with its carry (executors).
  * Kernels hold configuration only; the exec binds their inputs. */
abstract class SweepKernel[S, C] extends Serializable {
  /** The node's output for the child's attributes and the kernel's
    * `inputs`. Called once when the frame is built, so every column the
    * kernel fills or appends gets its fresh ExprId there. */
  def output(child: Seq[Attribute], inputs: Seq[Attribute]): Seq[Attribute]
  def summarize(rows: Iterator[InternalRow], in: SweepInput): S
  def resolve(summaries: IndexedSeq[S]): IndexedSeq[C]
  def sweep(rows: Iterator[InternalRow], in: SweepInput, carry: C)
      : Iterator[InternalRow]
}

/** Pass-B plumbing shared by the kernels: `step` consumes one sorted
  * input row and may `emit` any number of output rows, and `finish`
  * runs once after the last row. The next input row is pulled only
  * after every emitted row has been handed out, so an emitted row may
  * reference the live input buffer. */
abstract class SweepIterator(rows: Iterator[InternalRow])
    extends Iterator[InternalRow] {
  private val out = scala.collection.mutable.Queue.empty[InternalRow]
  private var done = false
  protected def emit(r: InternalRow): Unit = out.enqueue(r)
  protected def step(r: InternalRow): Unit
  protected def finish(): Unit = ()
  private def advance(): Unit =
    while (out.isEmpty && !done) {
      if (rows.hasNext) step(rows.next())
      else { done = true; finish() }
    }
  final def hasNext: Boolean = { advance(); out.nonEmpty }
  final def next(): InternalRow = { advance(); out.dequeue() }
}

/** The skew-robust two-pass range sweep under the interval algebra and
  * the range fills, as one Catalyst operator. Its child is a range
  * repartition on `rangeOrder` plus a local sort on `order`, so each
  * key spreads across as many partitions as its row share demands and
  * partitions concatenate to the global order. Pass A summarizes each
  * partition, the driver resolves each partition's carry-in from the
  * summaries, and pass B streams each partition once, seeded with its
  * carry. Results are identical at any width. `inputs` are the columns
  * the kernel reads; `output` is fixed when the frame is built. */
case class RangeSweep(kernel: SweepKernel[_, _], inputs: Seq[Attribute],
    rangeOrder: Seq[SortOrder], order: Seq[SortOrder],
    output: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet =
    AttributeSet(output) -- child.outputSet
  override protected def stringArgs: Iterator[Any] = Iterator(kernel, inputs)
  override protected def withNewChildInternal(newChild: LogicalPlan)
      : RangeSweep = copy(child = newChild)
}

object RangeSweep {

  /** `df` range-sorted for the sweep (see [[RangeShuffle.rangeSortedDf]])
    * and swept by `kernel`, which reads the `inputs` columns by name.
    * Builds the plan only: no job runs until an action. */
  def frame(df: DataFrame, kernel: SweepKernel[_, _], inputs: Seq[String],
      rangeKeys: Seq[Column], localSort: Seq[Column],
      partitions: Int): DataFrame = {
    val session = df.sparkSession
    RangeSweepStrategy.setup(session)
    val n = if (partitions > 0) partitions
      else session.sessionState.conf.numShufflePartitions
    val child = RangeShuffle.rangeSortedDf(df, rangeKeys, localSort, n,
      adapt = partitions <= 0).queryExecution.analyzed
    val (rangeOrder, order) = child match {
      case s @ Sort(_, false, r: RepartitionByExpression, _) =>
        (r.partitionExpressions.map(_.asInstanceOf[SortOrder]), s.order)
    }
    val in = inputs.map(name => child.output.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(
        s"no column $name in ${child.output.map(_.name).mkString(", ")}")))
    val sweep = RangeSweep(kernel, in, rangeOrder, order,
      kernel.output(child.output, in), child)
    // re-aliased on top, so a self-join can renew the frame's attributes
    PlanShim.ofRows(session,
      Project(sweep.output.map(a => Alias(a, a.name)()), sweep))
  }
}

/** Runs pass A as one job on the child's RDD, broadcasts the carries
  * and runs pass B over the same RDD, so the range shuffle's map stage
  * runs once. The output RDD is cached, so pass A runs once per
  * execution. EnsureRequirements finds the child's exchange and sort
  * already in place. */
case class RangeSweepExec(kernel: SweepKernel[_, _], inputs: Seq[Attribute],
    rangeOrder: Seq[SortOrder], order: Seq[SortOrder],
    output: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {

  override def nodeName: String = "RangeSweep"
  override def producedAttributes: AttributeSet =
    AttributeSet(output) -- child.outputSet
  override protected def stringArgs: Iterator[Any] = Iterator(kernel, inputs)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numInputRows" -> SQLMetrics.createMetric(sparkContext, "rows in"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "rows out"),
    "summaryBytes" -> SQLMetrics.createSizeMetric(sparkContext,
      "pass-A summary size"),
    "carryBytes" -> SQLMetrics.createSizeMetric(sparkContext, "carry size"))

  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(rangeOrder) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = order :: Nil

  @transient private lazy val swept: RDD[InternalRow] = run(kernel)
  override protected def doExecute(): RDD[InternalRow] = swept

  private def run[S, C](k: SweepKernel[S, C]): RDD[InternalRow] = {
    val in = SweepInput(inputs.map { a =>
      val i = child.output.indexWhere(_.exprId == a.exprId)
      require(i >= 0, s"sweep input $a is not in ${child.output}")
      SweepCol(i, a.dataType)
    }.toIndexedSeq, child.output.map(_.dataType).toIndexedSeq)
    val rows = child.execute()
    val summaries = rows.mapPartitionsWithIndexInternal((pid, it) =>
      Iterator.single(pid -> k.summarize(it, in)))
      .collect().toIndexedSeq.sortBy(_._1).map(_._2)
    val carries = k.resolve(summaries)
    metrics("summaryBytes").set(SizeEstimator.estimate(summaries))
    metrics("carryBytes").set(SizeEstimator.estimate(carries))
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      Seq(metrics("summaryBytes"), metrics("carryBytes")))
    val bc = sparkContext.broadcast(carries)
    val numIn = metrics("numInputRows")
    val numOut = metrics("numOutputRows")
    val schema = output
    rows.mapPartitionsWithIndexInternal { (pid, it) =>
      val proj = UnsafeProjection.create(schema, schema)
      proj.initialize(pid)
      k.sweep(it.map { r => numIn += 1; r }, in, bc.value(pid))
        .map { r => numOut += 1; proj(r) }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
      : RangeSweepExec = copy(child = newChild)
}

/** Plans [[RangeSweep]]. [[graft.GraftExtensions]] injects it, and
  * [[setup]] adds it to any session that builds a sweep frame, so
  * sessions built without the extension plan the node too. */
object RangeSweepStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: RangeSweep => RangeSweepExec(s.kernel, s.inputs, s.rangeOrder,
      s.order, s.output, planLater(s.child)) :: Nil
    case _ => Nil
  }

  def setup(session: SparkSession): Unit = synchronized {
    val ex = session.experimental
    if (!ex.extraStrategies.contains(this))
      ex.extraStrategies = this +: ex.extraStrategies
  }
}

/** The sweeps' range-shuffle width rule and pre-pass shape. The width
  * adapts to the plan's size estimate, which costs no job: a constant
  * `spark.sql.shuffle.partitions` is right for a cluster-sized input
  * but made a 6k-row timeline pay 32 shuffle and sort tasks and
  * `RangePartitioner`'s sampling job, itself a full evaluation of the
  * upstream decode (a one-partition range shuffle skips it). Inputs the
  * planner cannot estimate keep the caller's width: the rule only ever
  * narrows a provably small shuffle.
  *
  * Negative result (r22): a variant that hand-rolled the whole range
  * exchange, with bounds from a column-pruned sampling plan, was
  * 1.15-1.7x slower across the family. Analysis and codegen of the
  * extra sampling plan and the post-shuffle re-projection cost more
  * than the decode they saved, at every input size tried
  * (OPTIMIZATION_r22.md). Let the planner own the exchange. */
object RangeShuffle {

  /** Target bytes per range partition, far below cluster guidance: a
    * same-JVM A/B over the closest family (r22) measured 1 MB best (q77
    * 1.59 s vs 1.70 s at the caller's 32 and 2.75 s at one partition),
    * since the sweeps want parallelism down to ~50k rows per task. */
  private val BytesPerPartition: Long = 1L << 20

  /** `min(n, ceil(sizeEstimate / 1 MiB))`, or `n` when the estimate is
    * unusable: an unknown-stats source (a DSv2 scan without statistics
    * reports `defaultSizeInBytes`) poisons the whole estimate upward. */
  def adaptivePartitions(df: DataFrame, n: Int): Int = {
    val size =
      try df.queryExecution.analyzed.stats.sizeInBytes
      catch { case NonFatal(_) => return n }
    if (size <= 0 || size >= BigInt(BytesPerPartition) * n) n
    else math.max(1, ((size + BytesPerPartition - 1) / BytesPerPartition)
      .toInt)
  }

  /** `df.repartitionByRange(width, partExprs)` plus a local sort by
    * `partExprs ++ localSortExprs`. `adapt = false` pins the caller's n
    * exactly: an explicit partition count beats the heuristic, as AQE
    * treats explicit repartitions. */
  def rangeSortedDf(df: DataFrame, partExprs: Seq[Column],
      localSortExprs: Seq[Column], n: Int,
      adapt: Boolean = true): DataFrame =
    df.repartitionByRange(
        if (adapt) adaptivePartitions(df, n) else n, partExprs: _*)
      .sortWithinPartitions(partExprs ++ localSortExprs: _*)
}
