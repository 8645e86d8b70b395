package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, AttributeSet, BoundReference, Cast, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{GroupedIterator, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField}

/** A per-user computation (the reference's `map_groups`) that
  * [[UidScanExec]] runs over each uid's rows. Columns are named
  * case-insensitively; the input holds `uid`. Kernels are case classes of
  * their parameters, so equal scans compare equal in plans.
  */
trait UidKernel extends Serializable {

  /** Columns, after uid, that each uid's rows must arrive sorted by. */
  def sortedBy: Seq[String] = Nil

  /** The input columns the output keeps, uid among them: all by default. */
  def keep(in: Seq[Attribute]): Seq[Attribute] = in

  /** The columns appended after the kept ones. */
  def adds(in: Seq[Attribute]): Seq[StructField]

  /** Output columns, after uid, that each uid's rows leave sorted by; None
    * when rows leave in input order, so the input ordering passes through.
    */
  def emitsSortedBy: Option[Seq[String]] = None

  /** Prepares one partition; returns the scan of one uid's rows. An output
    * row is `out` over the input row joined to the added values; `out`
    * reuses its result, so a row kept past the next call must be copied.
    */
  def open(in: Seq[Attribute], out: UnsafeProjection)
  : Iterator[InternalRow] => Iterator[InternalRow]
}

/** Logical uid scan: `kernel` over `child`, output `kept ++ added`. The
  * kept attributes are `child`'s, so they pass through unchanged; the
  * added ones are minted once per call. [[UidScan.frame]] resolves both by
  * name, once: a canonicalized plan renames attributes.
  */
case class UidScan(kernel: UidKernel, kept: Seq[Attribute],
                   added: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = kept ++ added
  override def producedAttributes: AttributeSet = AttributeSet(added)
  // the kernel reads every input column: column pruning must keep them all
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): UidScan =
    copy(child = newChild)
}

object UidScan {

  /** `df` scanned per uid by `kernel`; installs [[UidScanStrategy]]. The
    * added columns leave through an alias, so a self-join of the result
    * deduplicates them like any projection's.
    */
  def frame(df: DataFrame, kernel: UidKernel): DataFrame = {
    val spark = df.sparkSession
    UidScanStrategy.install(spark)
    val child = df.queryExecution.analyzed
    val kept = kernel.keep(child.output)
    require(kept.contains(column(child.output, "uid")),
      s"uid scan: $kernel must keep uid")
    val added = kernel.adds(child.output)
      .map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    GraftBridge.ofRows(spark, Project(kept ++ added.map(a => Alias(a, a.name)()),
      UidScan(kernel, kept, added, child)))
  }

  /** The attribute named `name` (case-insensitively) in `in`. */
  def column(in: Seq[Attribute], name: String): Attribute =
    in.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(s"uid scan: no $name column in $in"))

  def ordinal(in: Seq[Attribute], name: String): Int =
    in.indexOf(column(in, name))

  /** Reader of column `name` as a Double, through Spark's cast from another
    * numeric type. A null reads as garbage: check first.
    */
  def doubles(in: Seq[Attribute], name: String): DoubleOf = {
    val i = ordinal(in, name)
    if (in(i).dataType == DoubleType) _.getDouble(i)
    else { val cast = castOf(in, i, DoubleType); cast.eval(_).asInstanceOf[Double] }
  }

  /** Reader of integral column `name` as a Long (see [[doubles]]). */
  def longs(in: Seq[Attribute], name: String): LongOf = {
    val i = ordinal(in, name)
    if (in(i).dataType == LongType) _.getLong(i)
    else { val cast = castOf(in, i, LongType); cast.eval(_).asInstanceOf[Long] }
  }

  private def castOf(in: Seq[Attribute], i: Int, to: DataType) =
    Cast(BoundReference(i, in(i).dataType, nullable = true), to)

  /** Column readers with a primitive result: a function to Double or Long
    * boxes every value it reads, once per row of a kernel's inner loop.
    */
  abstract class DoubleOf { def apply(r: InternalRow): Double }
  abstract class LongOf { def apply(r: InternalRow): Long }
}

/** One pass over each uid's rows. The planner places one uid exchange and
  * one `sortedBy` (uid first) sort below it, or none when the child has
  * them: a chain of scans shuffles and sorts once. The partitioning passes
  * through; the ordering is `emitted` (uid first), else the child's.
  */
case class UidScanExec(kernel: UidKernel, kept: Seq[Attribute],
                       added: Seq[Attribute], sortedBy: Seq[Attribute],
                       emitted: Option[Seq[Attribute]],
                       child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = kept ++ added
  override def producedAttributes: AttributeSet = AttributeSet(added)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(sortedBy.take(1)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(sortedBy.map(SortOrder(_, Ascending)))
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    emitted.fold(child.outputOrdering)(_.map(SortOrder(_, Ascending)))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val (in, out, k, uid) = (child.output, output, kernel, sortedBy.take(1))
    val joined = in ++ added
    child.execute().mapPartitions { rows =>
      val scan = k.open(in, UnsafeProjection.create(out, joined))
      GroupedIterator(rows, uid, in).flatMap(g => scan(g._2)).map { r =>
        numOutputRows += 1
        r
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): UidScanExec =
    copy(child = newChild)
}

/** Plans [[UidScan]] as [[UidScanExec]]: the engine's one custom strategy. */
object UidScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case UidScan(kernel, kept, added, child) =>
      def in(names: Seq[String], from: Seq[Attribute]) =
        ("uid" +: names).map(UidScan.column(from, _))
      UidScanExec(kernel, kept, added, in(kernel.sortedBy, child.output),
        kernel.emitsSortedBy.map(in(_, kept ++ added)), planLater(child)) :: Nil
    case _ => Nil
  }

  /** Prepends the strategy to the session's extra strategies, once. */
  def install(spark: SparkSession): Unit = {
    val ex = spark.experimental
    if (!ex.extraStrategies.contains(this)) {
      ex.extraStrategies = this +: ex.extraStrategies
    }
  }
}
