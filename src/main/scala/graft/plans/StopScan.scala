package graft.plans

import graft.operators.StopDetect
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, BoundReference, Cast, Literal, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Logical stop scan: appends `stopEvents` (the stop-event id, -1 when not
  * in a kept event) to every row of `child`, whose output holds the
  * columns `uid`, `latitude`, `longitude` and `timestamp`. Built by
  * [[graft.operators.StopDetect.stopEvents]]; the attribute is minted once
  * per call and held here so that the uid attribute of `child` passes
  * through unchanged.
  */
case class StopScan(params: StopDetect.Params, stopEvents: Attribute,
                    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ stopEvents
  override def producedAttributes: AttributeSet = AttributeSet(stopEvents)
  // the scan reads every input column: column pruning must keep them all
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): StopScan =
    copy(child = newChild)
}

/** One ordered pass over each uid's pings (the reference's global sort
  * plus per-user `map_groups`, models.py:112-161). The planner places one
  * uid exchange and one `(uid, timestamp)` sort below it; partitioning
  * and ordering pass through, so a later `(uid, ...)` aggregate reuses
  * them. Only the open stationary run is buffered.
  */
case class StopScanExec(params: StopDetect.Params, stopEvents: Attribute,
                        child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ stopEvents
  override def producedAttributes: AttributeSet = AttributeSet(stopEvents)

  // by name, case-insensitively: `stopEvents` selected exactly these four
  private def ordinal(name: String): Int = {
    val i = child.output.indexWhere(_.name.equalsIgnoreCase(name))
    require(i >= 0, s"StopScanExec: no $name column in ${child.output}")
    i
  }
  private def input(name: String): Attribute = child.output(ordinal(name))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(input("uid"))) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(input("uid"), Ascending),
      SortOrder(input("timestamp"), Ascending)))
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val in = child.output
    val uid = input("uid")
    val Seq(lat, lon, ts) = Seq("latitude", "longitude", "timestamp").map(ordinal)
    val p = params
    child.execute().mapPartitions { rows =>
      new StopScanExec.Scan(rows, p, numOutputRows,
        UnsafeProjection.create(in :+ Literal(-1L), in),
        RowOrdering.create(Seq(SortOrder(uid, Ascending)), in),
        in.length, lat, lon, ts,
        StopScanExec.reader(lat, in(lat).dataType, DoubleType)(_.getDouble(lat)),
        StopScanExec.reader(lon, in(lon).dataType, DoubleType)(_.getDouble(lon)),
        StopScanExec.reader(ts, in(ts).dataType, LongType)(_.getLong(ts)))
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): StopScanExec =
    copy(child = newChild)
}

object StopScanExec {

  /** Column reader: `direct` when the column already has type `to`, else
    * Spark's own cast (exact for the numeric widenings allowed here).
    */
  private def reader[T](i: Int, from: DataType, to: DataType)(
      direct: InternalRow => T): InternalRow => T =
    if (from == to) direct
    else {
      val cast = Cast(BoundReference(i, from, nullable = true), to)
      r => cast.eval(r).asInstanceOf[T]
    }

  /** The scan over one partition sorted by (uid, timestamp). Each input
    * row is projected to an output row with stop_events = -1 and copied.
    * A row is classified when its successor arrives (distance and time
    * gap are forward-looking); stationary rows join the open run, which
    * is released with its id, or -1 when the keep rule fails, once a
    * non-stationary row ends it. Rows leave in input order.
    */
  private final class Scan(
      rows: Iterator[InternalRow], p: StopDetect.Params,
      numOutputRows: SQLMetric, project: UnsafeProjection,
      byUid: Ordering[InternalRow], eventOrdinal: Int,
      lat: Int, lon: Int, ts: Int,
      latOf: InternalRow => Double, lonOf: InternalRow => Double,
      tsOf: InternalRow => Long) extends Iterator[InternalRow] {

    private val ready = new java.util.ArrayDeque[UnsafeRow]()
    private val run = new java.util.ArrayList[UnsafeRow]()
    private var runId = 0L
    private var runTime = 0L
    private var runTimed = false // some gap in the run is non-null
    private var nextId = 1L
    private var prev: UnsafeRow = null // last row, not yet classified

    override def hasNext: Boolean = {
      while (ready.isEmpty && (prev != null || rows.hasNext)) step()
      !ready.isEmpty
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      numOutputRows += 1
      ready.poll()
    }

    private def step(): Unit =
      if (rows.hasNext) {
        val cur = project(rows.next()).copy()
        if (prev != null) {
          if (byUid.compare(prev, cur) == 0) classify(prev, cur)
          else { end(prev); nextId = 1L }
        }
        prev = cur
      } else {
        end(prev)
        prev = null
      }

    /** `a`'s step to its successor `b` of the same uid. */
    private def classify(a: UnsafeRow, b: UnsafeRow): Unit = {
      val placed = !(a.isNullAt(lat) || a.isNullAt(lon) ||
        b.isNullAt(lat) || b.isNullAt(lon))
      val timed = !(a.isNullAt(ts) || b.isNullAt(ts))
      val gap = if (timed) tsOf(b) - tsOf(a) else 0L
      if (placed && StopDetect.isStationary(p,
          StopDetect.distance(p, latOf(a), lonOf(a), latOf(b), lonOf(b)),
          gap, timed)) {
        if (run.isEmpty) { runId = nextId; nextId += 1 }
        run.add(a)
        if (timed) { runTime += gap; runTimed = true }
      } else end(a)
    }

    /** `a` is not stationary: it closes the open run and leaves as -1. */
    private def end(a: UnsafeRow): Unit = {
      if (!run.isEmpty) {
        if (runTimed && StopDetect.keepRun(p, run.size, runTime)) {
          run.forEach(_.setLong(eventOrdinal, runId))
        }
        ready.addAll(run)
        run.clear()
        runTime = 0L
        runTimed = false
      }
      ready.add(a)
    }
  }
}

/** Plans [[StopScan]] as [[StopScanExec]]. */
object StopScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case StopScan(p, stopEvents, child) =>
      StopScanExec(p, stopEvents, planLater(child)) :: Nil
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
