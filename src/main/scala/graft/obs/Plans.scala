package graft.obs

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.util.QueryExecutionListener

/** The live-plan walker and the plan measures the audits stand on.
  *
  * "Live" = reachable in the FINAL adaptive plan without passing through
  * a ReusedExchange (computed once elsewhere) or an InMemoryTableScan
  * (paid once at cache build, which a listener sees as its own
  * execution). Read the measures after the plan ran (`collect()`), so
  * AQE has made its reuse decisions and the metrics are filled.
  */
object Plans {
  /** Pre-order walk of the live nodes of `p`, each with a context `C`.
    * Adaptive wrappers and query stages are transparent; reused
    * exchanges and cached scans are visited but not entered. A node's
    * children come before its subquery plans; `edge(node, c, sub)` gives
    * the context of a child (`sub` false) or subquery plan (`sub` true)
    * of `node`, or None to not descend. */
  def walk[C](p: SparkPlan, c: C)(edge: (SparkPlan, C, Boolean) => Option[C]): Seq[(SparkPlan, C)] =
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, c)(edge)
      case s: QueryStageExec => walk(s.plan, c)(edge)
      case stop @ (_: ReusedExchangeExec | _: InMemoryTableScanExec) => Seq(stop -> c)
      case n =>
        def down(ps: Seq[SparkPlan], sub: Boolean) =
          edge(n, c, sub).toSeq.flatMap(d => ps.flatMap(walk(_, d)(edge)))
        (n -> c) +: (down(n.children, sub = false) ++ down(n.subqueries, sub = true))
    }

  /** The live nodes of `p`, pre-order. */
  def live(p: SparkPlan): Seq[SparkPlan] = walk(p, ())((_, _, _) => Some(())).map(_._1)

  /** Source files scanned by `p`, one entry per live scan node, as
    * `"<tag> <file>[<read schema>][<pushed filters>]"`. Two scans of the
    * same file reading DIFFERENT slices (set ops over disjoint filters,
    * SCD2's current-vs-history split) are legitimate partial reads at
    * scale; two IDENTICAL scans are a redundancy. The tag says how the
    * scan is consumed, which decides whether a duplicate is a SCALE
    * problem:
    *
    *   - `bcast`: under a BroadcastExchange — the duplicate is a
    *     broadcast BUILD of data also read elsewhere. Whether it
    *     persists at production scale depends on whether the shuffled
    *     plan's subtrees canonicalize equal; do NOT assume broadcast
    *     duplicates vanish at scale — rerun with SPARK_GRAFT_NO_BCAST=1
    *     and read THAT count as the scale-path answer.
    *   - `subq`: inside a scalar/IN-subquery plan — a separate pass
    *     over the table that the semantics themselves demand.
    *   - `main`: in the main pipeline. A file appearing twice with tag
    *     `main` and identical slice is a real double read in THIS plan;
    *     the fix is a restatement that derives both consumers from one
    *     shuffled relation, or an aligned subtree that AQE can reuse.
    */
  private[graft] def liveScans(p: SparkPlan): Seq[String] =
    walk(p, "main") {
      case (_: FileSourceScanExec, _, _) => None
      case (_, _, true) => Some("subq")
      case (_: BroadcastExchangeExec, _, _) => Some("bcast")
      case (_, tag, _) => Some(tag)
    }.flatMap {
      case (f: FileSourceScanExec, tag) =>
        val filters = f.dataFilters.map(_.sql).sorted.mkString(" AND ")
        val schema = f.requiredSchema.fieldNames.sorted.mkString(",")
        f.relation.location.rootPaths.map(r => s"$tag ${r.getName}[$schema][$filters]")
      case _ => Nil
    }

  /** Live shuffle exchanges in `p`. Two in one execution whose
    * canonicalized plans are semantically equal are a MISSED reuse:
    * identical data, identically partitioned, computed twice. This
    * catches recomputed DERIVED relations that never reach a scan. */
  private[graft] def liveExchanges(p: SparkPlan): Seq[SparkPlan] =
    live(p).collect { case e: ShuffleExchangeExec => e }

  /** Total records written by the live shuffles in `p`. */
  private[graft] def shuffleRows(p: SparkPlan): Long =
    live(p).collect { case e: ShuffleExchangeExec =>
      e.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)
    }.sum

  /** numOutputRows of every live broadcast build in `p`. */
  private[graft] def broadcastRows(p: SparkPlan): Seq[Long] =
    live(p).flatMap {
      case b: BroadcastExchangeExec => b.metrics.get("numOutputRows").map(_.value)
      case _ => None
    }

  /** The buildDataSize metric of every live ShuffledHashJoin in `p`. Its
    * value is the sum over the join's tasks; [[ShjMeter]] reads the
    * largest single task's update. */
  private[graft] def shjBuilds(p: SparkPlan): Seq[SQLMetric] =
    live(p).flatMap {
      case j: ShuffledHashJoinExec => j.metrics.get("buildDataSize")
      case _ => None
    }

  /** (context, rows) for every live single-partition funnel in `p`: a
    * ShuffleExchange with SinglePartition output (an unpartitioned
    * Window, a global aggregate-to-one, a limit) or a CoalesceExec(1).
    * `context` is the funnel's parent operator ("what is being computed
    * serially"), since the exchange itself says only "SinglePartition".
    * Broadcasts also serialize but are the broadcast audit's subject,
    * so the walk does not enter them. Rows are the exchange's
    * shuffleRecordsWritten (a limit funneling k rows reports k), or for
    * a coalesce the nearest descendant's numOutputRows. */
  private[graft] def serialRows(p: SparkPlan): Seq[(String, Long)] = {
    def metric(n: SparkPlan, keys: String*): Long =
      keys.flatMap(k => n.metrics.get(k)).headOption.map(_.value).getOrElse(-1L)
    // a coalesce's direct child may be a WholeStageCodegen shell or
    // (under a write command) an AdaptiveSparkPlanExec wrapper, which
    // TreeNode.collect does NOT descend through
    def rowsBelow(n: SparkPlan): Option[Long] = n match {
      case a: AdaptiveSparkPlanExec => rowsBelow(a.executedPlan)
      case s: QueryStageExec => rowsBelow(s.plan)
      case x if x.metrics.contains("numOutputRows") => Some(x.metrics("numOutputRows").value)
      case x => x.children.view.flatMap(rowsBelow(_)).headOption
    }
    walk(p, "root") {
      case (_: BroadcastExchangeExec, _, _) => None
      case (n, _, _) => Some(n.nodeName)
    }.collect {
      case (e: ShuffleExchangeExec, parent) if e.outputPartitioning == SinglePartition =>
        (s"$parent <- single-partition shuffle", metric(e, "shuffleRecordsWritten", "numOutputRows"))
      case (c: CoalesceExec, parent) if c.numPartitions == 1 =>
        (s"$parent <- coalesce(1)", rowsBelow(c.child).getOrElse(-1L))
    }
  }
}

/** For each live ShuffledHashJoin of every SQL execution, the largest
  * build one task made: the largest per-task update of the join's
  * buildDataSize accumulator, matched on the metric's id from task-end
  * events. The metric's value is the sum over tasks, and sum / width is
  * the mean, which stays flat when all the growth lands in one key
  * group's partition — the build-overflow case the SHJ audit exists for.
  * -1 for a join none of whose task updates arrived. */
class ShjMeter extends SparkListener with QueryExecutionListener with Meter[Seq[Long]] {
  private val builds = new ConcurrentLinkedQueue[java.lang.Long]()
  private val taskMax = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
  private val events = new AtomicInteger()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Option(e.taskInfo).foreach(_.accumulables.foreach { a =>
      a.update match {
        case Some(v: Long) => taskMax.merge(a.id, v, (x, y) => math.max(x, y))
        case _ => ()
      }
    })
    events.incrementAndGet()
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
    Plans.shjBuilds(qe.executedPlan).foreach(m => builds.add(m.id))
    events.incrementAndGet()
  }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  def arrived: Int = events.get()
  def take(): Seq[Long] = {
    val ids = Iterator.continually(builds.poll()).takeWhile(_ != null).toSeq
    val out = ids.map(id => Option(taskMax.get(id)).map(_.longValue).getOrElse(-1L))
    taskMax.clear()
    out
  }
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}
