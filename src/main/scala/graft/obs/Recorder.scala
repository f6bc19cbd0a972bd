package graft.obs

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One completed stage: its name's first line, Σ executor CPU and run
  * time (s), its task count, and whether it wrote shuffle output. */
final case class Stage(name: String, cpuS: Double, runS: Double, tasks: Int, shuffleMap: Boolean)

/** One streaming micro-batch: its `durationMs` phases, by name, and the
  * state operators' update plus commit time (ms). */
final case class Batch(durationMs: Seq[(String, Long)], stateCommitMs: Long)

/** What one body started. `executions` counts distinct SQL execution ids
  * on started jobs: raw job counts depend on how AQE splits an action's
  * stages, and raw execution counts include job-less registrations.
  * `plans` are the executed plans of the successful SQL executions of
  * the body's session, in completion order; `taskMax` is the largest
  * per-task update of each accumulator, by id. */
final case class Record(executions: Int, jobs: Int, stages: Seq[Stage], plans: Seq[SparkPlan],
    taskMax: Map[Long, Long], batches: Seq[Batch]) {
  def tasks: Int = stages.map(_.tasks).sum
  def shuffleStages: Int = stages.count(_.shuffleMap)

  /** The largest update one task made to `m`, -1 if no task update
    * arrived. A metric's value is the sum over tasks, and sum / width is
    * the mean, which stays flat when all the growth lands in one key
    * group's partition: the SHJ audit's build-overflow case. */
  def largestTask(m: SQLMetric): Long = taskMax.getOrElse(m.id, -1L)
}

/** The one measuring listener: a SparkListener that also registers a
  * QueryExecutionListener and a StreamingQueryListener for the length of
  * one body. All three hang off the context's one listener bus, so one
  * drain of that bus delivers every event posted before it. */
object Recorder {
  /** Drain the bus, run `body` with the listeners attached, drain again
    * and detach. Every event of a job is posted before the action that
    * waited on it returns (the scheduler posts a job's end before it
    * wakes the job's waiter), an SQL execution's end is posted on the
    * action's own thread, and a stream's progress is posted before the
    * stream terminates; so the second drain leaves no event of the body
    * undelivered, and the first leaves none from before it. */
  def during(spark: SparkSession)(body: => Any): Record = {
    GraftColumnBridge.drain(spark)
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    spark.streams.addListener(r.progress)
    try {
      body
      GraftColumnBridge.drain(spark)
    } finally {
      spark.sparkContext.removeSparkListener(r)
      spark.listenerManager.unregister(r)
      spark.streams.removeListener(r.progress)
    }
    r.record
  }
}

private final class Recorder extends SparkListener with QueryExecutionListener {
  private val executions = ConcurrentHashMap.newKeySet[String]()
  private val jobs = new AtomicInteger()
  private val stages = new ConcurrentLinkedQueue[(Int, Stage)]()
  private val shuffleMaps = ConcurrentHashMap.newKeySet[Int]()
  private val plans = new ConcurrentLinkedQueue[SparkPlan]()
  private val taskMax = new ConcurrentHashMap[Long, Long]()
  private val batches = new ConcurrentLinkedQueue[Batch]()

  val progress: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = batches.add(Batch(
      e.progress.durationMs.asScala.toSeq.sortBy(_._1).map { case (k, v) => k -> v.longValue },
      e.progress.stateOperators.map(s => s.allUpdatesTimeMs + s.commitTimeMs).sum))
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(executions.add)
    jobs.incrementAndGet()
  }
  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val (info, m) = (sc.stageInfo, sc.stageInfo.taskMetrics)
    stages.add(info.stageId -> Stage(info.name.takeWhile(_ != '\n').take(90),
      m.executorCpuTime / 1e9, m.executorRunTime / 1e3, info.numTasks, shuffleMap = false))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (e.taskType == "ShuffleMapTask") shuffleMaps.add(e.stageId)
    Option(e.taskInfo).foreach(_.accumulables.foreach { a =>
      a.update match {
        case Some(v: Long) => taskMax.merge(a.id, v, (x, y) => math.max(x, y))
        case _ => ()
      }
    })
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

  def record: Record = Record(executions.size, jobs.get,
    stages.asScala.toSeq.map { case (id, s) => s.copy(shuffleMap = shuffleMaps.contains(id)) },
    plans.asScala.toSeq, taskMax.asScala.toMap, batches.asScala.toSeq)
}
