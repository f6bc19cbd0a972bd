package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters of one op execution. */
final class LayerAcc {
  val n = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = n(k) = n(k) + v
  def max(k: String, v: Double): Unit = n(k) = math.max(n(k), v)
}

/** A recorded interval: op, construct, action, job or stage. Times are
  * epoch milliseconds; `parent` is the span that caused it. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    key: String, start: Double, end: Double)

/** Traced-pass recorder. Registered from the benchmark only: a
  * SparkListener (jobs, stages, tasks, cached blocks), a
  * QueryExecutionListener (planning phases) and a StreamingQueryListener
  * (micro-batch progress). Each job is tied to its op through the job
  * group the driver sets; spans stay in memory until exit. */
final class Trace extends SparkListener {
  private val accs = mutable.LinkedHashMap[String, LayerAcc]()
  private val spans = mutable.ArrayBuffer[Span]()
  private val stageKey = mutable.Map[Int, String]()
  private val stageJob = mutable.Map[Int, Long]()
  private val jobSpan = mutable.Map[Int, (Long, String, Double)]()
  private val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val blocks = mutable.Map[String, Long]()
  private var cached = 0L
  private var nextId = 1L
  @volatile private var current = ""
  @volatile private var attached = false
  private val closed = mutable.Set[String]()
  private val nanoAnchor = System.nanoTime()
  private val msAnchor = System.currentTimeMillis().toDouble

  private def ms(nano: Long): Double = msAnchor + (nano - nanoAnchor) / 1e6
  private def acc(key: String): LayerAcc = synchronized(accs.getOrElseUpdate(key, new LayerAcc))
  private def id(): Long = synchronized { nextId += 1; nextId }

  private val qel = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val a = acc(current)
      a.add("plans", 1)
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach(p =>
        ph.get(p).foreach(s => a.add(s"${p}_ms", s.durationMs.toDouble)))
    }
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      acc(current).add("plans", 1)
  }
  private val sql = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val a = acc(current)
      a.add("stream_batches", 1)
      e.progress.stateOperators.foreach { s =>
        a.add("state_rows", s.numRowsUpdated.toDouble)
        a.add("state_commit_ms", s.commitTimeMs.toDouble)
      }
    }
  }

  def attach(spark: SparkSession): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qel)
    spark.streams.addListener(sql)
    attached = true
  }
  def detach(spark: SparkSession): Unit = if (attached) {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qel)
    spark.streams.removeListener(sql)
    attached = false
  }

  def opStart(key: String): Unit = { current = key; if (attached) acc(key) }

  /** Close an op: wait for its events, then record op/construct/action
    * spans (t0 → t1 construct, t1 → t2 action, System.nanoTime). */
  def opEnd(key: String, t0: Long, t1: Long, t2: Long, spark: SparkSession): Unit =
    if (attached) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      synchronized {
        val opId = id()
        spans += Span(opId, 0, "op", key.split("/", 2)(1), key, ms(t0), ms(t2))
        val cId = id(); val aId = id()
        spans += Span(cId, opId, "construct", "construct", key, ms(t0), ms(t1))
        spans += Span(aId, opId, "action", "action", key, ms(t1), ms(t2))
        // re-parent this op's jobs under construct or action by start time
        for (i <- spans.indices) {
          val s = spans(i)
          if (s.kind == "job" && s.key == key && s.parent == 0)
            spans(i) = s.copy(parent = if (s.start < ms(t1)) cId else aId)
        }
        closed += key
      }
    }

  private def keyOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(accs.contains).getOrElse(current)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val key = keyOf(e.properties)
    val sid = id()
    jobSpan(e.jobId) = (sid, key, e.time.toDouble)
    e.stageIds.foreach { s => stageKey.getOrElseUpdate(s, key); stageJob.getOrElseUpdate(s, sid) }
    acc(key).add("jobs", 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (sid, key, t0) =>
      spans += Span(sid, 0, "job", s"job ${e.jobId}", key, t0, e.time.toDouble)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val key = stageKey.getOrElse(si.stageId, current)
    val a = acc(key)
    a.add("stages", 1)
    if (org.apache.spark.PerfbenchBus.isShuffleMap(si)) a.add("exchanges", 1)
    stageTasks.remove(si.stageId).filter(_.nonEmpty).foreach { d =>
      val sorted = d.sorted
      a.add("stage_tail_ms", (sorted.last - sorted(sorted.length / 2)).toDouble)
    }
    for (t0 <- si.submissionTime; t1 <- si.completionTime)
      spans += Span(id(), stageJob.getOrElse(si.stageId, 0L), "stage",
        s"stage ${si.stageId}", key, t0.toDouble, t1.toDouble)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = stageKey.getOrElse(e.stageId, current)
    val a = acc(key)
    a.add("tasks", 1)
    val info = e.taskInfo
    val m = e.taskMetrics
    if (info != null) {
      a.add("task_dur_ms", info.duration.toDouble)
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += info.duration
    }
    if (m != null) {
      a.add("task_run_ms", m.executorRunTime.toDouble)
      a.add("task_cpu_ns", m.executorCpuTime.toDouble)
      val sw = m.shuffleWriteMetrics
      a.add("shuffle_write_bytes", sw.bytesWritten.toDouble)
      a.add("shuffle_records_written", sw.recordsWritten.toDouble)
      a.add("shuffle_write_ns", sw.writeTime.toDouble)
      val sr = m.shuffleReadMetrics
      a.add("shuffle_read_bytes", sr.totalBytesRead.toDouble)
      a.add("fetch_wait_ms", sr.fetchWaitTime.toDouble)
      a.add("spill_bytes", m.diskBytesSpilled.toDouble)
      a.max("peak_exec_bytes", m.peakExecutionMemory.toDouble)
      a.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      a.add("input_rows", m.inputMetrics.recordsRead.toDouble)
      a.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      a.add("output_rows", m.outputMetrics.recordsWritten.toDouble)
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      cached += size - blocks.getOrElse(b.blockId.name, 0L)
      if (size > 0) blocks(b.blockId.name) = size else blocks.remove(b.blockId.name)
      acc(current).max("cached_peak_bytes", cached.toDouble)
    }
  }

  /** key → counter map for every traced op execution. */
  def opLayers: Map[String, Map[String, Double]] = synchronized {
    accs.iterator.filter(kv => closed.contains(kv._1))
      .map { case (k, a) => k -> a.n.toMap }.toMap
  }

  def writeSpans(path: Path): Unit = synchronized {
    val lines = spans.iterator.map(s => Json.render(Map("id" -> s.id,
      "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name, "key" -> s.key,
      "start_ms" -> s.start, "end_ms" -> s.end)))
    Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
