package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.Bench.num
import graft.VerifyJson.escape
import graft.obs.{Diag, Meter, Plans}

/** Where a qid's time goes: `graft.Profile <sfDir> <qid...>`.
  *
  * Runs the qids in the given order for two passes, cold then JIT-warm,
  * each as `fn(spark, dir).count()` (the bench's action). Caches are not
  * cleared between qids, so a family memo built by one qid shows as
  * reuse in the next. For each (qid, pass) it prints one JSON line:
  * `construct_s` (building the frame, where the eager memo builds run),
  * `action_s`, `rows`, `sql_executions` (distinct execution ids on
  * started jobs), `jobs`, `stages`, `tasks`, `task_cpu_s` (Σ executor
  * CPU), `task_run_s` (Σ executor run time, waits inside tasks
  * included) and `process_cpu_s` (the whole JVM over construct +
  * action; task CPU ≪ process CPU means the time is on the driver).
  * A `stream_live_*` line also lists each micro-batch's `duration_ms`
  * phases and its `state_commit_ms`. After pass 2 it prints, per qid,
  * the pass-2 stages with the most task CPU, then the executed plan of
  * one `collect()` run, one JSON line per live node with its non-zero
  * metrics (`collect()`, not `count()`: count plans a new
  * QueryExecution and leaves the frame's own plan unexecuted). Every
  * number is formatted in `Locale.ROOT`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Profile <sfDir> <qid...>")
    val regime = Bench.regime()
    if (!regime.ok) System.err.println(s"${regime.mismatch} - these timings carry a GC tax " +
      "graft.Bench's do not; launch through tools/run_main.sh")
    val spark = Diag.session()
    try run(spark, args.head, args.drop(1).toSeq) finally spark.stop()
  }

  def run(spark: SparkSession, dir: String, qids: Seq[String]): Unit = {
    val fns = qids.map(q => q -> Registry.byId(q).fn)
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val meter = new RunMeter
    meter.attach(spark)
    try {
      val runs = for (pass <- 1 to 2; (q, fn) <- fns) yield {
        Diag.settle(meter.arrived)
        meter.take()
        val (c0, t0) = (os.getProcessCpuTime, System.nanoTime())
        val df = fn(spark, dir)
        val t1 = System.nanoTime()
        val rows = df.count()
        val (c1, t2) = (os.getProcessCpuTime, System.nanoTime())
        Diag.settle(meter.arrived)
        val r = meter.take()
        val batches =
          if (!q.startsWith("stream_live")) ""
          else r.batches.map { case (phases, commitMs) =>
            s"""{"duration_ms":${phases.map { case (k, v) => s"${escape(k)}:$v" }.mkString("{", ",", "}")},"state_commit_ms":$commitMs}"""
          }.mkString(""","batches":[""", ",", "]")
        println(s"""{"qid":${escape(q)},"pass":$pass,"construct_s":${num((t1 - t0) / 1e9, 3)},""" +
          s""""action_s":${num((t2 - t1) / 1e9, 3)},"rows":$rows,"sql_executions":${r.executions},""" +
          s""""jobs":${r.jobs},"stages":${r.stages.size},"tasks":${r.stages.map(_.tasks).sum},""" +
          s""""task_cpu_s":${num(r.stages.map(_.cpuS).sum, 3)},"task_run_s":${num(r.stages.map(_.runS).sum, 3)},""" +
          s""""process_cpu_s":${num((c1 - c0) / 1e9, 3)}$batches}""")
        (q, fn, r)
      }
      runs.takeRight(fns.size).foreach { case (q, fn, r) => // pass 2
        r.stages.sortBy(-_.cpuS).take(12).foreach { case Stage(name, cpu, run, tasks) =>
          println(s"""{"qid":${escape(q)},"stage":${escape(name)},"task_cpu_s":${num(cpu, 3)},""" +
            s""""task_run_s":${num(run, 3)},"tasks":$tasks}""")
        }
        val df = fn(spark, dir)
        df.collect()
        Plans.walk(df.queryExecution.executedPlan, 0)((_, d, _) => Some(d + 1)).foreach { case (n, d) =>
          val metrics = n.metrics.toSeq.map { case (k, m) => (k, m.value) }.filter(_._2 > 0)
            .sortBy(-_._2).map { case (k, v) => s"${escape(k)}:$v" }
          println(s"""{"qid":${escape(q)},"depth":$d,"node":${escape(n.nodeName)},""" +
            s""""metrics":${metrics.mkString("{", ",", "}")}}""")
        }
      }
    } finally meter.detach(spark)
  }

  private[graft] final case class Stage(name: String, cpuS: Double, runS: Double, tasks: Int)

  /** What one run started: SQL executions (distinct execution ids on
    * started jobs: raw job counts are AQE-stage artifacts, raw execution
    * counts include job-less registrations), jobs, completed stages, and
    * streaming micro-batches as (durationMs phases, state commit ms). */
  private[graft] final case class Run(executions: Int, jobs: Int, stages: Seq[Stage],
      batches: Seq[(Seq[(String, Long)], Long)])

  private[graft] class RunMeter extends SparkListener with Meter[Run] {
    private val executions = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    private val jobs = new AtomicInteger()
    private val stages = new ConcurrentLinkedQueue[Stage]()
    private val batches = new ConcurrentLinkedQueue[(Seq[(String, Long)], Long)]()
    private val progress = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = batches.add((
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
      stages.add(Stage(info.name.takeWhile(_ != '\n').take(90), m.executorCpuTime / 1e9,
        m.executorRunTime / 1e3, info.numTasks))
    }
    def arrived: Int = executions.size() + jobs.get() + stages.size() + batches.size()
    def take(): Run = {
      def drain[A](q: ConcurrentLinkedQueue[A]): Seq[A] =
        Iterator.continually(q.poll()).takeWhile(_ != null).toSeq
      val r = Run(executions.size(), jobs.getAndSet(0), drain(stages), drain(batches))
      executions.clear()
      r
    }
    def attach(spark: SparkSession): Unit = {
      spark.sparkContext.addSparkListener(this)
      spark.streams.addListener(progress)
    }
    def detach(spark: SparkSession): Unit = {
      spark.sparkContext.removeSparkListener(this)
      spark.streams.removeListener(progress)
    }
  }
}
