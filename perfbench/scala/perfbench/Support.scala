package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.openmbean.CompositeData
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One op execution as the client saw it. */
final case class OpRec(op: Driver.Op) {
  var constructS = 0.0
  var actionS = 0.0
  var ok = false
  var rows = -1L
  var error = ""
  var detail: Seq[Double] = Nil
  def toMap: Map[String, Any] = Map("name" -> op.name, "module" -> op.module,
    "construct_s" -> constructS, "action_s" -> actionS, "ok" -> ok,
    "rows" -> rows, "error" -> error)
}

/** One pass over the workload's ops, with its per-pass counters. */
final class PassRec(val label: String, val traced: Boolean) {
  var wallS = 0.0
  var startMs = 0L
  var endMs = 0L
  var taskCpuS = 0.0
  var processCpuS = 0.0
  var gcS = 0.0
  var stealS = -1.0
  var busyOtherS = -1.0
  var heapLiveMb = 0.0
  var ops: Seq[OpRec] = Nil
  /** Other tenants (steal + busy-other) took under 10% of the host's
    * core-seconds during the pass; unknown weather counts as quiet. */
  def quiet(cores: Int): Boolean =
    math.max(0.0, stealS) + math.max(0.0, busyOtherS) < 0.10 * wallS * cores
  def toMap(cores: Int): Map[String, Any] = Map("label" -> label, "traced" -> traced,
    "quiet" -> quiet(cores),
    "wall_s" -> wallS, "start_ms" -> startMs, "end_ms" -> endMs,
    "task_cpu_s" -> taskCpuS, "process_cpu_s" -> processCpuS, "gc_s" -> gcS,
    "heap_live_mb" -> heapLiveMb,
    "host" -> Map("steal_s" -> stealS, "busy_other_s" -> busyOtherS),
    "ops" -> ops.map(_.toMap))
}

/** The only listener of an untraced pass: executor CPU summed over tasks
  * (the `task_cpu_s` channel). */
final class Counters extends SparkListener {
  val cpuNs = new AtomicLong
  def reset(): Unit = cpuNs.set(0)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
  /** Wait until every event posted so far has reached the listeners. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

/** Process CPU, GC time, host weather (/proc/stat) and live heap around
  * a pass. Host figures are context, not metrics. */
final class HostClock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val oldPool = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  @volatile private var majorPeak = 0L
  private var stat0: Option[Array[Long]] = None
  private var cpu0 = 0L
  private var gc0 = 0L
  private var t0Ms = 0L

  // peak old-generation occupancy right after each full collection
  gcBeans.foreach {
    case em: NotificationEmitter =>
      em.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            if (info.getGcAction.contains("major")) {
              val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
              after.collectFirst { case (k, v) if k.contains("Old Gen") || k.contains("Tenured") => v.getUsed }
                .foreach(u => if (u > majorPeak) majorPeak = u)
            }
          }
      }, null, null)
    case _ => ()
  }

  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** (user, nice, system, idle, iowait, irq, softirq, steal, ...) ticks. */
  private def procStat(): Option[Array[Long]] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try Some(src.getLines().next().split("\\s+").drop(1).map(_.toLong))
      finally src.close()
    } catch { case _: Throwable => None }

  def begin(): Unit = {
    stat0 = procStat(); cpu0 = os.getProcessCpuTime; gc0 = gcMs
    t0Ms = System.currentTimeMillis(); majorPeak = 0L
  }

  def end(p: PassRec): Unit = {
    p.startMs = t0Ms
    p.endMs = System.currentTimeMillis()
    p.processCpuS = (os.getProcessCpuTime - cpu0) / 1e9
    p.gcS = (gcMs - gc0) / 1e3
    for (a <- stat0; b <- procStat()) {
      val d = b.zip(a).map { case (x, y) => x - y }
      val hz = 100.0 // USER_HZ
      if (d.length > 7) p.stealS = d(7) / hz
      val idle = d(3) / hz + (if (d.length > 4) d(4) / hz else 0.0)
      p.busyOtherS = math.max(0.0, d.sum / hz - idle - p.processCpuS)
    }
  }

  def fullGc(p: PassRec): Unit = {
    System.gc()
    val now = oldPool.map(_.getUsage.getUsed).getOrElse(0L)
    p.heapLiveMb = math.max(majorPeak, now) / 1048576.0
  }

  /** Wait (at most `capS`) until the JIT compilers have been idle for two
    * consecutive 250 ms ticks; returns the seconds waited. */
  def settleJit(capS: Double = 5.0): Double = {
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var last = jit.getTotalCompilationTime
    var quiet = 0
    while (quiet < 2 && (System.nanoTime() - t0) / 1e9 < capS) {
      Thread.sleep(250)
      val now = jit.getTotalCompilationTime
      quiet = if (now - last < 25) quiet + 1 else 0
      last = now
    }
    (System.nanoTime() - t0) / 1e9
  }

  def jvmContext: Map[String, Any] = {
    val rt = ManagementFactory.getRuntimeMXBean
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    val young = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Eden") || p.getName.contains("Survivor"))
      .map(_.getUsage.getMax).filter(_ > 0).sum
    Map("collectors" -> gcBeans.map(_.getName),
      "heap_init_mb" -> heap.getInit / 1048576.0,
      "heap_max_mb" -> heap.getMax / 1048576.0,
      "young_max_mb" -> young / 1048576.0,
      "flags" -> rt.getInputArguments.asScala.filter(a => a.startsWith("-X")).toSeq,
      "java" -> System.getProperty("java.version"))
  }
}

/** Minimal JSON writer (no locale, full double precision). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Option[_] => o.fold("null")(render)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case other => str(other.toString)
  }
}
