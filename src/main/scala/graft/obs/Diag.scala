package graft.obs

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Registry, Scratch, Warehouse}

/** The harness under the diagnostic mains (`graft.Audit`,
  * `graft.Profile`, `ExplainAudit`, `ScaleRehearsal`, `Verify`) and
  * `graft.Bench`: one session, one settle, one qid selection and one
  * sweep. The live-plan walker and the plan measures are in [[Plans]].
  */
object Diag {
  /** `local[cpus]` with one shuffle partition per core, UTC, parquet
    * TIMESTAMP(NANOS) read as long (`Tables.events` converts it), no UI,
    * a per-process warehouse and shuffle/spill scratch on
    * [[Scratch.fastRoot]] when the host has one (the shared-disk default
    * charged 11–14 s of shuffle-write I/O wait to kilobyte exchanges
    * under co-tenant disk load). `cpus` defaults to SPARK_GRAFT_CPUS or
    * max(4, nproc). The engine's own extensions are not installed (that
    * is `GraftSession`). `graft.Bench` runs on this session. */
  def session(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.max(4, Runtime.getRuntime.availableProcessors()).toString)): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Warehouse.dir)
    Scratch.fastRoot.foreach(builder.config("spark.local.dir", _))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Listener delivery is async and the bus drain is private API: poll
    * `count` every 30 ms until three reads in a row agree, at most 3 s. */
  def settle(count: => Int): Unit = {
    var last = -1
    var stable = 0
    val deadline = System.nanoTime() + 3_000_000_000L
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(30)
      val now = count
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }

  /** Every registered qid, in name order (the bench's order). */
  def allQids: Seq[String] = Registry.all.map(_.id).sorted

  /** The registered qids starting with one of the SPARK_GRAFT_ONLY
    * prefixes (comma-separated) when it is set, else `default`: re-check
    * just the qids a fix touched without a full sweep. */
  def selected(default: Seq[String]): Seq[String] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq) match {
      case Some(prefixes) => allQids.filter(q => prefixes.exists(q.startsWith))
      case None => default
    }

  /** `qids` for a QueryExecutionListener measure. stream_live_* run
    * through streaming's IncrementalExecution, which never reaches that
    * listener: running them would pay seconds of streaming machinery to
    * audit only the trivial post-sink batch fragment, recording hollow
    * coverage. Their scale story is the batch twins' (same shapes) plus
    * the StreamingMlSpec equality proofs; they are excluded loudly. */
  def planQids(qids: Seq[String]): Seq[String] = qids.filterNot { q =>
    val skip = q.startsWith("stream_live")
    if (skip) println(s"SKIP $q (streaming IncrementalExecution is invisible to QueryExecutionListener)")
    skip
  }

  /** Run `action` on each qid's frame over `dir`, in the given order,
    * and return what `meter` collected for each. A failing qid prints
    * an `ERR` line and reports what arrived anyway. The cache is
    * cleared at each family boundary (the prefix before the first
    * `_`), as the bench does, so family memos are built once per
    * family. */
  def sweep[A](spark: SparkSession, dir: String, qids: Seq[String], meter: Meter[A])(
      action: DataFrame => Any): Seq[(String, A)] = {
    def family(q: String): String = q.takeWhile(_ != '_')
    def settled(): A = { settle(meter.arrived); meter.take() }
    meter.attach(spark)
    try qids.zipWithIndex.map { case (q, i) =>
      settled()
      try action(Registry.byId(q).fn(spark, dir))
      catch { case t: Throwable => println(s"ERR $q $dir ${t.getClass.getSimpleName}") }
      val measured = settled()
      if (i + 1 >= qids.size || family(qids(i + 1)) != family(q))
        try spark.catalog.clearCache() catch { case _: Throwable => () }
      q -> measured
    }
    finally meter.detach(spark)
  }
}

/** A measure fed by Spark listeners: `arrived` counts the events
  * delivered so far (what [[Diag.settle]] waits on) and `take()` hands
  * over what arrived since the last take. */
trait Meter[A] {
  def arrived: Int
  def take(): A
  def attach(spark: SparkSession): Unit
  def detach(spark: SparkSession): Unit
}

/** `measure` of the executed plan of every successful SQL execution. */
class PlanMeter[M](measure: SparkPlan => M) extends QueryExecutionListener with Meter[Seq[M]] {
  private val measured = new ConcurrentLinkedQueue[M]()
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    measured.add(measure(qe.executedPlan))
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  def arrived: Int = measured.size()
  def take(): Seq[M] = Iterator.continually(measured.poll()).takeWhile(_ != null).toSeq
  def attach(spark: SparkSession): Unit = spark.listenerManager.register(this)
  def detach(spark: SparkSession): Unit = spark.listenerManager.unregister(this)
}
