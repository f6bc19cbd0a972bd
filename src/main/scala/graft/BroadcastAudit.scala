package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Diagnostic main: find broadcasts whose BUILD SIDE grows with the
  * corpus — the 100-TB failure class a fixture-scale suite can't see
  * by timing. A broadcast that fits at sf0.1 but is keyed by an
  * unbounded universe (vocabulary, doc ids, pair keys) grows with the
  * data and OOMs every executor at production scale; r6 caught
  * text_tfidf's full-vocabulary df broadcast by HAND-auditing plans.
  * This automates the check empirically: run every qid against the 1x
  * and 10x rehearsal corpora (ScaleRehearsal's namespaced id-shifted
  * replication — vocabulary, doc count, and key universes all scale
  * k x) and compare each qid's LARGEST broadcast build, by the
  * executed plan's own numOutputRows metric.
  *
  *   - ~1x ratio: the build side is structurally bounded (a fixed
  *     query band, a dim table, a 1-row stats aggregate, a capped
  *     top-k) — safe at any scale.
  *   - ~kx ratio: the build side tracks the corpus — an OOM at some
  *     scale is a WHEN, not an IF, and the broadcast must move to the
  *     bounded side or become a shuffled join.
  *
  * Dims replicated by the rehearsal (nation, region) flag at kx by
  * construction; triage those as bounded-in-production. Usage:
  * graft.BroadcastAudit [dir1x] [dir10x] — prints per-qid max build
  * rows at both scales, worst growth first, flagging ratio >= 5.
  *
  * r9 results: default mode flags 26 qids, dominated by AQE's OWN
  * fixture-scale broadcast choices (self-correcting — the threshold
  * un-chooses them as the side grows). Hinted mode flags exactly TWO:
  * dedup_decontam's eval-gram set (fixed in production — benchmarks
  * are MBs; it grows here only because the rehearsal replicates
  * src0) and join_broadcast's part dim (the qid that exists to
  * demonstrate the hint; part doubles as the rehearsal's hierarchy
  * keyspace, so it scales there — see its Scaladoc for the drop-the-
  * hint-at-scale contract). No hint-forced broadcast tracks the
  * corpus unexpectedly.
  */
object BroadcastAudit {
  /** numOutputRows of every live (non-reused) broadcast build in `p`. */
  private def broadcastRows(p: SparkPlan): Seq[Long] = p match {
    case a: AdaptiveSparkPlanExec => broadcastRows(a.executedPlan)
    case s: QueryStageExec => broadcastRows(s.plan)
    case _: ReusedExchangeExec => Nil
    case _: InMemoryTableScanExec => Nil
    case b: BroadcastExchangeExec =>
      b.metrics.get("numOutputRows").map(_.value).toSeq ++
        (b.children ++ b.subqueries).flatMap(broadcastRows)
    case other =>
      (other.children ++ other.subqueries).flatMap(broadcastRows)
  }

  def main(args: Array[String]): Unit = {
    val dir1 = args.headOption.getOrElse("/tmp/graft_scale/x1")
    val dirK = args.drop(1).headOption.getOrElse("/tmp/graft_scale/x10")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.max(4, Runtime.getRuntime.availableProcessors()).toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Warehouse.dir)
    // hinted-broadcast mode: with the auto thresholds off, every
    // broadcast AQE would have CHOSEN (and will un-choose once the side
    // outgrows the threshold — self-correcting at scale) disappears;
    // what remains is hint-forced by our code, and growth THERE is the
    // real unbounded-broadcast finding
    if (sys.env.contains("SPARK_GRAFT_NO_BCAST")) {
      builder.config("spark.sql.autoBroadcastJoinThreshold", "-1")
      builder.config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val perExec = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        perExec.add(broadcastRows(qe.executedPlan))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def drainMax(): Long = {
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 3_000_000_000L
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(30)
        val now = perExec.size()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      var mx = 0L
      while (!perExec.isEmpty) mx = math.max(mx, perExec.poll().foldLeft(0L)(math.max))
      mx
    }

    // dev-only prefix filter (uniform across the four audit mains):
    // re-check just the qids a fix touched without a two-sweep full run
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
      // stream_live_* execute via IncrementalExecution, which never
      // reaches QueryExecutionListener — running them here would pay
      // seconds of streaming machinery per sweep to audit only the
      // trivial post-sink batch fragment, recording HOLLOW coverage.
      // Their scale story is the batch twins' (same shapes) plus the
      // StreamingMlSpec equality proofs; excluded LOUDLY:
      .filterNot { case (n, _) =>
        val skip = n.startsWith("stream_live")
        if (skip) println(s"SKIP $n (streaming IncrementalExecution is invisible to QueryExecutionListener)")
        skip
      }
    def family(name: String): String = name.takeWhile(_ != '_')
    def sweep(dir: String): Map[String, Long] =
      ordered.zipWithIndex.map { case ((name, fn), i) =>
        drainMax()
        try fn(spark, dir).collect()
        catch { case t: Throwable => println(s"ERR $name $dir ${t.getClass.getSimpleName}") }
        val mx = drainMax()
        val lastOfFamily = i + 1 >= ordered.size ||
          family(ordered(i + 1)._1) != family(name)
        if (lastOfFamily)
          try spark.catalog.clearCache() catch { case _: Throwable => () }
        name -> mx
      }.toMap

    val at1 = sweep(dir1)
    val atK = sweep(dirK)
    val rows = ordered.map(_._1).map { q =>
      val (a, b) = (at1(q), atK(q))
      val ratio = if (a > 0) b.toDouble / a else if (b > 0) Double.PositiveInfinity else 1.0
      (q, a, b, ratio)
    }.sortBy(-_._4)
    var flagged = 0
    rows.foreach { case (q, a, b, r) =>
      if (b > 0 && r >= 5.0) {
        flagged += 1
        println(f"GROWS $r%6.1fx  $q%-24s build rows $a%8d -> $b%8d")
      }
    }
    println(s"broadcasts growing >=5x from $dir1 to $dirK: $flagged")
    spark.stop()
  }
}
