package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{CoalesceExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Diagnostic main: find SERIAL stages — plan points where the whole
  * relation funnels through ONE partition — and measure whether the
  * rows through them grow with the corpus. The third audit in the
  * empirical-scale family (ScanAudit: redundant reads; BroadcastAudit:
  * unbounded broadcast builds; this: unbounded serial stages).
  *
  * A single-partition stage is the one plan shape a bigger cluster
  * cannot help: 999 of 1000 executors idle while one sorts or scans
  * the funneled relation. The suite admits such stages DELIBERATELY in
  * a few places where the funneled relation is structurally bounded —
  * skyline_pareto's sweep runs over the DISTINCT (price, size) domain,
  * sim_ann_ivf_sweep's regret window over a 4-row nprobe ladder,
  * join_range_band's band-carry prefix sum over per-band aggregates —
  * each justified by a comment. Comments drift; this audit makes the
  * boundedness claim MEASURED instead: every qid runs against the 1×
  * and 10× rehearsal corpora (ScaleRehearsal's namespaced id-shifted
  * replication) and each qid's largest single-partition row count is
  * compared across scales, from the executed plans' own metrics.
  *
  *   - ~1× ratio: the funneled relation is bounded (a value domain, a
  *     top-k, a parameter ladder) — serial latency is a constant, safe
  *     at any scale.
  *   - ~k× ratio: the serial stage tracks the corpus — at some scale
  *     it becomes THE bottleneck (single-partition sort: the classic
  *     accidental `Window.orderBy` with no partitionBy over raw rows);
  *     the fix is a partitioned restatement (two-phase sweep, banded
  *     prefix sums, per-group windows).
  *
  * Detected funnels: ShuffleExchangeExec with SinglePartition output
  * (what an unpartitioned Window/global aggregate-to-one/limit shape
  * compiles to) and CoalesceExec(1). Broadcast exchanges also serialize
  * but are BroadcastAudit's subject; reused exchanges and cache reads
  * are counted at the execution that built them (the ScanAudit
  * convention). Rows come from the exchange's shuffleRecordsWritten
  * (or the child's numOutputRows for coalesce), so limits that funnel
  * only k rows report k, not their input size.
  *
  * Usage: graft.SerialStageAudit [dir1x] [dir10x] — prints per-qid max
  * serial rows at both scales, worst growth first, flagging ratio >= 5
  * with >= 10k rows at 10x, then the largest flat serial stages for
  * context.
  */
object SerialStageAudit {
  /** (context, rows) for every live single-partition funnel in `p`.
    * `context` is the funnel node's parent operator name — "what is
    * being computed serially" (WindowExec, SortExec, ObjectHashAggregate
    * …) — since the exchange itself says only "SinglePartition". */
  private[graft] def serialRows(p: SparkPlan, parent: String = "root"): Seq[(String, Long)] = {
    def metric(n: SparkPlan, keys: String*): Long =
      keys.flatMap(k => n.metrics.get(k)).headOption.map(_.value).getOrElse(-1L)
    p match {
      case a: AdaptiveSparkPlanExec => serialRows(a.executedPlan, parent)
      case s: QueryStageExec => serialRows(s.plan, parent)
      case _: ReusedExchangeExec => Nil
      case _: InMemoryTableScanExec => Nil
      case _: BroadcastExchangeExec => Nil // BroadcastAudit's subject
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
        (s"$parent <- single-partition shuffle",
          metric(e, "shuffleRecordsWritten", "numOutputRows")) +:
          (e.children ++ e.subqueries).flatMap(serialRows(_, e.nodeName))
      case c: CoalesceExec if c.numPartitions == 1 =>
        // coalesce has no row metric of its own and its direct child may
        // be a WholeStageCodegen shell or (under a write command) an
        // AdaptiveSparkPlanExec wrapper, which TreeNode.collect does NOT
        // descend through — walk with explicit unwrapping and take the
        // nearest descendant that reports numOutputRows
        def walk(n: SparkPlan): Option[Long] = n match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case s: QueryStageExec => walk(s.plan)
          case x if x.metrics.contains("numOutputRows") =>
            Some(x.metrics("numOutputRows").value)
          case x => x.children.view.flatMap(walk(_)).headOption
        }
        (s"$parent <- coalesce(1)", walk(c.child).getOrElse(-1L)) +:
          (c.children ++ c.subqueries).flatMap(serialRows(_, c.nodeName))
      case other =>
        (other.children ++ other.subqueries).flatMap(serialRows(_, other.nodeName))
    }
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
    // scale-path mode (the ScanAudit convention): with broadcast joins
    // disabled every join takes its non-broadcastable shape, exposing
    // serial stages a fixture-scale broadcast choice would hide
    if (sys.env.contains("SPARK_GRAFT_NO_BCAST")) {
      builder.config("spark.sql.autoBroadcastJoinThreshold", "-1")
      builder.config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val perExec = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(String, Long)]]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        perExec.add(serialRows(qe.executedPlan))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def drainMax(): (String, Long) = {
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 3_000_000_000L
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(30)
        val now = perExec.size()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      var mx: (String, Long) = ("", 0L)
      while (!perExec.isEmpty)
        perExec.poll().foreach { case (c, r) => if (r > mx._2) mx = (c, r) }
      mx
    }

    // dev-only prefix filter (the Bench contract; unset on full runs):
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
    def sweep(dir: String): Map[String, (String, Long)] =
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
      val ((_, a), (ctx, b)) = (at1(q), atK(q))
      val ratio = if (a > 0) b.toDouble / a else if (b > 0) Double.PositiveInfinity else 1.0
      (q, a, b, ratio, ctx)
    }
    var flagged = 0
    rows.sortBy(-_._4).foreach { case (q, a, b, r, ctx) =>
      if (b >= 10000 && r >= 5.0) {
        flagged += 1
        println(f"GROWS $r%6.1fx  $q%-24s serial rows $a%8d -> $b%8d  [$ctx]")
      }
    }
    println("-- largest serial stages at 10x (flat or not, context) --")
    rows.sortBy(-_._3).take(8).foreach { case (q, a, b, _, ctx) =>
      println(f"  $q%-24s $a%8d -> $b%8d  [$ctx]")
    }
    println(s"serial stages growing >=5x with >=10k rows from $dir1 to $dirK: $flagged")
    spark.stop()
  }
}
