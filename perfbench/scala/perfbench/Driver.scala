package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ByteType, IntegerType, ShortType}

/** JVM side of the benchmark: runs one workload's ops in a closed loop
  * (one client, ops one after another, in list order) and writes every
  * measurement to `<out>/result.json` for `perfbench/run.py`.
  *
  * Ops are calls to the program's public entry points, timed from here:
  *  - a registry qid: `fn(spark, dir)` (construct), then `.count()` (action);
  *  - `MfTrainer.train` on the generated ratings;
  *  - `PaTrainer.train` on the generated labelled vectors.
  *
  * Phases: one session, `warmups` untimed warm-up passes (the first writes
  * each qid's result as parquet for the DuckDB correctness gate in run.py),
  * a wait for the JIT queue to drain, then `passes` timed passes back to
  * back. `spark.catalog.clearCache()`
  * runs before every pass, so family memo builds are paid inside it.
  *
  * Usage: Driver --workload W --data DIR --ops FILE --out DIR --passes P
  *   --trace 0|1 --cores N --warmups W
  */
object Driver {

  final case class Op(name: String, module: String)

  /** Module a qid is registered by; trainer ops belong to `ps`. */
  def moduleOf: Map[String, String] = {
    val families = Seq(
      "Relational" -> graft.operators.Relational.queries,
      "Windows" -> graft.operators.Windows.queries,
      "EventStream" -> graft.operators.EventStream.queries,
      "functions" -> graft.functions.FunctionQueries.queries,
      "LlmPipeline" -> graft.operators.LlmPipeline.queries,
      "ps" -> graft.ps.PsQueries.queries,
      "sketch" -> graft.sketch.SketchQueries.queries,
      "streaming" -> graft.streaming.StreamingQueries.queries)
    families.flatMap { case (m, qs) => qs.map(_.id -> m) }.toMap ++
      Map("MfTrainer.train" -> "ps", "PaTrainer.train" -> "ps")
  }

  val MfK = 8
  val MfIters = 2
  val PaIters = 2

  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--list")) {
      // qid<TAB>module for every Registry.all entry (partition self-test)
      val mod = moduleOf
      graft.Registry.all.foreach(q => println(s"${q.id}\t${mod.getOrElse(q.id, "?")}"))
      return
    }
    val bootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val workload = arg(args, "--workload").get
    val dataDir = arg(args, "--data").get
    val out = Paths.get(arg(args, "--out").get)
    val traced = arg(args, "--trace").contains("1")
    val cores = arg(args, "--cores").get.toInt
    val warmups = arg(args, "--warmups").fold(1)(_.toInt)
    val passes = arg(args, "--passes").get.toInt
    val mod = moduleOf
    val ops = Files.readAllLines(Paths.get(arg(args, "--ops").get)).toArray
      .map(_.toString.trim).filter(_.nonEmpty)
      .map(n => Op(n, mod.getOrElse(n, sys.error(s"unknown op $n"))))
    val byId = graft.Registry.byId
    Files.createDirectories(out)
    Files.writeString(out.resolve("oracle.json"), Json.render(ops.flatMap(o =>
      byId.get(o.name).flatMap(_.oracle).map(o.name -> _)).toMap))

    val host = new HostClock
    val json = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "cores" -> cores, "boot_s" -> bootS,
      "jvm" -> host.jvmContext, "mf_iters" -> MfIters, "pa_iters" -> PaIters)

    val counters = new Counters
    val trace = if (traced) Some(new Trace) else None
    val mfLosses = ArrayBuffer[Seq[Double]]()
    val paWeights = ArrayBuffer[Seq[Double]]()

    // ---- setup: session, then `warmups` untimed passes ----
    val s0 = System.nanoTime()
    val spark = graft.GraftSession.builder().master(s"local[$cores]")
      .shuffle(cores).name("perfbench").build()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(counters)
    val sessionS = (System.nanoTime() - s0) / 1e9

    /** Free a trainer's locally checkpointed factors (blocks outside the
      * CacheManager are otherwise only reclaimed by driver GC). */
    def free(df: DataFrame): Unit =
      df.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd }
        .foreach { rdd: RDD[_] => rdd.unpersist(blocking = false) }

    /** Run one op; returns its record. `dumpTo` = write the result there
      * (correctness pass) instead of counting it. */
    def runOp(op: Op, key: String, dumpTo: Option[Path]): OpRec = {
      val sc = spark.sparkContext
      sc.setJobGroup(key, op.name, interruptOnCancel = false)
      trace.foreach(_.opStart(key))
      val rec = OpRec(op)
      val t0 = System.nanoTime()
      var t1 = t0
      try {
        op.name match {
          case "MfTrainer.train" =>
            val ratings = spark.read.parquet(s"$dataDir/ratings.parquet")
            val (p, q, losses) = graft.ps.MfTrainer.train(spark, ratings, k = MfK, iters = MfIters)
            t1 = System.nanoTime()
            rec.rows = p.count() + q.count()
            rec.detail = losses
            free(p); free(q)
          case "PaTrainer.train" =>
            val data = spark.read.parquet(s"$dataDir/labelled.parquet")
            val dim = data.head().getSeq[Double](0).length
            val (w, _) = graft.ps.PaTrainer.train(spark, data, dim, iters = PaIters)
            t1 = System.nanoTime()
            rec.rows = w.length
            rec.detail = w.toSeq
          case qid =>
            val df = byId(qid).fn(spark, dataDir)
            t1 = System.nanoTime()
            dumpTo match {
              case None => rec.rows = df.count()
              case Some(dir) =>
                // same dtype widening as graft.Verify: integral outputs
                // are int64 on the DuckDB side
                val widened = df.schema.fields.collect {
                  case f if f.dataType == IntegerType || f.dataType == ShortType ||
                    f.dataType == ByteType => f.name
                }.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("long")))
                widened.coalesce(1).write.mode("overwrite").parquet(dir.resolve(qid).toString)
            }
        }
        rec.ok = true
      } catch {
        case e: Throwable =>
          rec.error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          if (t1 == t0) t1 = System.nanoTime()
      }
      val t2 = System.nanoTime()
      rec.constructS = (t1 - t0) / 1e9
      rec.actionS = (t2 - t1) / 1e9
      trace.foreach(_.opEnd(key, t0, t1, t2, spark))
      sc.clearJobGroup()
      rec
    }

    def pass(label: String, dumpTo: Option[Path], tracedPass: Boolean): PassRec = {
      spark.catalog.clearCache()
      trace.foreach(t => if (tracedPass) t.attach(spark) else t.detach(spark))
      val p = new PassRec(label, tracedPass)
      counters.drain(spark); counters.reset()
      host.begin()
      val t0 = System.nanoTime()
      val recs = ops.map(op => runOp(op, s"$label/${op.name}", dumpTo))
      p.wallS = (System.nanoTime() - t0) / 1e9
      counters.drain(spark)
      host.end(p)
      p.taskCpuS = counters.cpuNs.get() / 1e9
      p.ops = recs.toSeq
      recs.foreach { r =>
        if (r.op.name == "MfTrainer.train" && r.ok) mfLosses += r.detail
        if (r.op.name == "PaTrainer.train" && r.ok) paWeights += r.detail
      }
      // end-of-pass full GC: live heap (memos still cached) for
      // heap_live_peak_mb, and lets the ContextCleaner drop dead blocks
      host.fullGc(p)
      p
    }

    val warmupRecs = (1 to warmups).map(i =>
      pass(s"warmup$i", if (i == 1) Some(out.resolve("results")) else None, tracedPass = false))
    // let the JIT finish what the warm-up queued before timing starts
    val settleS = host.settleJit()
    // ---- timed window ----
    val tw0 = System.nanoTime()
    val timed = ArrayBuffer[PassRec]()
    if (traced) {
      // alternate untraced/traced passes: the untraced ones give the
      // overhead baseline, the traced ones the layer numbers
      for (n <- 0 until passes) timed += pass(s"pass${n + 1}", None, n % 2 == 1)
    } else {
      // a pass during which other tenants took a sizeable share of the
      // host is repeated, at most `passes` extra times
      while (timed.count(_.quiet(cores)) < passes && timed.length < 2 * passes)
        timed += pass(s"pass${timed.length + 1}", None, tracedPass = false)
    }
    val windowS = (System.nanoTime() - tw0) / 1e9
    spark.stop()

    json ++= Seq("session_s" -> sessionS, "warmups" -> warmupRecs.map(_.toMap(cores)),
      "passes" -> timed.map(_.toMap(cores)), "window_s" -> windowS, "jit_settle_s" -> settleS,
      "mf_losses" -> mfLosses.toSeq, "pa_weights" -> paWeights.toSeq)
    trace.foreach(t => json("op_layers") = t.opLayers)
    Files.writeString(out.resolve("result.json"), Json.render(json))
    trace.foreach(t => t.writeSpans(out.resolve("spans_raw.jsonl")))
  }
}
