package graft

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import graft.Bench.num
import graft.VerifyJson.escape
import graft.obs.{Plans, Recorder, Stage}

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
    val spark = graft.GraftSession.builder().local().build()
    try run(spark, args.head, args.drop(1).toSeq) finally spark.stop()
  }

  def run(spark: SparkSession, dir: String, qids: Seq[String]): Unit = {
    val fns = qids.map(q => q -> Registry.byId(q).fn)
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val runs = for (pass <- 1 to 2; (q, fn) <- fns) yield {
      var timed = (0L, 0L, 0L, 0L, 0L, 0L)
      val r = Recorder.during(spark) {
        val (c0, t0) = (os.getProcessCpuTime, System.nanoTime())
        val df = fn(spark, dir)
        val t1 = System.nanoTime()
        val rows = df.count()
        timed = (c0, t0, t1, rows, os.getProcessCpuTime, System.nanoTime())
      }
      val (c0, t0, t1, rows, c1, t2) = timed
      val batches =
        if (!q.startsWith("stream_live")) ""
        else r.batches.map { b =>
          s"""{"duration_ms":${b.durationMs.map { case (k, v) => s"${escape(k)}:$v" }.mkString("{", ",", "}")},"state_commit_ms":${b.stateCommitMs}}"""
        }.mkString(""","batches":[""", ",", "]")
      println(s"""{"qid":${escape(q)},"pass":$pass,"construct_s":${num((t1 - t0) / 1e9, 3)},""" +
        s""""action_s":${num((t2 - t1) / 1e9, 3)},"rows":$rows,"sql_executions":${r.executions},""" +
        s""""jobs":${r.jobs},"stages":${r.stages.size},"tasks":${r.tasks},""" +
        s""""task_cpu_s":${num(r.stages.map(_.cpuS).sum, 3)},"task_run_s":${num(r.stages.map(_.runS).sum, 3)},""" +
        s""""process_cpu_s":${num((c1 - c0) / 1e9, 3)}$batches}""")
      (q, fn, r.stages)
    }
    runs.takeRight(fns.size).foreach { case (q, fn, stages) => // pass 2
      stages.sortBy(-_.cpuS).take(12).foreach { case Stage(name, cpu, run, tasks, _) =>
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
  }
}
