package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale

import com.fasterxml.jackson.databind.ObjectMapper

/** The diagnostic mains run end to end on the test session, so they
  * cannot drift away from the qids and plan shapes they measure. */
class DiagnosticsSpec extends SparkSpec {
  private def output(body: => Any): Seq[String] = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(buf, true, UTF_8))(body)
    buf.toString(UTF_8).linesIterator.filter(_.nonEmpty).toSeq
  }

  test("Profile: locale-proof JSON per qid and pass, with rows, jobs and stream batches") {
    val qids = Seq("agg_bool", "stream_live_tumble")
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    val lines =
      try output(Profile.run(spark, sfDir, qids))
      finally Locale.setDefault(saved)
    assert(Locale.getDefault == saved)
    val mapper = new ObjectMapper()
    val json = lines.map(l => try mapper.readTree(l) catch {
      case e: Exception => fail(s"not JSON: $l", e)
    })
    val runs = json.filter(_.has("pass"))
    assert(runs.map(r => (r.get("qid").asText, r.get("pass").asInt)) ==
      Seq(1, 2).flatMap(p => qids.map(_ -> p)))
    qids.foreach { q =>
      val expected = Registry.byId(q).fn(spark, sfDir).count()
      runs.filter(_.get("qid").asText == q).foreach { r =>
        assert(r.get("rows").asLong == expected, r.toString)
        assert(r.get("jobs").asInt >= 1, r.toString)
        Seq("construct_s", "action_s", "task_cpu_s", "task_run_s", "process_cpu_s")
          .foreach(f => assert(r.get(f).isDouble, s"$f in $r"))
      }
    }
    runs.filter(_.get("qid").asText == "stream_live_tumble").foreach { r =>
      assert(r.get("batches").size >= 1, r.toString)
    }
    assert(json.exists(_.has("stage")) && json.exists(_.has("node")))
  }

  test("Profile's timings are taken under Bench's regime in the forked JVM") {
    // this JVM gets build.sbt's javaOptions, as tools/run_main.sh's
    // `sbt runMain` does: ParallelGC on a pre-sized heap of the
    // SPARK_DRIVER_MEM size with the young generation capped, the one
    // regime predicate Profile.main and Bench.main both check
    assert(Bench.regime().ok)
  }

  private val auditQids = Seq("graph_pagerank", "join_skew_salt", "stream_live_tumble")

  test("the plan audits over sf0.001 at both scales: no growth verdict, stream_live skipped loudly") {
    for (audit <- Seq("scan", "broadcast", "serial", "shuffle", "shj")) {
      val dirs = if (audit == "scan") Seq(sfDir) else Seq(sfDir, sfDir)
      var code = -1
      val lines = output { code = Audit.run(spark, audit, dirs, auditQids) }
      assert(code == 0, s"$audit exit code\n${lines.mkString("\n")}")
      assert(!lines.exists(l => l.startsWith("GROWS") || l.startsWith("SUPERLINEAR") ||
        l.startsWith("ERR")), s"$audit\n${lines.mkString("\n")}")
      assert(lines.contains("SKIP stream_live_tumble (streaming IncrementalExecution " +
        "is invisible to QueryExecutionListener)"), s"$audit\n${lines.mkString("\n")}")
    }
  }

  test("the action audit counts every qid's executions, stream_live included") {
    val lines = output(Audit.run(spark, "action", Seq(sfDir), auditQids))
    val counts = lines.collect { case l if l.matches("""\s*\d+\s+\S+""") =>
      val Array(c, q) = l.trim.split("\\s+"); q -> c.toInt
    }.toMap
    assert(counts.keySet == auditQids.toSet, lines.mkString("\n"))
    assert(counts.values.forall(_ >= 1), lines.mkString("\n"))
    assert(lines.last == s"total actions: ${counts.values.sum} over 3 qids")
  }

  test("an unknown audit name is a usage error") {
    assert(Audit.run(spark, "nope", Nil, Nil) == 2)
  }
}
