package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.spark.metrics.source.CodegenMetrics

/** The fixed cost a stream pays on every run beyond its first: no
  * generated class is compiled again (artifact isolation gave each run's
  * cloned session its own executor classloader, so the codegen cache
  * missed), and no micro-batch or parquet commit starts a process (the
  * stock local filesystem forks `chmod` and `readlink`). */
class StreamRunCostSpec extends SparkSpec {

  private def run(qid: String): Unit = Registry.byId(qid).fn(spark, sfDir).collect()

  test("a stream_live qid's second run compiles no generated class") {
    val streams = Registry.all.map(_.id).filter(_.startsWith("stream_live_")).sorted
    assert(streams.size === 5)
    val compiled = streams.map { q =>
      run(q)
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      run(q)
      q -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
    }
    assert(compiled.forall(_._2 == 0), compiled.mkString(", "))
  }

  /** Whether `e` ran on the thread of the `java.lang.ref.Cleaner` that
    * `ArtifactManager` registers each session with: when a GC collects
    * an earlier (cloned) session, that cleaner deletes the session's
    * artifact directory, and on Unix the delete always forks `rm -rf`.
    * Such a fork belongs to whichever GC runs, not to the run recorded. */
  private def artifactCleanup(e: RecordedEvent): Boolean =
    Option(e.getThread("eventThread")).exists(_.getJavaName.matches("Cleaner-\\d+")) &&
      Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
        _.getMethod.getType.getName == "org.apache.spark.sql.artifact.ArtifactManager$StateCleanupRunner"))

  test("stream_live_state and sink_parquet start no process") {
    val qids = Seq("stream_live_state", "sink_parquet")
    // a JVM's one-time probes stay outside the recording: Hadoop's Shell
    // checks for setsid on the first runs, and the first driver heartbeat
    // initializes ProcfsMetricsGetter, which forks `getconf PAGESIZE`
    qids.foreach(run)
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val file = Files.createTempFile("graft_spec_", ".jfr")
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      qids.foreach(run)
      rec.stop()
      rec.dump(file)
      val (cleanups, started) = RecordingFile.readAllEvents(file).asScala.partition(artifactCleanup)
      def show(es: Iterable[RecordedEvent]) =
        es.map(e => s"${e.getString("command")} [${e.getThread("eventThread").getJavaName}]").mkString("; ")
      val n = started.size
      assert(n === 0, s"e.g. ${show(started.take(3))}; not counted, artifact cleanups: ${show(cleanups)}")
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }
}
