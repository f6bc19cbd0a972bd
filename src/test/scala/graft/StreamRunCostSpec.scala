package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
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

  test("stream_live_state and sink_parquet start no process") {
    val qids = Seq("stream_live_state", "sink_parquet")
    // a JVM's one-time probes (Hadoop's Shell checks for setsid) stay
    // outside the recording
    qids.foreach(run)
    val file = Files.createTempFile("graft_spec_", ".jfr")
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      qids.foreach(run)
      rec.stop()
      rec.dump(file)
      val started = RecordingFile.readAllEvents(file).asScala.map(_.getString("command"))
      val n = started.size
      assert(n === 0, s"e.g. ${started.take(3).mkString("; ")}")
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }
}
