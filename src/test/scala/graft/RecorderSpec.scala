package graft

import org.apache.spark.sql.ListenerCounts
import org.apache.spark.sql.functions._

/** The contract of `obs.Recorder`, with no sleep anywhere: a record is
  * complete the moment `during` returns, because both of its ends drain
  * the listener bus. */
class RecorderSpec extends SparkSpec {

  test("20 records in a row each hold exactly the jobs, stages and tasks the status tracker saw") {
    val sc = spark.sparkContext
    val tracker = sc.statusTracker
    (1 to 20).foreach { i =>
      val group = s"recorder_spec_$i"
      sc.setJobGroup(group, group)
      val r =
        try obs.Recorder.during(spark) {
          sc.parallelize(1 to 1000, 4).map(x => (x % 7, 1)).reduceByKey(_ + _, 3).collect()
          spark.range(0, 1000, 1, 2).groupBy(col("id") % 5).count().collect()
        } finally sc.clearJobGroup()
      // the tracker is fed by its own listener on the same bus, so the
      // record's closing drain completed it too. Its jobs also list the
      // stages they skipped (AQE's final job re-lists the map stage it
      // reads), which were never submitted.
      val jobs = tracker.getJobIdsForGroup(group).toSeq
      val stages = jobs.flatMap(j => tracker.getJobInfo(j).toSeq.flatMap(_.stageIds)).distinct
        .flatMap(tracker.getStageInfo(_)).filter(_.submissionTime > 0)
      val tasks = stages.map(_.numTasks).sum
      assert(jobs.size >= 2 && r.executions == 1, s"round $i: ${jobs.size} jobs, $r")
      assert((r.jobs, r.stages.size, r.tasks) == ((jobs.size, stages.size, tasks)), s"round $i: $r")
    }
  }

  test("a stream_live_tumble run records at least one micro-batch") {
    val r = obs.Recorder.during(spark)(Registry.byId("stream_live_tumble").fn(spark, sfDir).count())
    assert(r.batches.nonEmpty, r.toString)
  }

  test("a body that throws still detaches every listener") {
    val before = ListenerCounts(spark)
    var inside = before
    val e = intercept[IllegalStateException](obs.Recorder.during(spark) {
      spark.range(10).collect()
      inside = ListenerCounts(spark)
      throw new IllegalStateException("body failed")
    })
    assert(e.getMessage == "body failed")
    assert(inside == ((before._1 + 1, before._2 + 1, before._3 + 1)), s"$before -> $inside")
    assert(ListenerCounts(spark) == before)
  }
}
