package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Per-iteration job and shuffle budget of the two trainers, as the
  * difference between a 4-iteration and a 2-iteration run of the same
  * input (setup, final loss and output cancel out):
  *  - MfTrainer: at most 3 jobs and 2 shuffle stages per iteration
  *    (the block layout spends 2 and 2: the Q pull and the combined Q
  *    push, one job for the Q update and one for the loss);
  *  - PaTrainer: at most 2 jobs per iteration (it spends 1 aggregate).
  * A regression to per-iteration joins or exploded vector sums costs
  * several times that.
  */
class TrainerBudgetSpec extends SparkSpec {

  /** (jobs started, shuffle-map stages run) while `body` runs
    * (listener delivery is async, so poll until stable). */
  private def count(body: => Unit): (Int, Int) = {
    val jobs = new AtomicInteger
    val shuffleStages = ConcurrentHashMap.newKeySet[Int]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskType == "ShuffleMapTask") shuffleStages.add(t.stageId)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var last = (-1, -1)
      var stable = 0
      val deadline = System.nanoTime() + 5_000_000_000L
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val now = (jobs.get, shuffleStages.size)
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      last
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("MfTrainer: <= 3 jobs and <= 2 shuffle stages per extra iteration") {
    val ratings = Tables0.ratings(spark, sfDir)
    def run(iters: Int) = count {
      val (p, q, _) = ps.MfTrainer.train(spark, ratings, k = 4, iters = iters)
      operators.GraphOps.freeCheckpoint(p)
      operators.GraphOps.freeCheckpoint(q)
    }
    val (j2, s2) = run(2)
    val (j4, s4) = run(4)
    assert(j4 > j2, s"no extra jobs for extra iterations ($j2 -> $j4): did the loop run?")
    assert(j4 - j2 <= 3 * 2, s"MfTrainer jobs: $j2 at 2 iterations, $j4 at 4")
    assert(s4 - s2 <= 2 * 2, s"MfTrainer shuffle stages: $s2 at 2 iterations, $s4 at 4")
  }

  test("PaTrainer: <= 2 jobs per extra iteration") {
    val data = sources.Tables.embeddings(spark, sfDir)
      .select(expr("transform(embedding, v -> cast(v as double))").as("x"),
        when(col("label") >= 5, 1.0).otherwise(-1.0).as("y"))
    def run(iters: Int) = count(ps.PaTrainer.train(spark, data, dim = 64, iters = iters))
    val (j2, _) = run(2)
    val (j4, _) = run(4)
    assert(j4 > j2, s"no extra jobs for extra iterations ($j2 -> $j4): did the loop run?")
    assert(j4 - j2 <= 2 * 2, s"PaTrainer jobs: $j2 at 2 iterations, $j4 at 4")
  }
}
