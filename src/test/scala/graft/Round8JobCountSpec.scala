package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Action-budget locks for the round-8 loop restatement. Counted as
  * DISTINCT SQL execution ids observed on started scheduler jobs —
  * raw job counts are AQE-config-dependent (one action materializes
  * several stage jobs) and raw SQL-execution counts include job-less
  * registrations, but "executions that launched at least one job" is
  * the sequential-action count a contended host charges latency for.
  *
  * Measured budget per loop (and what each term is): every round
  * spends exactly TWO job-bearing actions — the lazy checkpoint call
  * (whose AQE stage materialization runs the round's exchanges) and
  * the fused scalar probe (which runs the final stage, persists the
  * blocks, and decides convergence). The restatement's savings live
  * INSIDE that budget: no eager checkpoint count pass, no dedicated
  * anti-join/isEmpty probe scan, and for connectedComponents the
  * exact `exceptAll` fires at most once (fingerprint-gated) instead
  * of on every size-matching round. A future edit that re-adds any of
  * those — a third action per round, or per-round exceptAll — breaks
  * these exact bounds.
  */
class Round8JobCountSpec extends SparkSpec {
  import spark.implicits._

  /** Distinct job-launching SQL executions while `body` runs
    * (listener delivery is async, so poll until stable). */
  private def countActions(body: => Unit): Int = {
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val id = j.properties.getProperty("spark.sql.execution.id")
        if (id != null) ids.add(id)
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 5_000_000_000L
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val now = ids.size()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      ids.size()
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("the counter itself counts one execution per action (self-test)") {
    val n = countActions {
      spark.range(10).count()
      spark.range(10).agg(sum(col("id"))).first()
    }
    assert(n === 2, s"expected 2 executions, counted $n")
  }

  test("rootedDepth: at most 2 actions per round + init pair + output") {
    // chain 1 <- 2 <- ... <- 33: depth 32, settles in 5 doubling
    // rounds + 1 confirming round.
    // rootedDepth runs its rounds as RDD jobs over node blocks, and
    // RDD jobs carry no SQL execution id, so this count sees only the
    // final count() and can no longer catch an extra per-round job on
    // its own: RootedDepthSpec's job-budget test (a raw SparkListener
    // job count) is the per-round lock.
    val chain = (1L to 33L).map(p => (p, math.max(1L, p - 1))).toDF("node", "parent")
    val n = countActions { operators.GraphOps.rootedDepth(chain).count() }
    val rounds = operators.GraphOps.lastRounds
    assert(rounds >= 2)
    // init ckpt + init probe + rounds x (ckpt, probe) + final count
    assert(n <= 2 * rounds + 3,
      s"rootedDepth used $n job-bearing actions for $rounds rounds — " +
        "a third per-round action (eager count pass or separate " +
        "convergence probe) is back")
  }

  test("connectedComponents: 2 actions per round, exceptAll at most once") {
    // 16-node path: several star rounds; the exact exceptAll fires
    // exactly once, at the fingerprint-gated fixpoint
    val edges = (1L to 15L).map(i => (i, i + 1)).toDF("src", "dst")
    val n = countActions { operators.GraphOps.connectedComponents(edges).count() }
    val rounds = operators.GraphOps.lastRounds
    assert(rounds >= 2)
    // init ckpt + init fingerprint + rounds x (ckpt, fingerprint)
    // + ONE exceptAll + final count
    assert(n <= 2 * rounds + 4,
      s"connectedComponents used $n job-bearing actions for $rounds " +
        "rounds — either a per-round action returned or exceptAll " +
        "fired off the fingerprint-match path")
  }

  test("knnGraphEdges: 2 actions per round + bucket count + init pair + output") {
    val rounds = 2
    val n = countActions {
      operators.LlmPipeline.knnGraphEdges(spark, sfDir, k = 3,
        rounds = rounds, bucketings = 2, bucketSize = 4,
        capRows = Some(64)).count()
    }
    // ev.count + init ckpt + init probe + rounds x (ckpt, probe)
    // + final count; early convergence only lowers it
    assert(n <= 2 * rounds + 4,
      s"knnGraphEdges used $n job-bearing actions for <= $rounds " +
        "rounds — a third per-round action is back")
    assert(n >= 4, s"suspiciously few actions ($n): did the loop run?")
  }
}
