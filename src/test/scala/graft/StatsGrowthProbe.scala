package graft

import org.apache.spark.sql.functions._

/** Empirical pin for the plan-statistics growth hazard of iterative
  * loops: the sizeInBytes statistic of the relation a fixpoint returns
  * must stay BOUNDED however many rounds ran. A DataFrame self-join
  * loop whose rounds inherit their input's statistics compounds them,
  * and Catalyst's BigInt stats arithmetic then becomes the wall-time
  * sink once rounds exceed ~25 (the rootedDepth hang, round 5).
  * connectedComponents returns a frame over its last round's blocks,
  * whose statistic is the same after one round as after many. */
class StatsGrowthProbe extends SparkSpec {
  import spark.implicits._

  test("connectedComponents round relation carries bounded sizeInBytes stats") {
    // a path graph converges slowly enough to see several rounds
    val edges = (1L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val out = operators.GraphOps.connectedComponents(edges)
    val rounds = operators.GraphOps.lastRounds
    val toy = operators.GraphOps.connectedComponents(Seq((1L, 2L)).toDF("src", "dst"))
    try {
      assert(out.select(countDistinct(col("lab"))).head().getLong(0) === 1L)
      assert(rounds >= 3)
      val size = out.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(size <= BigInt(Long.MaxValue), s"sizeInBytes $size outgrew a long after $rounds rounds")
      assert(size === toy.queryExecution.optimizedPlan.stats.sizeInBytes,
        s"sizeInBytes after $rounds rounds differs from the one-round toy's")
    } finally Seq(out, toy).foreach(operators.GraphOps.freeCheckpoint)
  }
}
