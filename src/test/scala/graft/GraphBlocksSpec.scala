package graft

import org.apache.spark.sql.functions._

/** GraphOps.connectedComponents and boundedBfs over owner blocks: their
  * job budgets, their independence of the block count, the rows they
  * drop, and the blocks they leave persisted. */
class GraphBlocksSpec extends SparkSpec {
  import operators.GraphOps
  import spark.implicits._

  // path 1 - 2 - ... - 40: 7 star rounds; node 2 is the max-degree source
  private def path = (1L until 40L).map(i => (i, i + 1)).toDF("src", "dst")

  private def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    try df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    finally GraphOps.freeCheckpoint(df)

  test("connectedComponents: at most one job per round, plus the output") {
    val jobs = obs.Recorder.during(spark)(GraphOps.connectedComponents(path).count()).jobs
    val rounds = GraphOps.lastRounds
    assert(rounds >= 3, s"rounds = $rounds: did the loop run?")
    // one job per round (the first also builds the blocks) + the count
    assert(jobs <= rounds + 2, s"connectedComponents ran $jobs jobs for $rounds rounds")
  }

  test("boundedBfs: at most 3 jobs, whatever hops is") {
    Seq(0 -> 1L, 1 -> 3L, 6 -> 8L, 45 -> 40L).foreach { case (hops, reached) =>
      var n = 0L
      val jobs = obs.Recorder.during(spark) {
        val d = GraphOps.boundedBfs(path, hops)
        try n = d.count() finally GraphOps.freeCheckpoint(d)
      }.jobs
      assert(n === reached, s"hops = $hops")
      // the block build (it picks the source) + the count
      assert(jobs <= 3, s"boundedBfs ran $jobs jobs for $hops hops")
    }
  }

  test("connectedComponents and boundedBfs: the same rows at 1, 4 and 7 shuffle partitions") {
    // 300 random edges over 200 nodes: many components, repeats, loops
    val rnd = new scala.util.Random(5)
    val g = Seq.fill(300)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong)).toDF("src", "dst")
    val runs = PartitionSweep(spark, Seq(1, 4, 7)) { _ =>
      val cc = pairs(GraphOps.connectedComponents(g))
      (cc, GraphOps.lastRounds, pairs(GraphOps.boundedBfs(g, 4)))
    }
    assert(runs.head._1.nonEmpty && runs.head._3.size > 1)
    runs.tail.foreach(r => assert(r === runs.head, "the block loops differ across partition counts"))
  }

  test("a null endpoint or a self-loop drops the row") {
    val g = Seq((Some(1L), Some(2L)), (Some(2L), None), (None, Some(7L)), (Some(9L), Some(9L)),
      (Some(2L), Some(3L))).toDF("src", "dst")
    assert(pairs(GraphOps.connectedComponents(g)) === Seq((1L, 1L), (2L, 1L), (3L, 1L)))
    // 2 has the most neighbours
    assert(pairs(GraphOps.boundedBfs(g, 3)) === Seq((1L, 1L), (2L, 0L), (3L, 1L)))
    // a source with no edge reaches only itself; no edge and no source, nothing
    assert(pairs(GraphOps.boundedBfs(g, 3, Some(9L))) === Seq((9L, 0L)))
    assert(pairs(GraphOps.boundedBfs(g.filter(lit(false)), 3)).isEmpty)
  }

  test("the block loops release their blocks; freeCheckpoint frees the result") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Seq[() => org.apache.spark.sql.DataFrame](() => GraphOps.connectedComponents(path),
        () => GraphOps.boundedBfs(path, 6), () => GraphOps.boundedBfs(path, 6, Some(1L))).foreach { mk =>
      val d = mk()
      assert(d.count() > 0)
      assert(sc.getPersistentRDDs.size === before.size + 1, "only the blocks the result reads stay")
      GraphOps.freeCheckpoint(d)
      assert(sc.getPersistentRDDs.keySet === before)
    }
    // a build whose input fails releases everything it persisted
    val bad = spark.range(1, 10).select(col("id").as("src"),
      when(col("id") === 5, raise_error(lit("boom"))).otherwise(col("id") + 1).as("dst"))
    intercept[Exception](GraphOps.connectedComponents(bad))
    assert(sc.getPersistentRDDs.keySet === before, "a failed connectedComponents left RDDs persisted")
    intercept[Exception](GraphOps.boundedBfs(bad, 3))
    assert(sc.getPersistentRDDs.keySet === before, "a failed boundedBfs left RDDs persisted")
  }
}
