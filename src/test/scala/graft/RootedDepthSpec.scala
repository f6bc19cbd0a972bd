package graft

import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** GraphOps.rootedDepth over node blocks: its job budget, its loud
  * failures on malformed forests, its output types and its
  * independence of the block count. */
class RootedDepthSpec extends SparkSpec {
  import spark.implicits._

  // chain 1 <- 2 <- ... <- 33: depth 32, 5 doubling rounds
  private def chain = (1L to 33L).map(p => (p, math.max(1L, p - 1))).toDF("node", "parent")

  test("rootedDepth: at most one job per round, plus the output") {
    val jobs = obs.Recorder.during(spark)(operators.GraphOps.rootedDepth(chain).count()).jobs
    val rounds = operators.GraphOps.lastRounds
    assert(rounds >= 2, s"rounds = $rounds: did the loop run?")
    // one job per round (the first also builds the blocks) + the count
    assert(jobs <= rounds + 2, s"rootedDepth ran $jobs jobs for $rounds rounds")
  }

  test("rootedDepth: a duplicate node id fails loudly, naming it") {
    val dup = Seq((1L, 1L), (2L, 1L), (3L, 2L), (3L, 1L)).toDF("node", "parent")
    val e = intercept[IllegalArgumentException](operators.GraphOps.rootedDepth(dup).count())
    assert(e.getMessage.contains("duplicate node id 3"), e.getMessage)
  }

  test("rootedDepth: a null parent fails as a dangling parent") {
    // node 3 has no children, so only its own row can go missing
    val broken = Seq((1L, Some(1L)), (2L, Some(1L)), (3L, None)).toDF("node", "parent")
    val e = intercept[IllegalArgumentException](operators.GraphOps.rootedDepth(broken).count())
    assert(e.getMessage.contains("dangling parent"), e.getMessage)
  }

  test("rootedDepth: string and int node ids keep their type; depth is bigint") {
    val s = operators.GraphOps.rootedDepth(
      Seq(("a", "a"), ("b", "a"), ("c", "b")).toDF("node", "parent"))
    assert(s.schema.map(_.dataType) === Seq(StringType, StringType, LongType))
    assert(s.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted.toSeq ===
      Seq(("a", "a", 0L), ("b", "a", 1L), ("c", "a", 2L)))
    operators.GraphOps.freeCheckpoint(s)
    // int nodes under bigint parents, the shape hier_depth feeds it
    val i = operators.GraphOps.rootedDepth(
      Seq((1, 1L), (2, 1L), (3, 2L), (7, 7L), (8, 7L)).toDF("node", "parent"))
    assert(i.schema.map(_.dataType) === Seq(IntegerType, IntegerType, LongType))
    assert(i.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted.toSeq ===
      Seq((1, 1, 0L), (2, 1, 1L), (3, 1, 2L), (7, 7, 0L), (8, 7, 1L)))
    operators.GraphOps.freeCheckpoint(i)
  }

  test("rootedDepth: the same rows at 1, 4 and 7 shuffle partitions") {
    // a random recursive forest of 300 nodes, every 50th node a root
    val rnd = new scala.util.Random(7)
    val forest = (1L to 300L).map(p => (p, if (p % 50 == 1) p else 1L + rnd.nextLong(p - 1)))
      .toDF("node", "parent")
    val runs = PartitionSweep(spark, Seq(1, 4, 7)) { _ =>
      val d = operators.GraphOps.rootedDepth(forest)
      try d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      finally operators.GraphOps.freeCheckpoint(d)
    }
    assert(runs.head.size === 300)
    runs.tail.foreach(r => assert(r === runs.head, "rootedDepth differs across partition counts"))
  }

  test("rootedDepth releases its blocks; freeCheckpoint frees the result") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val d = operators.GraphOps.rootedDepth(chain)
    assert(d.count() === 33)
    assert(sc.getPersistentRDDs.size === before.size + 1, "only the last round's blocks stay")
    operators.GraphOps.freeCheckpoint(d)
    assert(sc.getPersistentRDDs.keySet === before)
    // the loud failures release everything too: a duplicate node id,
    // a dangling parent and a parent cycle
    Seq(Seq((1L, Some(1L)), (2L, Some(1L)), (3L, Some(2L)), (3L, Some(1L))),
        Seq((1L, Some(1L)), (2L, Some(1L)), (3L, None)),
        Seq((1L, Some(1L)), (2L, Some(3L)), (3L, Some(2L)))).foreach { rows =>
      intercept[IllegalArgumentException](operators.GraphOps.rootedDepth(rows.toDF("node", "parent")))
      assert(sc.getPersistentRDDs.keySet === before, s"a failed call on $rows left RDDs persisted")
    }
  }
}
