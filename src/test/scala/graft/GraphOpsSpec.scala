package graft

import org.apache.spark.sql.functions._

/** Unit semantics for the GraphOps operators on synthetic graphs
  * where the answer is known by construction (the dedup_clusters qid
  * then cross-engine-verifies the same loop against a DuckDB recursive
  * CTE on real fixture data).
  */
class GraphOpsSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  private def edges(pairs: (Long, Long)*): DataFrame = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    operators.GraphOps.connectedComponents(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("a chain collapses to one component labeled by its minimum") {
    // 1-2-3-4-5 ... a path needs TRANSITIVE closure, not pairwise logic
    val lab = labelsOf(edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L))
    assert(lab === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("one star round turns the fork 1-2, 1-3, 2-4 into the star at 1") {
    import operators.GraphOps
    // large-star sends 2 and 3 to 1, and 4 to min(2, 1) = 1; small-star
    // then gives each (1, leaf) edge as arcs in both directions
    val part = blocks.Blocks.owner(spark)
    val round = GraphOps.starRound(GraphOps.arcs(edges(1L -> 2L, 1L -> 3L, 2L -> 4L), part), part)
    assert(round.collect().toSet === Set(1L -> 2L, 2L -> 1L, 1L -> 3L, 3L -> 1L, 1L -> 4L, 4L -> 1L))
  }

  test("disjoint components keep separate minimum labels") {
    val lab = labelsOf(edges(10L -> 11L, 11L -> 12L, 20L -> 21L, 30L -> 31L))
    assert(lab === Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L))
  }

  test("the star-forest readout labels paths 1-2-3 and 5-6 with no plan aggregate") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val out = operators.GraphOps.connectedComponents(edges(1L -> 2L, 2L -> 3L, 5L -> 6L))
    try {
      // the readout skips repeated arcs in the block stream; a DataFrame
      // distinct on it would add an exchange to every call
      assert(out.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.isEmpty)
      assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    } finally operators.GraphOps.freeCheckpoint(out)
  }

  test("direction, duplicates, and self-loops do not matter") {
    val lab = labelsOf(edges(5L -> 3L, 3L -> 5L, 5L -> 3L, 3L -> 3L, 3L -> 1L))
    assert(lab === Map(1L -> 1L, 3L -> 1L, 5L -> 1L))
  }

  test("a long path converges in O(log n) star rounds, not O(diameter)") {
    val path = (1L until 64L).map(i => i -> (i + 1))
    val lab = labelsOf(edges(path: _*))
    assert(lab.values.toSet === Set(1L))
    assert(lab.size === 64)
    // diameter 63; alternating stars must beat label propagation's
    // ~diameter rounds by a wide margin (observed: 7)
    assert(operators.GraphOps.lastRounds <= 16,
      s"took ${operators.GraphOps.lastRounds} rounds for a 64-node path")
    // a 40-node path still takes several rounds
    assert(labelsOf(edges((1L until 40L).map(i => i -> (i + 1)): _*)) === (1L to 40L).map(_ -> 1L).toMap)
    assert(operators.GraphOps.lastRounds >= 3, s"rounds = ${operators.GraphOps.lastRounds}")
  }

  test("a hot hub component (star of 200 leaves) converges in few rounds") {
    val star = (101L to 300L).map(i => 100L -> i) :+ (1L -> 100L)
    val lab = labelsOf(edges(star: _*))
    assert(lab.values.toSet === Set(1L))
    assert(lab.size === 202)
    assert(operators.GraphOps.lastRounds <= 6,
      s"took ${operators.GraphOps.lastRounds} rounds for a hub component")
  }

  test("empty edge list yields empty labels") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(operators.GraphOps.connectedComponents(empty).count() === 0)
  }

  test("pagerank: a regular graph is a fixpoint of the integer iteration") {
    import spark.implicits._
    // triangle, symmetric: deg 2 everywhere -> inbound = 2*(1e6 div 2) = 1e6
    // -> r' = 150000 + 850000 = 1e6 at every node, every iteration
    val tri = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val r = operators.GraphOps.pageRank(tri, 3).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r === Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L))
  }

  test("pagerank: hand-computed star after one iteration") {
    import spark.implicits._
    // star 1-{2,3}: deg(1)=2, deg(2)=deg(3)=1
    // r1(leaf) = 150000 + 85*(1e6 div 2) div 100 = 575000
    // r1(hub)  = 150000 + 85*(1e6 + 1e6) div 100 = 1850000
    val star = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L)).toDF("src", "dst")
    val r = operators.GraphOps.pageRank(star, 1).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r === Map(1L -> 1850000L, 2L -> 575000L, 3L -> 575000L))
  }

  test("degree-ordered triangle orientation finds each K4 triangle once") {
    import spark.implicits._
    // K4 on {1,2,3,4} plus pendant 5-1: 4 triangles, each K4 node in 3,
    // pendant in none
    val undPairs = for {
      a <- 1L to 4L; b <- 1L to 4L if a != b
    } yield (a, b)
    val und = (undPairs ++ Seq((1L, 5L), (5L, 1L))).toDF("u", "v")
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val oriented = und
      .join(deg.select(col("u"), col("d").as("du")), "u")
      .join(deg.select(col("u").as("v"), col("d").as("dv")), "v")
      .filter(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")))
      .select(col("u"), col("v"))
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.v") === col("e2.u"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    val tris = wedges.join(oriented.select(col("u").as("a"), col("v").as("c")),
      Seq("a", "c"), "leftsemi")
    assert(tris.count() === 4)
    val perNode = tris.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(perNode === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("pagerank conserves mass up to integer floor loss on the fixture graph") {
    val q = operators.Relational.queries.find(_.id == "graph_pagerank").get
      .fn(spark, sfDir)
    assert(q.count() === 20)
    // recompute full ranks for the conservation check
    val li = sources.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val edges = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst")).distinct()
    val ranks = operators.GraphOps.pageRank(edges, 3)
    val n = ranks.count()
    val total = ranks.agg(sum("rank_e6")).head().getLong(0)
    // each div floors: loss strictly below 1e6-per-node per round is far
    // more than actually possible; 1% slack is generous and tight enough
    assert(total <= n * 1000000L)
    assert(total >= (n * 1000000L * 99L) / 100L)
    assert(ranks.filter(col("rank_e6") < 150000L).count() === 0)
  }

  test("rootedDepth: chain depths exact, O(log d) rounds, star in one hop") {
    import spark.implicits._
    // chain 1 <- 2 <- ... <- 33: depth(p) = p - 1, 32 hops deep
    val chain = (1L to 33L).map(p => (p, math.max(1L, p - 1))).toDF("node", "parent")
    val d = operators.GraphOps.rootedDepth(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(d(1L) === 0L && d(2L) === 1L && d(33L) === 32L)
    // 2^5 = 32: doubling must settle in ~log2(depth) rounds, not depth
    assert(operators.GraphOps.lastRounds <= 7,
      s"rounds = ${operators.GraphOps.lastRounds}")
    // star: every node points at the root directly
    val star = (1L to 50L).map(p => (p, 1L)).toDF("node", "parent")
    val ds = operators.GraphOps.rootedDepth(star)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(ds(1L) === 0L && (2L to 50L).forall(ds(_) === 1L))
  }

  test("rootedDepth: dangling parent fails loudly, not silently short") {
    import spark.implicits._
    // node 5's parent 99 exists nowhere: its subtree (5, then 6 under
    // 5) drains through the hop join and the loop converges at a
    // SMALLER count — the row-conservation require must throw rather
    // than return depths missing nodes 5 and 6 (ADVICE r8: the old
    // comment claimed the convergence require caught this; it only
    // catches cycles)
    val broken = Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 2L),
      (5L, 99L), (6L, 5L)).toDF("node", "parent")
    val e = intercept[IllegalArgumentException] {
      operators.GraphOps.rootedDepth(broken).count()
    }
    assert(e.getMessage.contains("dangling parent"),
      s"wrong failure mode: ${e.getMessage}")
  }

  test("bounded BFS relaxation: exact hop distances on a lollipop graph") {
    // triangle 1-2-3 with a tail 3-4-5-6: dist from 1 = 0,1,1,2,3,4
    val lollipop = edges(1L -> 2L, 2L -> 3L, 1L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 6L)
    val dist = operators.GraphOps.boundedBfs(lollipop, hops = 6, source = Some(1L))
    val got = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    operators.GraphOps.freeCheckpoint(dist)
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L,
      5L -> 3L, 6L -> 4L))
  }

  test("jaccard link prediction scores the square's diagonals at 1.0") {
    import spark.implicits._
    // square a-b-c-d-a (support satisfied by construction below):
    // diagonals (1,3) and (2,4) share BOTH neighbors -> jaccard 1.0,
    // and are the only non-adjacent wedge pairs
    val canon = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 1L -> 4L).toDF("u", "v")
    val und = canon.unionByName(canon.select(col("v").as("u"), col("u").as("v")))
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val scored = und.as("e1").join(und.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .groupBy(col("e1.v").as("u"), col("e2.v").as("v"))
      .agg(count(lit(1)).as("n_common"))
      .join(canon, Seq("u", "v"), "leftanti")
      .join(deg.select(col("u"), col("d").as("du")), "u")
      .join(deg.select(col("u").as("v"), col("d").as("dv")), "v")
      .select(col("u"), col("v"),
        expr("(1000000 * n_common) div (du + dv - n_common)").as("jacc_e6"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(scored === Set((1L, 3L, 1000000L), (2L, 4L, 1000000L)))
  }
}
