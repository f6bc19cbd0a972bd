package graft.operators

import scala.collection.mutable

import graft.blocks.Blocks
import org.apache.spark.{Partitioner, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed graph primitives for the dedup pipeline. The only one a
  * training-data pipeline genuinely needs is connected components:
  * near-dup similarity is not transitive, so verified pairs must
  * collapse into components before a keep-one policy can act (else
  * chains A~B~C yield two contradictory keep-one decisions).
  */
object GraphOps {

  /** Rounds taken by the most recent [[connectedComponents]] or
    * [[rootedDepth]] call — diagnostic only (specs assert the O(log n)
    * bound; the rehearsal script records it alongside wall time). Not
    * part of the API. */
  @volatile private[graft] var lastRounds: Int = 0

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC 2014 — public algorithm).
    *
    * Input: an edge list with columns `src`, `dst`, read as longs
    * (undirected semantics; direction and duplicates do not matter, and
    * a row with a self-loop or a null endpoint is dropped). Output: one
    * row per distinct endpoint — (`id`, `lab`) where `lab` is the
    * minimum node id of the component. Exact and deterministic, so a
    * DuckDB recursive-CTE closure can oracle it (dedup_clusters).
    *
    * Why stars and not min-label propagation (the round-3 shape): label
    * propagation's per-round message volume on a hot component is
    * O(degree of the hub) EVERY round until the whole component has
    * converged. The star operations instead REPLACE the edge set each
    * round and never grow it, so hot components shrink geometrically.
    * Convergence is O(log^2 n) rounds worst-case, O(log n) observed.
    * Min-label pointer jumping (one routed pull per round, as in
    * [[rootedDepth]]) was simulated and rejected: 369 to 638 rounds on
    * 1,024-node paths with random ids, where the stars took 9 or 10.
    *
    * Layout ([[graft.blocks.Blocks]]): the edge set is held as arcs,
    * (node, neighbour) records for both directions of each edge, at the
    * owner block of the node and sorted there by Spark's spillable sort
    * ([[sortedArcs]]). A round is two streaming passes over each node's
    * run of distinct neighbours, each followed by one shuffle:
    *  - large-star, at u: m = min(u, first neighbour), and every
    *    neighbour v > u goes to owner(v) as (v, m);
    *  - small-star, at v over those m's: with mn the first, (mn, v) and
    *    (mn, u) for every other u are the next round's edges.
    * A repeated arc is skipped where a run is read, so each round yields
    * exactly the distinct edge set of one star round, and no per-node
    * neighbour list is built: a hub's run streams through the task.
    * The round's one job merges each block's new run against the
    * previous round's; the loop stops at the first round that changes
    * no block (the first round's job also builds the blocks). Each
    * round's arcs are locally checkpointed and the previous round's are
    * released once the merge has read them. At the fixpoint the edges
    * are a star forest rooted at each component's minimum, so a node's
    * label is the smaller of itself and its first neighbour. The
    * returned frame reads the last round's blocks; [[freeCheckpoint]]
    * on it releases them. */
  def connectedComponents(edges: DataFrame): DataFrame = Blocks.scope { live =>
    val spark = edges.sparkSession
    val part = Blocks.owner(spark)
    var cur = live.checkpoint(arcs(edges, part))
    var rounds = 0
    var done = false
    while (!done) {
      val next = live.checkpoint(starRound(cur, part))
      // the round's one job: per block, (no arc before it, no arc changed)
      val probe = cur.zipPartitions(next) { (was, is) =>
        val before = distinct(was).buffered
        Iterator((!before.hasNext, before.sameElements(distinct(is))))
      }.collect()
      // an empty edge set takes no round
      if (!probe.forall(_._1)) rounds += 1
      done = probe.forall(_._2)
      live.release(cur)
      cur = next
    }
    lastRounds = rounds
    live.handOver(cur)
    readout(spark, cur.mapPartitions(byNode(_) { (x, nbrs) =>
      Iterator(new GenericInternalRow(Array[Any](x, math.min(x, nbrs.next()))))
    }), cur, longs("id", "lab"))
  }

  /** One large-star + small-star round: sorted arcs in, the next
    * round's sorted arcs out. */
  private[graft] def starRound(arcs: RDD[(Long, Long)], part: Partitioner): RDD[(Long, Long)] = {
    val large = sortedArcs(arcs.mapPartitions(byNode(_) { (u, nbrs) =>
      val first = nbrs.next()
      val m = math.min(u, first)
      (Iterator(first) ++ nbrs).filter(_ > u).map(v => (v, m))
    }), part)
    sortedArcs(large.mapPartitions(byNode(_) { (v, ms) =>
      val mn = ms.next()
      (Iterator(v) ++ ms).flatMap(x => Iterator((mn, x), (x, mn)))
    }), part)
  }

  /** The edges (`src`, `dst`, cast to long) as sorted arcs, both
    * directions of each; a row with a self-loop or a null endpoint is
    * dropped, and a repeated edge repeats its arcs. */
  private[graft] def arcs(edges: DataFrame, part: Partitioner): RDD[(Long, Long)] =
    sortedArcs(edges.select(col("src").cast(LongType).as("src"), col("dst").cast(LongType).as("dst"))
      .filter(col("src") =!= col("dst")).rdd
      .flatMap(r => Iterator((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0)))), part)

  /** (node, neighbour) arcs at the owner block of the node, sorted by
    * (node, neighbour) with Spark's spillable external sort. */
  private def sortedArcs(arcs: RDD[(Long, Long)], part: Partitioner): RDD[(Long, Long)] =
    arcs.map((_, ())).repartitionAndSortWithinPartitions(new Partitioner {
      def numPartitions: Int = part.numPartitions
      def getPartition(arc: Any): Int = part.getPartition(arc.asInstanceOf[(Long, Long)]._1)
    }).keys

  /** Sorted arcs without repeats. */
  private def distinct(arcs: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    var last: (Long, Long) = null
    arcs.filter(a => a != last && { last = a; true })
  }

  /** Per node of sorted arcs, `f(node, its distinct neighbours in
    * increasing order)`. The neighbours stream from `arcs`, and what `f`
    * leaves of a run is skipped. */
  private def byNode[X](arcs: Iterator[(Long, Long)])(f: (Long, Iterator[Long]) => Iterator[X]): Iterator[X] = {
    val in = distinct(arcs).buffered
    Iterator.continually(in.hasNext).takeWhile(identity).flatMap { _ =>
      val node = in.head._1
      val run = new Iterator[Long] {
        def hasNext: Boolean = in.hasNext && in.head._1 == node
        def next(): Long = in.next()._2
      }
      f(node, run) ++ { run.foreach(_ => ()); Iterator.empty }
    }
  }

  /** Fixed-iteration PageRank in e6-scaled integer arithmetic.
    *
    * Input: a symmetric distinct edge list (`src`, `dst`, long). Every
    * node starts at rank 1.0 (1,000,000 in e6 units); one iteration is
    * r'(v) = 0.15 + 0.85 · Σ_{u→v} r(u)/deg(u), computed as
    * `150000 + (85 · Σ (r div deg)) div 100` — ALL integer, so the
    * result is bitwise identical across engines, partitionings, and
    * aggregation orders (a float PageRank could not be driver-oracled
    * by hash). Each `div` floors; the systematic mass loss is < deg
    * ulps per node per round — irrelevant for ranking, essential for
    * determinism. On a symmetric graph every node has an in-edge, so
    * no dangling-mass term is needed.
    *
    * Scale: one co-keyed join + one groupBy-sum per iteration, the
    * canonical Pregel round as relational algebra. The caller fixes
    * the iteration count (the qid unrolls the SAME three rounds in its
    * DuckDB oracle); an open-ended convergence loop would run on owner
    * blocks, as [[connectedComponents]] does. Σ(85·r) stays
    * far under Long range until ~10¹¹ nodes; a decimal widening is the
    * escape hatch beyond. */
  def pageRank(edges: DataFrame, iters: Int): DataFrame = {
    // Share-first restatement (r10): the old form persisted
    // edges ⋈ deg — a full extra pass over the big relation to BUILD
    // the join, a 4-column cache, and a per-row `rank div deg`
    // evaluated once per EDGE per round. But the contribution
    // rank(src)/deg(src) depends on src alone, so it is computed on
    // the NODE-sized relation first (share = ranks ⋈ deg, both
    // |nodes| rows — broadcast-sized at any graph scale where ranks
    // fit the driver loop at all) and the per-round big-side work is
    // ONE join of the cached edge relation against that tiny share —
    // bit-identical integer arithmetic (`div` per src, summed per
    // dst), one fewer full edge pass, half the cache width, and
    // |nodes| divisions per round instead of |edges|. Measured (r10
    // CpuProbe, fresh JVM incl. the co-purchase build, sf0.1 2.4M
    // directed edges): per-iteration stage CPU 14–18 → 7–11 s; probe
    // task_cpu 115–147 → ~110 s, where the residual is the family's
    // shared co-purchase build (~37 s) plus this loop's own edge
    // cache build, both one-time.
    //
    // The edge cache persists HASH-PARTITIONED on src (the r10 layout,
    // kept in r13): the cached partitioning satisfies the per-round
    // join's distribution requirement, so the edge bytes cross the
    // wire ONCE at cache build and never again — and with the share
    // side SHUFFLE_HASH-hinted (below) they are never SORTED either.
    // A window-based single-pass degree (count over partitionBy(src))
    // was tried and REJECTED by measurement: WindowExec's
    // per-partition sort over the full edge relation (76 s at the 20×
    // rehearsal point vs 33 s for this form) costs far more than the
    // duplicate hash-aggregate build it avoids.
    // Deliberately DESERIALIZED (unlike the round-6 SER policy for
    // build-once-read-once family caches): every iteration re-scans
    // this relation, and a SER cache re-deserializes 48M edge rows per
    // round — measured 88.7 s vs ~22 s at the 20× rehearsal point.
    // Read-many caches keep row format; build-once caches go SER.
    // Both caches freed by the caller's clearCache or executor
    // eviction, same contract as the other iterative loops' inputs.
    val e = edges.repartition(col("src")).persist()
    // deg is re-read every round (the share join) — persisting the
    // |nodes|-sized aggregate keeps each round from re-scanning the
    // full edge cache to recompute it
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg")).persist()
    var ranks = deg.select(col("src").as("node"),
      lit(1000000L).as("rank_e6"))
    // Join-strategy note (r13, supersedes the r10 "AQE's pick is left
    // alone" A/B): the r10 A/B compared totals on a weather-dominated
    // host and read "within noise"; the r13 NodeProbe plan dump shows
    // what the totals hid — AQE planned e ⋈ share as a SortMergeJoin,
    // fully sorting the 2.39M-row edge cache EVERY round (the share
    // side's estimate derives from the edge-sized relation, so the
    // static planner never saw it as small, and the cached edge side
    // has no query-stage boundary for AQE to replan around; the cached
    // src-partitioning removed the exchange but an SMJ still SORTS).
    // The fix is the explicit SHUFFLE_HASH hint on the node-sized
    // share: the edge side reuses the cached partitioning (no
    // exchange, no sort — ShuffledHashJoin builds a hash table from
    // the share partition instead), so a round's only wide ops are
    // two node-sized exchanges (ranks into the share join, partials
    // out of the dst groupBy). An earlier r13 draft used
    // broadcast(share) — same sort-kill, and ~0.4 s / ~16 CPU-s
    // cheaper at sf0.1 on local[32] (one shared broadcast table vs 32
    // per-partition builds) — but the share is |nodes|-proportional,
    // so the broadcast GROWS with the corpus (BroadcastAudit flagged
    // it 10.0x at the rehearsal point) while the hinted shuffle build
    // is per-partition and scale-invariant. Sum order is irrelevant to
    // the integer aggregation, so results are bit-identical either way.
    // The share build (deg ⋈ ranks) gets the SAME hint (r14, VERDICT
    // r13 ask #3): statically it planned as a SortMergeJoin and only
    // AQE's runtime broadcast conversion saved it at fixture scale
    // (NodeProbe-verified: BroadcastHashJoin, 20k rows/round) — a
    // threshold-dependent rescue that disappears exactly when it
    // matters, since BOTH sides are |nodes|-proportional (the same
    // growth class BroadcastAudit flagged on the share broadcast).
    // SHUFFLE_HASH on ranks pins the threshold-independent shape:
    // deg keeps its persisted hash(src) layout, ranks arrives
    // hash(node)-partitioned from the previous round's groupBy, the
    // build is per-partition and scale-invariant, nothing is sorted.
    // Integer arithmetic → bit-identical results.
    for (_ <- 1 to iters) {
      val share = deg.join(ranks.hint("SHUFFLE_HASH"), col("src") === col("node"))
        .selectExpr("src AS s_src", "rank_e6 div deg AS contrib")
      ranks = e.join(share.hint("SHUFFLE_HASH"), col("src") === col("s_src"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("inb"))
        .selectExpr("dst AS node", "150000L + (85L * inb) div 100L AS rank_e6")
    }
    ranks
  }

  /** Depth-to-root for every node of a rooted forest, by pointer
    * doubling with distance accumulation — the engine's answer to the
    * recursive CTE Spark lacks (org charts, BOM explosions, category
    * trees). Input: (node, parent) with roots encoded as parent ==
    * node, both columns integral or both string. Output: (node, root,
    * depth), node and root of the node column's type, depth bigint.
    *
    * State per node is (anc, d, settled): an ancestor, the hop count to
    * it, and whether that ancestor is a root. It starts at (parent, 1),
    * or (node, 0, settled) for a root. Each round substitutes the
    * ancestor's own state, anc ← anc(anc), d ← d + d(anc),
    * settled ← settled(anc), so anc jumps 2^k hops by round k: a
    * depth-10⁶ chain needs 20 rounds, not 10⁶. A settled node's state
    * is final, so it pulls nothing more, and the loop stops once every
    * node is settled. The flag travels with the pull, so a depth-h node
    * is settled after the first round k with h ≤ 3·2^(k−2): never later
    * than a stationarity check (h ≤ 2^(k−1)) and often one round
    * earlier (hier_depth's depth-17 tree: 5 rounds instead of 6).
    *
    * Layout ([[graft.blocks.Blocks]]): nodes are hashed once into
    * owner blocks that hold their state as arrays with a local index.
    * A round is one routed pull — a request shuffle sends each block's
    * distinct unsettled ancestors to their owner block, a reply shuffle
    * returns (anc(a), d(a), settled(a)) — and a co-partitioned update.
    * The round's probe (rows, live, unsettled) is its only job, and the
    * first round's job also builds the blocks, so a call runs exactly
    * one job per round. Each round's blocks are locally checkpointed
    * (lineage stays one round deep) and the previous round's are
    * released once the probe has materialized them.
    *
    * PRECONDITION: a closed forest of distinct node ids. Every
    * violation fails LOUDLY:
    *  - a duplicate node id fails the block build, naming the id;
    *  - a node on or under a parent CYCLE never settles, so the loop
    *    hits its cap (the convergence require);
    *  - a DANGLING or null parent has no ancestor to pull from, so its
    *    node and then its subtree drain, and the live count ends below
    *    the input's row count (the row-conservation require).
    *
    * The cap is DERIVED, not a magic constant: a forest on n nodes has
    * depth ≤ n, and doubling settles any depth ≤ 2^k in k rounds, so
    * ⌈log₂ n⌉ rounds + 3 slack provably suffice. The returned frame
    * reads the last round's blocks; [[freeCheckpoint]] on it releases
    * them. */
  def rootedDepth(parents: DataFrame): DataFrame =
    graft.TaskFailure.rethrow[IllegalArgumentException, DataFrame](Blocks.scope { live =>
      val spark = parents.sparkSession
      val nodeType = Blocks.idType(parents, "node", "rootedDepth", orString = true)
      require((Blocks.idType(parents, "parent", "rootedDepth", orString = true) == StringType) ==
        (nodeType == StringType),
        "rootedDepth: node and parent must both be integral or both be string columns")
      val key = if (nodeType == StringType) StringType else LongType
      val part = Blocks.owner(spark)
      var cur = live.checkpoint(nodeBlocks(parents.select(col("node").cast(key), col("parent").cast(key)), part))
      var (rows, alive) = (0L, 0L)
      var maxRounds = 1
      var rounds = 0
      var done = false
      while (!done && rounds < maxRounds) {
        val next = live.checkpoint(doublingRound(cur, part))
        // the round's one job: (rows, live, unsettled) after it
        val probe = next.map(b => Array(b.nodes.length.toLong, b.liveNodes, b.unsettledNodes))
          .collect()
        rows = probe.map(_(0)).sum
        alive = probe.map(_(1)).sum
        done = probe.forall(_(2) == 0L)
        // ceil(log2(n)) + 3, floor 4
        maxRounds = math.max(4, 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, rows - 1)) + 3)
        live.release(cur)
        cur = next
        rounds += 1
      }
      lastRounds = rounds
      // not settling within the cap means a parent CYCLE. Fail loudly —
      // wrong depths that LOOK right are the worst possible output.
      require(done, s"rootedDepth did not converge in $rounds rounds " +
        s"(n=$rows): input has a parent cycle")
      // the OTHER precondition violation converges: a dangling parent's
      // subtree drains, which would silently return depths missing
      // those nodes
      require(alive == rows, s"rootedDepth row count changed $rows -> $alive: " +
        "a dangling parent orphaned a subtree (input is not a closed " +
        "forest) — validate parents against nodes upstream")
      live.handOver(cur)
      val typed = Blocks.catalystId(nodeType)
      readout(spark, cur.mapPartitions(_.flatMap { b =>
        b.nodes.indices.iterator.filter(b.anc(_) != null).map { i =>
          new GenericInternalRow(Array[Any](typed(b.nodes(i)), typed(b.anc(i)), b.d(i)))
        }
      }), cur, StructType(Seq(parents.schema("node"), StructField("root", nodeType, nullable = false),
        StructField("depth", LongType, nullable = false))))
    })

  /** One hash block of [[rootedDepth]]'s state: its node keys with a
    * local index, and per node the current ancestor key (null once the
    * node has drained: its ancestor does not exist), the hop count to
    * it, and whether that ancestor is a root. A null node id is kept
    * but never indexed: no parent can name it. */
  private final case class NodeBlock(nodes: Array[Any], index: java.util.HashMap[Any, Integer],
      anc: Array[Any], d: Array[Long], settled: Array[Boolean]) {
    def liveNodes: Long = anc.count(_ != null).toLong
    def unsettledNodes: Long = anc.indices.count(i => anc(i) != null && !settled(i)).toLong
  }

  /** (node, parent) key pairs → one block per partition of `part`,
    * shipped as one batch per (input partition, block). */
  private def nodeBlocks(pairs: DataFrame, part: Partitioner): RDD[NodeBlock] =
    pairs.rdd.mapPartitions { rows =>
      Blocks.spread(part)((mutable.ArrayBuffer[Any](), mutable.ArrayBuffer[Any]())) { to =>
        rows.foreach { r =>
          val (ns, ps) = to(r.get(0))
          ns += r.get(0)
          ps += r.get(1)
        }
      } { case (ns, ps) => (ns.toArray, ps.toArray) }
    }.partitionBy(part).mapPartitions { batches =>
      val nodes = mutable.ArrayBuffer[Any]()
      val anc = mutable.ArrayBuffer[Any]()
      batches.foreach { case (_, (ns, ps)) => nodes ++= ns; anc ++= ps }
      val index = new java.util.HashMap[Any, Integer](nodes.length * 2)
      nodes.indices.foreach { i =>
        if (nodes(i) != null)
          require(index.put(nodes(i), i) == null,
            s"rootedDepth: duplicate node id ${nodes(i)} (node ids must be distinct)")
      }
      val root = Array.tabulate(nodes.length)(i => anc(i) != null && anc(i) == nodes(i))
      Iterator(NodeBlock(nodes.toArray, index, anc.toArray, root.map(r => if (r) 0L else 1L), root))
    }

  /** One pointer-doubling round: each block pulls (anc(a), d(a),
    * settled(a)) for its distinct unsettled ancestors a from their
    * owner blocks, then sets anc ← anc(a), d ← d + d(a),
    * settled ← settled(a); a node whose ancestor is missing or drained
    * drains too. */
  private def doublingRound(blocks: RDD[NodeBlock], part: Partitioner): RDD[NodeBlock] = {
    val requests = blocks.mapPartitionsWithIndex { (from, bs) =>
      val b = bs.next()
      Blocks.spread(part)(mutable.HashSet[Any]()) { to =>
        b.anc.indices.foreach(i => if (b.anc(i) != null && !b.settled(i)) to(b.anc(i)) += b.anc(i))
      }(wanted => (from, wanted.toArray))
    }.partitionBy(part)
    val replies = blocks.zipPartitions(requests) { (bs, reqs) =>
      val b = bs.next()
      reqs.map { case (_, (from, keys)) =>
        val anc = new Array[Any](keys.length)
        val d = new Array[Long](keys.length)
        val settled = new Array[Boolean](keys.length)
        keys.indices.foreach { j =>
          val i = b.index.get(keys(j))
          if (i != null) { anc(j) = b.anc(i); d(j) = b.d(i); settled(j) = b.settled(i) }
        }
        (from, (keys, anc, d, settled))
      }
    }.partitionBy(part)
    blocks.zipPartitions(replies) { (bs, reps) =>
      val b = bs.next()
      val hop = new java.util.HashMap[Any, (Any, Long, Boolean)]()
      reps.foreach { case (_, (keys, anc, d, settled)) =>
        keys.indices.foreach(j => hop.put(keys(j), (anc(j), d(j), settled(j))))
      }
      val (anc, d, settled) = (b.anc.clone(), b.d.clone(), b.settled.clone())
      anc.indices.foreach { i =>
        if (anc(i) != null && !settled(i)) {
          val (a, ad, as) = hop.get(anc(i))
          anc(i) = a
          d(i) += ad
          settled(i) = as
        }
      }
      Iterator(b.copy(anc = anc, d = d, settled = settled))
    }
  }

  /** A frame of `schema` whose rows are `rows`, read off `blocks` that
    * a lineage handed over: unpersisting its RDD releases `blocks`, so
    * [[freeCheckpoint]] on the frame frees them. The one readout of
    * [[rootedDepth]], [[connectedComponents]] and [[boundedBfs]]. */
  private def readout(spark: SparkSession, rows: RDD[InternalRow], blocks: RDD[_],
      schema: StructType): DataFrame =
    GraftColumnBridge.dataFrame(spark, new BlockRows(rows, blocks), schema)

  private final class BlockRows(rows: RDD[InternalRow], @transient blocks: RDD[_]) extends RDD[InternalRow](rows) {
    override protected def getPartitions: Array[Partition] = rows.partitions
    override def compute(split: Partition, ctx: TaskContext): Iterator[InternalRow] = rows.iterator(split, ctx)
    override def unpersist(blocking: Boolean): this.type = { blocks.unpersist(blocking); super.unpersist(blocking) }
  }

  private def longs(names: String*): StructType = StructType(names.map(StructField(_, LongType, nullable = false)))

  /** Hop distances within `hops` hops from a source over undirected
    * `edges` (`src`, `dst`, read as in [[connectedComponents]]):
    * (node, dist) for every node reached, the source at 0. With no
    * `source`, it is the node of most distinct neighbours, ties to the
    * smallest id (graph_shortest_path's rule), and an edge set with no
    * edge gives no row.
    *
    * Layout: the sorted arcs of [[connectedComponents]], persisted; the
    * build job materializes them and picks the source (a given source
    * needs no build job). Each block holds the reached nodes it owns
    * with their distance. A hop is one pass over each block's arcs: a
    * frontier node (at distance hop - 1) pushes its neighbours at
    * distance hop to their owner blocks, in one batch per block with
    * the block's own reached nodes, and each owner keeps a node's least
    * distance: one shuffle. The hops are one RDD lineage, run by the
    * first action on the result, and have no plan to re-optimize. The
    * arcs are the only persisted RDD; [[freeCheckpoint]] on the result
    * releases them. */
  private[graft] def boundedBfs(edges: DataFrame, hops: Int, source: Option[Long] = None): DataFrame =
    Blocks.scope { live =>
      val spark = edges.sparkSession
      val part = Blocks.owner(spark)
      val adj = live.persist(arcs(edges, part))
      // the most neighbours, then the smallest id: the least (-degree, node)
      val src = source.orElse(adj.mapPartitions(byNode(_)((x, nbrs) => Iterator((-nbrs.size.toLong, x)))
        .minOption.iterator).collect().minOption.map(_._2))
      val start = adj.mapPartitionsWithIndex((b, _) =>
        Iterator(mutable.LongMap.from(src.filter(part.getPartition(_) == b).map(_ -> 0L))))
      val reached = (1L to hops).foldLeft(start)(bfsHop(adj, _, _, part))
      live.handOver(adj)
      readout(spark, reached.mapPartitions(_.next().iterator.map { case (x, d) =>
        new GenericInternalRow(Array[Any](x, d))
      }), adj, longs("node", "dist"))
    }

  /** One hop: each block's frontier pushes its neighbours at distance
    * `hop`, batched per owner block with the block's reached nodes, and
    * each owner keeps a node's least distance. */
  private def bfsHop(adj: RDD[(Long, Long)], reached: RDD[mutable.LongMap[Long]], hop: Long,
      part: Partitioner): RDD[mutable.LongMap[Long]] =
    adj.zipPartitions(reached) { (as, rs) =>
      val r = rs.next()
      Blocks.spread(part)(mutable.LongMap[Long]()) { to =>
        r.foreachEntry((x, d) => to(x)(x) = d)
        as.foreach { case (x, y) => if (r.getOrElse(x, -1L) == hop - 1) to(y).getOrElseUpdate(y, hop) }
      }(m => (m.keys.toArray, m.values.toArray))
    }.partitionBy(part).mapPartitions { batches =>
      val r = mutable.LongMap[Long]()
      batches.foreach { case (_, (xs, ds)) =>
        xs.indices.foreach(i => r(xs(i)) = math.min(ds(i), r.getOrElse(xs(i), Long.MaxValue)))
      }
      Iterator(r)
    }

  /** Free the block store of a localCheckpointed DataFrame explicitly
    * (its RDD is persisted outside the CacheManager, so `unpersist` on
    * the Dataset is a no-op and cleanup otherwise waits for driver GC).
    * Safe no-op if the plan is not the expected LogicalRDD shape. */
  private[graft] def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case lr: LogicalRDD => lr.rdd
    }.foreach { rdd: RDD[_] => rdd.unpersist(blocking = false) }
}
