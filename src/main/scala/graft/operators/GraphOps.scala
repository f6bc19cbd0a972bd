package graft.operators

import scala.collection.mutable

import graft.blocks.Blocks
import org.apache.spark.{Partitioner, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
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
    * Input: an edge list with two long columns `src`, `dst` (undirected
    * semantics; direction, duplicates, and self-loops are normalized
    * internally). Output: one row per distinct endpoint — (`id`, `lab`)
    * where `lab` is the minimum node id of the component. Exact and
    * deterministic, so a DuckDB recursive-CTE closure can oracle it
    * (dedup_clusters).
    *
    * Why stars and not min-label propagation (the round-3 shape): label
    * propagation's per-round message volume on a hot component is
    * O(degree of the hub) EVERY round until the whole component has
    * converged, and the shortcut relation grows by O(nodes) per round.
    * The star operations instead REPLACE the edge relation each round
    * and provably never grow it: each round emits at most one edge per
    * input edge (large-star) / per input edge + node (small-star), and
    * duplicates collapse under `distinct`, so hot components shrink the
    * relation geometrically instead of re-broadcasting it. Convergence
    * is O(log^2 n) rounds worst-case, O(log n) observed.
    *
    * Per-round shape: two groupBy-mins + two co-keyed joins over the
    * current edge relation — all map-side combinable, all on the same
    * (long, long) pairs. Convergence decision stays EXACT — a
    * set-difference (`next EXCEPT cur` empty AND sizes match) — but
    * the exact check is GATED behind a cheap fingerprint
    * (count, Σ decimal(xxhash64(u,v))) computed by the same scalar job
    * that materializes the round (round-8 restatement): a fingerprint
    * that differs from the previous round's proves the relation
    * changed (equal sets ⟹ equal fingerprint, deterministically), so
    * exceptAll runs only on a fingerprint match — in practice exactly
    * once, at the true fixpoint. A spurious fingerprint collision
    * (changed set, same sum — possible in principle) merely runs one
    * exceptAll that says "not converged"; it can never stop a round
    * early, so the label-sum-aliasing hazard the earlier shape
    * documented does not apply to the gate. Decimal(38,0) sums keep
    * the Σhash exact and ANSI-overflow-free to ~10¹⁸ edges.
    *
    * Every round localCheckpoints LAZILY and the fingerprint action
    * doubles as the checkpoint's final-stage materialization — the
    * eager checkpoint's dedicated count pass is gone from every round
    * (under AQE the round's exchange stages still materialize inside
    * the checkpoint call; the fusion removes the extra sequential
    * scans, each of which pays full scheduling latency on a contended
    * host). Both star ops
    * reference the edge relation twice (the group-min side and the
    * emit side), so an uncut lineage DOUBLES per round — exponential
    * logical-plan growth that OOMs plan stringification long before
    * any data is at risk; the inputs a round reads are always the
    * PREVIOUS round's already-materialized blocks.
    * The previous round's checkpoint blocks are unpersisted EXPLICITLY
    * once the next round is materialized (localCheckpointed RDDs are
    * not in the CacheManager, so without this, block cleanup would wait
    * on driver GC + ContextCleaner — O(edges) blocks per round can
    * accumulate during long runs). Every 8th round the checkpoint is
    * consumed through a stats-reset view ([[statsReset]]) so plan
    * STATISTICS can't compound without bound either — with inherited
    * stats an open-ended fixpoint squares sizeInBytes per round until
    * BigInt stats arithmetic, not data, is the bottleneck. On a real
    * cluster the same loop uses reliable checkpoint() to DFS every few
    * rounds (the GraphFrames/GraphX iteration contract).
    */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val canonical = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    // ck is the checkpointed handle (owns the blocks, freed per round);
    // cur is its periodically stats-reset view (see statsReset: without
    // it an open-ended fixpoint's plan statistics square every round)
    // (count, Σ decimal-hash) change-gate — the one scalar job per
    // round, doubling as the lazy checkpoint's materialization
    def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"))).first()
      (r.getLong(0), r.getDecimal(1))
    }
    var ck = canonical.localCheckpoint(false)
    var cur: DataFrame = ck
    var (curSize, curHash) = fingerprint(ck)
    var rounds = 0
    var converged = curSize == 0L
    while (!converged) {
      val nextCk = ccRound(cur).localCheckpoint(false)
      val next = statsResetEvery(rounds, nextCk)
      val (nextSize, nextHash) = fingerprint(nextCk)
      // exceptAll (the exact decider) runs ONLY on a fingerprint match —
      // in practice once, at the true fixpoint; a differing fingerprint
      // already proves the relation changed
      val unchanged = nextSize == curSize && nextHash.compareTo(curHash) == 0 &&
        next.exceptAll(cur).isEmpty
      freeCheckpoint(ck)
      ck = nextCk
      cur = next
      curSize = nextSize
      curHash = nextHash
      rounds += 1
      converged = unchanged
    }
    lastRounds = rounds
    // At the fixpoint the relation is a star forest rooted at each
    // component's minimum: every edge is (root, member).
    // roots needs no pre-distinct: the union's final distinct collapses
    // the duplicate (root, root) rows — one exchange instead of two.
    val leaves = cur.select(col("v").as("id"), col("u").as("lab"))
    val roots = cur.select(col("u").as("id"), col("u").as("lab"))
    leaves.unionByName(roots).distinct()
  }

  /** One large-star + small-star contraction round over a canonical
    * (u < v, distinct) edge relation — extracted from the loop so its
    * plan shape is lockable by test BEFORE the localCheckpoint cuts it
    * out of the inspectable lineage (PlanLockSpec's "CC round body" row
    * holds its one pure-distinct Aggregate at the root: the final
    * set-restoring distinct; the two star group-mins carry min(), and a
    * re-added intermediate dedup would be a second distinct). */
  private[graft] def ccRound(cur: DataFrame): DataFrame = {
    // Large-star: every node u connects its strictly-larger neighbors
    // to min(N(u) ∪ {u}). Work from both edge directions so each
    // node's full neighborhood is in one group.
    val dirs = cur.unionByName(
      cur.select(col("v").as("u"), col("u").as("v")))
    val largeMin = dirs.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    // m <= u < v, so (m, v) is already canonical and never a self-loop.
    // NO intermediate distinct (round 8, −1 exchange/round): small-star's
    // min-aggregation ignores duplicate rows and the round's FINAL
    // distinct restores the set, so the result is identical; the
    // duplicate multiset stays bounded (each `dirs` row emits ≤ 1 row
    // here, so |afterLarge| ≤ 2·|cur| rows into the next two keyed ops —
    // the star contraction's no-growth guarantee is about the SET, which
    // the end-of-round distinct still enforces before the checkpoint).
    val afterLarge = dirs.join(largeMin, "u")
      .filter(col("v") > col("u"))
      .select(col("m").as("u"), col("v"))
    // Small-star: every node v connects its smaller-or-equal
    // neighborhood N<=(v) ∪ {v} to its minimum. In canonical form the
    // smaller neighbors of v are exactly the u's of edges (u, v).
    val smallMin = afterLarge.groupBy("v").agg(min(col("u")).as("m"))
    val attachSelf = smallMin.select(col("m").as("u"), col("v"))
    val attachPeers = afterLarge.join(smallMin, "v")
      .filter(col("u") =!= col("m"))
      .select(col("m").as("u"), col("u").as("v"))
    attachSelf.unionByName(attachPeers).distinct()
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
    * DuckDB oracle); an open-ended convergence loop would add the
    * localCheckpoint regimen of [[connectedComponents]]. Σ(85·r) stays
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
      val nodeField = parents.schema("node")
      GraftColumnBridge.dataFrame(spark, new DepthRows(cur, nodeType),
        StructType(Seq(nodeField, StructField("root", nodeType, nullable = false),
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

  /** The (node, root, depth) rows of converged blocks, node and root
    * converted back to `nodeType`. Unpersisting it releases the blocks,
    * so [[freeCheckpoint]] on the frame over it frees them. */
  private final class DepthRows(blocks: RDD[NodeBlock], nodeType: DataType)
      extends RDD[InternalRow](blocks) {
    override protected def getPartitions: Array[Partition] = blocks.partitions
    override def compute(split: Partition, ctx: TaskContext): Iterator[InternalRow] = {
      val typed = Blocks.catalystId(nodeType)
      blocks.iterator(split, ctx).flatMap { b =>
        b.nodes.indices.iterator.filter(b.anc(_) != null).map { i =>
          new GenericInternalRow(Array[Any](typed(b.nodes(i)), typed(b.anc(i)), b.d(i)))
        }
      }
    }
    override def unpersist(blocking: Boolean): this.type = {
      blocks.unpersist(blocking)
      super.unpersist(blocking)
    }
  }

  /** Bounded-hop BFS frontier relaxation from `srcDf` (a 1-row (node)
    * relation) over undirected edges `und` (u, v; the caller persists
    * it — all `hops` rounds read it): each round is one co-keyed join
    * + one min-groupBy (the Bellman-Ford round as relational algebra).
    * Returns (node, dist) for every node reached within `hops`.
    *
    * localCheckpoint every SECOND round: without any cut the rounds
    * nest into a ~40-operator plan that Catalyst re-optimizes
    * wholesale (measured 15.7 s -> ~4 s at sf0.1 when per-round
    * checkpoints were introduced), because each round references the
    * previous frontier TWICE (join side + union side) — plan size
    * doubles per uncut round. But a per-ROUND eager checkpoint buys
    * that cut with one sequential Spark action per round, and two
    * nested rounds are only ~4x one round's operators — well inside
    * Catalyst's budget. Checkpointing on even rounds keeps the
    * doubling bounded at one level while halving the loop's action
    * count (8 -> 5 job-bearing actions for graph_shortest_path,
    * measured by ActionAudit — the contended-driver axis, same
    * motivation as the r8 fused probes). Blocks of the previous
    * checkpoint are freed only after the next eager checkpoint has
    * materialized (the lazy in-between round still reads them until
    * then). Split out of graph_shortest_path (r9) so the bench
    * prelude can warm the round shape on a toy graph. */
  private[graft] def boundedBfs(und: DataFrame, srcDf: DataFrame,
      hops: Int): DataFrame = {
    var ck = srcDf.select(col("node"), lit(0L).as("dist"))
      .localCheckpoint()
    var dist = ck
    for (r <- 1 to hops) {
      val nxt = dist.join(und, col("node") === col("u"))
        .select(col("v").as("node"), (col("dist") + 1).as("dist"))
      val stepped = dist.unionByName(nxt)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      if (r % 2 == 0) {
        val next = stepped.localCheckpoint()
        freeCheckpoint(ck)
        ck = next
        dist = next
      } else dist = stepped
    }
    dist
  }

  /** Rebuild a checkpointed DataFrame from its RDD, RESETTING inherited
    * statistics. LogicalRDD carries the checkpointed plan's stats, and
    * an iterative loop whose round plan self-joins the previous round
    * SQUARES sizeInBytes every round — past ~25 rounds Catalyst's
    * BigInt stats arithmetic dominates wall time outright (found as a
    * hang in SizeInBytesOnlyStatsPlanVisitor on a cyclic input to a
    * self-joining pointer-doubling loop, round 5). The rebuilt
    * Dataset's stats fall back to the session default CONSTANT.
    * Cost: one row-encoder pass over the
    * relation at next materialization — measured +20–50% per ROUND on
    * the converging fixpoints (dedup_clusters 10.5 → 12.6 s at sf0.1
    * when applied every round), which is why callers apply it
    * PERIODICALLY ([[statsResetPeriod]]): rounds between resets
    * compound the ~60-bit base by at most 2^8 — a ≤ 15 Kbit integer,
    * microseconds of BigInt math — so converging loops (≤ 7 rounds)
    * pay nothing and open-ended 100 TB fixpoints still get flat
    * planning cost. The returned plan still reads the checkpoint
    * blocks; free them via [[freeCheckpoint]] on the ORIGINAL
    * checkpointed handle. */
  private def statsReset(ck: DataFrame): DataFrame =
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)

  /** Apply [[statsReset]] on every `statsResetPeriod`-th round. */
  private val statsResetPeriod = 8
  private def statsResetEvery(round: Int, ck: DataFrame): DataFrame =
    if (round % statsResetPeriod == statsResetPeriod - 1) statsReset(ck) else ck

  /** Free the block store of a localCheckpointed DataFrame explicitly
    * (its RDD is persisted outside the CacheManager, so `unpersist` on
    * the Dataset is a no-op and cleanup otherwise waits for driver GC).
    * Safe no-op if the plan is not the expected LogicalRDD shape. */
  private[graft] def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case lr: LogicalRDD => lr.rdd
    }.foreach { rdd: RDD[_] => rdd.unpersist(blocking = false) }
}
