package graft.ps

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable

import graft.blocks.Blocks
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Full synchronous matrix-factorization training loop — the
  * vector-model realization of `FlinkParameterServer.transform` +
  * `PSOnlineMatrixFactorization` (SURVEY §3.2 [K-high]) in Spark's
  * bulk-synchronous model (§3.4), laid out the PS2 way (Parameter
  * Server on Spark, SIGMOD 2019): data co-partitioned with its model
  * shard, one combined push, on the owner blocks and release scope of
  * [[graft.blocks.Blocks]].
  *
  *  - User blocks: ratings hash-partitioned by user once; block b holds
  *    its users' ratings AND their P rows, so the P pull and push are
  *    block-local.
  *  - Q pull: Q stays item-partitioned next to a routing table (item →
  *    the blocks that rate it), built once; each iteration ships each
  *    Q row once to each block that needs it (one shuffle).
  *  - Work + P push: per rating e = r − p·q and the gradients
  *    e·q − reg·p, e·p − reg·q; P += lr·ΣΔp inside the block.
  *  - Q push: per-block ΣΔq partials, combined map-side into the Q
  *    partitions (second shuffle), then Q += lr·ΣΔq co-partitioned.
  *
  * Per iteration: two shuffles and two jobs (the Q update, then the
  * loss read off the cached block pass). Block and Q state are
  * localCheckpointed every iteration, so lineage stays O(1).
  *
  * Deterministic at any parallelism: md5-seeded init, fixed iteration
  * count, and every gradient and loss sum is exact ([[FixedPoint]]), so
  * losses and factors are bitwise independent of the block count
  * (`spark.sql.shuffle.partitions`) and of merge order.
  *
  * Input: `user` and `item` of an integral or string type (the output
  * `id` keeps it), `rating` castable to double. A null id gets no
  * factor row. A row with a null item or rating adds no gradient and no
  * loss term, but its non-null ids still get their (initial) factors.
  */
object MfTrainer {

  /** Users hashed to one block, their P rows (k per user, row-major)
    * and their ratings as local (user, item) indices. */
  private final case class UserBlock(id: Int, users: Array[Any], p: Array[Double],
      ru: Array[Int], ri: Array[Int], rr: Array[Double], items: Array[Any],
      unratedItems: Array[Any]) {
    @transient lazy val itemIndex: java.util.HashMap[Any, Integer] = indexOf(items)
  }

  /** Items hashed to one Q partition, the blocks each is routed to and
    * their Q rows. */
  private final case class QShard(items: Array[Any], routes: Array[Array[Int]],
      q: Array[Double]) {
    @transient lazy val itemIndex: java.util.HashMap[Any, Integer] = indexOf(items)
  }

  /** One block pass: the block with its updated P, its Q-gradient
    * partials (aligned with `block.items`) and its squared-error sum. */
  private final case class Step(block: UserBlock, qGrad: Array[Long], sqErr: Long)

  private def indexOf(ids: Array[Any]): java.util.HashMap[Any, Integer] = {
    val m = new java.util.HashMap[Any, Integer](ids.length * 2)
    ids.indices.foreach(i => m.put(ids(i), i))
    m
  }

  /** The md5-seeded init of one factor row, bit for bit the SQL form
    * `-0.1 + (pmod(conv(substring(md5('seed:id:j'), 1, 8), 16, 10), 1000)
    * / 1000D) * 0.2D`. */
  private[graft] def initVec(seed: Int, id: Any, k: Int): Array[Double] = {
    val md5 = MessageDigest.getInstance("MD5")
    Array.tabulate(k) { j =>
      val h = md5.digest(s"$seed:$id:$j".getBytes(UTF_8))
      val top32 = (h(0) & 0xffL) << 24 | (h(1) & 0xffL) << 16 | (h(2) & 0xffL) << 8 | (h(3) & 0xffL)
      -0.1 + ((top32 % 1000).toDouble / 1000.0) * 0.2
    }
  }

  /** Σ a(ao + j)·b(bo + j) for j < k, left to right from 0.0 (the
    * accumulation order of `array_dot_product`). */
  private[ps] def dot(a: Array[Double], ao: Int, b: Array[Double], bo: Int, k: Int): Double = {
    var acc = 0.0
    var j = 0
    while (j < k) { acc += a(ao + j) * b(bo + j); j += 1 }
    acc
  }

  /** The block's Q rows from the shipped (item, row) pairs, at its local
    * item indices. */
  private def localQ(b: UserBlock, shipped: Iterator[(Any, Array[Double])], k: Int)
      : Array[Double] = {
    val q = new Array[Double](b.items.length * k)
    shipped.foreach { case (item, v) => System.arraycopy(v, 0, q, b.itemIndex.get(item) * k, k) }
    q
  }

  private def sqErr(b: UserBlock, q: Array[Double], k: Int): Long = {
    var sq = 0L
    var t = 0
    while (t < b.rr.length) {
      val e = b.rr(t) - dot(b.p, b.ru(t) * k, q, b.ri(t) * k, k)
      sq = FixedPoint.add(sq, FixedPoint.of(e * e))
      t += 1
    }
    sq
  }

  private def step(b: UserBlock, q: Array[Double], k: Int, lr: Double, reg: Double): Step = {
    val gp = new Array[Long](b.p.length)
    val gq = new Array[Long](q.length)
    var sq = 0L
    var t = 0
    while (t < b.rr.length) {
      val pu = b.ru(t) * k
      val qi = b.ri(t) * k
      val e = b.rr(t) - dot(b.p, pu, q, qi, k)
      sq = FixedPoint.add(sq, FixedPoint.of(e * e))
      var j = 0
      while (j < k) {
        FixedPoint.addTo(gp, pu + j, e * q(qi + j) - reg * b.p(pu + j))
        FixedPoint.addTo(gq, qi + j, e * b.p(pu + j) - reg * q(qi + j))
        j += 1
      }
      t += 1
    }
    val p = Array.tabulate(b.p.length)(i => b.p(i) + lr * FixedPoint.value(gp(i)))
    Step(b.copy(p = p), gq, sq)
  }

  /** Ratings → user blocks (P initialized), one per partition of `part`. */
  private def userBlocks(ratings: DataFrame, part: HashPartitioner, k: Int): RDD[UserBlock] =
    ratings.select(col("user"), col("item"), col("rating").cast("double")).rdd
      .filter(!_.isNullAt(0))
      .map(r => (r.get(0), (r.get(1), r.get(2))))
      .partitionBy(part)
      .mapPartitionsWithIndex { (id, rows) =>
        val users = mutable.LinkedHashMap[Any, Int]()
        val items = mutable.LinkedHashMap[Any, Int]()
        val unrated = mutable.LinkedHashSet[Any]()
        val ru = mutable.ArrayBuilder.make[Int]
        val ri = mutable.ArrayBuilder.make[Int]
        val rr = mutable.ArrayBuilder.make[Double]
        rows.foreach { case (u, (i, r)) =>
          val ui = users.getOrElseUpdate(u, users.size)
          if (i != null) {
            if (r == null) unrated += i
            else {
              ru += ui
              ri += items.getOrElseUpdate(i, items.size)
              rr += r.asInstanceOf[Double]
            }
          }
        }
        val userIds = users.keys.toArray
        Iterator(UserBlock(id, userIds, userIds.flatMap(initVec(21, _, k)),
          ru.result(), ri.result(), rr.result(), items.keys.toArray,
          unrated.filterNot(items.contains).toArray))
      }

  /** Q partitions with the routing table: every item of every block, Q
    * initialized; a block id of -1 registers an item without a route. */
  private def qShards(blocks: RDD[UserBlock], part: HashPartitioner, k: Int): RDD[QShard] =
    blocks.flatMap(b => b.items.iterator.map(i => (i, b.id)) ++ b.unratedItems.iterator.map(i => (i, -1)))
      .partitionBy(part)
      .mapPartitions { pairs =>
        val routes = mutable.LinkedHashMap[Any, mutable.SortedSet[Int]]()
        pairs.foreach { case (i, b) =>
          val r = routes.getOrElseUpdate(i, mutable.SortedSet[Int]())
          if (b >= 0) r += b
        }
        val items = routes.keys.toArray
        Iterator(QShard(items, routes.values.map(_.toArray).toArray,
          items.flatMap(initVec(22, _, k))))
      }

  /** Q pull: each Q row once to each block that rates its item. */
  private def shipQ(qs: RDD[QShard], part: HashPartitioner, k: Int)
      : RDD[(Any, Array[Double])] =
    qs.flatMap { s =>
      s.items.indices.iterator.flatMap { t =>
        val v = s.q.slice(t * k, t * k + k)
        s.routes(t).iterator.map(b => (b, (s.items(t), v)))
      }
    }.partitionBy(part).values

  /** Q push: the blocks' Q-gradient partials combined per item into the
    * Q partitions, then Q += lr·ΣΔq. */
  private def pushQ(qs: RDD[QShard], steps: RDD[Step], part: HashPartitioner, k: Int,
      lr: Double): RDD[QShard] = {
    val grads = steps.flatMap { s =>
      s.block.items.indices.iterator.map(t => (s.block.items(t), s.qGrad.slice(t * k, t * k + k)))
    }.reduceByKey(part, FixedPoint.addAll _)
    qs.zipPartitions(grads) { (shards, g) =>
      val s = shards.next()
      val q = s.q.clone()
      g.foreach { case (item, gi) =>
        val o = s.itemIndex.get(item) * k
        var j = 0
        while (j < k) { q(o + j) = q(o + j) + lr * FixedPoint.value(gi(j)); j += 1 }
      }
      Iterator(s.copy(q = q))
    }
  }

  /** Mean squared error from per-block (sqErr, ratings) pairs. */
  private def mse(parts: Array[(Long, Int)]): Double =
    FixedPoint.value(parts.map(_._1).foldLeft(0L)(FixedPoint.add)) / parts.map(_._2.toLong).sum

  /** Rows of `(id, vec)` for a factor matrix: ids of `idType`. */
  private def factorRows(ids: Array[Any], m: Array[Double], k: Int, idType: DataType)
      : Iterator[InternalRow] = {
    val typed = Blocks.catalystId(idType)
    ids.indices.iterator.map { t =>
      new GenericInternalRow(Array[Any](typed(ids(t)), new GenericArrayData(m.slice(t * k, t * k + k))))
    }
  }

  /** Train k-dim factors for `iters` full-batch iterations; returns
    * (userFactors(id, vec), itemFactors(id, vec), lossPerIter). The
    * factor frames are backed by locally checkpointed RDDs, released by
    * `GraphOps.freeCheckpoint`. */
  def train(spark: SparkSession, ratings: DataFrame, k: Int = 8,
      iters: Int = 5, lr: Double = 0.002, reg: Double = 0.01)
      : (DataFrame, DataFrame, Seq[Double]) = FixedPoint.rethrowRange(Blocks.scope { live =>
    val userType = Blocks.idType(ratings, "user", "MfTrainer", orString = true)
    val itemType = Blocks.idType(ratings, "item", "MfTrainer", orString = true)
    val part = Blocks.owner(spark)
    def frame(rows: RDD[InternalRow], t: DataType) = GraftColumnBridge.dataFrame(spark, rows,
      StructType(Seq(StructField("id", t), StructField("vec", ArrayType(DoubleType)))))
    // setup job: the user blocks, then the routed Q shards
    var blocks = live.checkpoint(userBlocks(ratings, part, k))
    var blocksHeld: RDD[_] = blocks
    var qs = live.checkpoint(qShards(blocks, part, k))
    qs.count()
    val losses = mutable.ArrayBuffer[Double]()
    for (_ <- 1 to iters) {
      val steps = live.checkpoint(blocks.zipPartitions(shipQ(qs, part, k)) { (b, q) =>
        val blk = b.next()
        Iterator(step(blk, localQ(blk, q, k), k, lr, reg))
      })
      val qNew = live.checkpoint(pushQ(qs, steps, part, k, lr))
      qNew.count()
      losses += mse(steps.map(s => (s.sqErr, s.block.rr.length)).collect())
      live.release(blocksHeld)
      live.release(qs)
      blocksHeld = steps
      blocks = steps.map(_.block)
      qs = qNew
    }
    losses += mse(blocks.zipPartitions(shipQ(qs, part, k)) { (b, q) =>
      val blk = b.next()
      Iterator((sqErr(blk, localQ(blk, q, k), k), blk.rr.length))
    }.collect())
    val pRows = live.checkpoint(blocks.flatMap(b => factorRows(b.users, b.p, k, userType)))
    val qRows = live.checkpoint(qs.flatMap(s => factorRows(s.items, s.q, k, itemType)))
    pRows.union(qRows).count()
    live.handOver(pRows, qRows)
    (frame(pRows, userType), frame(qRows, itemType), losses.toSeq)
  })
}
