package graft.ps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Full Passive-Aggressive training loop, bulk-synchronous restatement
  * of the reference's online PA job (`ps/.../passive/aggressive/`
  * [K-high], SURVEY §2.B pa_binary): per iteration every margin is
  * computed against the current weight vector, per-record PA-I updates
  * τ·y·x are computed row-locally, and their sum is pushed as one
  * averaged batch update — the mini-batch PA of Crammer et al. §8
  * generalized to full batches.
  *
  * w is tiny (the DATA is what scales), so it is pulled as a task
  * closure, and each iteration is ONE aggregate over the cached rows
  * that returns the hinge sum, the hit count and the update vector
  * together. The sums are exact ([[FixedPoint]]), so weights and
  * metrics are bitwise independent of partitioning and merge order.
  *
  * A row with a null or ragged x (length ≠ dim) or a null y counts
  * towards n with hinge 0, no hit and no update.
  */
object PaTrainer {

  /** One iteration's sums: hinge (fixed point), hits, rows, and the
    * update Σ τ·y·x (fixed point, per dimension). */
  private final case class Sums(hinge: Long, hits: Long, n: Long, upd: Array[Long]) {
    def merge(o: Sums): Sums =
      Sums(FixedPoint.add(hinge, o.hinge), hits + o.hits, n + o.n, FixedPoint.addAll(upd, o.upd))
  }

  /** Folds one row into `s` (in place for the update vector). */
  private def add(s: Sums, w: Array[Double], c: Double, x: Array[Double], y: Any): Sums =
    if (x == null || y == null || x.length != w.length) s.copy(n = s.n + 1)
    else {
      val yv = y.asInstanceOf[Double]
      val wx = MfTrainer.dot(w, 0, x, 0, x.length)
      val xx = MfTrainer.dot(x, 0, x, 0, x.length)
      val loss = math.max(0.0, 1.0 - yv * wx)
      val tau = if (xx > 0) math.min(c, loss / xx) else 0.0
      if (tau > 0) {
        var j = 0
        while (j < x.length) { FixedPoint.addTo(s.upd, j, tau * yv * x(j)); j += 1 }
      }
      Sums(FixedPoint.add(s.hinge, FixedPoint.of(loss)),
        s.hits + (if (yv * wx > 0) 1 else 0), s.n + 1, s.upd)
    }

  /** Train on (features ARRAY<DOUBLE>, y ∈ {-1,+1}); returns the final
    * weights row and per-iteration (hinge, accuracy). */
  def train(spark: SparkSession, data: DataFrame, dim: Int,
      iters: Int = 5, c: Double = 0.5)
      : (Array[Double], Seq[(Double, Double)]) = FixedPoint.rethrowRange {
    val d = data.select(col("x").cast("array<double>"), col("y").cast("double")).rdd
      .map(r => (if (r.isNullAt(0)) null else r.getSeq[Double](0).toArray, r.get(1)))
      .cache()
    var w = Array.fill(dim)(0.0)
    val metrics = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    try {
      for (_ <- 1 to iters) {
        val wi = w
        val s = d.aggregate(Sums(0L, 0L, 0L, new Array[Long](dim)))(
          { case (acc, (x, y)) => add(acc, wi, c, x, y) }, _ merge _)
        val n = s.n.toDouble
        metrics += ((FixedPoint.value(s.hinge) / n, s.hits / n))
        w = w.zipWithIndex.map { case (v, j) => v + FixedPoint.value(s.upd(j)) / n }
      }
    } finally d.unpersist(blocking = false)
    (w, metrics.toSeq)
  }
}
