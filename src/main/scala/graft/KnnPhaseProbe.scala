package graft

import org.apache.spark.sql.SparkSession

/** Dev probe: per-round wall time of the NN-Descent loop — the
  * attribution tool behind the round-7 sim_knn_graph budget work.
  * Times the PRODUCTION `knnGraphEdges` at rounds = 0..R and reports
  * first differences (round r ≈ T(r) − T(r−1), T(0) = init), so there
  * is no second copy of the loop body to drift out of sync. Each
  * timing is a fresh build (caches cleared between calls). Not a
  * driver surface.
  *
  * Usage: graft.KnnPhaseProbe [sfDir] [k] [maxRounds] [iters]
  */
object KnnPhaseProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(12)
    val maxRounds = args.lift(2).map(_.toInt).getOrElse(4)
    val iters = args.lift(3).map(_.toInt).getOrElse(2)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (iter <- 1 to iters) {
      println(s"== iter $iter ==")
      var prev = 0.0
      for (r <- 0 to maxRounds) {
        val t0 = System.nanoTime()
        val edges = operators.LlmPipeline.knnGraphEdges(spark, dir, k, r)
        val n = edges.count()
        val sec = (System.nanoTime() - t0) / 1e9
        val label = if (r == 0) "init" else s"round$r"
        println(f"PHASE $label ${sec - prev}%.2f s (cumulative $sec%.2f, edges $n)")
        prev = sec
        operators.GraphOps.freeCheckpoint(edges)
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
