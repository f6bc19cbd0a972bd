package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe: per-phase wall time of the IVF family build (vectorize,
  * KMeans fit, transform+candidate join, qid assembly) — the round-7
  * attribution tool for the sim_ann_ivf driver regression. Not a
  * driver surface.
  *
  * Usage: graft.IvfPhaseProbe [sfDir] [iters]
  */
object IvfPhaseProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = args.lift(1).map(_.toInt).getOrElse(2)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"PHASE $name ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    for (iter <- 1 to iters) {
      println(s"== iter $iter ==")
      val full = ml.MlBridges.ivfCandidatesShared(spark, dir,
        operators.LlmPipeline.AnnNCells, Some(operators.LlmPipeline.AnnQueryBand))
      t("shared_candidates")(full.count())
      t("qid_assembly")(operators.LlmPipeline.queries
        .find(_.id == "sim_ann_ivf").get.fn(spark, dir).count())
      t("sweep")(operators.LlmPipeline.queries
        .find(_.id == "sim_ann_ivf_sweep").get.fn(spark, dir).count())
      // recall of the pr<=3 IVF answer vs the exact top-5, per the qid's
      // contract (floor: nhits >= 75 of 150)
      val exact = full.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("qid")
            .orderBy(col("cos").desc, col("cid"))))
        .filter(col("rk") <= 5).select("qid", "cid")
      val ivf = full.filter(col("pr") <= 3)
        .withColumn("ark", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("qid")
            .orderBy(col("cos").desc, col("cid"))))
        .filter(col("ark") <= 5).select("qid", "cid")
      // denominator = the ACTUAL exact-top-5 set size (not a literal
      // 30×5): a fixture with fewer query-band vectors would silently
      // skew a hardcoded recall. Persisted so the count and the hit
      // join share one window pass — this probe measures IVF phases
      // and must not double its own ranking cost.
      val exactSet = exact.persist()
      val nExact = exactSet.count()
      val nhits = exactSet.join(ivf, Seq("qid", "cid"), "leftsemi").count()
      exactSet.unpersist(blocking = false)
      println(f"RECALL dir=$dir nhits=$nhits/$nExact (${nhits.toDouble / math.max(1L, nExact)}%.2f)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
