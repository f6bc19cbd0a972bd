package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** Plan audit main: prints formatted physical plans for representative
  * queries so the scale-critical properties are inspectable — parquet
  * `PushedFilters`/`ReadSchema` (pushdown + pruning), broadcast vs
  * shuffle join selection, partial aggregation, codegen stage spans.
  * `tools/explain_audit.sh` wraps it. The special qid `skew_demo` runs
  * [[SkewDemo]] and prints the EXECUTED adaptive plan (AQE skew-split
  * decisions only exist after execution, unlike the static explains).
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    // a fixed width of 4, whatever the host: the hashpartitioning
    // counts and skew splits in the committed docs/PLANS.txt then
    // compare across machines
    val spark = GraftSession.builder().local(4).build()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val qids = if (args.nonEmpty) args.toSeq else Seq(
      "scan_pruned", "join_broadcast", "q1_pricing", "sim_cosine",
      "dedup_minhash", "dedup_near", "dedup_simhash", "pa_multi",
      "sketch_bloom_portable", "topk_per_group", "ps_transform",
      "sketch_cms", "sample_split", "agg_percentile", "unpivot_long",
      "table_merge", "sketch_heavy_hitters", "agg_incremental",
      "agg_corr_matrix", "ts_acf", "graph_jaccard", "source_binaryfile",
      "dedup_clusters", "join_lateral", "sample_stratified",
      "sim_ann_ivf", "sim_knn_graph", "sketch_quantile", "text_entropy",
      "text_ngram_profile", "dedup_containment", "graph_pagerank",
      "text_bm25", "table_scd2", "table_timetravel",
      "graph_degree_dist", "join_fuzzy", "dedup_embed", "text_tfidf", "sim_pq",
      "join_range_band", "text_repetition", "ps_transport",
      "skew_demo", "cbo_demo")
    for (qid <- qids) {
      if (qid == "skew_demo") {
        println(s"\n========== skew_demo (executed adaptive plan) ==========")
        println(SkewDemo.executedPlan(spark, dir))
      } else if (qid == "cbo_demo") {
        println(s"\n========== cbo_demo (static plans, AQE off, threshold = dim totalSize/8) ==========")
        plans.CboDemo.setup(spark, dir)
        println("---- spark.sql.cbo.enabled=false: file-size costing -> SortMergeJoin ----")
        println(plans.CboDemo.plan(spark, dir, cbo = false))
        println("---- spark.sql.cbo.enabled=true + ANALYZE'd stats -> BroadcastHashJoin, no hint ----")
        println(plans.CboDemo.plan(spark, dir, cbo = true))
      } else Registry.all.find(_.id == qid).foreach { q =>
        println(s"\n========== $qid ==========")
        println(q.fn(spark, dir).queryExecution.explainString(FormattedMode))
      }
    }
    spark.stop()
  }
}

/** A derived hot-key join that makes AQE's skew-join split observable at
  * fixture scale: ~99% of lineitem rows collapse onto one key, the map
  * side is widened to 16 partitions (AQE splits a skewed REDUCE
  * partition into per-MAPPER chunks — a one-file scan has one mapper and
  * cannot be split at all), and the skew thresholds are lowered to
  * fixture bytes. SkewJoinSpec asserts `skew=true` appears AND that the
  * split result is row-identical to the same join with skew handling
  * off; `ExplainAudit skew_demo` snapshots the executed plan for
  * PLANS.txt.
  */
object SkewDemo {
  /** The skewed join + aggregate under test. */
  def skewedJoin(spark: SparkSession, dir: String): DataFrame = {
    val left = graft.sources.Tables.lineitem(spark, dir)
      .repartition(16)
      .select(
        when(col("l_orderkey") % 100 =!= 0, lit(1L))
          .otherwise(col("l_orderkey")).as("k"),
        col("l_quantity"))
    val right = spark.range(0, 8000).select(
      col("id").as("k"), (col("id") % 7).as("grp"))
    // qty is summed as integer cents: skew-split on vs off adds doubles
    // in different orders, and only an integer sum is provably
    // order-independent (the spec asserts exact Row equality).
    left.join(right, "k")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents"))
      .orderBy(col("grp"))
  }

  /** Fixture-scale AQE skew settings (saved/restored by callers via
    * [[withSkewConfs]]). */
  val skewConfs: Map[String, String] = Map(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8k")

  /** Run `body` with the fixture-scale skew confs (and `extra`) set,
    * restoring the previous values afterwards. */
  def withSkewConfs[A](spark: SparkSession, extra: Map[String, String] = Map.empty)(
      body: => A): A =
    GraftSession.withConfs(spark, (skewConfs ++ extra).toSeq: _*)(body)

  /** Execute the skewed join and return the final adaptive plan text. */
  def executedPlan(spark: SparkSession, dir: String): String =
    withSkewConfs(spark) {
      val df = skewedJoin(spark, dir)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
}
