package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Statistics-informed planning evidence (VERDICT r3 "Next round" #4).
  *
  * The repo's policy since round 2 is to REMOVE unconditional
  * `broadcast()` hints from unbounded-cardinality relations (dedup_near,
  * dedup_minhash, psPull) and let the optimizer decide. This object
  * demonstrates the capability that makes that policy safe beyond AQE's
  * runtime re-plan: cost-based optimization from ANALYZE'd catalog
  * statistics. A filtered dimension whose TABLE is above the broadcast
  * threshold gets a sort-merge plan when the optimizer only knows file
  * sizes (a Filter does not shrink `sizeInBytes` without CBO), but the
  * SAME hint-free query compiles straight to a broadcast join once
  * `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` has published
  * row counts + min/max and `spark.sql.cbo.enabled` lets
  * FilterEstimation apply the predicate's selectivity. At 100 TB this
  * is the static complement to AQE: the decision happens at plan time,
  * before a single shuffle partition is written.
  *
  * PlanLockSpec's "CBO: ANALYZE'd stats flip…" row locks both
  * directions (no-CBO ⇒ SortMergeJoin, CBO+stats ⇒ BroadcastHashJoin)
  * with AQE off so the assertion tests the cost model, not the runtime
  * fallback; the executed-plan snapshot lives in docs/PLANS.txt.
  */
object CboDemo {

  val dimTable = "graft_cbo_orders"

  /** One-time: publish the orders snapshot as a catalog table and
    * ANALYZE it (table stats + column stats for the join/filter keys).
    * The table is external at a per-process scratch entry, so test and
    * tool sessions never write into the launch CWD and two JVMs never
    * write one location. */
  def setup(spark: SparkSession, dir: String): Unit = {
    if (!spark.catalog.tableExists(dimTable)) {
      val loc = graft.Scratch.own("cbo").toString
      spark.sql(s"DROP TABLE IF EXISTS $dimTable")
      graft.sources.Tables.orders(spark, dir)
        .write.mode("overwrite").option("path", loc).saveAsTable(dimTable)
      spark.sql(s"ANALYZE TABLE $dimTable COMPUTE STATISTICS")
      spark.sql(
        s"ANALYZE TABLE $dimTable COMPUTE STATISTICS FOR COLUMNS o_orderkey, o_totalprice")
    }
  }

  /** The hint-free query under test: a ~2%-selective band filter on the
    * ANALYZE'd dimension joined to the lineitem fact. Without CBO the
    * dim side is costed at full-table size (above the test threshold);
    * with CBO, min/max column stats price the band at ~2% and the dim
    * drops below the broadcast threshold. */
  def filteredDimJoin(spark: SparkSession, dir: String): DataFrame =
    spark.table(dimTable)
      .filter(col("o_totalprice") >= 450000.0 && col("o_totalprice") < 460000.0)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .join(graft.sources.Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_quantity")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents"))
      .orderBy(col("o_orderpriority"))

  /** Static (pre-execution) plan of the hint-free join with AQE off and
    * a threshold calibrated from the dim's ANALYZE'd size, with CBO on
    * or off. totalSize/8 sits between the pruned-but-unfiltered
    * estimate (~totalSize × 1/3 column-pruning ratio — the default
    * size-only visitor scales Project but NOT Filter) and the
    * CBO-filtered estimate (~2% band selectivity from min/max column
    * stats) at every fixture SF, so the same demo is SF-independent. */
  def plan(spark: SparkSession, dir: String, cbo: Boolean): String = {
    val totalSize = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(dimTable))
      .stats.map(_.sizeInBytes.toLong)
      .getOrElse(sys.error(s"$dimTable has no ANALYZE'd stats — run setup first"))
    graft.GraftSession.withConfs(spark,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> (totalSize / 8).toString,
      "spark.sql.cbo.enabled" -> cbo.toString) {
      filteredDimJoin(spark, dir).queryExecution.executedPlan.toString
    }
  }
}
