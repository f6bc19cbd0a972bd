package graft

import org.apache.spark.sql.functions._

/** Locks for [[obs.Plans.serialRows]] — the detector the
  * serial-stage scale audit stands on. If a Spark upgrade renames the
  * shuffle-write metric or changes how an unpartitioned Window
  * compiles, the audit would silently report zeros and every
  * "measured bounded" claim in the round log would go stale; these
  * tests pin the two detection paths (single-partition shuffle,
  * coalesce(1)) and the non-detection of healthy partitioned shapes,
  * plus the other plan measures the audits stand on.
  */
class SerialStageAuditSpec extends SparkSpec {

  private def serialOf(df: org.apache.spark.sql.DataFrame): Seq[(String, Long)] = {
    df.collect()
    obs.Plans.serialRows(df.queryExecution.executedPlan)
      .filter(_._2 > 0)
  }

  test("an unpartitioned window funnels all rows through one partition and is detected") {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("id"))
    val df = spark.range(5000).toDF("id")
      .withColumn("rk", row_number().over(w))
      .groupBy(lit(1)).agg(sum(col("rk")).as("s"))
    val serial = serialOf(df)
    // the window's input (5000 rows) crosses a SinglePartition exchange
    assert(serial.exists(_._2 >= 5000L), serial.toString)
  }

  test("coalesce(1) is detected with its child row count") {
    val df = spark.range(3000).toDF("id").coalesce(1)
      .groupBy(col("id") % 7).count()
    val serial = serialOf(df)
    assert(serial.exists { case (ctx, n) => ctx.contains("coalesce(1)") && n >= 3000L },
      serial.toString)
  }

  test("ShuffleGrowthAudit counts the records a keyed groupBy shuffles") {
    val df = spark.range(4000).toDF("id")
      .groupBy(col("id") % 997).agg(sum(col("id")).as("s"))
    df.collect()
    val n = obs.Plans.shuffleRows(df.queryExecution.executedPlan)
    // partial aggregation combines map-side, but 997 groups over 4
    // partitions still shuffle >= 997 combined rows (and < 4000 raw —
    // map-side combine is working if this upper bound holds too)
    assert(n >= 997L && n < 4000L, n.toString)
  }

  test("a partitioned window and a keyed groupBy raise no corpus-sized serial stage") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id") % 16).orderBy(col("id"))
    val df = spark.range(5000).toDF("id")
      .withColumn("rk", row_number().over(w))
      .groupBy(col("id") % 16).agg(sum(col("rk")).as("s"))
    // the only single-partition rows allowed are scalar-aggregate
    // finals (bounded by partition count, not the corpus)
    val serial = serialOf(df)
    assert(serial.forall(_._2 < 100L), serial.toString)
  }

  test("broadcastRows reads a hinted broadcast's build rows") {
    val df = spark.range(5000).toDF("k")
      .join(broadcast(spark.range(37).toDF("k")), "k")
    df.collect()
    assert(obs.Plans.broadcastRows(df.queryExecution.executedPlan) == Seq(37L))
  }

  /** Every measure of `p`, each 0 or empty when `p` contributes nothing. */
  private def measures(p: org.apache.spark.sql.execution.SparkPlan): Seq[Any] = Seq(
    obs.Plans.liveScans(p), obs.Plans.liveExchanges(p), obs.Plans.shuffleRows(p),
    obs.Plans.broadcastRows(p), obs.Plans.serialRows(p), obs.Plans.shjBuilds(p))
  private val nothing = Seq(Nil, Nil, 0L, Nil, Nil, Nil)

  test("a reused exchange counts 0 for every measure; the reused plan counts once") {
    def selfJoin() = {
      val agg = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy((col("l_orderkey") % 50).as("k")).count()
      val df = agg.join(agg.withColumnRenamed("count", "c2"), "k")
      df.collect()
      df.queryExecution.executedPlan
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val plan = selfJoin()
      val reused = obs.Plans.live(plan).collect {
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
      }
      assert(reused.nonEmpty, plan.toString)
      reused.foreach(r => assert(measures(r) == nothing))
      spark.conf.set("spark.sql.exchange.reuse", "false")
      val unshared = try selfJoin() finally spark.conf.unset("spark.sql.exchange.reuse")
      assert(obs.Plans.liveScans(plan).size < obs.Plans.liveScans(unshared).size)
      assert(obs.Plans.shuffleRows(plan) < obs.Plans.shuffleRows(unshared))
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a cached relation counts 0 for every measure, though its build shuffled") {
    val cached = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy((col("l_orderkey") % 50).as("k")).count().persist()
    try {
      cached.count()
      val df = cached.filter(col("count") > 0)
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(obs.Plans.live(plan).exists(_.isInstanceOf[
        org.apache.spark.sql.execution.columnar.InMemoryTableScanExec]), plan.toString)
      assert(measures(plan) == nothing)
    } finally cached.unpersist(blocking = true)
  }

  test("the SHJ measure is the largest task's build, above sum / width under a hot key") {
    // one hot key holds ~90% of the hinted build side: its partition's
    // build grows while the mean per partition (the metric's sum over
    // 4 partitions / 4) hides it. The build is sized well past the 1 MB
    // page a hash relation starts with, so the partitions can differ.
    val build = spark.range(200000).toDF("id")
      .select(when(col("id") % 10 =!= 0, lit(1L)).otherwise(col("id")).as("k"),
        lpad(col("id").cast("string"), 40, "x").as("pad"))
    val df = spark.range(1000).toDF("k").join(build.hint("SHUFFLE_HASH"), "k")
      .groupBy().count()
    val confs = Map("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val meter = new obs.ShjMeter
    meter.attach(spark)
    try {
      obs.Diag.settle(meter.arrived)
      meter.take()
      df.collect()
      obs.Diag.settle(meter.arrived)
      val largest = meter.take()
      val sums = obs.Plans.shjBuilds(df.queryExecution.executedPlan).map(_.value)
      assert(sums.size == 1 && largest.size == 1, s"$sums $largest")
      assert(largest.head > sums.head / 4, s"largest task ${largest.head}, sum ${sums.head}")
    } finally {
      meter.detach(spark)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}
