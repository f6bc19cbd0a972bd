package graft

import graft.ml.MlBridges
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._

/** Capability proofs for the true-streaming and MLlib-bridge paths
  * (SURVEY §7.3 steps 7–8): streaming results must equal their batch
  * analogs; ML bridges must hit quality thresholds with fixed seeds.
  */
class StreamingMlSpec extends SparkSpec {

  test("streaming CDC merge equals the one-shot batch MERGE") {
    val streamed = StreamingOps.streamingCdcMerge(spark, sfDir)
      .collect().map(_.toString).toSeq
    val batch = graft.operators.Relational.tableMerge(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming tumbling window equals batch groupBy on bounded input") {
    // append mode emits a window only once the watermark passes its end:
    // compare on the closed windows (end <= max_ts - 10 min) both sides
    val maxTs = graft.sources.Tables.events(spark, sfDir)
      .agg(max("ts")).head().getTimestamp(0)
    val closed = expr(s"h + interval 1 hour <= timestamp'$maxTs' - interval 10 minutes")
    val streamed = StreamingOps.tumblingCounts(spark, sfDir)
      .filter(closed).orderBy("h", "event_type").collect()
    val batch = graft.sources.Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .filter(closed).orderBy("h", "event_type").collect()
    assert(streamed.nonEmpty)
    assert(streamed.map(_.toString).toSeq === batch.map(_.toString).toSeq)
  }

  test("runToTable pins stream shuffle width for the run, then restores") {
    // r11 state-store hygiene: one state store per shuffle partition
    // per micro-batch means the stream's width is a state-sizing knob,
    // pinned (StreamingOps.StateParts) only for the
    // duration of the streaming query. The session's batch width must
    // come back EXACTLY — a leaked pin would silently re-plan every
    // later batch query in the suite/bench at streaming width.
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val sentinel = "23" // a width nothing else uses
    spark.conf.set(key, sentinel)
    try {
      val out = StreamingOps.tumblingCounts(spark, sfDir)
      assert(out.count() > 0)
      // the streaming agg ACTUALLY ran at the pinned width, not the
      // session's 23 — read from the query's own StateOperatorProgress
      // (deleting the pin would leave this at 23 and fail here)
      val pinned = StreamingOps.StateParts.toLong
      assert(StreamingOps.lastStateStoreParts === Some(pinned),
        s"state operator ran at ${StreamingOps.lastStateStoreParts}, expected the pinned $pinned")
      assert(spark.conf.get(key) === sentinel,
        "stream run leaked its pinned shuffle width into the session")
    } finally spark.conf.set(key, before)
  }

  test("streaming dedup by event_id keeps every distinct id once") {
    val out = StreamingOps.streamingDedup(spark, sfDir)
    val batchDistinct = graft.sources.Tables.events(spark, sfDir)
      .select("event_id").distinct().count()
    assert(out.select("event_id").distinct().count() === batchDistinct)
    assert(out.count() === batchDistinct)
  }

  test("directory-shaped events source streams ALL part files, not zero") {
    // regression (r10 continuation review): Files.copy on a DIRECTORY
    // copies no entries, so a multi-part events.parquet (rehearsal
    // corpora, any real Spark-written table) staged as an empty dir and
    // every streaming op returned 0 rows with no error. The staging now
    // enumerates part files; this pins full row parity with the
    // single-file fixture through a real streaming execution.
    val root = java.nio.file.Files.createTempDirectory("graft_dirsrc_")
    try {
      graft.sources.Tables.events(spark, sfDir)
        .repartition(4)
        .write.mode("overwrite")
        .parquet(root.resolve("events.parquet").toString)
      val streamed = StreamingOps.tumblingCounts(spark, root.toString)
        .orderBy("h", "event_type").collect()
      val single = StreamingOps.tumblingCounts(spark, sfDir)
        .orderBy("h", "event_type").collect()
      assert(streamed.nonEmpty)
      assert(streamed.map(_.toString).toSeq === single.map(_.toString).toSeq)
    } finally {
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.walk(root)
      try files.iterator().asScala.toSeq.reverseIterator
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
      finally files.close()
    }
  }

  test("stream-stream interval join equals the batch interval join") {
    val streamed = StreamingOps.streamStreamJoin(spark, sfDir)
      .orderBy("user_id", "click_id", "purch_id").collect()
    val ev = graft.sources.Tables.events(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("c_ts"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("p_ts"), col("event_id").as("purch_id"))
    val batch = clicks.join(purchases,
        col("cu") === col("pu") && col("p_ts") > col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("cu").as("user_id"), col("click_id"), col("purch_id"))
      .orderBy("user_id", "click_id", "purch_id").collect()
    assert(streamed.nonEmpty)
    assert(streamed.map(_.toString).toSeq === batch.map(_.toString).toSeq)
  }

  test("mapGroupsWithState keyed state matches batch aggregation") {
    val streamed = StreamingOps.statefulUserAgg(spark, sfDir)
      .orderBy("user_id").collect()
    val batch = graft.sources.Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), max("value").as("max_value"))
      .orderBy("user_id").collect()
    assert(streamed.map(_.toString).toSeq === batch.map(_.toString).toSeq)
  }

  test("transformWithState (state v2) matches batch aggregation") {
    val streamed = StreamingOps.statefulUserAggV2(spark, sfDir)
      .orderBy("user_id").collect()
    val batch = graft.sources.Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), max("value").as("max_value"))
      .orderBy("user_id").collect()
    assert(streamed.nonEmpty)
    assert(streamed.map(_.toString).toSeq === batch.map(_.toString).toSeq)
  }

  test("ALS bridge fits the ratings matrix to reasonable RMSE") {
    val scored = MlBridges.alsModel(spark, sfDir).cache()
    val rmse = math.sqrt(scored
      .select(pow(col("rating") - col("prediction"), 2).as("e"))
      .agg(avg("e")).head().getDouble(0))
    val sd = graft.sources.Tables.lineitem(spark, sfDir)
      .agg(stddev(col("l_quantity"))).head().getDouble(0)
    assert(rmse < sd, s"ALS rmse $rmse should beat rating stddev $sd")
  }

  test("LinearSVC bridge trains and scores above majority class") {
    val acc = MlBridges.svcAccuracy(spark, sfDir)
    assert(acc > 0.5, s"accuracy $acc")
  }

  test("MinHashLSH recovers the planted near-dup pairs") {
    val exact = operators.LlmPipeline.queries.find(_.id == "dedup_near").get
      .fn(spark, sfDir).select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = MlBridges.lshNearDups(spark, sfDir, 0.5)
      .select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val recall = exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall over ${exact.size} planted pairs")
  }
}

/** True streaming sessionization must equal the batch rewrite. */
class StreamingSessionSpec extends SparkSpec {
  test("flatMapGroupsWithState sessions equal batch sessionization") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val streamed = StreamingOps.streamingSessions(spark, sfDir)
      .orderBy("user_id", "sess_start_us").collect()
    val gapUs = 2L * 3600 * 1000000
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val batch = graft.sources.Tables.events(spark, sfDir)
      .withColumn("ts_us", expr("unix_micros(ts)"))
      .withColumn("new_s", when(col("ts_us") - lag("ts_us", 1).over(w) > gapUs ||
        lag("ts_us", 1).over(w).isNull, 1).otherwise(0))
      .withColumn("sid", sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sid")
      .agg(min("ts_us").as("sess_start_us"), max("ts_us").as("sess_end_us"),
        count(lit(1)).as("n_events"))
      .select("user_id", "sess_start_us", "sess_end_us", "n_events")
      .orderBy("user_id", "sess_start_us").collect()
    assert(streamed.map(_.toString).toSeq === batch.map(_.toString).toSeq)
  }
}

/** Timer-driven sessionization (state v2): in-batch closures plus
  * watermark-timer closures must equal the batch sessionization minus
  * the sessions the watermark legitimately leaves open. */
class TimerSessionSpec extends SparkSpec {
  test("transformWithState timers close exactly the watermark-passed sessions") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val streamed = StreamingOps.timerSessions(spark, sfDir)
      .orderBy("user_id", "sess_start_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val gapUs = 2L * 3600 * 1000000
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val sessions = graft.sources.Tables.events(spark, sfDir)
      .withColumn("ts_us", expr("unix_micros(ts)"))
      .withColumn("new_s", when(col("ts_us") - lag("ts_us", 1).over(w) > gapUs ||
        lag("ts_us", 1).over(w).isNull, 1).otherwise(0))
      .withColumn("sid", sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sid")
      .agg(min("ts_us").as("s"), max("ts_us").as("e"), count(lit(1)).as("n"))
    val maxTsUs = graft.sources.Tables.events(spark, sfDir)
      .agg(max(expr("unix_micros(ts)"))).head().getLong(0)
    val wmMs = maxTsUs / 1000 - 600000 // 10-minute watermark delay, ms
    val lastSid = sessions.groupBy("user_id").agg(max("sid").as("last_sid"))
    val expected = sessions.join(lastSid, "user_id")
      // closed in-batch (a later session exists) or closed by timer
      // (watermark passed end + gap at ms granularity)
      .filter(col("sid") < col("last_sid") ||
        col("e") / 1000 + lit(gapUs / 1000) <= lit(wmMs))
      .select("user_id", "s", "e", "n")
      .orderBy("user_id", "s").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(expected.nonEmpty)
    assert(streamed === expected)
  }
}

/** IVF ANN: in-cell top-k achieves useful recall vs brute force. */
class IvfSpec extends SparkSpec {
  test("IVF top-5 overlaps brute-force top-5 for most queries") {
    import org.apache.spark.sql.functions._
    val ivf = MlBridges.ivfTopK(spark, sfDir, nCells = 8, k = 5)
      .select("qid", "cid").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    // brute force top-5 cosine for the same vectors
    val e = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("n", graft.functions.VectorExprs.l2(col("v")))
    // rounded to 6 like the IVF candidate scores, so the nprobe=nCells
    // comparison below is an exact-set equality, not a near-1.0 bound
    val bf = e.as("a").join(e.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("cid"),
        round(graft.functions.VectorExprs.dot(col("a.v"), col("b.v")) /
          (col("a.n") * col("b.n")), 6).as("cos"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("cid"))))
      .filter(col("rk") <= 5)
      .select("qid", "cid").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recalls = bf.collect { case (q, truth) if ivf.contains(q) =>
      ivf(q).intersect(truth).size.toDouble / truth.size
    }.toSeq
    assert(recalls.nonEmpty)
    val mean = recalls.sum / recalls.size
    // nprobe=1 over 8 cells on ~uniform vectors: modest but real recall
    assert(mean > 0.25, s"mean IVF recall $mean")

    // widening the probe count must raise recall (the IVF contract);
    // probing all cells makes the search exact (recall 1.0)
    val ivf3 = MlBridges.ivfTopK(spark, sfDir, nCells = 8, k = 5, nprobe = 3)
      .select("qid", "cid").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recalls3 = bf.collect { case (q, truth) if ivf3.contains(q) =>
      ivf3(q).intersect(truth).size.toDouble / truth.size
    }.toSeq
    val mean3 = recalls3.sum / recalls3.size
    assert(mean3 >= mean, s"nprobe=3 recall $mean3 should be >= nprobe=1 $mean")
    val ivfAll = MlBridges.ivfTopK(spark, sfDir, nCells = 8, k = 5, nprobe = 8)
      .select("qid", "cid").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recallsAll = bf.collect { case (q, truth) if ivfAll.contains(q) =>
      ivfAll(q).intersect(truth).size.toDouble / truth.size
    }.toSeq
    val meanAll = recallsAll.sum / recallsAll.size
    assert(meanAll > 0.999, s"nprobe=nCells must be exact, got $meanAll")
  }
}
