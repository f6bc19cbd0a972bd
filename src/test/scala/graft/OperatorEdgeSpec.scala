package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Edge-case unit tests on tiny in-memory DataFrames (FIXTURES.md
  * "unit-test micro-fixtures"): nulls in keys, empty groups, ties,
  * duplicates — the places where operator semantics actually bite.
  */
class OperatorEdgeSpec extends SparkSpec {
  import spark.implicits._

  test("left join preserves unmatched rows; counts ignore nulls") {
    val cust = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("ck", "name")
    val ord = Seq((10L, 1L), (11L, 1L)).toDF("ok", "ck")
    val res = cust.join(ord, Seq("ck"), "left")
      .groupBy("ck").agg(count(col("ok")).as("n"))
      .orderBy("ck").collect()
    assert(res.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 2L), (2L, 0L), (3L, 0L)))
  }

  test("full outer join + coalesce folds disjoint keysets (ps_push shape)") {
    val model = Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
    val delta = Seq((2L, 5L), (3L, 7L)).toDF("id", "d")
    val res = model.join(delta, Seq("id"), "full_outer")
      .select(col("id"), (coalesce(col("v"), lit(0L)) + coalesce(col("d"), lit(0L))).as("nv"))
      .orderBy("id").collect()
    assert(res.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 10L), (2L, 25L), (3L, 7L)))
  }

  test("null join keys never match (inner and semi)") {
    val a = Seq(Some(1L), None, Some(2L)).toDF("k")
    val b = Seq(Some(1L), None).toDF("k")
    assert(a.join(b, Seq("k"), "inner").count() === 1)
    assert(a.join(b, Seq("k"), "left_semi").count() === 1)
  }

  test("window rank ties resolved by total-order key") {
    val df = Seq((1, "x", 5), (1, "y", 5), (1, "z", 3)).toDF("g", "id", "v")
    val r = df.withColumn("rk",
        row_number().over(Window.partitionBy("g").orderBy(col("v").desc, col("id"))))
      .orderBy("rk").collect()
    assert(r.map(_.getString(1)).toSeq === Seq("x", "y", "z"))
  }

  test("aggregation over empty input yields empty (not null row)") {
    val df = Seq((1L, 2.0)).toDF("k", "v").filter(col("k") > 100)
    assert(df.groupBy("k").agg(sum("v")).count() === 0)
  }

  test("union + distinct collapses duplicates; unionByName aligns columns") {
    val a = Seq((1L, "x")).toDF("k", "s")
    val b = Seq(("x", 1L)).toDF("s", "k")
    assert(a.unionByName(b).distinct().count() === 1)
  }

  test("merge step: delete beats update, insert lands, untouched rows stay") {
    val target = Seq((1L, "P1", 100L), (2L, "P2", 200L), (3L, "P3", 300L))
      .toDF("o_orderkey", "o_orderpriority", "price_cents")
    val cdc = Seq((2L, "D", "P2", 0L), (3L, "U", "P3", 333L), (9L, "I", "P9", 900L))
      .toDF("o_orderkey", "op", "o_orderpriority", "price_cents")
    val out = operators.Relational.mergeStep(target, cdc)
      .orderBy("o_orderkey").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 100L), (3L, 333L), (9L, 900L)))
  }

  test("merge step with an empty change batch is the identity") {
    val target = Seq((1L, "P1", 100L))
      .toDF("o_orderkey", "o_orderpriority", "price_cents")
    val cdc = Seq((1L, "U", "P1", 1L))
      .toDF("o_orderkey", "op", "o_orderpriority", "price_cents")
      .filter(col("o_orderkey") > 100)
    val out = operators.Relational.mergeStep(target, cdc).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(2))).toSeq === Seq((1L, 100L)))
  }

  test("merge step match guards: malformed CDC actions are no-ops, not upserts") {
    val target = Seq((1L, "P1", 100L), (2L, "P2", 200L))
      .toDF("o_orderkey", "o_orderpriority", "price_cents")
    val cdc = Seq(
      (9L, "U", "P9", 900L), // update for a key the target lacks -> no-op
      (8L, "D", "P8", 0L),   // delete for a key the target lacks -> no-op
      (2L, "I", "PX", 999L)) // replayed insert for an existing key -> target wins
      .toDF("o_orderkey", "op", "o_orderpriority", "price_cents")
    val out = operators.Relational.mergeStep(target, cdc)
      .orderBy("o_orderkey").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // the coalesce-style resolution would emit (9, P9, 900) and
    // overwrite row 2 with PX/999 — the guards must not
    assert(out.toSeq === Seq((1L, "P1", 100L), (2L, "P2", 200L)))
  }

  test("rootedDepth fails loudly on a parent cycle (closed-forest guard)") {
    // 1 is a root; 2 and 3 point at each other — no path to any root,
    // so pointer doubling can never settle them
    val cyc = Seq((1L, 1L), (2L, 3L), (3L, 2L)).toDF("node", "parent")
    val e = intercept[IllegalArgumentException] {
      operators.GraphOps.rootedDepth(cyc).collect()
    }
    // r9 split the two violation modes into distinct loud failures:
    // non-convergence now names the cycle specifically (the dangling-
    // parent mode has its own row-conservation require, pinned in
    // GraphOpsSpec)
    assert(e.getMessage.contains("parent cycle"))
  }

  test("time-travel probe selects CLOSED intervals, not just current rows") {
    // the AS-OF filter must pick superseded versions when the probe
    // date is mid-history (ADVICE r4: a post-history probe degenerates
    // to valid_to IS NULL and never exercises interval selection)
    val hist = operators.Relational.tableScd2(spark, sfDir)
      .filter(col("valid_from") <= lit("1995-06-15").cast("timestamp") &&
        (col("valid_to").isNull ||
          col("valid_to") > lit("1995-06-15").cast("timestamp")))
    assert(hist.filter(col("valid_to").isNotNull).count() > 0,
      "mid-history probe matched no closed interval — the date has " +
        "degenerated to a current-rows-only snapshot")
  }

  test("MgAgg: empty stream yields empty sketch; single token survives") {
    val agg = sketch.SketchQueries.MgAgg
    assert(agg.finish(agg.zero).isEmpty)
    val one = agg.reduce(agg.zero, "t")
    assert(agg.finish(one) === Map("t" -> 1L))
  }

  test("event_pattern ignores sequences broken by interleaved events") {
    // user 1: view,click,purchase (match); user 2: view,X,click,purchase (no match)
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", 1L, "view"), (1L, "2024-01-01 00:10:00", 2L, "click"),
      (1L, "2024-01-01 00:20:00", 3L, "purchase"),
      (2L, "2024-01-01 00:00:00", 4L, "view"), (2L, "2024-01-01 00:05:00", 5L, "error"),
      (2L, "2024-01-01 00:10:00", 6L, "click"), (2L, "2024-01-01 00:20:00", 7L, "purchase"))
      .toDF("user_id", "s", "event_id", "event_type")
      .withColumn("ts", col("s").cast("timestamp")).drop("s")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val matches = ev
      .withColumn("t1", lag(col("event_type"), 1).over(w))
      .withColumn("t2", lag(col("event_type"), 2).over(w))
      .filter(col("event_type") === "purchase" && col("t1") === "click" &&
        col("t2") === "view")
      .select("user_id").collect().map(_.getLong(0))
    assert(matches.toSeq === Seq(1L))
  }

  test("ts_fill semantics: gap hours get n=0 and the carried-forward sum") {
    // one key with hours 0 and 2 observed, hour 1 missing
    val hourly = Seq(("k", "2024-01-01 00:00:00", 2L, 10L), ("k", "2024-01-01 02:00:00", 1L, 7L))
      .toDF("event_type", "s", "n", "sum_c")
      .withColumn("h", col("s").cast("timestamp")).drop("s")
    val spine = hourly.groupBy(col("event_type"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("event_type"), explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
    val filled = spine.join(hourly, Seq("event_type", "h"), "left")
      .select(col("h"), coalesce(col("n"), lit(0L)).as("n"),
        last(col("sum_c"), ignoreNulls = true).over(
          Window.partitionBy(col("event_type")).orderBy(col("h"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("f"))
      .orderBy("h").collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(filled.toSeq === Seq((2L, 10L), (0L, 10L), (1L, 7L)))
  }

  test("skyline sweep matches the anti-join dominance spec in-engine") {
    // cross-validate the prefix-max sweep against a Spark anti-join of
    // the same dominance predicate (the DuckDB oracle already does this
    // cross-engine; this keeps the check in the unit suite)
    val frontier = graft.operators.Relational.queries
      .find(_.id == "skyline_pareto").get.fn(spark, sfDir)
    val pairs = graft.sources.Tables.part(spark, sfDir)
      .groupBy(round(col("p_retailprice") * 100).cast("long").as("price_c"),
        col("p_size").cast("long").as("size"))
      .agg(count(lit(1)).as("n_parts"))
    val spec = pairs.as("p").join(pairs.as("q"),
        col("q.price_c") <= col("p.price_c") && col("q.size") >= col("p.size") &&
          (col("q.price_c") < col("p.price_c") || col("q.size") > col("p.size")),
        "left_anti")
      .select(col("price_c"), col("size"), col("n_parts"))
    assert(frontier.exceptAll(spec).count() === 0)
    assert(spec.exceptAll(frontier).count() === 0)
  }

  test("skyline of a hand-computed micro set") {
    // (price, size): (1,1) (1,3) (2,5) (3,5) (3,2)
    // frontier: (1,3) cheaper-largest at 1; (2,5) largest overall at 2.
    // (3,5) loses to (2,5); (1,1) to (1,3); (3,2) to (1,3).
    val df = Seq((1L, 1L), (1L, 3L), (2L, 5L), (3L, 5L), (3L, 2L))
      .toDF("price_c", "size")
    val w = Window.orderBy(col("price_c"), col("size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val got = df.withColumn("best", max(col("size")).over(w))
      .filter(col("best").isNull || col("size") > col("best"))
      .select("price_c", "size").orderBy("price_c")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((1L, 3L), (2L, 5L)))
  }

  test("bottom-k sample is exactly the k smallest hashes, via top-k plan") {
    val q = graft.operators.LlmPipeline.queries
      .find(_.id == "sample_bottomk").get.fn(spark, sfDir)
    // plan: TakeOrderedAndProject (heap top-k), not a global sort
    assert(q.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
    val got = q.select("doc_id").collect().map(_.getLong(0)).toSet
    val want = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(concat('47:', cast(doc_id as string))), 1, 8), 16, 10) as bigint)").as("h"))
      .orderBy("h", "doc_id").limit(100)
      .collect().map(_.getLong(0)).toSet
    assert(got === want)
  }

  test("scd2 history: one current row per key, contiguous compressed intervals") {
    // plan shape FIRST (before cache() swaps in an InMemoryRelation):
    // both window passes share the custkey partitioning — exactly two
    // shuffles, one hash (windows), one range (final ORDER BY). AQE off
    // so the static plan exposes raw ShuffleExchangeExec nodes.
    {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val fresh = graft.operators.Relational.queries.find(_.id == "table_scd2").get
          .fn(spark, sfDir)
        val exchanges = fresh.queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec => e
        }.length
        assert(exchanges === 2, s"expected 2 shuffles, got $exchanges")
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
    val h = graft.operators.Relational.queries.find(_.id == "table_scd2").get
      .fn(spark, sfDir).cache()
    try {
      // exactly one open interval per customer
      val cur = h.groupBy("o_custkey")
        .agg(sum("is_current").as("n_cur"))
        .filter(col("n_cur") =!= 1L)
      assert(cur.count() === 0)
      // consecutive versions: valid_to(v) == valid_from(v+1), attr changed
      val w = Window.partitionBy("o_custkey").orderBy("version")
      val nxt = h.withColumn("nf", lead(col("valid_from"), 1).over(w))
        .withColumn("na", lead(col("attr"), 1).over(w))
        .filter(col("nf").isNotNull)
      assert(nxt.filter(col("valid_to") =!= col("nf")).count() === 0)
      assert(nxt.filter(col("attr") === col("na")).count() === 0)
    } finally h.unpersist()
  }

  test("Det.cents/sum2 are exact on 2-decimal money") {
    val df = Seq(0.01, 0.02, 0.29, 10.10, 99.99).toDF("v")
    val s = df.agg(Det.sum2(col("v"))).head().getDouble(0)
    assert(s === 110.41)
  }

  test("sessionization gap logic: new session iff gap > threshold") {
    val ev = Seq((1L, 0L), (1L, 100L), (1L, 5000L), (1L, 5100L))
      .toDF("u", "t")
    val w = Window.partitionBy("u").orderBy("t")
    val sess = ev
      .withColumn("gap", col("t") - lag("t", 1).over(w))
      .withColumn("new_s", when(col("gap").isNull || col("gap") > 1000L, 1).otherwise(0))
      .withColumn("sid", sum("new_s").over(w))
    val ids = sess.orderBy("t").collect().map(_.getLong(4))
    assert(ids.toSeq === Seq(1L, 1L, 2L, 2L))
  }

  test("time-travel snapshot picks exactly one interval per key") {
    val asOf = to_timestamp(lit("1999-06-15"))
    val snap = graft.operators.Relational.tableScd2(spark, sfDir)
      .filter(col("valid_from") <= asOf &&
        (col("valid_to").isNull || col("valid_to") > asOf))
    // the SCD2 invariant: intervals are disjoint, so a probe date hits
    // at most one version per customer
    assert(snap.groupBy("o_custkey").count().filter(col("count") > 1)
      .count() === 0)
    assert(snap.count() > 0)
  }

  test("bitmap popcount equals COUNT(DISTINCT) per group") {
    val bm = graft.functions.FunctionQueries.queries
      .find(_.id == "fn_bitmap").get.fn(spark, sfDir)
    val cd = graft.sources.Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("expect"))
    assert(bm.join(cd, "l_returnflag")
      .filter(col("n_orders") =!= col("expect")).count() === 0)
  }

  test("integer-moment correlation: exact +-1 on linear data, 0 on flat") {
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    // y = 2x -> r=+1; z = -3x -> r=-1 (both exactly 1e6 in r2)
    val df = (1L to 5L).map(i => (i, 2 * i, -3 * i)).toDF("x", "y", "z")
    val m = df.agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("z"))).as("sz"),
        sum(dec(col("x")) * dec(col("x"))).as("qx"),
        sum(dec(col("y")) * dec(col("y"))).as("qy"),
        sum(dec(col("z")) * dec(col("z"))).as("qz"),
        sum(dec(col("x")) * dec(col("y"))).as("pxy"),
        sum(dec(col("x")) * dec(col("z"))).as("pxz"))
    def entry(p: String, a: String, b: String) = {
      val num = dec(col("n")) * col(p) - col(s"s$a") * col(s"s$b")
      val va = dec(col("n")) * col(s"q$a") - col(s"s$a") * col(s"s$a")
      val vb = dec(col("n")) * col(s"q$b") - col(s"s$b") * col(s"s$b")
      Seq(signum(num).cast("long"),
        round(num.cast("double") * num.cast("double")
          / (va.cast("double") * vb.cast("double")) * 1e6).cast("long"))
    }
    val r = m.select(entry("pxy", "x", "y") ++ entry("pxz", "x", "z"): _*)
      .head()
    assert((r.getLong(0), r.getLong(1)) === (1L, 1000000L))
    assert((r.getLong(2), r.getLong(3)) === (-1L, 1000000L))
  }
}

/** Physical-plan assertions for the scale-technique joins. */
class ScaleJoinSpec extends SparkSpec {
  test("bucketed join plan has no shuffle Exchange on either side") {
    // disable auto-broadcast so the tiny sf0.001 tables take the
    // sort-merge path the bucketing is designed for
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = operators.Relational.joinBucketed(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, plan)
      // the aggregate above the join still exchanges on the group key;
      // the JOIN inputs themselves must be Exchange-free (bucketed scans)
      val afterJoin = plan.substring(joinIdx)
      assert(!afterJoin.contains("Exchange hashpartitioning"), plan)
      assert(afterJoin.contains("Bucketed: true"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("salted join equals plain join result") {
    val salted = operators.Relational.joinSkewSalt(spark, sfDir).collect()
    val plain = graft.sources.Tables.lineitem(spark, sfDir)
      .join(graft.sources.Tables.orders(spark, sfDir),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      .groupBy(org.apache.spark.sql.functions.col("o_orderpriority"))
      .agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          Det.cents(org.apache.spark.sql.functions.col("l_quantity"))).as("qty_cents"))
      .orderBy("o_orderpriority").collect()
    assert(salted.map(_.toString).toSeq === plain.map(_.toString).toSeq)
  }
}

/** Partition pruning proof for the partitioned-layout scan. */
class PartitionPruneSpec extends SparkSpec {
  test("filtered read of the partitioned layout prunes partitions") {
    val df = functions.FunctionQueries.scanPartitioned(spark, sfDir)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(o_year"), scan)
  }

  test("sample_split partitions every doc exactly once, roughly 80/10/10") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val total = docs.count()
    val splits = graft.operators.LlmPipeline.sampleSplit(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.values.sum === total) // disjoint + exhaustive
    // hash buckets are uniform-ish; allow wide slack on the tiny SF
    assert(splits("train").toDouble / total > 0.6)
    assert(splits.getOrElse("valid", 0L) + splits.getOrElse("test", 0L) > 0)
  }

  test("unpivot_long emits one row per (group, metric)") {
    val long = graft.operators.Relational.unpivotLong(spark, sfDir)
    val groups = graft.sources.Tables.lineitem(spark, sfDir)
      .select("l_returnflag").distinct().count()
    assert(long.count() === groups * 3)
    assert(long.columns.toSeq === Seq("l_returnflag", "metric", "value"))
  }

  test("agg_listagg orders payloads by the secondary key, not value order") {
    import spark.implicits._
    val df = Seq((1L, "2024-02-01", 9L), (1L, "2024-01-01", 20L), (1L, "2024-03-01", 3L))
      .toDF("ck", "d", "ok")
      .select(col("ck"), col("d").cast("date").as("d"), col("ok"))
    val seq = df.groupBy("ck")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("d"), col("ok")))),
          x => x.getField("ok").cast("string")), ",").as("s"))
      .head().getString(1)
    assert(seq === "20,9,3") // date order, not numeric order of ok
  }

  test("binaryFile source round-trips document bytes exactly") {
    val out = graft.operators.Relational.queries
      .find(_.id == "source_binaryfile").get.fn(spark, sfDir)
    val expect = graft.sources.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 100)
      .select(col("doc_id"),
        md5(to_binary(concat(col("text"), lit("\n")), lit("utf-8")))
          .as("expect_md5"))
    assert(out.count() === 100)
    assert(out.join(expect, "doc_id")
      .filter(col("content_md5") =!= col("expect_md5")).count() === 0)
  }

  test("UTF8_LCASE collation collapses the 3 case variants to 1") {
    val out = graft.functions.FunctionQueries.queries
      .find(_.id == "fn_collate").get.fn(spark, sfDir)
    assert(out.count() === 6)
    assert(out.filter(
      col("n_case_sensitive") =!= col("n_case_insensitive") * 3).count() === 0)
  }
}

/** AQE is active and re-plans at runtime (coalesces small shuffles). */
class AqeSpec extends SparkSpec {
  test("AQE coalesces an over-partitioned shuffle at runtime") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try {
      val df = graft.sources.Tables.orders(spark, sfDir)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
      df.collect() // execute so AQE finalizes the plan
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("AQEShuffleRead coalesced"), plan)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
