package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** 10× scale rehearsal of the dedup/ANN family (VERDICT r3 "Next
  * round" #2): synthesizes corpora at 1×/2×/5×/10× sf0.1 by id-shifted
  * replication and times the blocking-key operators against each, so
  * the "O(Σ bucket²), never all-pairs" design notes become measured
  * growth curves (recorded in docs/DESIGN.md).
  *
  * Replication is NAMESPACED, not verbatim: replica r shifts ids by
  * r·10⁷ and prefixes every token with `r{r}x`, making each replica's
  * token/shingle universe disjoint from the others. Verbatim copies
  * would be a pathological corpus (every shingle's df multiplied by k
  * kills the df==2 rare-shingle sets and floods every minhash/simhash
  * band bucket with identical signatures); the namespaced corpus is
  * "k× more data of the same shape" — per-replica dedup structure
  * identical, blocking-key population k× — which is what a growth
  * curve must hold constant. Embeddings replicate with shifted vec_ids
  * only: the ANN query band (vec_id < 30) stays fixed while the corpus
  * grows, the real 100-TB shape (queries don't scale with the corpus).
  *
  * A corpus is regenerated in place, and the stages derived from it
  * (graft.sources.Snapshots) are named by its tables' content: a
  * regenerated corpus simply gets new stages, so synth deletes none.
  *
  * Output: one JSON line per (qid, scale) with seconds, result rows,
  * and CC rounds where relevant; `tools/scale_rehearsal.sh` wraps it.
  * SPARK_GRAFT_ONLY prefixes pick a subset of the qids, as in every
  * other main; `SPARK_GRAFT_ONLY=none` synthesizes only.
  */
object ScaleRehearsal {
  private val baseDir = "/root/testdata/sf0.1"
  private val qids = Seq(
    "dedup_near", "dedup_minhash", "dedup_simhash", "dedup_clusters",
    "sim_ann_ivf", "sim_knn_graph", "sim_pq", "graph_pagerank", "graph_triangles",
    "graph_jaccard", "hier_depth", "graph_shortest_path",
    // event/stream/window family over the replicated events table
    // (k× users in the SAME time window — denser traffic, the shape a
    // growing service actually has; per-user structure per replica is
    // identical, so output rows must scale exactly k×)
    "stream_session", "join_asof", "join_range_band", "event_funnel",
    "win_running_distinct",
    "ts_resample", "ts_fill", "event_pattern", "stream_dedup_late",
    "sketch_cms", "sketch_heavy_hitters",
    "ts_outlier", "ts_trend", "ts_changepoint", "ts_acf",
    "ts_seasonal", "event_markov", "event_attribution", "agg_retention",
    "sketch_bloom", "sketch_tow", "sketch_minhash", "sketch_hll_union",
    "sketch_quantile", "sketch_bloom_portable",
    "ps_transform", "ps_partition", "pa_multi", "mf_sgd",
    // text family over the replicated documents (disjoint per-replica
    // token namespaces — k× vocab, per-replica df structure identical)
    "text_tfidf", "text_bm25", "text_ngram_profile", "text_entropy",
    "text_repetition", "dedup_lines", "dedup_decontam",
    // recommender family over replicated orders+lineitem (k× users,
    // identical per-replica basket structure) and the fixed-query-band
    // embedding scans (corpus grows, query side stays 20/50 vectors)
    "mf_cooccur", "mf_topk", "sim_cosine", "ts_simsearch",
    // relational/TPC-H family over the full-column fact replicas —
    // shuffle joins, grouped aggs, per-group windows, top-k: the
    // Spark-native shapes whose linearity the engine inherits from
    // Catalyst, curved here so the claim is measured, not assumed
    "q1_pricing", "q3_shipping", "q10_returns", "join_inner",
    "join_theta", "join_skew_salt", "agg_hash", "agg_grouping_sets",
    "win_rank", "topk_per_group", "limit_topk", "mf_baseline")

  private def synth(spark: SparkSession, scale: Int, outDir: String): Unit = {
    val out = new java.io.File(outDir)
    // lineitem presence re-checked so dirs synthesized before the graph
    // family joined the rehearsal get upgraded in place
    if (new java.io.File(out, "_DONE").exists() &&
      new java.io.File(out, "lineitem.parquet").exists() &&
      new java.io.File(out, "part.parquet").exists() &&
      new java.io.File(out, "events.parquet").exists() &&
      new java.io.File(out, "orders.parquet").exists() &&
      new java.io.File(out, "customer.parquet").exists() &&
      // r9: part went key-only -> full-column; dirs synthesized before
      // that upgrade in place (the lineitem-presence pattern above)
      spark.read.parquet(s"$outDir/part.parquet")
        .schema.fieldNames.contains("p_type")) return
    out.mkdirs()
    // regeneration starts: retract the completion marker FIRST, so a
    // crash mid-synth can never leave an old _DONE vouching for a dir
    // whose guard-checked tables are a mix of old and new corpora (the
    // marker is recreated only after the last table write below).
    // deleteIfExists PROPAGATES a failed delete (File.delete's ignored
    // boolean would let a permissions error proceed into regeneration
    // with the stale marker still vouching — the exact hazard this
    // retraction exists to close)
    java.nio.file.Files.deleteIfExists(new java.io.File(out, "_DONE").toPath)
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    val embs = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val docReps = (0 until scale).map { r =>
      if (r == 0) docs
      else docs.select(
        (col("doc_id") + lit(r * 10000000L)).as("doc_id"),
        concat_ws(" ",
          transform(split(col("text"), " "), t => concat(lit(s"r${r}x"), t)))
          .as("text"),
        col("lang"), col("source"),
        // keep the length metadata true to the rewritten text
        length(concat_ws(" ",
          transform(split(col("text"), " "), t => concat(lit(s"r${r}x"), t))))
          .cast("long").as("n_chars"))
    }
    docReps.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")
    val embReps = (0 until scale).map { r =>
      if (r == 0) embs
      else embs.select((col("vec_id") + lit(r * 10000000L)).as("vec_id"),
        col("embedding"), col("label"))
    }
    embReps.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")
    // graph/recommender/relational families: lineitem and orders
    // replicate FULL-COLUMN with every key shifted into a disjoint
    // range on a consistent stride (orderkey 10⁹ on both tables so the
    // join key stays aligned; partkey 10⁷, suppkey 10⁶, custkey 10⁷)
    // and every non-key attribute kept verbatim — so the co-purchase
    // graph becomes k disjoint copies, baskets stay identical per
    // replica, and the TPC-H-shaped joins/aggs/windows see k× rows
    // with an unchanged attribute distribution (the growth-curve
    // invariant for the relational family).
    val li = spark.read.parquet(s"$baseDir/lineitem.parquet")
    val liReps = (0 until scale).map { r =>
      if (r == 0) li
      else li
        .withColumn("l_orderkey", col("l_orderkey") + lit(r * 1000000000L))
        .withColumn("l_partkey", col("l_partkey") + lit(r * 10000000L))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * 1000000L))
    }
    liReps.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/lineitem.parquet")
    val ord = spark.read.parquet(s"$baseDir/orders.parquet")
    val ordReps = (0 until scale).map { r =>
      if (r == 0) ord
      else ord
        .withColumn("o_orderkey", col("o_orderkey") + lit(r * 1000000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(r * 10000000L))
    }
    ordReps.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/orders.parquet")
    // customer/supplier replicate on the same custkey/suppkey shifts
    // (nationkey kept — the nation/region dims stay fixed, copied
    // verbatim below: dimensions don't grow with the fact tables)
    val cust = spark.read.parquet(s"$baseDir/customer.parquet")
    (0 until scale).map { r =>
      if (r == 0) cust
      else cust.withColumn("c_custkey", col("c_custkey") + lit(r * 10000000L))
    }.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/customer.parquet")
    val supp = spark.read.parquet(s"$baseDir/supplier.parquet")
    (0 until scale).map { r =>
      if (r == 0) supp
      else supp.withColumn("s_suppkey", col("s_suppkey") + lit(r * 1000000L))
    }.reduce(_ unionByName _)
      .repartition(4).write.mode("overwrite")
      .parquet(s"$outDir/supplier.parquet")
    for (dim <- Seq("nation", "region"))
      spark.read.parquet(s"$baseDir/$dim.parquet")
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$dim.parquet")
    // hierarchy family: replicas must keep the keyspace DENSE —
    // hier_depth's random parent is `h32 mod (p-1)`, i.e. any key
    // below p, so a 10⁷ shift would point most parents at nonexistent
    // keys and orphan their subtrees (rootedDepth's documented closed-
    // forest precondition). Shifting by exactly max(key)+1 per replica
    // keeps 0..k·n-1 contiguous: one larger random recursive tree,
    // the honest k× shape.
    // event family: replica r shifts user and event ids into disjoint
    // ranges but keeps the TIMESTAMPS — k× more users active in the
    // same window (denser traffic), so sessions/windows/funnels per
    // replica are identical and outputs must scale exactly k×. ts is
    // read as raw nanos (nanosAsLong) and written back unchanged;
    // Tables.events normalizes either physical shape on read.
    val evt = spark.read.parquet(s"$baseDir/events.parquet")
    val evtReps = (0 until scale).map { r =>
      if (r == 0) evt
      else evt
        .withColumn("event_id", col("event_id") + lit(r * 100000000L))
        .withColumn("user_id", col("user_id") + lit(r * 10000000L))
    }
    evtReps.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/events.parquet")
    // part replicates FULL-COLUMN (r9: the key-only replica broke the
    // six part-attribute qids under the broadcast audit's all-qid sweep);
    // the key shift stays max(key)+1 so the hierarchy keyspace keeps
    // hier_depth's documented dense-closed-forest precondition
    val pt = spark.read.parquet(s"$baseDir/part.parquet")
    val ptStride = pt.agg(max(col("p_partkey"))).head().getLong(0) + 1L
    val ptReps = (0 until scale).map { r =>
      if (r == 0) pt
      else pt.withColumn("p_partkey", col("p_partkey") + lit(r * ptStride))
    }
    ptReps.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/part.parquet")
    new java.io.File(out, "_DONE").createNewFile()
  }

  /** Skewed-corpus variant (r10 — VERDICT r9 ask #3): the namespaced
    * replicas above hold per-key group sizes CONSTANT by construction,
    * which is the right invariant for growth curves but blind to the
    * quadratic class real crawl data triggers — zipf keys and
    * power-law duplicate mass (the shuffle audit only caught
    * join_fuzzy/dedup_embed because verbatim replicas happen to create
    * duplicate values). `zx{k}` dirs differ from `x{k}` in exactly two
    * tables:
    *
    *  - **events**: user_id is remapped zipf-style over the FIXED base
    *    user universe U — `u' = floor(U^h)`, h an md5-uniform of the
    *    (replica-shifted) event_id, giving P(user = rank r) ∝ 1/r
    *    (inverse-CDF of zipf s=1). The hot user's group GROWS k× with
    *    the corpus (~1/ln U of all rows — ~13% at U≈1500), so any
    *    per-user-quadratic shape goes k² where the namespaced corpus
    *    showed it linear.
    *  - **documents**: replica r of doc d keeps its text VERBATIM
    *    (true duplicate) when r < m(d), m(d) = min(k+1,
    *    ⌊(1-h)^(-1/1.5)⌋) a Pareto(α=1.5) multiplicity — ~35% of docs
    *    have ≥2 copies, ~3% have ≥11, so the duplicate tail is
    *    power-law like a real crawl, not all-or-nothing. Non-duplicate
    *    replicas namespace their tokens as in [[synth]].
    *
    * Embeddings/lineitem/orders/etc. inherit the namespaced replication
    * (embeddings are ALREADY 100% verbatim-duplicate mass there — the
    * harsher shape). Audits take these dirs as args:
    * `graft.Audit shuffle /tmp/graft_scale/zx1 /tmp/graft_scale/zx10`. */
  private def synthSkew(spark: SparkSession, scale: Int, outDir: String): Unit = {
    val out = new java.io.File(outDir)
    if (new java.io.File(out, "_DONE_SKEW").exists()) return
    // base namespaced corpus first (writes every table + _DONE)
    synth(spark, scale, outDir)
    // retract before overwriting events/documents: a crash mid-skew
    // must not leave _DONE(_SKEW) vouching for a mixed dir
    java.nio.file.Files.deleteIfExists(new java.io.File(out, "_DONE").toPath)
    val evt = spark.read.parquet(s"$baseDir/events.parquet")
    val uCount = math.max(2L,
      evt.agg(max(col("user_id"))).head().getLong(0))
    (0 until scale).map { r =>
      if (r == 0) evt
      else evt.withColumn("event_id", col("event_id") + lit(r * 100000000L))
    }.reduce(_ unionByName _)
      .withColumn("user_id", expr(
        s"cast(pow(cast($uCount as double), " +
          "conv(substring(md5(cast(event_id as string)), 1, 8), 16, 10)" +
          " / 4294967296.0) as bigint)"))
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/events.parquet")
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    // Pareto multiplicity from a doc_id-keyed md5 uniform; SAME m(d)
    // at every scale so zx1 -> zx10 growth is pure corpus growth
    val mExpr = s"least(cast(${scale + 1} as bigint), cast(pow(1.0 - " +
      "(conv(substring(md5(concat('dup:', cast(doc_id as string))), 1, 8), 16, 10)" +
      " / 4294967296.0), -1.0/1.5) as bigint))"
    (0 until scale).map { r =>
      if (r == 0) docs
      else {
        val namespaced = concat_ws(" ",
          transform(split(col("text"), " "), t => concat(lit(s"r${r}x"), t)))
        docs
          .withColumn("m", expr(mExpr))
          .select(
            (col("doc_id") + lit(r * 10000000L)).as("doc_id"),
            when(col("m") > r, col("text")).otherwise(namespaced).as("text"),
            col("lang"), col("source"),
            when(col("m") > r, col("n_chars"))
              .otherwise(length(namespaced).cast("long")).as("n_chars"))
      }
    }.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")
    new java.io.File(out, "_DONE").createNewFile()
    new java.io.File(out, "_DONE_SKEW").createNewFile()
  }

  def main(args: Array[String]): Unit = {
    val skewMode = sys.env.contains("SPARK_GRAFT_REHEARSE_SKEW")
    val scales = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 2, 5, 10)
    val spark = GraftSession.builder().local().build()
    // warm codegen/ICU once so x1 isn't charged JVM setup
    spark.read.parquet(s"$baseDir/documents.parquet").limit(200)
      .select(md5(col("text")).as("h"), explode(split(col("text"), " ")).as("t"))
      .groupBy("h", "t").count().count()
    Class.forName("org.apache.spark.sql.catalyst.util.CollationAwareUTF8String")
    val only = obs.Diag.selected(qids).toSet
    for (scale <- scales) {
      val dir = if (skewMode) s"/tmp/graft_scale/zx$scale"
        else s"/tmp/graft_scale/x$scale"
      if (skewMode) synthSkew(spark, scale, dir) else synth(spark, scale, dir)
      for (qid <- qids if only(qid)) {
        val fn = Registry.byId(qid).fn
        val t0 = System.nanoTime()
        val rows = fn(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        val extra =
          if (qid == "dedup_clusters")
            s""","cc_rounds":${graft.operators.GraphOps.lastRounds}"""
          else ""
        println(s"""{"qid":"$qid","scale":$scale,"sec":${Bench.num(sec, 2)},"rows":$rows$extra}""")
        try spark.catalog.clearCache() catch { case _: Throwable => () }
      }
    }
    spark.stop()
  }
}
