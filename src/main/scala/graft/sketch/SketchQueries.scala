package graft.sketch

import graft.Det.{h32, oH32}
import graft.GQuery
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Sketch operators (SURVEY.md §2.B sketch_* rows, reference modules
  * `ps/.../sketch/{bloom,tug/of/war,minhash}/` [K-med/K-low]).
  *
  * The reference pushes mergeable partial sketches through the PS
  * (`paramUpdate = merge`); Spark's exact analog is a typed
  * `Aggregator` whose `merge` is the sketch merge — partial aggregation
  * on the map side IS the reference's combinable-sender batching, and
  * the shuffle carries one sketch per (group, partition) instead of raw
  * rows, which is the whole point at 100 TB.
  *
  * Determinism/oracle strategy (SURVEY §7.5): every sketch here is built
  * from md5-derived hashes, so DuckDB reproduces the *sketch itself*
  * bit-for-bit — the oracle checks both the estimate and the exact
  * quantity it estimates. (`org.apache.spark.util.sketch.BloomFilter`
  * uses Spark-internal hashing, so the bloom qid outputs the exact
  * set-overlap form; the BloomFilter-wrapping Aggregator is exercised in
  * the ScalaTest suite instead.)
  */
object SketchQueries {

  /** Tug-of-War (AMS) sketch: d=8 counters per group; counter j sums
    * ±1 signs of the keyed value. Mergeable by vector add — the PS
    * `paramUpdate` [K-med]. Signs derive from the portable md5 hash so
    * the oracle can rebuild the identical sketch.
    */
  object TowAgg extends Aggregator[Long, Array[Long], Array[Long]] {
    val d = 8
    def zero: Array[Long] = Array.fill(d)(0L)
    def reduce(b: Array[Long], key: Long): Array[Long] = {
      var j = 0
      while (j < d) { b(j) += sign(key, j); j += 1 }
      b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var j = 0
      while (j < d) { a(j) += b(j); j += 1 }
      a
    }
    def finish(r: Array[Long]): Array[Long] = r
    // Same native ARRAY<BIGINT> codec as the output encoder below —
    // shuffle partials should not pay Java serialization.
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    /** ±1 from the same md5 scheme as the SQL h32 (seed 17). */
    def sign(key: Long, j: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"17:$key:$j".getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex, 16) % 2L) * 2L - 1L
    }
  }

  // ----------------------------------------------------------------- sketch_tow
  /** ToW sketches of the per-event-type user-count vectors, built by
    * linear fold over the per-key count relation (see in-body note;
    * `TowAgg` above is the equivalent mergeable-Aggregator form, kept
    * property-tested); pairwise sketch inner products estimate the
    * exact count-vector inner product Σ_u cnt_a(u)·cnt_b(u), which is
    * also computed exactly — the oracle checks estimate AND exact.
    * Estimate quality is property-tested in ScalaTest; here
    * determinism is what is asserted.
    */
  def sketchTow(spark: SparkSession, dir: String): DataFrame = {
    // Fold-first (round-9): the ToW map is linear, so
    // cell_j(t) = Σ_events sign(user, j) = Σ_u cnt(t, u) · sign(u, j).
    // Build the per-key count relation ONCE (the exact inner product
    // needs it anyway — one events scan total) and derive the sketch
    // from it with codegen'd md5 expressions. The old form pushed
    // every event through the typed Aggregator — 8 MessageDigest
    // rounds per ROW outside codegen; now the hash volume is bounded
    // by distinct (type, user) pairs at any corpus size. Cells are
    // bit-identical (integer linearity; the expression reproduces
    // TowAgg.sign's md5 scheme exactly). TowAgg itself remains the
    // property-tested mergeable reference implementation of the shape.
    // The explicit not-null filter is semantically free (a null user's
    // sign expression is null, which sum() skips — exactly what the
    // exact branch's inner join does) but load-bearing for the plan:
    // the self-join below pushes IsNotNull(user_id) into ITS scan, and
    // without the same filter here the two cnt subtrees don't
    // canonicalize equal, so AQE reuses neither and events is scanned
    // and shuffled twice. With it: one scan, one (type,user) exchange,
    // reused by the sketch branch and both self-join sides.
    val cnt = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .groupBy(col("event_type"), col("user_id")).agg(count(lit(1)).as("cnt"))
    val sk = cnt.groupBy(col("event_type"))
      .agg(array((0 until TowAgg.d).map(j =>
        sum(col("cnt") *
          expr(s"((${h32(s"concat(user_id, ':', $j)", 17)}) % 2) * 2 - 1"))): _*)
        .as("sk"))
    val est = sk.as("a").join(sk.as("b"), col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("ta"), col("b.event_type").as("tb"),
        (expr("aggregate(zip_with(a.sk, b.sk, (x, y) -> x * y), 0L, (acc, v) -> acc + v)")
          .cast("double") / TowAgg.d.toDouble).as("tow_estimate"))
    val exact = cnt.as("x").join(cnt.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("ta"), col("y.event_type").as("tb"))
      .agg(sum(col("x.cnt") * col("y.cnt")).as("exact_inner"))
    est.join(exact, Seq("ta", "tb"))
      .select(col("ta"), col("tb"), col("tow_estimate"), col("exact_inner"))
      .orderBy(col("ta"), col("tb"))
  }

  private val sketchTowOracle = {
    val sign = s"((${oH32("concat(user_id, ':', j)", 17)}) % 2) * 2 - 1"
    s"""WITH sk AS (
       |  SELECT event_type, j, SUM($sign) AS c
       |  FROM events, unnest(generate_series(0, 7)) AS t(j)
       |  GROUP BY event_type, j),
       |est AS (
       |  SELECT a.event_type ta, b.event_type tb,
       |         CAST(SUM(a.c * b.c) AS DOUBLE) / CAST(8 AS DOUBLE) AS tow_estimate
       |  FROM sk a JOIN sk b ON a.j = b.j AND a.event_type < b.event_type
       |  GROUP BY 1, 2),
       |cnt AS (SELECT event_type, user_id, count(*) cnt FROM events GROUP BY 1, 2),
       |exact AS (
       |  SELECT x.event_type ta, y.event_type tb,
       |         CAST(SUM(x.cnt * y.cnt) AS BIGINT) AS exact_inner
       |  FROM cnt x JOIN cnt y
       |    ON x.user_id = y.user_id AND x.event_type < y.event_type
       |  GROUP BY 1, 2)
       |SELECT ta, tb, tow_estimate, exact_inner
       |FROM est JOIN exact USING (ta, tb)
       |ORDER BY ta, tb""".stripMargin
  }

  // --------------------------------------------------------------- sketch_bloom
  /** Bloom-filter similarity family, exact form: per-event-type distinct
    * user sets, pairwise |∩|/|∪| — the quantity the reference's
    * time-bucketed blooms estimate for Jaccard similarity (EDBT'19
    * line). Sets stay distributed (groupBy distinct + equi-join on
    * user), never collected; the bloom-filter Aggregator (merge = bit
    * OR) lives in `BloomAgg` and is ScalaTest-verified since its bit
    * layout is Spark-internal. */
  def sketchBloom(spark: SparkSession, dir: String): DataFrame = {
    val sets = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
    val sizes = sets.groupBy("event_type").agg(count(lit(1)).as("n"))
    sets.as("a").join(sets.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("event_type").as("ta"), col("n").as("na")), "ta")
      .join(sizes.select(col("event_type").as("tb"), col("n").as("nb")), "tb")
      .select(col("ta"), col("tb"), col("na"), col("nb"), col("inter"),
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6)
          .as("jaccard"))
      .orderBy(col("ta"), col("tb"))
  }

  private val sketchBloomOracle =
    """WITH sets AS (SELECT DISTINCT event_type, user_id FROM events),
      |sizes AS (SELECT event_type, count(*) n FROM sets GROUP BY 1),
      |inter AS (
      |  SELECT a.event_type ta, b.event_type tb, count(*) inter
      |  FROM sets a JOIN sets b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT ta, tb, sa.n na, sb.n nb, inter,
      |       ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.event_type = ta
      |JOIN sizes sb ON sb.event_type = tb
      |ORDER BY ta, tb""".stripMargin

  // ------------------------------------------------------------- sketch_minhash
  /** MinHash signatures (8 seeds) of per-source token sets; pairwise
    * signature agreement estimates Jaccard, checked against the exact
    * value. The signature pass is one groupBy over (source, seed) —
    * linear; pairs are across 20 sources only. */
  def sketchMinhash(spark: SparkSession, dir: String): DataFrame = {
    // The distinct (source, tok) relation feeds the signature pass, the
    // set sizes, AND the exact-intersection self-join, but is NOT
    // persisted: the three subtrees canonicalize to the same exchange,
    // so AQE's runtime exchange reuse computes it once within the one
    // job — a persist here was A/B-measured (r9) at +0.6 s, replacing
    // free reuse with cache materialization. Hashing stays per
    // (source, tok): cross-source token multiplicity is ~2-3× here, so
    // folding to per-distinct-tok would trade cheap codegen'd md5 for
    // an extra join shuffle — the wrong trade (the dedup_minhash fold
    // paid off at ~40× multiplicity).
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
    val sig = toks.select(col("source"),
        posexplode(array((0 until 8).map(s => expr(h32("tok", 100 + s))): _*))
          .as(Seq("seed", "h")))
      .groupBy("source", "seed").agg(min("h").as("mh"))
    val est = sig.as("a").join(sig.as("b"),
        col("a.seed") === col("b.seed") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
      .agg((sum(when(col("a.mh") === col("b.mh"), 1L).otherwise(0L)).cast("double") /
        lit(8).cast("double")).as("est_jaccard"))
    val sizes = toks.groupBy("source").agg(count(lit(1)).as("n"))
    val exact = toks.as("x").join(toks.as("y"),
        col("x.tok") === col("y.tok") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("sa"), col("y.source").as("sb"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("source").as("sa"), col("n").as("na")), "sa")
      .join(sizes.select(col("source").as("sb"), col("n").as("nb")), "sb")
      .select(col("sa"), col("sb"),
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6)
          .as("exact_jaccard"))
    est.join(exact, Seq("sa", "sb"))
      .select(col("sa"), col("sb"), col("est_jaccard"), col("exact_jaccard"))
      .orderBy(col("sa"), col("sb"))
  }

  private val sketchMinhashOracle = {
    val mhUnion = (0 until 8)
      .map(s => s"SELECT source, ${100 + s} - 100 AS seed, min(${oH32("tok", 100 + s)}) AS mh FROM toks GROUP BY source")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH toks AS (
       |  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |sig AS (
       |  $mhUnion),
       |est AS (
       |  SELECT a.source sa, b.source sb,
       |         CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS DOUBLE)
       |           / CAST(8 AS DOUBLE) AS est_jaccard
       |  FROM sig a JOIN sig b ON a.seed = b.seed AND a.source < b.source
       |  GROUP BY 1, 2),
       |sizes AS (SELECT source, count(*) n FROM toks GROUP BY 1),
       |inter AS (
       |  SELECT x.source sa, y.source sb, count(*) inter
       |  FROM toks x JOIN toks y ON x.tok = y.tok AND x.source < y.source
       |  GROUP BY 1, 2),
       |exact AS (
       |  SELECT sa, sb,
       |         ROUND(CAST(inter AS DOUBLE) / (za.n + zb.n - inter), 6) AS exact_jaccard
       |  FROM inter JOIN sizes za ON za.source = sa JOIN sizes zb ON zb.source = sb)
       |SELECT sa, sb, est_jaccard, exact_jaccard
       |FROM est JOIN exact USING (sa, sb)
       |ORDER BY sa, sb""".stripMargin
  }

  // ------------------------------------------------- sketch_bloom_portable
  /** Per-group Bloom filter with an md5-portable bit layout, oracle-
    * checked bit-for-bit — the reference's bloom module made engine-
    * reproducible (unlike `BloomAgg`, whose Spark-internal layout is
    * test-only). m = 252 bits stored as four 63-bit lanes (63 keeps
    * every lane a positive BIGINT in both engines), k = 3 seeded md5
    * hashes per element. The bitmap OR is `SUM(DISTINCT 2^bit)` per
    * lane — exactly the mergeable `paramUpdate` shape, one hash-shuffle
    * groupBy at any scale. Missing lanes materialize as 0 from the
    * (group × lane) grid so the sketch always has its full fixed size.
    */
  def sketchBloomPortable(spark: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
    val pos = du.select(col("event_type"),
      explode(expr(
        s"transform(sequence(0, 2), j -> ${h32("concat(j, ':', user_id)", 23)} % 252)"))
        .as("pos"))
    val lanes = pos
      .select(col("event_type"), expr("pos div 63").as("lane"),
        expr("shiftleft(1L, cast(pos % 63 AS int))").as("bv"))
      .groupBy("event_type", "lane")
      .agg(sum_distinct(col("bv")).as("bits"),
        countDistinct(col("bv")).as("n_set"))
    val grid = du.select("event_type").distinct()
      .crossJoin(broadcast(spark.range(4).toDF("lane")))
    grid.join(lanes, Seq("event_type", "lane"), "left")
      .select(col("event_type"), col("lane"),
        coalesce(col("bits"), lit(0L)).as("bits"),
        coalesce(col("n_set"), lit(0L)).as("n_set"))
      .orderBy(col("event_type"), col("lane"))
  }

  private val sketchBloomPortableOracle =
    s"""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
       |pos AS (
       |  SELECT event_type,
       |         (${oH32("concat(j, ':', user_id)", 23)}) % 252 AS pos
       |  FROM du, unnest(generate_series(0, 2)) AS t(j)),
       |lanes AS (
       |  SELECT event_type, pos // 63 AS lane, (1::BIGINT << (pos % 63)) AS bv
       |  FROM pos),
       |bloom AS (
       |  SELECT event_type, lane, SUM(DISTINCT bv) AS bits,
       |         count(DISTINCT bv) AS n_set
       |  FROM lanes GROUP BY 1, 2),
       |grid AS (
       |  SELECT event_type, lane
       |  FROM (SELECT DISTINCT event_type FROM du),
       |       unnest(generate_series(0, 3)) AS g(lane))
       |SELECT event_type, CAST(lane AS BIGINT) AS lane,
       |       CAST(COALESCE(bits, 0) AS BIGINT) AS bits,
       |       CAST(COALESCE(n_set, 0) AS BIGINT) AS n_set
       |FROM grid LEFT JOIN bloom USING (event_type, lane)
       |ORDER BY event_type, lane""".stripMargin

  // ------------------------------------------------------------------ sketch_cms
  /** Count-min sketch, md5-portable and therefore oracle-checked
    * bit-for-bit: d=4 hash rows × w=256 buckets of event counts per
    * user key, point query = min over rows of the landed bucket's
    * count. The build is one groupBy over (row, bucket) — 1024 cells
    * regardless of input size, merge = cell-wise add (the PS
    * `paramUpdate` shape [K-med]); at 100 TB the sketch rides the
    * map-side combine and the shuffle carries cells, not rows. The
    * declared output estimates the 10 hottest users (exact top-10 with
    * total-order tiebreak) next to their true counts; est ≥ exact by
    * construction, est = exact when no collision.
    */
  def sketchCms(spark: SparkSession, dir: String): DataFrame = {
    val d = 4
    val w = 256
    // Hash per DISTINCT key, not per event (round-9, the dedup_minhash
    // r8 lesson applied to sketches): the bucket depends only on
    // user_id, so fold the event stream to (user_id, cnt) FIRST — one
    // map-side-combinable groupBy — and build the sketch by SUMMING
    // counts into cells. Bit-identical cells (count of events landing
    // in a cell = Σ per-user counts of its users), but the md5 work and
    // the ×d explode run over the key universe (1.5k at sf0.1), not the
    // event stream (100k) — at 100 TB the sketch build's hash volume is
    // bounded by distinct keys while the scan stays one pass. The exact
    // top-10 reads the SAME per-user relation, so the events scan
    // happens once, not twice. Measured (filtered A/B, idle host,
    // sf0.1): 1.02 → 0.69 s minima; in-suite 1.01 → 0.74.
    // NOT persisted: the sketch build and the exact top-10 embed the
    // same groupBy subtree, so AQE exchange reuse computes it once
    // within the one job (the sketch_tow/ts_outlier r9 measurement:
    // a persist here buys cache materialization for sharing that
    // reuse already provides free)
    val perUser = Tables.events(spark, dir).select(col("user_id"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("exact_cnt"))
    val cms = perUser
      .select(col("user_id"), col("exact_cnt"), explode(expr(s"sequence(0, ${d - 1})")).as("r"))
      .select(col("exact_cnt"), col("r"), expr(
        s"cast(conv(substring(md5(concat(cast(300 + r as string), ':', " +
          s"cast(user_id as string))), 1, 8), 16, 10) as bigint) % $w").as("bucket"))
      .groupBy(col("r"), col("bucket"))
      .agg(sum(col("exact_cnt")).as("cell"))
    val top = perUser
      .orderBy(col("exact_cnt").desc, col("user_id")).limit(10)
    top
      .select(col("user_id"), col("exact_cnt"),
        explode(expr(s"sequence(0, ${d - 1})")).as("r"))
      .select(col("user_id"), col("exact_cnt"), col("r"), expr(
        s"cast(conv(substring(md5(concat(cast(300 + r as string), ':', " +
          s"cast(user_id as string))), 1, 8), 16, 10) as bigint) % $w").as("bucket"))
      .join(broadcast(cms), Seq("r", "bucket"))
      .groupBy(col("user_id"), col("exact_cnt"))
      .agg(min(col("cell")).as("est_cnt"))
      .select(col("user_id"), col("exact_cnt"), col("est_cnt"),
        (col("est_cnt") >= col("exact_cnt")).as("no_underestimate"))
      .orderBy(col("user_id"))
  }

  private val sketchCmsOracle =
    """WITH hashed AS (
      |  SELECT user_id, r,
      |    CAST(('0x' || substr(md5(concat(CAST(300 + r AS VARCHAR), ':',
      |      CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) % 256 AS bucket
      |  FROM events, unnest(generate_series(0, 3)) AS t(r)),
      |cms AS (
      |  SELECT r, bucket, COUNT(*) AS cell FROM hashed GROUP BY 1, 2),
      |top AS (
      |  SELECT user_id, COUNT(*) AS exact_cnt FROM events
      |  GROUP BY user_id ORDER BY exact_cnt DESC, user_id LIMIT 10),
      |probes AS (
      |  SELECT t.user_id, t.exact_cnt, h.r, h.bucket
      |  FROM top t JOIN (SELECT DISTINCT user_id, r, bucket FROM hashed) h
      |    USING (user_id))
      |SELECT p.user_id, p.exact_cnt, MIN(c.cell) AS est_cnt,
      |  MIN(c.cell) >= p.exact_cnt AS no_underestimate
      |FROM probes p JOIN cms c USING (r, bucket)
      |GROUP BY p.user_id, p.exact_cnt
      |ORDER BY p.user_id""".stripMargin

  // ------------------------------------------------------------ sketch_hll_union
  /** HLL sketch mergeability (Apache DataSketches built-ins): one HLL
    * per event_type, unioned with `hll_union_agg` into the global
    * distinct-user estimate — the two-level merge a 1000-executor
    * rollup runs (sketch per partition → union, never a re-scan).
    * Estimator internals aren't portable, so as with
    * agg_approx_distinct the declared output is the exact global
    * distinct count plus accuracy bounds the oracle asserts as TRUE.
    */
  def sketchHllUnion(spark: SparkSession, dir: String): DataFrame = {
    val perType = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"),
        countDistinct(col("user_id")).as("exact_type"))
    val unioned = perType.agg(
      expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("est_union"),
      count(lit(1)).as("n_types"),
      sum(col("exact_type")).as("sum_type_exacts"))
    val exact = Tables.events(spark, dir)
      .agg(countDistinct(col("user_id")).as("exact_union"))
    unioned.crossJoin(broadcast(exact))
      .select(col("n_types"), col("exact_union"),
        (col("est_union") <= col("exact_union") * 1.05 &&
          col("est_union") >= col("exact_union") * 0.95).as("union_within_5pct"),
        // union est can't exceed the sum of per-type exacts (supports ⊆)
        (col("est_union") <= col("sum_type_exacts").cast("double") * 1.05)
          .as("bounded_by_sum"))
  }

  private val sketchHllUnionOracle =
    """SELECT COUNT(DISTINCT event_type) AS n_types,
      |  COUNT(DISTINCT user_id) AS exact_union,
      |  TRUE AS union_within_5pct,
      |  TRUE AS bounded_by_sum
      |FROM events""".stripMargin

  // ------------------------------------------------------------ sketch_quantile
  /** Approximate-quantile sketch (the scalable percentile path — exact
    * per-group percentiles need a per-group sort; at 100 TB the sketch
    * replaces it with fixed-size mergeable summaries). Spark's
    * `percentile_approx` (Greenwald–Khanna style) guarantees RANK error
    * ≤ 1/accuracy, and its internals are engine-specific, so — like
    * agg_approx_distinct — the declared output is the EXACT quantile
    * (oracle-able integer-cents percentile) plus a `rank_ok` boolean
    * asserting the sketch answer's measured rank error: the fraction of
    * rows ≤ the sketch's median stays within 0.5 ± 0.01 (accuracy=10000
    * ⇒ guaranteed 0.0001; the 100× margin makes the audit robust, not
    * vacuous — a broken sketch misses it immediately). The audit is
    * folded into a SINGLE scan of the fact table: the sketch value is
    * attached per-row by an unbounded window aggregate over the group
    * key, and the follow-up groupBy reuses the same partitioning — one
    * scan + one shuffle total, where the r3 shape re-scanned and
    * re-joined lineitem just for the audit column.
    */
  def sketchQuantile(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("l_returnflag")
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
        expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("cents"))
      .withColumn("apx", expr("percentile_approx(cents, 0.5, 10000)").over(w))
    li.groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(cents, 0.5)").as("p50_cents"),
        count(lit(1)).as("n"),
        (abs(sum(when(col("cents") <= col("apx"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double") - lit(0.5))
          <= lit(0.01)).as("rank_ok"))
      .orderBy(col("l_returnflag"))
  }

  private val sketchQuantileOracle =
    """SELECT l_returnflag,
      |  QUANTILE_CONT(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.5)
      |    AS p50_cents,
      |  COUNT(*) AS n, TRUE AS rank_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------ sketch_heavy_hitters
  /** Misra–Gries heavy-hitters summary (capacity k=64) as a typed
    * mergeable Aggregator — the streaming top-frequency sketch every
    * crawl profiler runs (vocabulary heads, hot URLs, template strings).
    * `reduce` is the classic counter update (increment / insert /
    * decrement-all on overflow); `merge` is the Agarwal et al.
    * mergeable-summaries rule: add counters, subtract the (k+1)-th
    * largest, drop non-positives. That merge is exactly what Spark's
    * partial aggregation ships — one 64-entry map per (group ×
    * partition) crosses the shuffle regardless of token volume.
    *
    * The sketch's CONTENT depends on partition order, but its GUARANTEE
    * does not: every token with true frequency > n/(k+1) survives with
    * a positive counter. So — the agg_approx_distinct pattern — the
    * declared output is the EXACT heavy set (tokens with 65·freq > n,
    * oracle-able in DuckDB) plus `in_sketch`, the guarantee evaluated
    * against the actual sketch, constant TRUE by the MG theorem.
    */
  object MgAgg extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    val k = 64
    def zero: Map[String, Long] = Map.empty
    def reduce(b: Map[String, Long], tok: String): Map[String, Long] =
      b.get(tok) match {
        case Some(c) => b.updated(tok, c + 1L)
        case None if b.size < k => b.updated(tok, 1L)
        case None =>
          b.iterator.collect { case (t, c) if c > 1L => t -> (c - 1L) }.toMap
      }
    def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
      val m = (a.keySet ++ b.keySet).iterator
        .map(t => t -> (a.getOrElse(t, 0L) + b.getOrElse(t, 0L))).toMap
      if (m.size <= k) m
      else {
        val d = m.values.toIndexedSeq.sorted(Ordering[Long].reverse)(k)
        m.iterator.collect { case (t, c) if c > d => t -> (c - d) }.toMap
      }
    }
    def finish(m: Map[String, Long]): Map[String, Long] = m
    def bufferEncoder: org.apache.spark.sql.Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }

  /** MG over pre-aggregated (token, freq) pairs. `reduce` is a merge
    * with the singleton summary {tok -> freq} — the Agarwal et al.
    * mergeable-summaries result says ANY merge tree over singletons
    * carries the same guarantee as the row-at-a-time stream fold, so
    * every token with true frequency > n/(k+1) still survives. The
    * sketch CONTENT can differ from MgAgg's (both are valid MG
    * summaries); only the guarantee is declared output, exactly as in
    * sketch_heavy_hitters' contract. MgAgg stays the property-tested
    * per-row reference. */
  object MgWeightedAgg
      extends Aggregator[(String, Long), Map[String, Long], Map[String, Long]] {
    def zero: Map[String, Long] = Map.empty
    def reduce(b: Map[String, Long], r: (String, Long)): Map[String, Long] =
      MgAgg.merge(b, Map(r._1 -> r._2))
    def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
      MgAgg.merge(a, b)
    def finish(m: Map[String, Long]): Map[String, Long] = m
    def bufferEncoder: org.apache.spark.sql.Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }

  def sketchHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
    // Everything below derives from the ONE token-keyed exchange: the
    // exact heavy set (filter), the total (sum), and the sketch — fed
    // the (tok, freq) pairs through the weighted-merge form instead of
    // re-reading and re-exploding the corpus for a per-row fold
    // (ScanAudit r9: the old shape scanned documents twice; this one
    // scans once and the UDAF touches |vocabulary| rows, not |tokens|).
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    val tot = counts.agg(sum(col("freq")).as("n"))
    val heavy = counts.crossJoin(broadcast(tot)) // 1-row total
      .filter(col("freq") * lit(MgAgg.k + 1L) > col("n"))
    val mg = udaf(MgWeightedAgg)
    val sketchKeys = counts.agg(mg(col("tok"), col("freq")).as("mg")) // 1-row sketch
      .select(explode(map_keys(col("mg"))).as("tok"), lit(true).as("present"))
    heavy.join(sketchKeys, Seq("tok"), "left")
      .select(col("tok"), col("freq"),
        coalesce(col("present"), lit(false)).as("in_sketch"))
      .orderBy(col("freq").desc, col("tok"))
  }

  private val sketchHeavyHittersOracle =
    """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |c AS (SELECT tok, count(*) AS freq FROM t GROUP BY tok),
      |n AS (SELECT CAST(SUM(freq) AS BIGINT) AS n FROM c)
      |SELECT tok, freq, TRUE AS in_sketch
      |FROM c WHERE freq * 65 > (SELECT n FROM n)
      |ORDER BY freq DESC, tok""".stripMargin

  def queries: Seq[GQuery] = Seq(
    GQuery("sketch_heavy_hitters", sketchHeavyHitters, Some(sketchHeavyHittersOracle),
      "Misra-Gries top-frequency sketch, MG containment contract as data"),
    GQuery("sketch_quantile", sketchQuantile, Some(sketchQuantileOracle),
      "approx-percentile sketch: exact median twin + measured rank-error audit"),
    GQuery("sketch_cms", sketchCms, Some(sketchCmsOracle),
      "md5-portable count-min sketch, point queries oracle-checked exactly"),
    GQuery("sketch_hll_union", sketchHllUnion, Some(sketchHllUnionOracle),
      "HLL sketch per group + hll_union_agg rollup with accuracy bounds"),
    GQuery("sketch_tow", sketchTow, Some(sketchTowOracle),
      "Tug-of-War (AMS) Aggregator sketch + exact inner-product twin"),
    GQuery("sketch_bloom", sketchBloom, Some(sketchBloomOracle),
      "bloom-family set similarity, exact distinct-set Jaccard form"),
    GQuery("sketch_bloom_portable", sketchBloomPortable, Some(sketchBloomPortableOracle),
      "md5-portable per-group bloom bitmap, oracle-checked bit-for-bit"),
    GQuery("sketch_minhash", sketchMinhash, Some(sketchMinhashOracle),
      "minhash signature agreement vs exact Jaccard per source pair")
  )
}

/** Per-group bloom filter as a mergeable typed Aggregator (merge = bit
  * OR) — the scale path for set membership/overlap when exact distinct
  * sets no longer fit. Bit layout is Spark-internal
  * (`org.apache.spark.util.sketch.BloomFilter`), so this is
  * ScalaTest-verified rather than oracle-checked.
  */
object BloomAgg extends Aggregator[Long,
    org.apache.spark.util.sketch.BloomFilter, Array[Byte]] {
  def zero: org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.create(10000, 0.01)
  def reduce(b: org.apache.spark.util.sketch.BloomFilter, key: Long)
      : org.apache.spark.util.sketch.BloomFilter = { b.putLong(key); b }
  def merge(a: org.apache.spark.util.sketch.BloomFilter,
      b: org.apache.spark.util.sketch.BloomFilter)
      : org.apache.spark.util.sketch.BloomFilter = { a.mergeInPlace(b); a }
  def finish(r: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    r.writeTo(bos)
    bos.toByteArray
  }
  // Shuffle partials cross the exchange as BINARY via the filter's own
  // compact writeTo/readFrom layout (a TransformingEncoder Codec), not
  // as an ObjectOutputStream payload: same bytes Spark's own
  // DataFrameStatFunctions.buildBloomFilter ships, minus the Java
  // serialization stream overhead.
  def bufferEncoder
      : org.apache.spark.sql.Encoder[org.apache.spark.util.sketch.BloomFilter] = {
    import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoders, Codec, ExpressionEncoder}
    ExpressionEncoder(
      AgnosticEncoders.TransformingEncoder(
        scala.reflect.classTag[org.apache.spark.util.sketch.BloomFilter],
        AgnosticEncoders.BinaryEncoder,
        () =>
          new Codec[org.apache.spark.util.sketch.BloomFilter, Array[Byte]] {
            def encode(b: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
              val bos = new java.io.ByteArrayOutputStream()
              b.writeTo(bos)
              bos.toByteArray
            }
            def decode(a: Array[Byte]): org.apache.spark.util.sketch.BloomFilter =
              org.apache.spark.util.sketch.BloomFilter
                .readFrom(new java.io.ByteArrayInputStream(a))
          }))
  }
  def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
    org.apache.spark.sql.Encoders.BINARY
}
