package graft.ps

import graft.GQuery
import graft.Det._
import graft.functions.VectorExprs
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Parameter-server framework restated on Spark + the reference's
  * algorithm library as deterministic oracle-checked slices
  * (SURVEY.md §2.A, §2.B, §3.4).
  *
  * The reference (`FlinkParameterServer.transform`,
  * `ps/src/main/scala/hu/sztaki/ilab/ps/FlinkParameterServer.scala`
  * [K-high]) wires an async record-level pull/push loop between worker
  * and server operators. Spark has no mutable distributed state in
  * batch, so state = data (SURVEY §1.2): the model is a DataFrame
  * keyed by parameter id, pull is an equi-join, push is a keyed
  * aggregation folded back with an outer join, and the training loop is
  * a driver-side iteration over bulk-synchronous steps — the
  * deterministic formulation (the PS2/SIGMOD'19-sanctioned tradeoff,
  * SURVEY §3.4). Every slice below is closed-form arithmetic on seeded,
  * md5-derived initializations, so DuckDB reproduces it bit-for-bit.
  *
  * Scale: the ratings "stream" (orders ⋈ lineitem → (user, item,
  * rating)) shuffles once on the join key; model joins hash-partition
  * on parameter id — the same sharding the reference's `Partitioner`
  * does by hand (§2.A ps_partition) — and small models broadcast.
  */
object PsQueries {

  /** Ratings matrix from the star schema (FIXTURES.md mapping):
    * user = o_custkey, item = l_partkey, rating = l_quantity.
    *
    * A dozen PS/algorithm queries start from this join, so it is
    * staged once per corpus content as a parquet snapshot —
    * the engine-side analog of a materialized view: later queries scan
    * the narrow 3-column snapshot instead of re-joining the base
    * tables. At 100 TB this snapshot would also be bucketed by item so
    * downstream model joins are co-located. Falls back to the live
    * join if the snapshot location is unwritable.
    */
  private def ratings(spark: SparkSession, dir: String): DataFrame = {
    val live =
      Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("user"), col("l_partkey").as("item"),
          col("l_quantity").as("rating"))
    graft.sources.Snapshots.parquet(spark, "ratings", dir, Seq("orders", "lineitem"), live)
  }

  private val oRatings =
    """SELECT o_custkey AS "user", l_partkey AS item, l_quantity AS rating
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin

  /** Deterministic ranged init of factor j for id (the reference's
    * `RangedRandomFactorInitializerDescriptor` [K-med] made seeded and
    * engine-portable): min + (h32(id:j) mod 1000)/1000 * (max-min). */
  // NB: both engines parse bare `1000.0` as DECIMAL — all literals are
  // cast to DOUBLE explicitly so the arithmetic is IEEE-identical.
  private def initFactor(idExpr: String, jExpr: String, lo: Double, hi: Double): String =
    s"cast($lo as double) + (pmod(${h32(s"concat($idExpr, ':', $jExpr)", 11)}, 1000) " +
      s"/ cast(1000 as double)) * cast(${hi - lo} as double)"
  private def oInitFactor(idExpr: String, jExpr: String, lo: Double, hi: Double): String =
    s"CAST($lo AS DOUBLE) + ((${oH32(s"concat($idExpr, ':', $jExpr)", 11)}) % 1000) " +
      s"/ CAST(1000 AS DOUBLE) * CAST(${hi - lo} AS DOUBLE)"

  // -------------------------------------------------------------------- ps_pull
  /** `ParameterServerClient.pull(id)` → equi-join of the data stream
    * with the model table on parameter id. The model here is the lazily
    * hash-initialized item parameter (dim 1 for clarity); the "pull
    * answer" is the joined row. No broadcast hint: the model relation is
    * one row per distinct item — unbounded cardinality at PS scale (a PS
    * model is by definition bigger than one node). AQE broadcasts it at
    * small SFs from runtime size; at 100 TB both sides hash-partition on
    * item, which is exactly the reference's range-partitioned server. */
  def psPull(spark: SparkSession, dir: String): DataFrame = {
    val r = ratings(spark, dir).filter(col("user") < 200)
    val model = ratings(spark, dir).select(col("item")).distinct()
      .withColumn("param", expr(initFactor("item", "0", 0.0, 1.0)))
    r.join(model, "item")
      .select(col("user"), col("item"), col("rating"),
        round(col("param"), 6).as("param"))
      .orderBy(col("user"), col("item"), col("rating"))
  }

  private val psPullOracle =
    s"""WITH r AS ($oRatings),
       |model AS (SELECT DISTINCT item, ${oInitFactor("item", "0", 0.0, 1.0)} AS param
       |          FROM r)
       |SELECT "user", item, rating, ROUND(param, 6) AS param
       |FROM r JOIN model USING (item)
       |WHERE "user" < 200
       |ORDER BY "user", item, rating""".stripMargin

  // -------------------------------------------------------------------- ps_push
  /** `push(id, delta)` → map-side-combined keyed aggregation of deltas,
    * folded into the model with a full-outer join + coalesce (the
    * server's `paramUpdate: (P,P) => P` with `+`). Deltas here are the
    * per-item rating cents (exact integers → bit-stable). */
  def psPush(spark: SparkSession, dir: String): DataFrame = {
    val model = ratings(spark, dir).select("item").distinct()
      .filter(col("item") % 3 =!= 0) // a model that is missing some ids
      .withColumn("value", (col("item") % 100).cast("long"))
    val deltas = ratings(spark, dir)
      .groupBy("item").agg(sum(cents(col("rating"))).as("delta"))
    model.join(deltas, Seq("item"), "full_outer")
      .select(col("item"),
        (coalesce(col("value"), lit(0L)) + coalesce(col("delta"), lit(0L)))
          .as("new_value"))
      .orderBy(col("item"))
  }

  private val psPushOracle =
    s"""WITH r AS ($oRatings),
       |model AS (SELECT DISTINCT item, item % 100 AS value FROM r WHERE item % 3 != 0),
       |deltas AS (SELECT item, SUM(${oCents("rating")}) AS delta FROM r GROUP BY item)
       |SELECT item,
       |       CAST(COALESCE(value, 0) + COALESCE(delta, 0) AS BIGINT) AS new_value
       |FROM model FULL OUTER JOIN deltas USING (item)
       |ORDER BY item""".stripMargin

  // -------------------------------------------------------------------- ps_init
  /** `paramInit: Int => P` lazy init on first pull: ids absent from the
    * warm model get the deterministic ranged init (left join +
    * coalesce), and the output marks which path initialized them. */
  def psInit(spark: SparkSession, dir: String): DataFrame = {
    val pulled = ratings(spark, dir).select("item").distinct()
    val warm = pulled.filter(col("item") % 2 === 0)
      .withColumn("param", round(col("item") / 1000.0, 6))
    pulled.join(warm, Seq("item"), "left")
      .select(col("item"),
        round(coalesce(col("param"), expr(initFactor("item", "0", -0.5, 0.5))), 6)
          .as("param"),
        col("param").isNull.as("was_lazy_init"))
      .orderBy(col("item"))
  }

  private val psInitOracle =
    s"""WITH r AS ($oRatings),
       |pulled AS (SELECT DISTINCT item FROM r),
       |warm AS (SELECT item, ROUND(item / 1000.0, 6) AS param
       |         FROM pulled WHERE item % 2 = 0)
       |SELECT p.item,
       |       ROUND(COALESCE(w.param, ${oInitFactor("p.item", "0", -0.5, 0.5)}), 6) AS param,
       |       w.param IS NULL AS was_lazy_init
       |FROM pulled p LEFT JOIN warm w ON p.item = w.item
       |ORDER BY p.item""".stripMargin

  // -------------------------------------------------------------- ps_model_load
  /** `transformWithModelLoad` [K-med]: warm-start the server from an
    * existing model table — here the embeddings table plays the
    * pre-trained model (id → factor vector), joined to the incoming
    * stream: score = first factor × rating. */
  def psModelLoad(spark: SparkSession, dir: String): DataFrame = {
    val model = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("item"),
        expr("cast(element_at(embedding, 1) as double)").as("f0"))
    ratings(spark, dir)
      .join(model, "item")
      .groupBy("item")
      .agg(count(lit(1)).as("n_pulls"),
        round(max(col("f0")), 6).as("f0"),
        // integer-scale rounding (e4) — the cross-engine-safe form for
        // rounded products of a division (see text_quality)
        round(sum(cents(col("rating"))).cast("double") / 100.0 * max(col("f0"))
          * 10000.0).cast("long").as("weighted_e4"))
      .orderBy(col("item"))
  }

  private val psModelLoadOracle =
    s"""WITH r AS ($oRatings),
       |model AS (SELECT vec_id AS item, CAST(embedding[1] AS DOUBLE) AS f0
       |          FROM embeddings)
       |SELECT item, COUNT(*) AS n_pulls, ROUND(MAX(f0), 6) AS f0,
       |       CAST(ROUND(CAST(SUM(${oCents("rating")}) AS BIGINT) / 100.0 * MAX(f0)
       |         * 10000.0) AS BIGINT) AS weighted_e4
       |FROM r JOIN model USING (item)
       |GROUP BY item ORDER BY item""".stripMargin

  // ------------------------------------------------------------------ ps_output
  /** `ps.output` / the `Either[WOut, PSOut]` merged stream: worker-side
    * outputs (per-user prediction rows) and server-side outputs
    * (per-item parameter rows) union into one discriminated relation
    * with nullable branches (`unionByName(allowMissingColumns)`). */
  def psOutput(spark: SparkSession, dir: String): DataFrame = {
    val r = ratings(spark, dir)
    val workerOut = r.groupBy(col("user"))
      // integer-cents prediction: exact sum, one division, integer round
      .agg(round(sum(cents(col("rating"))).cast("double") /
        count(lit(1)).cast("double")).cast("long").as("prediction_cents"))
      .withColumn("side", lit("worker"))
    val serverOut = r.groupBy(col("item"))
      .agg(sum(cents(col("rating"))).as("param_cents"))
      .withColumn("side", lit("server"))
    workerOut.unionByName(serverOut, allowMissingColumns = true)
      .select(col("side"), col("user"), col("prediction_cents"), col("item"),
        col("param_cents"))
      .orderBy(col("side"), col("user").asc_nulls_last, col("item").asc_nulls_last)
  }

  private val psOutputOracle =
    s"""WITH r AS ($oRatings),
       |w AS (SELECT 'worker' AS side, "user",
       |             CAST(ROUND(CAST(SUM(${oCents("rating")}) AS BIGINT)
       |                   / CAST(COUNT(rating) AS DOUBLE)) AS BIGINT)
       |               AS prediction_cents,
       |             NULL::BIGINT AS item, NULL::BIGINT AS param_cents
       |      FROM r GROUP BY "user"),
       |s AS (SELECT 'server' AS side, NULL::BIGINT AS "user",
       |             NULL::BIGINT AS prediction_cents, item,
       |             SUM(${oCents("rating")}) AS param_cents
       |      FROM r GROUP BY item)
       |SELECT * FROM w UNION ALL SELECT * FROM s
       |ORDER BY side, "user" ASC NULLS LAST, item ASC NULLS LAST""".stripMargin

  // --------------------------------------------------------------- ps_transform
  /** The full `FlinkParameterServer.transform` loop, bulk-synchronous
    * with a fixed iteration count (SURVEY §3.4): 3 iterations of
    * p_item ← p_item + 0.5·(mean_rating_item − p_item), starting from 0.
    * Per-item statistics are pre-aggregated exactly once (integer
    * cents — the map-side combine the reference's `Combinable` senders
    * hand-build), then the driver loop joins model ⇄ stats per step.
    * The driver loop shape is the real harness: at scale each step is
    * one co-partitioned join + project, with the model cached.
    */
  def psTransform(spark: SparkSession, dir: String): DataFrame = {
    val stats = ratings(spark, dir)
      .groupBy("item")
      .agg((sum(cents(col("rating"))).cast("double") / 100.0 /
        count(lit(1)).cast("double")).as("mean_r"))
      .cache()
    var model = stats.select(col("item"), lit(0.0).as("p"))
    for (_ <- 1 to 3) {
      model = model.join(stats, "item")
        .select(col("item"), (col("p") + (col("mean_r") - col("p")) * 0.5).as("p"))
    }
    model.select(col("item"), round(col("p"), 6).as("p")).orderBy(col("item"))
  }

  private val psTransformOracle =
    s"""WITH r AS ($oRatings),
       |stats AS (SELECT item,
       |            CAST(SUM(${oCents("rating")}) AS BIGINT)
       |              / 100.0 / CAST(COUNT(*) AS DOUBLE) AS mean_r
       |          FROM r GROUP BY item),
       |it1 AS (SELECT item, (0.0 + (mean_r - 0.0) * 0.5) AS p FROM stats),
       |it2 AS (SELECT s.item, (p + (mean_r - p) * 0.5) AS p
       |        FROM it1 JOIN stats s ON it1.item = s.item),
       |it3 AS (SELECT s.item, (p + (mean_r - p) * 0.5) AS p
       |        FROM it2 JOIN stats s ON it2.item = s.item)
       |SELECT item, ROUND(p, 6) AS p FROM it3 ORDER BY item""".stripMargin

  // --------------------------------------------------------------- ps_transport
  /** The pluggable client/server transport ([[ModelTransport]] —
    * SURVEY §2.A's last row, closed r10): a full worker → server →
    * worker model-state cycle through TWO durable sharded hops.
    *
    * Hop 1 (client sender → server receiver): per-item Combinable push
    * deltas (exact integer cents, pre-aggregated map-side exactly as
    * the reference's `Combinable` senders batch), sharded by
    * `pmod(item, 8)` — the hand-rolled `Partitioner` restated as
    * storage layout. Hop 2 (server sender → client receiver): pull
    * answers for the user < 200 query band, sharded by client id. The
    * qid's output is the answers as the workers re-read them, so the
    * driver's DuckDB hash verifies the ENTIRE cycle bit-for-bit —
    * the oracle computes the same algebra with no file hops, proving
    * the transport is semantically invisible (exactly what a transport
    * must be). The channel is a per-process scratch entry
    * (Scratch.own), so concurrent JVMs cannot race a shared channel
    * directory.
    *
    * At scale: `send` is a parallel partitioned write (no
    * single-partition funnel — SerialStageAudit's class), `receive` is
    * a partition-pruned scan; both ends stream through the same keyed
    * aggregations the in-dataflow qids use. */
  def psTransport(spark: SparkSession, dir: String): DataFrame = {
    val t: ModelTransport = ParquetShardTransport
    val stage = graft.Scratch.own("transport", Integer.toHexString(dir.hashCode)).toString
    val r = ratings(spark, dir)
    val push = r.groupBy(col("item"))
      .agg(sum(cents(col("rating"))).as("delta_cents"),
        count(lit(1)).as("n_push"))
      .withColumn("shard", pmod(col("item"), lit(8)).cast("int"))
    t.send(push, s"$stage/push")
    // server fold: with a zero-initialized model the folded param IS
    // the delta sum — the fold algebra (full-outer + coalesce) is
    // ps_push's subject; this qid's subject is the channel
    val model = t.receive(spark, s"$stage/push")
      .select(col("item"), col("delta_cents").as("param_cents"))
    val pulls = r.filter(col("user") < 200)
      .select(col("user"), col("item")).distinct()
    val answers = pulls.join(model, "item")
      .select(col("user"), col("item"), col("param_cents"),
        pmod(col("user"), lit(8)).cast("int").as("shard"))
    t.send(answers, s"$stage/answer")
    t.receive(spark, s"$stage/answer")
      .select(col("user"), col("item"),
        col("shard").cast("long").as("cshard"), col("param_cents"))
      .orderBy(col("user"), col("item"))
  }

  private val psTransportOracle =
    s"""WITH r AS ($oRatings),
       |push AS (SELECT item, CAST(SUM(${oCents("rating")}) AS BIGINT) AS param_cents
       |         FROM r GROUP BY item),
       |pulls AS (SELECT DISTINCT "user", item FROM r WHERE "user" < 200)
       |SELECT p."user", p.item, CAST(p."user" % 8 AS BIGINT) AS cshard,
       |       m.param_cents
       |FROM pulls p JOIN push m USING (item)
       |ORDER BY p."user", p.item""".stripMargin

  // ------------------------------------------------------------ ps_worker_logic
  /** `WorkerLogic.onRecv` — user-defined per-key stateful processing.
    * Implemented the real way: `groupByKey(user).flatMapGroups`, sorting
    * each user's purchase events by time and emitting the residual of
    * each value against the running mean of all *prior* events (the
    * online-prediction inner loop of the EDBT'18 jobs). The SQL twin is
    * the equivalent window formulation — same semantics, two routes.
    */
  def psWorkerLogic(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), cents(col("value")).as("cents"))
      .as[(Long, Long, Long)]
    ev.groupByKey(_._1)
      .flatMapGroups { (user, rows) =>
        // worker-local state: running sum/count of prior records
        val sorted = rows.toSeq.sortBy(_._2) // by event_id (arrival order)
        var sum = 0L
        var n = 0L
        sorted.map { case (_, eid, c) =>
          // residual × n, in cents: exact integer arithmetic only.
          // (c − s/n rounds differently across engines exactly at dyadic
          // .5 boundaries — scaling by n keeps the check bit-exact.)
          val resid =
            if (n == 0) null.asInstanceOf[java.lang.Long]
            else java.lang.Long.valueOf(c * n - sum)
          sum += c; n += 1
          (user, eid, resid)
        }
      }
      .toDF("user_id", "event_id", "resid_xn_cents")
      .orderBy(col("user_id"), col("event_id"))
  }

  private val psWorkerLogicOracle =
    """WITH c AS (
      |  SELECT user_id, event_id, CAST(ROUND(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |w AS (
      |  SELECT user_id, event_id, cents,
      |    SUM(cents) OVER (PARTITION BY user_id ORDER BY event_id
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS s,
      |    COUNT(cents) OVER (PARTITION BY user_id ORDER BY event_id
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS n
      |  FROM c)
      |SELECT user_id, event_id,
      |  CAST(cents * n - s AS BIGINT) AS resid_xn_cents
      |FROM w ORDER BY user_id, event_id""".stripMargin

  // -------------------------------------------------------------------- mf_init
  /** Ranged deterministic factor init (dim 8) for the first items —
    * the portable restatement of `RangedRandomFactorInitializer`. */
  def mfInit(spark: SparkSession, dir: String): DataFrame =
    ratings(spark, dir).select("item").distinct()
      .filter(col("item") < 300)
      .withColumn("factors",
        expr(s"array_join(transform(sequence(0, 7), j -> cast(cast(round(" +
          s"(${initFactor("item", "j", -0.1, 0.1)}) * 1000000.0) AS bigint) AS string)), ',')"))
      .orderBy(col("item"))

  private val mfInitOracle =
    s"""WITH r AS ($oRatings)
       |SELECT item,
       |       array_to_string(list_transform(generate_series(0, 7),
       |         j -> CAST(ROUND((${oInitFactor("item", "j", -0.1, 0.1)}) * 1000000.0)
       |              AS BIGINT)), ',') AS factors
       |FROM (SELECT DISTINCT item FROM r) WHERE item < 300
       |ORDER BY item""".stripMargin

  // ---------------------------------------------------------------- mf_baseline
  /** Baseline predictor b_ui = μ + b_i + b_u (the bias model every
    * factorization is trained against residuals of — public Koren/
    * Netflix-era formulation). All terms in e6 integer units with
    * integer division, so the two-pass computation (global mean →
    * item deviations → user deviations on the residual) is bit-exact
    * cross-engine. Shapes: three keyed aggregations, each map-side
    * combined; the μ scalar rides a broadcast cross join.
    */
  def mfBaseline(spark: SparkSession, dir: String): DataFrame = {
    val r = ratings(spark, dir)
      .select(col("user"), col("item"),
        (cents(col("rating")) * 10000L).as("r_e6"))
    val mu = r.agg(
      expr("sum(r_e6) div count(1)").as("mu_e6"))
    val withMu = r.crossJoin(broadcast(mu))
    val itemBias = withMu.groupBy(col("item"))
      .agg(expr("sum(r_e6 - mu_e6) div count(1)").as("b_i_e6"))
    val userBias = withMu.join(itemBias, "item")
      .groupBy(col("user"), col("mu_e6"))
      .agg(expr("sum(r_e6 - mu_e6 - b_i_e6) div count(1)").as("b_u_e6"),
        count(lit(1)).as("n_rated"))
    userBias
      .filter(col("user") < 100)
      .select(col("user"), col("n_rated"), col("mu_e6"),
        col("b_u_e6"), (col("mu_e6") + col("b_u_e6")).as("pred_base_e6"))
      .orderBy(col("user"))
  }

  private val mfBaselineOracle =
    s"""WITH r0 AS ($oRatings),
       |r AS (SELECT "user", item, ${oCents("rating")} * 10000 AS r_e6 FROM r0),
       |mu AS (SELECT CAST(SUM(r_e6) // COUNT(*) AS BIGINT) AS mu_e6 FROM r),
       |ib AS (SELECT item,
       |         CAST(SUM(r_e6 - mu_e6) // COUNT(*) AS BIGINT) AS b_i_e6
       |       FROM r, mu GROUP BY item),
       |ub AS (SELECT "user", MIN(mu_e6) AS mu_e6,
       |         CAST(SUM(r_e6 - mu_e6 - b_i_e6) // COUNT(*) AS BIGINT) AS b_u_e6,
       |         COUNT(*) AS n_rated
       |       FROM r JOIN ib USING (item), mu
       |       GROUP BY "user")
       |SELECT "user", n_rated, mu_e6, b_u_e6,
       |       CAST(mu_e6 + b_u_e6 AS BIGINT) AS pred_base_e6
       |FROM ub WHERE "user" < 100
       |ORDER BY "user"""".stripMargin

  // ----------------------------------------------------------------- mf_cooccur
  /** Item-item co-occurrence — the neighborhood model item-based CF
    * builds before any factorization (and the cheap fallback the
    * reference's recommendation stack implies [K-low]). Classic
    * Σ(user-degree²) blow-up risk, so the user side is degree-capped
    * first (≤ 30 distinct items; power users contribute pairs from a
    * sample at crawl scale — same posture as dedup_near's df-cap). The
    * pair space is halved with item_a < item_b; output is the global
    * top-50 pairs by support with a total-order tiebreak.
    */
  def mfCooccur(spark: SparkSession, dir: String): DataFrame = {
    // Basket form (the coPurchaseAll pattern): collect_set folds the
    // DISTINCT into the one groupBy shuffle, the size() filter IS the
    // degree cap, and pairs are generated map-side by the double
    // explode — two shuffles total where the distinct + degree join +
    // self-join route took four. Value comparison a < b over a set
    // yields each user's unordered item pairs exactly once, identical
    // to the row-level self-join on the distinct relation.
    val baskets = ratings(spark, dir)
      .groupBy(col("user")).agg(collect_set(col("item")).as("items"))
      .filter(size(col("items")) <= 30)
    val pairs = baskets
      .select(explode(col("items")).as("ia"), col("items"))
      .select(col("ia"), explode(col("items")).as("ib"))
      .filter(col("ia") < col("ib"))
      .groupBy(col("ia").as("item_a"), col("ib").as("item_b"))
      .agg(count(lit(1)).as("support"))
    pairs.orderBy(col("support").desc, col("item_a"), col("item_b")).limit(50)
  }

  private val mfCooccurOracle =
    s"""WITH r AS ($oRatings),
       |ui AS (SELECT DISTINCT "user", item FROM r),
       |deg AS (SELECT "user" FROM ui GROUP BY 1 HAVING COUNT(*) <= 30),
       |capped AS (SELECT ui.* FROM ui JOIN deg USING ("user"))
       |SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS support
       |FROM capped a JOIN capped b
       |  ON a."user" = b."user" AND a.item < b.item
       |GROUP BY 1, 2
       |ORDER BY support DESC, item_a, item_b
       |LIMIT 50""".stripMargin

  // --------------------------------------------------------------- ps_staleness
  /** Stale-synchronous-parallel (SSP) reads: a worker at epoch e may
    * read a model that is missing the last s epochs of pushes — the
    * bounded-staleness contract async parameter servers run under
    * (public SSP model; the reference's async pull/push is the s→∞
    * end of the spectrum [K-med]). Batch restatement: per (param,
    * epoch) deltas, a running-sum window gives the fresh value, and
    * `lag(s)` over the same window gives the bounded-stale read;
    * `max_lag_cents` bounds how wrong a stale read can be. One shuffle
    * on the param key, then ordered window work per partition.
    */
  def psStaleness(spark: SparkSession, dir: String): DataFrame = {
    val s = 2
    val deltas = Tables.events(spark, dir)
      .select((col("user_id") % 100).as("pid"),
        expr("date_trunc('day', ts)").as("epoch"),
        cents(col("value")).as("delta_cents"))
      .groupBy(col("pid"), col("epoch"))
      .agg(sum(col("delta_cents")).as("delta_cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pid").orderBy("epoch")
    deltas
      .withColumn("fresh_cents",
        sum(col("delta_cents")).over(w.rowsBetween(Long.MinValue, 0)))
      .withColumn("stale_cents",
        coalesce(lag(col("fresh_cents"), s).over(w), lit(0L)))
      .withColumn("lag_cents", col("fresh_cents") - col("stale_cents"))
      .filter(col("pid") < 20)
      .select(col("pid"), col("epoch"), col("fresh_cents"),
        col("stale_cents"), col("lag_cents"))
      .orderBy(col("pid"), col("epoch"))
  }

  private val psStalenessOracle =
    s"""WITH d AS (
       |  SELECT user_id % 100 AS pid, date_trunc('day', ts) AS epoch,
       |         CAST(SUM(${oCents("value")}) AS BIGINT) AS delta_cents
       |  FROM events GROUP BY 1, 2),
       |c AS (
       |  SELECT pid, epoch, delta_cents,
       |    CAST(SUM(delta_cents) OVER (PARTITION BY pid ORDER BY epoch
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS fresh_cents
       |  FROM d)
       |SELECT pid, epoch, fresh_cents,
       |  COALESCE(lag(fresh_cents, 2) OVER (PARTITION BY pid ORDER BY epoch),
       |           0) AS stale_cents,
       |  fresh_cents - COALESCE(lag(fresh_cents, 2)
       |    OVER (PARTITION BY pid ORDER BY epoch), 0) AS lag_cents
       |FROM c WHERE pid < 20
       |ORDER BY pid, epoch""".stripMargin

  // ----------------------------------------------------------------- mf_fold_in
  /** Cold-user fold-in: a user unseen at training time gets a factor
    * vector from the item factors of what they rated — the serving-time
    * analog of the reference's "pull the item factors, combine locally"
    * worker step [K-med], and the standard way to score new users
    * without retraining. One weighted combination per user
    * (p_num_j = Σ_i r_ui · q_ij, den = Σ_i r_ui), then a dot product
    * against a target item's factors. All integer math: factors at the
    * e6 scale, ratings integral, so every sum is order-independent and
    * the oracle reproduces it exactly.
    *
    * Shapes (restated r9 after ScanAudit flagged ratings read FOUR
    * times — q build, p, den, tgt): the factor dimension j is pivoted
    * into 8 conditional sums so the numerator vector, the denominator,
    * and the target item all come out of ONE user-keyed aggregate over
    * the one ratings-join-factors stream, and the final dot product is
    * an 8-term expression against the pivoted (one row per item,
    * broadcastable at any scale — the model shard) factor table. Two
    * ratings reads — the model build and the scoring pass, the floor
    * without caching — and ONE shuffle of the big side, by user.
    */
  def mfFoldIn(spark: SparkSession, dir: String): DataFrame = {
    val r = ratings(spark, dir)
      .filter(col("user") < 50 && col("item") < 300)
      .select(col("user"), col("item"), col("rating").cast("long").as("rl"))
    val q = r.select("item").distinct()
      .select(col("item"), explode(expr("sequence(0, 7)")).as("j"))
      .select(col("item"), col("j"), expr(
        s"cast(round((${initFactor("item", "j", -0.1, 0.1)}) * 1000000.0) as bigint)")
        .as("q_e6"))
    val js = 0 until 8
    // the model shard in wide form: one row per item, q0..q7
    val qCols = js.map(jj => sum(when(col("j") === jj, col("q_e6"))).as(s"q$jj"))
    val qPivot = q.groupBy(col("item")).agg(qCols.head, qCols.tail: _*)
    // one user-keyed aggregate: numerator vector (pivoted), denominator
    // (j = 0 slice, so the 8x factor fan-out doesn't overcount), target
    val aggCols = js.map(jj =>
      sum(when(col("j") === jj, col("rl") * col("q_e6"))).as(s"p$jj")) ++ Seq(
      sum(when(col("j") === 0, col("rl"))).as("rating_sum"),
      sum(when(col("j") === 0, 1L)).as("n_rated"),
      min(col("item")).as("t_item"))
    val perUser = r.join(broadcast(q), "item")
      .groupBy(col("user")).agg(aggCols.head, aggCols.tail: _*)
    perUser.join(broadcast(qPivot), col("t_item") === col("item"))
      .select(col("user"), col("n_rated"), col("rating_sum"),
        js.map(jj => col(s"p$jj") * col(s"q$jj")).reduce(_ + _).as("score_num"))
      .orderBy(col("user"))
  }

  private val mfFoldInOracle =
    s"""WITH r0 AS ($oRatings),
       |r AS (SELECT "user", item, CAST(rating AS BIGINT) AS rl
       |      FROM r0 WHERE "user" < 50 AND item < 300),
       |q AS (SELECT item, j,
       |        CAST(ROUND((${oInitFactor("item", "j", -0.1, 0.1)}) * 1000000.0)
       |             AS BIGINT) AS q_e6
       |      FROM (SELECT DISTINCT item FROM r),
       |           unnest(generate_series(0, 7)) AS t(j)),
       |p AS (SELECT "user", j, SUM(rl * q_e6) AS p_num
       |      FROM r JOIN q USING (item) GROUP BY 1, 2),
       |den AS (SELECT "user", CAST(SUM(rl) AS BIGINT) AS rating_sum,
       |               COUNT(*) AS n_rated
       |        FROM r GROUP BY 1),
       |tgt AS (SELECT "user", MIN(item) AS t_item FROM r GROUP BY 1),
       |tq AS (SELECT tgt."user", q.j, q.q_e6 AS tq_e6
       |       FROM tgt JOIN q ON tgt.t_item = q.item),
       |sc AS (SELECT p."user", CAST(SUM(p_num * tq_e6) AS BIGINT) AS score_num
       |       FROM p JOIN tq ON p."user" = tq."user" AND p.j = tq.j
       |       GROUP BY 1)
       |SELECT "user", n_rated, rating_sum, score_num
       |FROM sc JOIN den USING ("user")
       |ORDER BY "user"""".stripMargin

  // -------------------------------------------------------------- mf_neg_sample
  /** Seeded negative sampling: per positive (user, item) generate 2
    * candidate negatives by hashing, anti-join the seen set (the worker
    * excluding observed interactions [K-med]). */
  def mfNegSample(spark: SparkSession, dir: String): DataFrame = {
    val r = ratings(spark, dir)
    val maxItem = 2000
    val pos = r.filter(col("user") < 100).select("user", "item").distinct()
    val cand = pos.select(col("user"),
        posexplode(expr(
          s"transform(sequence(0, 1), n -> pmod(${h32("concat(user, ':', item, ':', n)", 13)}, $maxItem))"))
          .as(Seq("n", "neg_item")))
      .select("user", "neg_item").distinct()
    cand.join(r.select(col("user"), col("item").as("neg_item")).distinct(),
        Seq("user", "neg_item"), "left_anti")
      .orderBy(col("user"), col("neg_item"))
  }

  private val mfNegSampleOracle =
    s"""WITH r AS ($oRatings),
       |pos AS (SELECT DISTINCT "user", item FROM r WHERE "user" < 100),
       |cand AS (SELECT DISTINCT "user",
       |           unnest(list_transform(generate_series(0, 1),
       |             n -> (${oH32("""concat("user", ':', item, ':', n)""", 13)}) % 2000))
       |             AS neg_item
       |         FROM pos),
       |seen AS (SELECT DISTINCT "user", item FROM r)
       |SELECT c."user", c.neg_item FROM cand c
       |WHERE NOT EXISTS (SELECT 1 FROM seen s
       |                  WHERE s."user" = c."user" AND s.item = c.neg_item)
       |ORDER BY c."user", c.neg_item""".stripMargin

  // ------------------------------------------------------------- mf_user_memory
  /** Per-user memory of the last m=3 rated items (recency window the MF
    * worker keeps to exclude from negatives/top-k [K-med]). */
  def mfUserMemory(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"))
    ev.withColumn("rk", row_number().over(
        Window.partitionBy("user_id").orderBy(col("event_id").desc)))
      .filter(col("rk") <= 3)
      .select(col("user_id"), col("rk"), col("event_id"), col("event_type"))
      .orderBy(col("user_id"), col("rk"))
  }

  private val mfUserMemoryOracle =
    """SELECT user_id, rk, event_id, event_type FROM (
      |  SELECT user_id, event_id, event_type,
      |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rk
      |  FROM events)
      |WHERE rk <= 3 ORDER BY user_id, rk""".stripMargin

  // -------------------------------------------------------------------- mf_topk
  /** Online top-K recommendation with LEMP-style length pruning
    * (SURVEY §2.B mf_topk [K-med]): users (vec_id < 50) × items
    * (vec_id ≥ 50) maximum-inner-product search. Items are length-bucket
    * pruned before the join (‖q‖ ≥ 60% of the max item norm — the
    * norm-bound prefilter standing in for LEMP's bucket skip), then
    * exact top-5 by inner product via window rank.
    */
  def mfTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", VectorExprs.l2(col("v")))
    val users = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("uid"), col("v").as("uv"))
    val maxNorm = e.filter(col("vec_id") >= 50).agg(max("nrm").as("mx"))
    val items = e.filter(col("vec_id") >= 50)
      .crossJoin(broadcast(maxNorm))
      .filter(col("nrm") >= col("mx") * 0.6) // LEMP-style length pruning
      .select(col("vec_id").as("iid"), col("v").as("iv"))
    broadcast(users).join(items, lit(true))
      .select(col("uid"), col("iid"),
        round(VectorExprs.dot(col("uv"), col("iv")), 6).as("score"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("uid").orderBy(col("score").desc, col("iid"))))
      .filter(col("rk") <= 5)
      .select(col("uid"), col("rk"), col("iid"), col("score"))
      .orderBy(col("uid"), col("rk"))
  }

  private val mfTopkOracle =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |           FROM embeddings),
      |e AS (SELECT vec_id, v,
      |        sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
      |                         (a, x) -> a + x)) AS nrm
      |      FROM v),
      |mx AS (SELECT max(nrm) AS mx FROM e WHERE vec_id >= 50),
      |items AS (SELECT vec_id AS iid, v FROM e, mx
      |          WHERE vec_id >= 50 AND nrm >= mx * 0.6),
      |users AS (SELECT vec_id AS uid, v FROM e WHERE vec_id < 50),
      |scored AS (
      |  SELECT uid, iid,
      |         ROUND(list_reduce(list_prepend(0.0,
      |                 list_transform(generate_series(1, 64), i -> u.v[i] * it.v[i])),
      |               (a, x) -> a + x), 6) AS score
      |  FROM users u CROSS JOIN items it)
      |SELECT uid, rk, iid, score FROM (
      |  SELECT uid, iid, score,
      |         row_number() OVER (PARTITION BY uid ORDER BY score DESC, iid) AS rk
      |  FROM scored)
      |WHERE rk <= 5 ORDER BY uid, rk""".stripMargin

  // --------------------------------------------------------------------- mf_sgd
  /** One closed-form online-MF SGD step (`MFWorkerLogic.onPullRecv`
    * update rule, SURVEY §3.2 [K-high]): for each rating, pull p_u and
    * q_i (deterministic dim-4 init), e = r − p·q, emit the updated item
    * factors q' = q + lr·(e·p − reg·q). Row-local arithmetic → exact
    * oracle; the full training run iterates this via the ps_transform
    * loop harness.
    */
  def mfSgd(spark: SparkSession, dir: String): DataFrame = {
    val lr = 0.01
    val reg = 0.05
    ratings(spark, dir)
      .filter(col("user") < 30)
      .withColumn("p", expr(s"transform(sequence(0, 3), j -> ${initFactor("user", "j", -0.2, 0.2)})"))
      .withColumn("q", expr(s"transform(sequence(0, 3), j -> ${initFactor("item", "j", -0.2, 0.2)})"))
      .withColumn("e", col("rating") -
        expr("aggregate(zip_with(p, q, (x, y) -> x * y), 0D, (a, x) -> a + x)"))
      .withColumn("q_new", expr(
        s"array_join(transform(sequence(0, 3), j -> cast(cast(round(" +
          s"(element_at(q, j + 1) + $lr * " +
          s"(e * element_at(p, j + 1) - $reg * element_at(q, j + 1))) * 1000000.0) " +
          s"AS bigint) AS string)), ',')"))
      .select(col("user"), col("item"), col("rating"),
        expr("cast(round(e * 1000000.0) AS bigint)").as("err_e6"),
        col("q_new"))
      .orderBy(col("user"), col("item"), col("rating"))
  }

  private val mfSgdOracle =
    s"""WITH r AS ($oRatings),
       |base AS (
       |  SELECT "user", item, rating,
       |    list_transform(generate_series(0, 3),
       |      j -> ${oInitFactor(""""user"""", "j", -0.2, 0.2)}) AS p,
       |    list_transform(generate_series(0, 3),
       |      j -> ${oInitFactor("item", "j", -0.2, 0.2)}) AS q
       |  FROM r WHERE "user" < 30),
       |err AS (
       |  SELECT *, rating - list_reduce(list_prepend(0.0,
       |      list_transform(generate_series(1, 4), i -> p[i] * q[i])),
       |      (a, x) -> a + x) AS e
       |  FROM base)
       |SELECT "user", item, rating,
       |  CAST(ROUND(e * 1000000.0) AS BIGINT) AS err_e6,
       |  array_to_string(list_transform(generate_series(1, 4),
       |    i -> CAST(ROUND((q[i] + 0.01 * (e * p[i] - 0.05 * q[i])) * 1000000.0)
       |         AS BIGINT)), ',') AS q_new
       |FROM err
       |ORDER BY "user", item, rating""".stripMargin

  // ------------------------------------------------------------------ pa_binary
  /** One Passive-Aggressive (PA-I) binary step (SURVEY §2.B pa_binary
    * [K-high]): x = embedding, y = ±1 from label, w = seeded init;
    * ℓ = max(0, 1 − y·(w·x)), τ = min(C, ℓ/‖x‖²), margin' =
    * y·(w·x) + τ‖x‖². Closed-form per row — the oracle checks the
    * exact update algebra. */
  def paBinary(spark: SparkSession, dir: String): DataFrame = {
    val C = 0.5
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("x"))
      .withColumn("y", when(col("label") >= 5, 1.0).otherwise(-1.0))
      .withColumn("w", expr(s"transform(sequence(0, 63), j -> ${initFactor("'w'", "j", -0.1, 0.1)})"))
      .withColumn("wx", VectorExprs.dot(col("w"), col("x")))
      .withColumn("xx", VectorExprs.dot(col("x"), col("x")))
      .withColumn("loss", greatest(lit(0.0), lit(1.0) - col("y") * col("wx")))
      .withColumn("tau", least(lit(C), col("loss") / col("xx")))
      .select(col("vec_id"), col("y"),
        round(col("wx"), 6).as("margin"),
        round(col("loss"), 6).as("loss"),
        round(col("tau"), 6).as("tau"),
        round(col("y") * col("wx") + col("tau") * col("xx"), 6).as("new_margin"))
      .orderBy(col("vec_id"))
  }

  private val paBinaryOracle =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x,
       |         CASE WHEN label >= 5 THEN 1.0 ELSE -1.0 END AS y,
       |         list_transform(generate_series(0, 63),
       |           j -> ${oInitFactor("'w'", "j", -0.1, 0.1)}) AS w
       |  FROM embeddings),
       |s AS (
       |  SELECT vec_id, y,
       |    list_reduce(list_prepend(0.0,
       |      list_transform(generate_series(1, 64), i -> w[i] * x[i])),
       |      (a, v) -> a + v) AS wx,
       |    list_reduce(list_prepend(0.0, list_transform(x, v -> v * v)),
       |      (a, v) -> a + v) AS xx
       |  FROM e),
       |t AS (
       |  SELECT *, GREATEST(0.0, 1.0 - y * wx) AS loss FROM s),
       |u AS (
       |  SELECT *, LEAST(0.5, loss / xx) AS tau FROM t)
       |SELECT vec_id, y, ROUND(wx, 6) AS margin, ROUND(loss, 6) AS loss,
       |       ROUND(tau, 6) AS tau,
       |       ROUND(y * wx + tau * xx, 6) AS new_margin
       |FROM u ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------------------- pa_multi
  /** One multiclass PA step [K-med]: per-class weight vectors (seeded
    * init), winner = highest-scoring wrong class, hinge margin between
    * the true class and the winner, τ = min(C, ℓ/2‖x‖²) (shared update
    * norm for the two touched prototypes). */
  def paMulti(spark: SparkSession, dir: String): DataFrame = {
    // The reference worker PULLs the class prototypes from the server —
    // it does not re-derive them per example. Spark analog: build the
    // 10-row class-weight table ONCE (640 md5 evaluations total, vs 640
    // per input row in the naive per-row transform), broadcast it onto
    // the examples, and take the score with the native codegen'd
    // ArrayDotProduct. At scale the prototype table is exactly the
    // "pulled model" — tiny, broadcast, never shuffled.
    val classes = spark.range(10).toDF("cls")
      .withColumn("w",
        expr(s"transform(sequence(0, 63), j -> ${initFactor("cls", "j", -0.1, 0.1)})"))
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 200)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("x"))
      .withColumn("xx", expr("aggregate(transform(x, v -> v * v), 0D, (acc, v) -> acc + v)"))
      .crossJoin(broadcast(classes))
      .withColumn("score", VectorExprs.dot(col("w"), col("x")))
      .select(col("vec_id"), col("label"), col("xx"), col("cls"), col("score"))
      .withColumn("true_score", max(when(col("cls") === col("label"), col("score"))).over(
        Window.partitionBy("vec_id")))
      .filter(col("cls") =!= col("label"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("score").desc, col("cls"))))
      .filter(col("rk") === 1)
      .withColumn("loss", greatest(lit(0.0),
        lit(1.0) - (col("true_score") - col("score"))))
      .select(col("vec_id"), col("label"), col("cls").as("winner"),
        round(col("true_score"), 6).as("true_score"),
        round(col("score"), 6).as("winner_score"),
        round(col("loss"), 6).as("loss"),
        round(least(lit(0.5), col("loss") / (lit(2.0) * col("xx"))), 6).as("tau"))
      .orderBy(col("vec_id"))
  }

  private val paMultiOracle =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
       |  FROM embeddings WHERE vec_id < 200),
       |n AS (
       |  SELECT vec_id, label, x,
       |    list_reduce(list_prepend(0.0, list_transform(x, v -> v * v)),
       |      (a, v) -> a + v) AS xx
       |  FROM e),
       |scores AS (
       |  SELECT vec_id, label, xx, c AS cls,
       |    list_reduce(list_prepend(0.0,
       |      list_transform(generate_series(1, 64),
       |        i -> (${oInitFactor("c", "(i - 1)", -0.1, 0.1)}) * x[i])),
       |      (a, v) -> a + v) AS score
       |  FROM n, unnest(generate_series(0, 9)) AS t(c)),
       |ts AS (
       |  SELECT vec_id, max(CASE WHEN cls = label THEN score END) AS true_score
       |  FROM scores GROUP BY vec_id),
       |w AS (
       |  SELECT s.vec_id, s.label, s.xx, s.cls, s.score, ts.true_score,
       |         row_number() OVER (PARTITION BY s.vec_id
       |                            ORDER BY s.score DESC, s.cls) AS rk
       |  FROM scores s JOIN ts ON s.vec_id = ts.vec_id
       |  WHERE s.cls != s.label)
       |SELECT vec_id, label, cls AS winner,
       |       ROUND(true_score, 6) AS true_score,
       |       ROUND(score, 6) AS winner_score,
       |       ROUND(GREATEST(0.0, 1.0 - (true_score - score)), 6) AS loss,
       |       ROUND(LEAST(0.5, GREATEST(0.0, 1.0 - (true_score - score))
       |                         / (2.0 * xx)), 6) AS tau
       |FROM w WHERE rk = 1 ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- ps_partition
  /** The reference's custom `Partitioner` (paramId → hash % shards)
    * [K-high] restated: explicit `repartition(n, key)` pins the shuffle
    * layout; the keyed aggregation then runs shard-local with no further
    * exchange. The logical result is invariant to the partitioning —
    * which is exactly the property the oracle asserts. */
  def psPartition(spark: SparkSession, dir: String): DataFrame =
    ratings(spark, dir)
      .repartition(32, col("item"))
      .groupBy("item")
      .agg(count(lit(1)).as("n"), sum(cents(col("rating"))).as("sum_cents"))
      .orderBy("item")

  private val psPartitionOracle =
    s"""WITH r AS ($oRatings)
       |SELECT item, COUNT(*) AS n, CAST(SUM(${oCents("rating")}) AS BIGINT) AS sum_cents
       |FROM r GROUP BY item ORDER BY item""".stripMargin

  // -------------------------------------------------------------- ps_pull_limit
  /** `WorkerLogic.addPullLimiter` [K-med] — flow control capping
    * in-flight pulls per worker. Batch restatement: each user admits at
    * most 5 pulls per round, deterministically by (item, rating) order;
    * the rest are deferred (dropped from this round's output). */
  def psPullLimit(spark: SparkSession, dir: String): DataFrame =
    ratings(spark, dir)
      .withColumn("rk", row_number().over(
        Window.partitionBy("user").orderBy(col("item"), col("rating"))))
      .filter(col("rk") <= 5)
      .select(col("user"), col("rk"), col("item"))
      .orderBy(col("user"), col("rk"))

  private val psPullLimitOracle =
    s"""WITH r AS ($oRatings)
       |SELECT "user", rk, item FROM (
       |  SELECT "user", item,
       |         row_number() OVER (PARTITION BY "user"
       |                            ORDER BY item, rating) AS rk
       |  FROM r)
       |WHERE rk <= 5 ORDER BY "user", rk""".stripMargin

  // ----------------------------------------------------------------- ps_combine
  /** `Combinable` sender batching [K-low] — combine deltas locally
    * before sending. Spark does this automatically (partial hash agg);
    * here the two-level form is explicit: pre-combine per (item, user),
    * then final fold per item — provably equal to the direct agg. */
  def psCombine(spark: SparkSession, dir: String): DataFrame =
    ratings(spark, dir)
      .groupBy("item", "user")
      .agg(sum(cents(col("rating"))).as("partial"))
      .groupBy("item")
      .agg(sum(col("partial")).as("total_cents"), count(lit(1)).as("n_senders"))
      .orderBy("item")

  private val psCombineOracle =
    s"""WITH r AS ($oRatings),
       |partials AS (SELECT item, "user", SUM(${oCents("rating")}) AS partial
       |             FROM r GROUP BY item, "user")
       |SELECT item, CAST(SUM(partial) AS BIGINT) AS total_cents, COUNT(*) AS n_senders
       |FROM partials GROUP BY item ORDER BY item""".stripMargin

  // --------------------------------------------------------------- sink_parquet
  /** Parquet sink + re-scan round trip (also the `ps_transport`
    * "external transport" path: one job persists the model, the next
    * consumes it). Written to a per-process scratch entry, so two JVMs
    * on one corpus never overwrite each other's output; the oracle
    * checks the logical content that survived the round trip. */
  def sinkParquet(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.own("sink", Integer.toHexString(dir.hashCode)).toString
    ratings(spark, dir)
      .groupBy("item").agg(sum(cents(col("rating"))).as("sum_cents"))
      // model-sized output: write a handful of right-sized files, not one
      // per shuffle partition (petabyte sinks instead keep partitioning)
      .coalesce(4)
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out).orderBy("item")
  }

  private val sinkParquetOracle =
    s"""WITH r AS ($oRatings)
       |SELECT item, CAST(SUM(${oCents("rating")}) AS BIGINT) AS sum_cents
       |FROM r GROUP BY item ORDER BY item""".stripMargin

  // --------------------------------------------------------------- ts_simsearch
  /** Streaming time-series similarity search (EDBT'19 line, SURVEY §2.B
    * ts_simsearch): per-key hourly count vectors from the event stream,
    * all-pairs cosine via a self-join on the hour bucket (exact integer
    * dot products → bit-stable), most-similar keys first. The sketch
    * module's ToW estimate of the same inner product is sketch_tow. */
  def tsSimsearch(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .groupBy("event_type", "h").agg(count(lit(1)).as("cnt"))
    val norms = hourly.groupBy("event_type")
      .agg(sum(col("cnt") * col("cnt")).as("sq"))
    hourly.as("a").join(hourly.as("b"),
        col("a.h") === col("b.h") && col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
      .agg(sum(col("a.cnt") * col("b.cnt")).as("dot"))
      .join(norms.select(col("event_type").as("ta"), col("sq").as("sqa")), "ta")
      .join(norms.select(col("event_type").as("tb"), col("sq").as("sqb")), "tb")
      .select(col("ta"), col("tb"),
        round(col("dot") / (sqrt(col("sqa")) * sqrt(col("sqb"))), 6).as("cos"))
      .orderBy(col("cos").desc, col("ta"), col("tb"))
  }

  private val tsSimsearchOracle =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |norms AS (SELECT event_type, sum(cnt * cnt) AS sq FROM hourly GROUP BY 1),
      |dots AS (
      |  SELECT a.event_type ta, b.event_type tb, sum(a.cnt * b.cnt) AS dot
      |  FROM hourly a JOIN hourly b
      |    ON a.h = b.h AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT ta, tb,
      |       ROUND(dot / (sqrt(na.sq) * sqrt(nb.sq)), 6) AS cos
      |FROM dots
      |JOIN norms na ON na.event_type = ta
      |JOIN norms nb ON nb.event_type = tb
      |ORDER BY cos DESC, ta, tb""".stripMargin

  def queries: Seq[GQuery] = Seq(
    GQuery("ps_pull", psPull, Some(psPullOracle),
      "pull = equi-join of stream with model table (broadcast model)"),
    GQuery("ps_push", psPush, Some(psPushOracle),
      "push = keyed delta agg folded via full-outer join + coalesce"),
    GQuery("ps_init", psInit, Some(psInitOracle),
      "lazy paramInit on first pull (left join + seeded init coalesce)"),
    GQuery("ps_model_load", psModelLoad, Some(psModelLoadOracle),
      "warm-start from existing model table (transformWithModelLoad)"),
    GQuery("ps_output", psOutput, Some(psOutputOracle),
      "Either[WOut, PSOut] merged output with discriminator column"),
    GQuery("ps_transform", psTransform, Some(psTransformOracle),
      "full PS loop: 3 bulk-synchronous driver iterations over join+agg"),
    GQuery("ps_transport", psTransport, Some(psTransportOracle),
      "pluggable sharded model transport: push -> fold -> answer through two durable hops"),
    GQuery("ps_worker_logic", psWorkerLogic, Some(psWorkerLogicOracle),
      "WorkerLogic.onRecv: flatMapGroups per-key stateful fold"),
    GQuery("mf_init", mfInit, Some(mfInitOracle),
      "deterministic ranged factor init (dim 8)"),
    GQuery("mf_baseline", mfBaseline, Some(mfBaselineOracle),
      "bias baseline predictor mu + b_i + b_u in exact e6 integer units"),
    GQuery("mf_cooccur", mfCooccur, Some(mfCooccurOracle),
      "degree-capped item-item co-occurrence, global top-50 by support"),
    GQuery("ps_staleness", psStaleness, Some(psStalenessOracle),
      "bounded-staleness (SSP) reads: fresh vs lag(s) window over pushes"),
    GQuery("mf_fold_in", mfFoldIn, Some(mfFoldInOracle),
      "cold-user fold-in: weighted item-factor combination + target dot"),
    GQuery("mf_neg_sample", mfNegSample, Some(mfNegSampleOracle),
      "seeded negative sampling + anti-join against seen pairs"),
    GQuery("mf_user_memory", mfUserMemory, Some(mfUserMemoryOracle),
      "per-user last-m recency memory window"),
    GQuery("mf_topk", mfTopk, Some(mfTopkOracle),
      "top-K MIPS with LEMP-style norm-bound pruning"),
    GQuery("mf_sgd", mfSgd, Some(mfSgdOracle),
      "closed-form online-MF SGD step (pull, update, push algebra)"),
    GQuery("pa_binary", paBinary, Some(paBinaryOracle),
      "Passive-Aggressive PA-I binary step (hinge, tau, margin update)"),
    GQuery("pa_multi", paMulti, Some(paMultiOracle),
      "multiclass PA step (winner class, margin, shared tau)"),
    GQuery("ts_simsearch", tsSimsearch, Some(tsSimsearchOracle),
      "per-key hourly count-vector cosine similarity search"),
    GQuery("ps_partition", psPartition, Some(psPartitionOracle),
      "explicit repartition-by-param-id sharding (custom Partitioner analog)"),
    GQuery("ps_pull_limit", psPullLimit, Some(psPullLimitOracle),
      "pull limiter flow control: per-worker admission cap"),
    GQuery("ps_combine", psCombine, Some(psCombineOracle),
      "combinable sender batching: explicit two-level partial aggregation"),
    GQuery("sink_parquet", sinkParquet, Some(sinkParquetOracle),
      "parquet sink + re-scan round trip (external transport path)")
  )
}
