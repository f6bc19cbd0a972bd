package graft.operators

import graft.{Det, GQuery}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational / analytic core (SURVEY.md §2.C): scans, filter/project,
  * joins, aggregations, sorts/limits, set operations.
  *
  * These are the verbs the reference's dataflow pipelines use
  * (map/filter/keyBy/aggregate over `DataStream[T]`) restated on the Spark
  * SQL engine, where Catalyst provides pushdown, pruning, join selection,
  * and whole-stage codegen for free (SURVEY §4.2).
  *
  * Scale notes are given per query: each plan is chosen to survive a
  * 100 TB input (map-side combine, broadcast dims, keyed self-joins).
  */
object Relational {
  import Det._

  // ------------------------------------------------------------ q1_pricing
  /** Flagship: TPC-H Q1-shaped pricing summary. Scan → filter (pushed to
    * parquet) → partial+final hash agg (6 groups ⇒ tiny shuffle) → sort.
    * At 100 TB this is pure map-side combine; shuffle volume is O(groups).
    */
  def q1Pricing(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum2(col("l_quantity")).as("sum_qty"),
        sum2(col("l_extendedprice")).as("sum_base_price"),
        (sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")) * 10))
          .cast("double") / 1000000.0).as("sum_disc_price"),
        avg2(col("l_quantity")).as("avg_qty"),
        avg2(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  // l_discount is 2dp in [0,0.1]: cents(disc)*10 = disc*1000 exactly, so
  // price_cents*(100 - disc_mill/10)... kept as integer math at 1e-6 $ units.
  private val q1Oracle =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${oSum2("l_quantity")} AS sum_qty,
       |  ${oSum2("l_extendedprice")} AS sum_base_price,
       |  CAST(CAST(SUM(${oCents("l_extendedprice")} * (100 - ${oCents("l_discount")}*10)) AS BIGINT) AS DOUBLE)/1000000.0 AS sum_disc_price,
       |  ${oAvg2("l_quantity")} AS avg_qty,
       |  ${oAvg2("l_discount")} AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ------------------------------------------------------------ q3_shipping
  /** TPC-H Q3-shaped shipping priority: 3-way join (lineitem ⋈ orders ⋈
    * filtered customer segment) → revenue per open order → global top-10.
    * Whole-query showcase: both date filters push into the parquet scans,
    * the segment filter shrinks customer before its join (AQE picks
    * broadcast when it fits), revenue aggregates exactly in 1e-6-dollar
    * integer units, and the final top-10 is TakeOrderedAndProject (k-row
    * per-partition heads, no global sort) — at 100 TB the shuffled
    * volume is the surviving join keys, never the scans.
    */
  def q3Shipping(spark: SparkSession, dir: String): DataFrame = {
    val cut = lit("1996-03-15").cast("timestamp")
    val c = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < cut)
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > cut)
      .select(col("l_orderkey"),
        (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")) * 10))
          .as("rev_part"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(col("rev_part")).as("rev_e6"))
      .orderBy(col("rev_e6").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  private val q3Oracle =
    s"""SELECT l_orderkey, o_orderdate,
       |  CAST(SUM(${oCents("l_extendedprice")} * (100 - ${oCents("l_discount")}*10))
       |       AS BIGINT) AS rev_e6
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1996-03-15'
       |  AND l_shipdate  > TIMESTAMP '1996-03-15'
       |GROUP BY l_orderkey, o_orderdate
       |ORDER BY rev_e6 DESC, o_orderdate, l_orderkey
       |LIMIT 10""".stripMargin

  // ------------------------------------------------------------- q10_returns
  /** TPC-H Q10-shaped returned-item report: 4-way join (returned line
    * items ⋈ one order-year ⋈ customer ⋈ broadcast nation) → lost
    * revenue per customer → top-20. The nation dim is explicitly
    * broadcast (25 rows at any scale); the customer join shuffles on
    * the key like any fact-dim join.
    */
  def q10Returns(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")) * 10))
          .as("rev_part"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val c = Tables.customer(spark, dir)
      .select("c_custkey", "c_name", "c_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(col("rev_part")).as("lost_rev_e6"), count(lit(1)).as("n_items"))
      .orderBy(col("lost_rev_e6").desc, col("c_custkey"))
      .limit(20)
  }

  private val q10Oracle =
    s"""SELECT c_custkey, c_name, n_name,
       |  CAST(SUM(${oCents("l_extendedprice")} * (100 - ${oCents("l_discount")}*10))
       |       AS BIGINT) AS lost_rev_e6,
       |  COUNT(*) AS n_items
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o_orderdate <  TIMESTAMP '1997-01-01'
       |GROUP BY c_custkey, c_name, n_name
       |ORDER BY lost_rev_e6 DESC, c_custkey
       |LIMIT 20""".stripMargin

  // ------------------------------------------------------------- sql_surface
  /** SQL-surface parity: ONE ANSI SQL text (TPC-H Q5-shaped 6-way join —
    * regional local-supplier revenue) executed verbatim by Spark SQL
    * over temp views AND by DuckDB as its own oracle. The string is the
    * qid's entire definition: dialect-portable date literals, integer
    * revenue units, explicit BIGINT casts. Proves a reference user can
    * bring plain SQL, not just the DataFrame DSL; Catalyst still plans
    * it like any DSL query (pushdown, broadcast dims, AQE).
    */
  private val q5Sql =
    """SELECT n_name,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
      |           * (100 - CAST(ROUND(l_discount*100) AS BIGINT)*10)) AS BIGINT)
      |    AS rev_e6,
      |  COUNT(*) AS n_items
      |FROM region
      |JOIN nation   ON n_regionkey = r_regionkey
      |JOIN customer ON c_nationkey = n_nationkey
      |JOIN orders   ON o_custkey   = c_custkey
      |JOIN lineitem ON l_orderkey  = o_orderkey
      |JOIN supplier ON l_suppkey   = s_suppkey AND s_nationkey = c_nationkey
      |WHERE r_name = 'EUROPE'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <  TIMESTAMP '1998-01-01'
      |GROUP BY n_name
      |ORDER BY rev_e6 DESC, n_name""".stripMargin

  def sqlSurface(spark: SparkSession, dir: String): DataFrame = {
    Seq("region", "nation", "customer", "supplier", "orders", "lineitem")
      .foreach(t => Tables.table(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(q5Sql)
  }

  // ---------------------------------------------------------- join_lateral
  /** ANSI LATERAL correlated subquery join — "top-2 orders per customer"
    * phrased the way SQL users write it, not as a window trick. ONE SQL
    * text runs verbatim on both engines (the sql_surface pattern), so
    * the oracle checks Spark's lateral decorrelation end to end:
    * Catalyst rewrites the correlated LIMIT subquery into a windowed
    * rank filter joined back to the outer side (broadcast here; both
    * scans keep their pushed-down filters) — a set-based plan, NOT the
    * per-outer-row re-execution LATERAL means naively, which a 100 TB
    * plan must never do. (topk_per_group declares the same semantics
    * explicitly and additionally rides InferWindowGroupLimit; the
    * decorrelated form keeps the full Window — the remaining gap
    * between declarative-lateral and hand-shaped top-k.)
    */
  private val lateralSql =
    """SELECT c.c_custkey, t.o_orderkey, t.cents
      |FROM customer c,
      |LATERAL (
      |  SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |  WHERE o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey
      |  LIMIT 2) t
      |WHERE c.c_custkey <= 100
      |ORDER BY c.c_custkey, t.cents DESC, t.o_orderkey""".stripMargin

  def joinLateral(spark: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders")
      .foreach(t => Tables.table(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(lateralSql)
  }

  // ---------------------------------------------------------- scan_parquet
  /** Plain columnar scan, vectorized parquet read, total-order output. */
  def scanParquet(spark: SparkSession, dir: String): DataFrame =
    Tables.supplier(spark, dir).orderBy(col("s_suppkey"))

  private val scanParquetOracle =
    "SELECT * FROM supplier ORDER BY s_suppkey"

  // ----------------------------------------------------------- scan_pruned
  /** Column pruning + predicate pushdown: ReadSchema must show only the
    * three projected columns and PushedFilters the shipdate bound — at
    * 100 TB this is the difference between scanning 3 columns of a row
    * group vs all 11, and skipping row groups via min/max stats.
    */
  def scanPruned(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
      .filter(col("l_shipdate") >= lit("2001-09-01").cast("timestamp"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  private val scanPrunedOracle =
    """SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '2001-09-01'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ------------------------------------------------------- source_json_col
  /** JSON-in-string column (events.props): extract, cast, aggregate.
    * `get_json_object` is codegen'd; at scale prefer extracting once in a
    * projection rather than re-parsing per predicate.
    */
  def sourceJsonCol(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("k"))

  private val sourceJsonColOracle =
    """SELECT CAST(props->>'k' AS BIGINT) AS k, COUNT(*) AS n
      |FROM events GROUP BY 1 ORDER BY k""".stripMargin

  // ------------------------------------------------------------- source_csv
  /** CSV source with an EXPLICIT schema — at 100 TB a schema-inference
    * pass is a full extra scan of the input, so production CSV reads
    * always pin the schema. The parquet-only fixture is staged to a csv
    * layout once (crash-safe snapshot: atomic publish, `_SUCCESS`-gated
    * reuse), then read back with header+delimiter options and joined to
    * the broadcast parquet dim — the mixed-format ingest shape. Money
    * survives the text round trip because the aggregation integerizes
    * to cents before summing (Det contract). */
  def sourceCsv(spark: SparkSession, dir: String): DataFrame = {
    val csv = graft.sources.Snapshots.materialize(spark, "csv", dir, Seq("supplier"),
      Tables.supplier(spark, dir)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      // parallel staging write — no coalesce(1): SerialStageAudit (r9)
      // measured that funnel tracking the table (1000 -> 10000 rows
      // 1x -> 10x), and nothing needs a single file — the read-back
      // reads the directory, header rows are skipped per part file,
      // and the consumer aggregates so part order is irrelevant. The
      // staged table is a dim (bounded in production), but the
      // snapshot idiom is generic and must not teach a serial write.
      (df, p) => df.write.mode("overwrite")
        .option("header", "true").option("sep", "|").csv(p),
      (s, p) => s.read
        .schema("s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE")
        .option("header", "true").option("sep", "|").csv(p))
    csv.groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(cents(col("s_acctbal"))).as("bal_cents"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey").as("s_nationkey"), col("n_name"))), "s_nationkey")
      .select(col("n_name"), col("n_suppliers"), col("bal_cents"))
      .orderBy(col("n_name"))
  }

  private val sourceCsvOracle =
    s"""SELECT n_name, COUNT(*) AS n_suppliers,
       |       CAST(SUM(${oCents("s_acctbal")}) AS BIGINT) AS bal_cents
       |FROM supplier JOIN nation ON s_nationkey = n_nationkey
       |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ------------------------------------------------------------- source_orc
  /** ORC source round trip — the other columnar format Spark reads
    * natively with vectorization + predicate pushdown (the plan shows
    * `PushedFilters` against the ORC scan exactly as for parquet). The
    * orders table is staged to an ORC layout once (crash-safe snapshot),
    * re-read with a pushed filter, and aggregated. At 100 TB this is the
    * "engine reads the lake format you already have" capability. */
  def sourceOrc(spark: SparkSession, dir: String): DataFrame = {
    val orc = graft.sources.Snapshots.materialize(spark, "orc", dir, Seq("orders"),
      Tables.orders(spark, dir)
        .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"),
      (df, p) => df.write.mode("overwrite").orc(p),
      (s, p) => s.read.orc(p))
    orc.filter(col("o_totalprice") > 200000)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(cents(col("o_totalprice"))).as("price_cents"))
      .orderBy(col("o_orderpriority"))
  }

  private val sourceOrcOracle =
    s"""SELECT o_orderpriority, COUNT(*) AS n,
       |       CAST(SUM(${oCents("o_totalprice")}) AS BIGINT) AS price_cents
       |FROM orders WHERE o_totalprice > 200000
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ------------------------------------------------------- scan_schema_evolve
  /** Schema evolution on read: two parquet generations of the same
    * table — the newer one carries an added column — scanned together
    * with `mergeSchema`; rows from the old generation surface NULL for
    * the new column and `coalesce` gives the migration default. This is
    * the "column added last quarter" reality of any long-lived lake;
    * the merged read costs one footer pass extra, the scan stays
    * columnar and pruned.
    */
  def scanSchemaEvolve(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.nation(spark, dir)
      .select("n_nationkey", "n_name", "n_regionkey")
    val oldGen = base.filter(col("n_nationkey") % 2 === 0)
    val newGen = base.filter(col("n_nationkey") % 2 =!= 0)
      .withColumn("n_zone", (col("n_regionkey") * 10L).cast("long"))
    // both generations land in one stage; `live` is the same rows
    // without the on-disk schema merge
    graft.sources.Snapshots.materialize(spark, "evolve", dir, Seq("nation"),
        oldGen.unionByName(newGen, allowMissingColumns = true),
        (_, p) => {
          oldGen.write.mode("overwrite").parquet(s"$p/gen=1")
          newGen.write.mode("overwrite").parquet(s"$p/gen=2")
        },
        (s, p) => s.read.option("mergeSchema", "true").parquet(p))
      .select(col("n_nationkey"), col("n_name"),
        coalesce(col("n_zone"), lit(-1L)).as("zone_or_default"))
      .orderBy(col("n_nationkey"))
  }

  private val scanSchemaEvolveOracle =
    """SELECT n_nationkey, n_name,
      |  CASE WHEN n_nationkey % 2 = 0 THEN -1
      |       ELSE n_regionkey * 10 END AS zone_or_default
      |FROM nation ORDER BY n_nationkey""".stripMargin

  // ---------------------------------------------------------------- agg_argmax
  /** ARGMAX/ARGMIN aggregates (max_by/min_by): which order was the
    * group's most/least expensive. The comparison key is made unique
    * (cents·10¹⁸ + orderkey, exact in DECIMAL(38) on the Spark side and
    * HUGEINT in the oracle) so ties cannot make the answer
    * engine-dependent — native max_by tie-breaking is unspecified in
    * both engines. The 10¹⁸ stride keeps the composite collision-free
    * for any orderkey < 10¹⁸, i.e. at any realistic scale factor
    * (TPC-H cents fit in 10 digits at every SF since totalprice is
    * per-order bounded). One map-side-combined pass.
    */
  def aggArgmax(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_orderkey"),
        (cents(col("o_totalprice")).cast("decimal(10,0)")
          * lit(1000000000000000000L) + col("o_orderkey")).as("rank_key"))
      .groupBy(col("o_orderpriority"))
      .agg(
        expr("max_by(o_orderkey, rank_key)").as("max_order"),
        expr("min_by(o_orderkey, rank_key)").as("min_order"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))

  private val aggArgmaxOracle =
    s"""SELECT o_orderpriority,
       |  max_by(o_orderkey, CAST(${oCents("o_totalprice")} AS HUGEINT)
       |    * 1000000000000000000 + o_orderkey) AS max_order,
       |  min_by(o_orderkey, CAST(${oCents("o_totalprice")} AS HUGEINT)
       |    * 1000000000000000000 + o_orderkey) AS min_order,
       |  COUNT(*) AS n
       |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ------------------------------------------------------------ source_jsonl
  /** JSON-lines sink + source round trip — the interchange format crawl
    * and annotation pipelines actually ship. The customer table is staged
    * once to newline-delimited JSON (crash-safe snapshot), re-read with
    * an explicit schema (never schema inference at scale — one pass saved
    * and no drift), and aggregated. Money survives the text round trip
    * exactly because the fixture doubles are 2-decimal. At 100 TB the
    * JSONL scan is line-splittable and parallel, but ~5× the parquet scan
    * cost (no column pruning/pushdown) — the qid exists to ingest such
    * data, not to keep it in that format.
    */
  // -------------------------------------------------------- source_binaryfile
  /** `binaryFile` source — the ingestion path for raw multimodal
    * assets (images / audio / shards of anything) at lake scale: each
    * file becomes one row of (path, modificationTime, length, content)
    * with NO decode on read, so the scan parallelizes over files and
    * defers byte-level work to the query. Here the first 100 documents
    * are staged once as one text file each (crash-safe snapshot;
    * Spark's own `_SUCCESS` commit marker gates reuse), read back as
    * whole binary files, and fingerprinted: the id is recovered from
    * the partition path, the size from the file metadata, and the
    * content hash from the raw bytes — exactly the manifest/integrity
    * pass a 100-TB asset lake runs before decode. The md5-of-bytes
    * equality with the oracle's md5-of-text proves the byte round trip
    * (single-line UTF-8 text + the writer's trailing newline).
    */
  def sourceBinaryFile(spark: SparkSession, dir: String): DataFrame = {
    val files = graft.sources.Snapshots.materialize(spark, "binfile", dir, Seq("documents"),
      Tables.documents(spark, dir)
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text").as("value")),
      (df, p) => df.repartition(1).write.mode("overwrite")
        .partitionBy("doc_id").text(p),
      (s, p) => s.read.format("binaryFile")
        .option("pathGlobFilter", "part-*")
        .option("recursiveFileLookup", "true")
        .load(p))
    files.select(
        regexp_extract(col("path"), "doc_id=(\\d+)", 1).cast("long")
          .as("doc_id"),
        col("length").as("n_bytes"),
        md5(col("content")).as("content_md5"))
      .orderBy(col("doc_id"))
  }

  private val sourceBinaryFileOracle =
    """SELECT doc_id,
      |       CAST(octet_length(encode(text)) + 1 AS BIGINT) AS n_bytes,
      |       md5(text || chr(10)) AS content_md5
      |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin

  def sourceJsonl(spark: SparkSession, dir: String): DataFrame = {
    val jsonl = graft.sources.Snapshots.materialize(spark, "jsonl", dir, Seq("customer"),
      Tables.customer(spark, dir)
        .select("c_custkey", "c_mktsegment", "c_acctbal"),
      (df, p) => df.write.mode("overwrite").json(p),
      (s, p) => s.read
        .schema("c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE")
        .json(p))
    jsonl.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"),
        sum(cents(col("c_acctbal"))).as("bal_cents"))
      .orderBy(col("c_mktsegment"))
  }

  private val sourceJsonlOracle =
    s"""SELECT c_mktsegment, COUNT(*) AS n_cust,
       |       CAST(SUM(${oCents("c_acctbal")}) AS BIGINT) AS bal_cents
       |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ------------------------------------------------------------ filter_pred
  /** Predicate families: BETWEEN, IN, LIKE, modular arithmetic, NOT. */
  def filterPred(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(
        col("o_totalprice").between(50000, 100000) &&
          col("o_orderstatus").isin("F", "O") &&
          col("o_orderpriority").like("%URGENT%") &&
          !(col("o_orderkey") % 10 === 3))
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .orderBy(col("o_orderkey"))

  private val filterPredOracle =
    """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
      |WHERE o_totalprice BETWEEN 50000 AND 100000
      |  AND o_orderstatus IN ('F','O')
      |  AND o_orderpriority LIKE '%URGENT%'
      |  AND NOT (o_orderkey % 10 = 3)
      |ORDER BY o_orderkey""".stripMargin

  // ----------------------------------------------------------- project_expr
  /** Row-wise expression projection: arithmetic, CASE WHEN, casts.
    * Per-row IEEE arithmetic on identical inputs is bit-deterministic
    * (only aggregation order isn't) so raw doubles are safe here.
    */
  def projectExpr(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("2001-06-01").cast("timestamp"))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("disc_price"),
        when(col("l_quantity") > 25, lit("bulk")).otherwise(lit("small")).as("size_class"),
        col("l_quantity").cast("int").as("qty_int"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  private val projectExprOracle =
    """SELECT l_orderkey, l_linenumber,
      |  l_extendedprice * (1.0 - l_discount) AS disc_price,
      |  CASE WHEN l_quantity > 25 THEN 'bulk' ELSE 'small' END AS size_class,
      |  CAST(l_quantity AS INTEGER) AS qty_int
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '2001-06-01'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ------------------------------------------------------------- join_inner
  /** Shuffle equi-join orders⋈customer then aggregate. At 100 TB both
    * sides are large ⇒ sort-merge/shuffled-hash on the key; AQE handles
    * skew. The aggregate keeps shuffle output O(customers).
    */
  def joinInner(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), sum2(col("o_totalprice")).as("total_spend"))
      .orderBy(col("c_custkey"))

  private val joinInnerOracle =
    s"""SELECT c_custkey, c_mktsegment, COUNT(*) AS n_orders,
       |  ${oSum2("o_totalprice")} AS total_spend
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_custkey, c_mktsegment
       |ORDER BY c_custkey""".stripMargin

  // --------------------------------------------------------- join_broadcast
  /** Explicit broadcast of the small dim (part) against the fact
    * (lineitem): no shuffle of the 100 TB side, map-side hash join.
    * The hint is an ASSERTION that the dim fits executor memory —
    * BroadcastAudit (r9) confirms it is one of only two hint-forced
    * broadcasts whose build grows on the rehearsal corpus (part
    * doubles as the hierarchy keyspace there, so it replicates with
    * scale). At a scale where the dim genuinely outgrows memory the
    * correct move is to DROP the hint, not resize it: the CBO/AQE
    * path then plans the sort-merge join — cbo_demo demonstrates
    * exactly that decision from table stats.
    */
  def joinBroadcast(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"), sum2(col("l_quantity")).as("sum_qty"))
      .orderBy(col("p_brand"))

  private val joinBroadcastOracle =
    s"""SELECT p_brand, COUNT(*) AS n_items, ${oSum2("l_quantity")} AS sum_qty
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ---------------------------------------------------------------- join_left
  /** Left outer join preserving customers with zero orders. */
  def joinLeft(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy(col("c_custkey"))

  private val joinLeftOracle =
    """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- join_full
  /** Full outer join of two keyed aggregates (rich vs poor account bases
    * per nation); coalesced key keeps the output total-ordered.
    */
  def joinFull(spark: SparkSession, dir: String): DataFrame = {
    val rich = Tables.supplier(spark, dir).filter(col("s_acctbal") > 5000)
      .groupBy(col("s_nationkey").as("nk")).agg(count(lit(1)).as("n_rich_supp"))
    val big = Tables.customer(spark, dir).filter(col("c_acctbal") > 9000)
      .groupBy(col("c_nationkey").as("nk2")).agg(count(lit(1)).as("n_big_cust"))
    rich.join(big, col("nk") === col("nk2"), "full")
      .select(
        coalesce(col("nk"), col("nk2")).as("nationkey"),
        col("n_rich_supp"), col("n_big_cust"))
      .orderBy(col("nationkey"))
  }

  private val joinFullOracle =
    """WITH rich AS (
      |  SELECT s_nationkey AS nk, COUNT(*) AS n_rich_supp FROM supplier
      |  WHERE s_acctbal > 5000 GROUP BY 1),
      |big AS (
      |  SELECT c_nationkey AS nk2, COUNT(*) AS n_big_cust FROM customer
      |  WHERE c_acctbal > 9000 GROUP BY 1)
      |SELECT COALESCE(nk, nk2) AS nationkey, n_rich_supp, n_big_cust
      |FROM rich FULL OUTER JOIN big ON nk = nk2
      |ORDER BY nationkey""".stripMargin

  // ---------------------------------------------------------------- join_semi
  /** Existence join: customers holding at least one urgent open order.
    * left_semi never duplicates or widens rows — at scale this avoids
    * materializing the orders side beyond the join keys.
    */
  def joinSemi(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    Tables.customer(spark, dir)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  private val joinSemiOracle =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- join_anti
  /** Negated existence: customers who never placed an urgent order. */
  def joinAnti(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  private val joinAntiOracle =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  // --------------------------------------------------------------- join_theta
  /** Band join: lineitems shipped 60–120 days after their order date
    * (equi key + range predicate — the scalable theta-join shape: the
    * range rides on the equi shuffle instead of a cartesian product).
    */
  def joinTheta(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    li.join(o,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= date_add(col("o_orderdate"), 60) &&
          col("l_shipdate") < date_add(col("o_orderdate"), 120))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_late"), sum2(col("l_extendedprice")).as("late_value"))
      .orderBy(col("o_orderpriority"))
  }

  private val joinThetaOracle =
    s"""SELECT o_orderpriority, COUNT(*) AS n_late,
       |  ${oSum2("l_extendedprice")} AS late_value
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  AND l_shipdate >= o_orderdate + INTERVAL 60 DAY
       |  AND l_shipdate <  o_orderdate + INTERVAL 120 DAY
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ----------------------------------------------------------------- agg_hash
  /** Partial+final hash aggregation with several aggregate kinds. */
  def aggHash(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum2(col("value")).as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))

  private val aggHashOracle =
    s"""SELECT event_type, COUNT(*) AS n, ${oSum2("value")} AS sum_value,
       |  MIN(value) AS min_value, MAX(value) AS max_value,
       |  COUNT(DISTINCT user_id) AS n_users
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------- agg_distinct
  /** Multi-distinct aggregation (expand-based plan in Spark). */
  def aggDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("l_returnflag"))

  private val aggDistinctOracle =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps,
      |  COUNT(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------ agg_approx_distinct
  /** HLL++ approximate distinct (sketch-family capability). Estimator
    * internals differ across engines, so the estimate itself can't be
    * oracled — instead the declared output is the exact count plus a
    * `within_5pct` accuracy bound on the HLL estimate, which DuckDB can
    * assert as a constant TRUE (the exact twin is agg_distinct). At
    * 100 TB this replaces a full distinct shuffle with fixed-size
    * mergeable sketches.
    */
  def aggApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts")) <=
          col("exact_parts").cast("double") * 0.05).as("within_5pct"))
      .orderBy(col("l_returnflag"))

  private val aggApproxDistinctOracle =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
      |  TRUE AS within_5pct
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------- agg_grouping_sets
  /** ROLLUP with grouping_id — multi-level aggregates in one pass. */
  def aggGroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum2(col("l_quantity")).as("sum_qty"),
        grouping_id().as("gid"))
      .orderBy(
        col("gid"),
        col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  private val aggGroupingSetsOracle =
    s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       |  ${oSum2("l_quantity")} AS sum_qty,
       |  GROUPING(l_returnflag, l_linestatus) AS gid
       |FROM lineitem
       |GROUP BY ROLLUP (l_returnflag, l_linestatus)
       |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- agg_having
  /** Post-aggregation filter (HAVING). */
  def aggHaving(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), sum2(col("o_totalprice")).as("spend"))
      .filter(col("n_orders") >= 15)
      .orderBy(col("o_custkey"))

  private val aggHavingOracle =
    s"""SELECT o_custkey, COUNT(*) AS n_orders, ${oSum2("o_totalprice")} AS spend
       |FROM orders GROUP BY o_custkey
       |HAVING COUNT(*) >= 15 ORDER BY o_custkey""".stripMargin

  // ----------------------------------------------------------------- agg_stats
  /** Statistical aggregates. Rounded to 6dp: these are float-order
    * dependent at the 1e-15 relative level; rounding absorbs it.
    */
  def aggStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_linestatus"))
      .agg(
        round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
        round(var_samp(col("l_quantity")), 6).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("covar_qty_disc"),
        round(expr("percentile(l_extendedprice, 0.5)"), 6).as("median_price"))
      .orderBy(col("l_linestatus"))

  private val aggStatsOracle =
    """SELECT l_linestatus,
      |  ROUND(STDDEV_SAMP(l_quantity), 6) AS sd_qty,
      |  ROUND(VAR_SAMP(l_quantity), 6) AS var_qty,
      |  ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
      |  ROUND(COVAR_SAMP(l_quantity, l_discount), 6) AS covar_qty_disc,
      |  ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 6) AS median_price
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  // ---------------------------------------------------------- agg_corr_matrix
  /** Pairwise correlation MATRIX over (quantity, price_cents,
    * discount_e2) per return flag — the feature-correlation pass that
    * precedes any model fit, in ONE scan (9 moment sums, map-side
    * combinable; no per-pair re-scan). Unlike agg_stats' corr() (a
    * float aggregate, 6-dp rounded), this derives every entry from
    * EXACT integer moments: num = n·Σxy − Σx·Σy and the two variance
    * terms carry through DECIMAL(38,0) / HUGEINT (Σprice_cents² ≈
    * 6e19 already exceeds BIGINT at sf0.1), then sign(num) and
    * r²·1e6 = num²/(varx·vary) take the tsTrend route: identical
    * exact integers cast to double, identical IEEE ops, identical
    * e6 rounding on both engines. Sign is kept SEPARATE from r² so no
    * square root ever enters the pipeline — sqrt is where cross-libm
    * drift lives. */
  def aggCorrMatrix(spark: SparkSession, dir: String): DataFrame = {
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val base = Tables.lineitem(spark, dir).select(
      col("l_returnflag"),
      col("l_quantity").cast("long").as("x1"),
      cents(col("l_extendedprice")).as("x2"),
      cents(col("l_discount")).as("x3"))
    val pairs = Seq(("qty_price", "x1", "x2"), ("qty_disc", "x1", "x3"),
      ("price_disc", "x2", "x3"))
    val moments = base.groupBy(col("l_returnflag")).agg(
      count(lit(1)).as("n"),
      sum(dec(col("x1"))).as("s1"), sum(dec(col("x2"))).as("s2"),
      sum(dec(col("x3"))).as("s3"),
      sum(dec(col("x1")) * dec(col("x1"))).as("q1"),
      sum(dec(col("x2")) * dec(col("x2"))).as("q2"),
      sum(dec(col("x3")) * dec(col("x3"))).as("q3"),
      sum(dec(col("x1")) * dec(col("x2"))).as("p12"),
      sum(dec(col("x1")) * dec(col("x3"))).as("p13"),
      sum(dec(col("x2")) * dec(col("x3"))).as("p23"))
    val entries = pairs.zip(Seq("p12", "p13", "p23")).map {
      case ((name, a, b), p) =>
        val ia = a.last.asDigit; val ib = b.last.asDigit
        val num = dec(col("n")) * col(p) - col(s"s$ia") * col(s"s$ib")
        val va = dec(col("n")) * col(s"q$ia") - col(s"s$ia") * col(s"s$ia")
        val vb = dec(col("n")) * col(s"q$ib") - col(s"s$ib") * col(s"s$ib")
        struct(lit(name).as("pair"),
          signum(num).cast("long").as("corr_sign"),
          round(num.cast("double") * num.cast("double")
            / (va.cast("double") * vb.cast("double")) * 1e6)
            .cast("long").as("r2_e6"))
    }
    moments.select(col("l_returnflag"),
        explode(array(entries: _*)).as("e"))
      .select(col("l_returnflag"), col("e.pair").as("pair"),
        col("e.corr_sign").as("corr_sign"), col("e.r2_e6").as("r2_e6"))
      .orderBy(col("l_returnflag"), col("pair"))
  }

  private val aggCorrMatrixOracle =
    s"""WITH base AS (
       |  SELECT l_returnflag, CAST(l_quantity AS HUGEINT) AS x1,
       |         CAST(${oCents("l_extendedprice")} AS HUGEINT) AS x2,
       |         CAST(${oCents("l_discount")} AS HUGEINT) AS x3
       |  FROM lineitem),
       |m AS (
       |  SELECT l_returnflag, CAST(COUNT(*) AS HUGEINT) AS n,
       |         SUM(x1) AS s1, SUM(x2) AS s2, SUM(x3) AS s3,
       |         SUM(x1*x1) AS q1, SUM(x2*x2) AS q2, SUM(x3*x3) AS q3,
       |         SUM(x1*x2) AS p12, SUM(x1*x3) AS p13, SUM(x2*x3) AS p23
       |  FROM base GROUP BY l_returnflag)
       |SELECT l_returnflag, pair, corr_sign, r2_e6 FROM (
       |  SELECT l_returnflag, 'qty_price' AS pair,
       |         CAST(sign(n*p12 - s1*s2) AS BIGINT) AS corr_sign,
       |         CAST(ROUND(CAST(n*p12 - s1*s2 AS DOUBLE)
       |                    * CAST(n*p12 - s1*s2 AS DOUBLE)
       |                    / (CAST(n*q1 - s1*s1 AS DOUBLE)
       |                       * CAST(n*q2 - s2*s2 AS DOUBLE)) * 1000000.0)
       |              AS BIGINT) AS r2_e6 FROM m
       |  UNION ALL
       |  SELECT l_returnflag, 'qty_disc',
       |         CAST(sign(n*p13 - s1*s3) AS BIGINT),
       |         CAST(ROUND(CAST(n*p13 - s1*s3 AS DOUBLE)
       |                    * CAST(n*p13 - s1*s3 AS DOUBLE)
       |                    / (CAST(n*q1 - s1*s1 AS DOUBLE)
       |                       * CAST(n*q3 - s3*s3 AS DOUBLE)) * 1000000.0)
       |              AS BIGINT) FROM m
       |  UNION ALL
       |  SELECT l_returnflag, 'price_disc',
       |         CAST(sign(n*p23 - s2*s3) AS BIGINT),
       |         CAST(ROUND(CAST(n*p23 - s2*s3 AS DOUBLE)
       |                    * CAST(n*p23 - s2*s3 AS DOUBLE)
       |                    / (CAST(n*q2 - s2*s2 AS DOUBLE)
       |                       * CAST(n*q3 - s3*s3 AS DOUBLE)) * 1000000.0)
       |              AS BIGINT) FROM m)
       |ORDER BY l_returnflag, pair""".stripMargin

  // --------------------------------------------------------------- agg_collect
  /** Set/list collection — always array_sort'ed for determinism. */
  def aggCollect(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        concat_ws(",", array_sort(collect_set(col("o_orderstatus")))).as("statuses"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))

  private val aggCollectOracle =
    """SELECT o_orderpriority,
      |  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
      |  COUNT(*) AS n
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // --------------------------------------------------------------- join_fuzzy
  /** Fuzzy entity-resolution join: match suppliers against a
    * deterministically corrupted twin registry (one character
    * substituted) under edit distance ≤ 1 — the record-linkage shape
    * behind dedup of entity tables. Never all-pairs, and never
    * DEGENERATE blocks either: an earlier (prefix, length) blocking
    * key put every TPC-H supplier name in ONE block ("Su…", fixed
    * length) — a hidden all-pairs levenshtein that would go quadratic
    * on a real registry. Candidates instead come from pigeonhole
    * banding (the PartEnum partitioning scheme, Arasu et al., VLDB
    * 2006): equal length + edit distance ≤ 1 forces Hamming ≤ 1, a
    * single substitution touches at most one of 4 length-relative
    * bands, so every true match agrees on at least 3 of the 4 — four
    * equi-joins on (length, 3-band key), unioned and then verified
    * with the exact levenshtein. Any 3-band key includes part of the
    * name's discriminative tail, so blocks stay tiny even when every
    * record shares a long common prefix.
    *
    * Banding and verification run over DISTINCT names, expanded back
    * through the key tables only after matching (round 9): band keys
    * and edit distance depend on the NAME alone, so every duplicate
    * of a name re-banding and re-verifying is pure waste — and real
    * registries are duplicate-heavy (that is why one fuzzy-joins
    * them). ShuffleGrowthAudit measured the per-row form 28× on the
    * 10× rehearsal corpus (identical replica names ⇒ every block
    * grows k×, pair volume k²); per-distinct-name banding keeps the
    * band/verify stages linear at any duplicate mass, while the final
    * expansion joins are output-sized — the true match set under
    * duplicate mass is itself Σ(multiplicity²), which no plan can
    * undercut (the cluster-representative interface, dedup_clusters,
    * is the production shape when that output is too big to list).
    * Per-join cost is O(Σ block²) over DISTINCT names at any registry
    * size; results bit-identical to the per-row form. */
  def joinFuzzy(spark: SparkSession, dir: String): DataFrame = {
    val clean = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_name"))
    val dirty = clean.select(
      (col("s_suppkey") + 1000000L).as("d_key"),
      concat(substring(col("s_name"), 1, 2), lit("x"),
        substring(col("s_name"), 4, 100)).as("d_name"))
    joinFuzzyOn(clean, dirty)
  }

  /** The banding/verify/expansion pipeline behind [[joinFuzzy]], split
    * out (the dedupEmbedOn pattern) so the duplicate-mass twin spec
    * exercises the PRODUCTION distinct-first path rather than a
    * re-inlined copy that could silently drift (r9 ADVICE). `clean`
    * must carry (s_suppkey, s_name); `dirty` (d_key, d_name). */
  private[graft] def joinFuzzyOn(clean: DataFrame, dirty: DataFrame): DataFrame = {
    // 4 length-relative bands: band i of s = s[(i-1)·L div 4 + 1 .. i·L div 4]
    def banded(df: DataFrame, nameCol: String, p: String): DataFrame =
      (1 to 4).foldLeft(df.withColumn(s"${p}0", length(col(nameCol)))) {
        (d, i) =>
          d.withColumn(s"$p$i", expr(
            s"substring($nameCol, (${i - 1} * length($nameCol)) div 4 + 1, " +
              s"($i * length($nameCol)) div 4 - (${i - 1} * length($nameCol)) div 4)"))
      }
    // the four 3-of-4 band joins fold into ONE equi-join on a
    // (skip, len, kept-bands) struct column (the knnGraphEdges
    // (seed, bucket) fold): the skip index lives in the key, so
    // cross-skip rows never meet and the candidate multiset is
    // identical to four separate joins — at 2 distinct-name exchanges
    // + 1 join instead of 4 joins each re-aggregating its own
    // pruned-column distinct (the pre-fold plan paid 8 aggregates)
    def keyed(df: DataFrame, nameCol: String): DataFrame =
      banded(df, nameCol, "t")
        .select(col(nameCol), explode(expr(
          "transform(sequence(1, 4), s -> named_struct(" +
            "'skip', s, 'len', t0, " +
            "'k1', if(s = 1, t2, t1), " +
            "'k2', if(s <= 2, t3, t2), " +
            "'k3', if(s <= 3, t4, t3)))")).as("sb"))
    val c = keyed(clean.select("s_name").distinct(), "s_name")
    val d = keyed(dirty.select("d_name").distinct(), "d_name")
    val namePairs = c.join(d, "sb")
      .select(col("s_name"), col("d_name")).distinct()
      .filter(levenshtein(col("s_name"), col("d_name")) <= 1)
      .select(col("s_name"), col("d_name"),
        levenshtein(col("s_name"), col("d_name")).cast("long").as("dist"))
    namePairs
      .join(clean, "s_name")
      .join(dirty, "d_name")
      .select(col("s_suppkey"), col("d_key"), col("dist"))
      .orderBy(col("s_suppkey"), col("d_key"))
  }

  private val joinFuzzyOracle = {
    def bands(nameCol: String, alias: String) = (1 to 4).map { i =>
      s"substring($nameCol, ((${i - 1} * length($nameCol)) // 4) + 1, " +
        s"(($i * length($nameCol)) // 4) - ((${i - 1} * length($nameCol)) // 4)) AS $alias$i"
    }.mkString(", ")
    def joinOn(skip: Int) =
      (Seq("cb0 = db0") ++ (1 to 4).filter(_ != skip).map(i => s"cb$i = db$i"))
        .mkString(" AND ")
    s"""WITH clean AS (SELECT s_suppkey, s_name FROM supplier),
       |dirty AS (
       |  SELECT s_suppkey + 1000000 AS d_key,
       |    concat(substring(s_name, 1, 2), 'x', substring(s_name, 4, 100))
       |      AS d_name
       |  FROM supplier),
       |cb AS (SELECT s_suppkey, s_name, length(s_name) AS cb0,
       |  ${bands("s_name", "cb")} FROM clean),
       |db AS (SELECT d_key, d_name, length(d_name) AS db0,
       |  ${bands("d_name", "db")} FROM dirty),
       |cand AS (
       |  SELECT s_suppkey, s_name, d_key, d_name FROM cb JOIN db ON ${joinOn(1)}
       |  UNION
       |  SELECT s_suppkey, s_name, d_key, d_name FROM cb JOIN db ON ${joinOn(2)}
       |  UNION
       |  SELECT s_suppkey, s_name, d_key, d_name FROM cb JOIN db ON ${joinOn(3)}
       |  UNION
       |  SELECT s_suppkey, s_name, d_key, d_name FROM cb JOIN db ON ${joinOn(4)})
       |SELECT s_suppkey, d_key,
       |  CAST(levenshtein(s_name, d_name) AS BIGINT) AS dist
       |FROM cand
       |WHERE levenshtein(s_name, d_name) <= 1
       |ORDER BY s_suppkey, d_key""".stripMargin
  }

  // ------------------------------------------------------------ join_null_safe
  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * match each other — the semantics dimension-table joins need when
    * "unknown" is itself a valid bucket (join_inner's twin shows plain
    * `=` dropping NULLs). Both sides are pre-aggregated so the NULL
    * bucket stays one row per side; the join itself is an ordinary
    * hash join on the coalesced key at any scale.
    */
  def joinNullSafe(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.orders(spark, dir)
      .select(nullif(col("o_custkey") % 50, lit(25L)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n_orders"))
    val b = Tables.customer(spark, dir)
      .select(nullif(col("c_custkey") % 50, lit(25L)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n_cust"))
    a.join(b, a("k") <=> b("k"))
      .select(a("k").as("k"), col("n_orders"), col("n_cust"))
      .orderBy(col("k").asc_nulls_first)
  }

  private val joinNullSafeOracle =
    """WITH a AS (
      |  SELECT NULLIF(o_custkey % 50, 25) AS k, COUNT(*) AS n_orders
      |  FROM orders GROUP BY 1),
      |b AS (
      |  SELECT NULLIF(c_custkey % 50, 25) AS k, COUNT(*) AS n_cust
      |  FROM customer GROUP BY 1)
      |SELECT a.k, n_orders, n_cust
      |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
      |ORDER BY a.k ASC NULLS FIRST""".stripMargin

  // -------------------------------------------------------------- agg_filtered
  /** FILTER-clause aggregates: several differently-filtered measures in
    * ONE scan/shuffle (the idiomatic alternative to N self-joins or
    * CASE-WHEN pyramids — agg_pivot shows the CASE form). Identical
    * map-side-combine profile to a plain aggregate.
    */
  def aggFiltered(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("count(1) FILTER (WHERE l_quantity > 25)").as("n_bulk"),
        expr(s"sum(CAST(ROUND(l_extendedprice*100) AS BIGINT)) " +
          "FILTER (WHERE l_discount = 0)").as("full_price_cents"),
        expr("count(DISTINCT l_suppkey) FILTER (WHERE l_tax > 0.05)")
          .as("n_taxed_supps"),
        count(lit(1)).as("n_all"))
      .orderBy(col("l_returnflag"))

  private val aggFilteredOracle =
    s"""SELECT l_returnflag,
       |  COUNT(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
       |  CAST(SUM(${oCents("l_extendedprice")})
       |       FILTER (WHERE l_discount = 0) AS BIGINT) AS full_price_cents,
       |  COUNT(DISTINCT l_suppkey) FILTER (WHERE l_tax > 0.05) AS n_taxed_supps,
       |  COUNT(*) AS n_all
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------------------ agg_mode
  /** Deterministic exact mode per group: both engines' native mode()
    * breaks frequency ties arbitrarily, so it is restated as count →
    * rank with a total-order tiebreak (highest count, then smallest
    * value) — the only formulation that hash-compares. Two aggregations
    * sharing the group key's partitioning plus one tiny window.
    */
  def aggMode(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_suppkey"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag"))
      .orderBy(col("n").desc, col("l_suppkey"))
    counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("l_returnflag"), col("l_suppkey").as("mode_suppkey"),
        col("n").as("mode_n"))
      .orderBy(col("l_returnflag"))
  }

  private val aggModeOracle =
    """WITH c AS (
      |  SELECT l_returnflag, l_suppkey, COUNT(*) AS n
      |  FROM lineitem GROUP BY 1, 2),
      |r AS (
      |  SELECT l_returnflag, l_suppkey, n,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |                       ORDER BY n DESC, l_suppkey) AS rk
      |  FROM c)
      |SELECT l_returnflag, l_suppkey AS mode_suppkey, n AS mode_n
      |FROM r WHERE rk = 1 ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------------- agg_histogram
  /** Fixed-bin histogram of order totals — the profiling primitive
    * behind data-quality dashboards and skew detection. Bin assignment
    * is pure integer arithmetic on cents (portable; no reliance on
    * engine width_bucket edge conventions), so the histogram is exact.
    * One map-side-combined groupBy over 20 bins regardless of input
    * size.
    */
  def aggHistogram(spark: SparkSession, dir: String): DataFrame = {
    val loC = 0L            // $0
    val wC = 5000000L       // $50k per bin, 20 bins
    val nBins = 20L
    Tables.orders(spark, dir)
      .select(least(greatest(
        expr(s"(cast(round(o_totalprice*100) as bigint) - $loC) div $wC"),
        lit(0L)), lit(nBins - 1)).cast("long").as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("bin"), (lit(loC) + col("bin") * wC).as("bin_lo_cents"), col("n"))
      .orderBy(col("bin"))
  }

  private val aggHistogramOracle =
    s"""SELECT bin, 0 + bin * 5000000 AS bin_lo_cents, COUNT(*) AS n
       |FROM (
       |  SELECT LEAST(GREATEST((${oCents("o_totalprice")} - 0) // 5000000, 0), 19)
       |    AS bin
       |  FROM orders)
       |GROUP BY bin ORDER BY bin""".stripMargin

  // -------------------------------------------------------------- agg_weighted
  /** Quantity-weighted average price per group — the weighted-mean
    * shape every metrics rollup needs. Numerator and denominator
    * aggregate as exact integers (cents × quantity), the single final
    * division is one IEEE op on identical inputs, and the e6 integer
    * result makes the contract explicit. Same one-shuffle profile as
    * agg_hash.
    */
  def aggWeighted(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_linestatus"))
      .agg(
        sum(cents(col("l_extendedprice")) * cents(col("l_quantity"))).as("num"),
        sum(cents(col("l_quantity"))).as("den"))
      .select(col("l_linestatus"),
        col("num"), col("den"),
        expr("cast(round(cast(num as double) / cast(den as double) * 10000.0) " +
          "as bigint)").as("wavg_e6"))
      .orderBy(col("l_linestatus"))

  private val aggWeightedOracle =
    s"""SELECT l_linestatus,
       |  CAST(SUM(${oCents("l_extendedprice")} * ${oCents("l_quantity")}) AS BIGINT) AS num,
       |  CAST(SUM(${oCents("l_quantity")}) AS BIGINT) AS den,
       |  CAST(ROUND(CAST(SUM(${oCents("l_extendedprice")} * ${oCents("l_quantity")}) AS DOUBLE)
       |       / CAST(SUM(${oCents("l_quantity")}) AS DOUBLE) * 10000.0) AS BIGINT) AS wavg_e6
       |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  // ------------------------------------------------------------------ agg_bool
  /** Boolean aggregates (bool_and / bool_or — ANSI EVERY/ANY): the
    * assertion layer of data-quality checks ("every row in the group
    * satisfies the invariant"). Same partial+final profile as any
    * aggregate; short-circuits map-side.
    */
  def aggBool(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("bool_and(l_quantity > 0)").as("all_qty_pos"),
        expr("bool_or(l_discount > 0.05)").as("any_deep_discount"),
        expr("bool_and(l_shipdate IS NOT NULL)").as("all_dated"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  private val aggBoolOracle =
    """SELECT l_returnflag,
      |  bool_and(l_quantity > 0) AS all_qty_pos,
      |  bool_or(l_discount > 0.05) AS any_deep_discount,
      |  bool_and(l_shipdate IS NOT NULL) AS all_dated,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- set_ops_all
  /** Multiset set operations (INTERSECT ALL / EXCEPT ALL) — duplicate-
    * preserving semantics, distinct from set_intersect/set_except's
    * set semantics. Spark plans both as aggregate+join on (row,
    * replicate-count) rather than materializing duplicates; output is
    * re-aggregated so the declared result stays small and totally
    * ordered.
    *
    * Scale note (ScanAudit r9): exercising BOTH multiset ops over the
    * same inputs in one statement reads each input twice — Spark plans
    * each op as its own join and the branch filters differ, so neither
    * AQE reuse nor pushdown merges them. That is inherent to the
    * operator surface this qid exists to cover; a production pipeline
    * wanting both results over element-typed rows would use the
    * single-scan counting restatement (per-key cnt_a/cnt_b, then
    * least(cnt_a, cnt_b) and greatest(cnt_a - cnt_b, 0)).
    */
  def setOpsAll(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % 7 < 3).select(col("l_suppkey"))
    val b = Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % 5 < 2).select(col("l_suppkey"))
    a.intersectAll(b).groupBy(col("l_suppkey")).agg(count(lit(1)).as("n_common"))
      .join(
        a.exceptAll(b).groupBy(col("l_suppkey")).agg(count(lit(1)).as("n_only_a")),
        Seq("l_suppkey"), "full_outer")
      .select(col("l_suppkey"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        coalesce(col("n_only_a"), lit(0L)).as("n_only_a"))
      .orderBy(col("l_suppkey"))
  }

  private val setOpsAllOracle =
    """WITH a AS (SELECT l_suppkey FROM lineitem WHERE l_orderkey % 7 < 3),
      |b AS (SELECT l_suppkey FROM lineitem WHERE l_orderkey % 5 < 2),
      |i AS (SELECT l_suppkey, COUNT(*) AS n_common
      |      FROM (SELECT l_suppkey FROM a INTERSECT ALL SELECT l_suppkey FROM b)
      |      GROUP BY 1),
      |e AS (SELECT l_suppkey, COUNT(*) AS n_only_a
      |      FROM (SELECT l_suppkey FROM a EXCEPT ALL SELECT l_suppkey FROM b)
      |      GROUP BY 1)
      |SELECT l_suppkey,
      |  CAST(COALESCE(n_common, 0) AS BIGINT) AS n_common,
      |  CAST(COALESCE(n_only_a, 0) AS BIGINT) AS n_only_a
      |FROM i FULL OUTER JOIN e USING (l_suppkey)
      |ORDER BY l_suppkey""".stripMargin

  // ------------------------------------------------------------ agg_percentile
  /** Exact quantile family: p25 / median / p75 per group. Computed over
    * integer cents so every interpolation weight is an exact binary
    * quarter — `(n-1)*p` is exact for p ∈ {.25,.5,.75} and both engines'
    * linear interpolation of integers at exact-quarter fractions yields
    * the identical double, so no rounding contract is needed. At 100 TB
    * exact percentiles need a per-group sort (here: hash agg over sorted
    * partial buffers); the sketch path for huge groups is
    * `approx_percentile` (t-digest), same API shape.
    */
  def aggPercentile(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        expr(s"percentile(CAST(ROUND(o_totalprice*100) AS BIGINT), 0.25)").as("p25_cents"),
        expr(s"percentile(CAST(ROUND(o_totalprice*100) AS BIGINT), 0.5)").as("p50_cents"),
        expr(s"percentile(CAST(ROUND(o_totalprice*100) AS BIGINT), 0.75)").as("p75_cents"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))

  private val aggPercentileOracle =
    s"""SELECT o_orderpriority,
       |  QUANTILE_CONT(${oCents("o_totalprice")}, 0.25) AS p25_cents,
       |  QUANTILE_CONT(${oCents("o_totalprice")}, 0.5)  AS p50_cents,
       |  QUANTILE_CONT(${oCents("o_totalprice")}, 0.75) AS p75_cents,
       |  COUNT(*) AS n
       |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // --------------------------------------------------------------- agg_listagg
  /** Ordered string aggregation (LISTAGG/string_agg): concatenate one
    * column ordered by ANOTHER key — distinct from agg_collect's
    * value-sorted set. Spark has no ordered collect_list, so the order
    * key rides along in a struct, `array_sort` orders by it (struct sort
    * is field-order lexicographic), and `transform` projects the payload
    * back out before joining. Per-group cost is O(group size) memory in
    * the ObjectHashAggregate buffer — bounded here by orders-per-customer;
    * at 100 TB cap group size upstream (top-N per group) before listagg.
    */
  def aggListagg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_custkey") <= 50)
      .groupBy(col("o_custkey"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("o_orderdate"), col("o_orderkey")))),
            x => x.getField("o_orderkey").cast("string")),
          ",").as("order_seq"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_custkey"))

  private val aggListaggOracle =
    """SELECT o_custkey,
      |  string_agg(CAST(o_orderkey AS VARCHAR), ','
      |             ORDER BY o_orderdate, o_orderkey) AS order_seq,
      |  COUNT(*) AS n_orders
      |FROM orders WHERE o_custkey <= 50
      |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  // -------------------------------------------------------------- unpivot_long
  /** Wide→long reshape (UNPIVOT / melt) via the Dataset unpivot API —
    * the inverse of agg_pivot. The unpivot itself is a zero-shuffle
    * projection (each input row expands to k metric rows in place); only
    * the upstream aggregate shuffles. Value columns are unified to int64
    * per the output-dtype invariant.
    */
  def unpivotLong(spark: SparkSession, dir: String): DataFrame = {
    val wide = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        sum(cents(col("l_quantity"))).as("qty_cents"),
        sum(cents(col("l_extendedprice"))).as("price_cents"),
        count(lit(1)).as("n_rows"))
    wide.unpivot(
        Array(col("l_returnflag")),
        Array(col("qty_cents"), col("price_cents"), col("n_rows")),
        "metric", "value")
      .orderBy(col("l_returnflag"), col("metric"))
  }

  private val unpivotLongOracle =
    s"""WITH w AS (
       |  SELECT l_returnflag,
       |    CAST(SUM(${oCents("l_quantity")}) AS BIGINT) AS qty_cents,
       |    CAST(SUM(${oCents("l_extendedprice")}) AS BIGINT) AS price_cents,
       |    COUNT(*) AS n_rows
       |  FROM lineitem GROUP BY l_returnflag)
       |SELECT l_returnflag, 'qty_cents' AS metric, qty_cents AS value FROM w
       |UNION ALL
       |SELECT l_returnflag, 'price_cents', price_cents FROM w
       |UNION ALL
       |SELECT l_returnflag, 'n_rows', n_rows FROM w
       |ORDER BY l_returnflag, metric""".stripMargin

  // ---------------------------------------------------------------- sort_multi
  /** Multi-key sort with explicit direction and NULL placement. */
  def sortMulti(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 450000)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(
        col("o_orderstatus").desc_nulls_last,
        col("o_totalprice").asc_nulls_first,
        col("o_orderkey"))

  private val sortMultiOracle =
    """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |WHERE o_totalprice > 450000
      |ORDER BY o_orderstatus DESC NULLS LAST, o_totalprice ASC NULLS FIRST,
      |  o_orderkey""".stripMargin

  // ---------------------------------------------------------------- limit_topk
  /** Global top-k: Spark plans TakeOrderedAndProject — per-partition
    * top-k then a k-row merge on the driver; no full sort at 100 TB.
    */
  def limitTopk(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)

  private val limitTopkOracle =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  // ----------------------------------------------------------------- set_union
  /** UNION (distinct) of two key sets. */
  def setUnion(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey"))
      .union(Tables.supplier(spark, dir).select(col("s_nationkey").as("nationkey")))
      .distinct()
      .orderBy(col("nationkey"))

  private val setUnionOracle =
    """SELECT c_nationkey AS nationkey FROM customer
      |UNION SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin

  // ------------------------------------------------------------- set_intersect
  /** INTERSECT of heavily-shipped part-keys vs high-price parts. */
  def setIntersect(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).filter(col("l_quantity") >= 40)
      .select(col("l_partkey").as("partkey"))
      .intersect(Tables.part(spark, dir).filter(col("p_retailprice") > 990)
        .select(col("p_partkey").as("partkey")))
      .orderBy(col("partkey"))

  private val setIntersectOracle =
    """SELECT l_partkey AS partkey FROM lineitem WHERE l_quantity >= 40
      |INTERSECT
      |SELECT p_partkey FROM part WHERE p_retailprice > 990
      |ORDER BY partkey""".stripMargin

  // ---------------------------------------------------------------- set_except
  /** EXCEPT: large parts never shipped in bulk. */
  def setExcept(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir).filter(col("p_size") >= 45)
      .select(col("p_partkey").as("partkey"))
      .except(Tables.lineitem(spark, dir).filter(col("l_quantity") >= 48)
        .select(col("l_partkey").as("partkey")))
      .orderBy(col("partkey"))

  private val setExceptOracle =
    """SELECT p_partkey AS partkey FROM part WHERE p_size >= 45
      |EXCEPT
      |SELECT l_partkey FROM lineitem WHERE l_quantity >= 48
      |ORDER BY partkey""".stripMargin

  // ------------------------------------------------------------ join_skew_salt
  /** Skew mitigation by salting: the orders⋈lineitem join is keyed on
    * o_orderkey; under a skewed key distribution one reducer would drown.
    * The salted form splits each hot key across S=8 partitions — the big
    * side gets a deterministic salt from its secondary column, the small
    * side is replicated ×8 via explode — and aggregates away the salt
    * afterwards. The oracle is the UNSALTED join: identical results,
    * different physical distribution. (AQE skew-join does this
    * adaptively; the explicit form is the portable insurance policy.)
    */
  def joinSkewSalt(spark: SparkSession, dir: String): DataFrame = {
    val S = 8
    val fact = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"),
        pmod(col("l_partkey") + col("l_linenumber"), lit(S)).as("salt"))
    val dim = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .withColumn("salt", explode(lit((0 until S).toArray)))
    // SHUFFLE_HASH, not the planner's broadcast (r13): the orders FILE
    // is under the auto-broadcast threshold, so the planner broadcast
    // the ×S-EXPLODED dim — a 1.2M-row / ~167 MB broadcast build
    // (NodeProbe: 2.2 s of serial driver collect+build+ship) that also
    // voids the very thing this qid demonstrates: salting only exists
    // to spread a SHUFFLE join's hot keys (a broadcast join has no
    // reducer to drown). The hinted form exchanges both sides on
    // (key, salt) — ~20 MB of narrow rows here, parallel — and is the
    // only shape that survives at scale, where a ×S dim replica can
    // never broadcast. Identical rows either way (the oracle is the
    // unsalted join).
    fact.join(dim.hint("SHUFFLE_HASH"),
        fact("l_orderkey") === dim("o_orderkey") && fact("salt") === dim("salt"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(cents(col("l_quantity"))).as("qty_cents"))
      .orderBy(col("o_orderpriority"))
  }

  private val joinSkewSaltOracle =
    s"""SELECT o_orderpriority, COUNT(*) AS n,
       |       CAST(SUM(${oCents("l_quantity")}) AS BIGINT) AS qty_cents
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ------------------------------------------------------------ join_bucketed
  /** Shuffle-free co-located join via bucketing: both sides are written
    * `bucketBy(8, key)` as managed tables once per (sf, session), then
    * joined — the scan partitioning satisfies the join requirement, so
    * the plan has NO Exchange on either side (asserted in ScalaTest).
    * At 100 TB this is the difference between re-shuffling petabytes per
    * join and reading pre-bucketed data in place; the oracle checks the
    * logical result against the plain join.
    */
  def joinBucketed(spark: SparkSession, dir: String): DataFrame = {
    val tag = Integer.toHexString(dir.hashCode)
    val lt = s"graft_bkt_lineitem_$tag"
    val ot = s"graft_bkt_orders_$tag"
    if (!spark.catalog.tableExists(lt)) {
      // a new session forgets the catalog's tables but their warehouse
      // directories survive — clear them before re-creating
      val wh = spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:")
      Seq(lt, ot).foreach { t =>
        graft.Scratch.deleteRecursively(java.nio.file.Paths.get(wh, t))
      }
      Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_quantity")
        .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(lt)
      Tables.orders(spark, dir)
        .select("o_orderkey", "o_orderstatus")
        .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(ot)
    }
    spark.table(lt)
      .join(spark.table(ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(cents(col("l_quantity"))).as("qty_cents"))
      .orderBy(col("o_orderstatus"))
  }

  private val joinBucketedOracle =
    s"""SELECT o_orderstatus, COUNT(*) AS n,
       |       CAST(SUM(${oCents("l_quantity")}) AS BIGINT) AS qty_cents
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // -------------------------------------------------------------- agg_pivot
  /** Pivot (wide aggregation): order counts per customer segment pivoted
    * by order status. Spark's `pivot` with an explicit value list keeps
    * the plan a single pass (no second job to discover values) — the
    * form that scales. */
  def aggPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("c_mktsegment"))

  private val aggPivotOracle =
    """SELECT c_mktsegment,
      |  CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END), 0) AS BIGINT) AS "F",
      |  CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END), 0) AS BIGINT) AS "O",
      |  CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END), 0) AS BIGINT) AS "P"
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ------------------------------------------------------------- sub_scalar
  /** Scalar subquery: customers whose balance exceeds the global mean
    * (exact integer-cents mean). Catalyst rewrites the scalar subquery
    * into a broadcast cross join of the 1-row aggregate. */
  def subScalar(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val meanBal = c.agg((sum(cents(col("c_acctbal"))).cast("double") / 100.0 /
      count(lit(1)).cast("double")).as("m"))
    c.crossJoin(broadcast(meanBal))
      .filter(cents(col("c_acctbal")).cast("double") / 100.0 > col("m"))
      .select(col("c_custkey"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  private val subScalarOracle =
    s"""SELECT c_custkey, c_acctbal FROM customer
       |WHERE CAST(${oCents("c_acctbal")} AS DOUBLE) / 100.0 >
       |  (SELECT CAST(SUM(${oCents("c_acctbal")}) AS BIGINT) / 100.0
       |     / CAST(COUNT(*) AS DOUBLE) FROM customer)
       |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------- sub_correlated
  /** Correlated subquery (decorrelated by Catalyst): orders above their
    * customer's average order value — expressed as SQL with a correlated
    * scalar subquery so `DecorrelateInnerQuery` does the rewrite. */
  def subCorrelated(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_sub_orders")
    spark.sql(
      s"""SELECT o_orderkey, o_custkey
         |FROM graft_sub_orders o
         |WHERE ${"cast(round(o_totalprice * 100) as bigint)"} >
         |  (SELECT 1.2 * avg(cast(round(i.o_totalprice * 100) as bigint))
         |   FROM graft_sub_orders i WHERE i.o_custkey = o.o_custkey)
         |ORDER BY o_orderkey""".stripMargin)
  }

  private val subCorrelatedOracle =
    """SELECT o_orderkey, o_custkey
      |FROM orders o
      |WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT) >
      |  (SELECT 1.2 * avg(CAST(ROUND(i.o_totalprice * 100) AS BIGINT))
      |   FROM orders i WHERE i.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------- table_merge
  /** MERGE INTO / CDC-upsert semantics at the engine level. A true
    * lakehouse MERGE is environment-blocked (no Delta/Iceberg jars in
    * /opt/spark/jars), but the PHYSICAL shape those formats execute is
    * exactly this: one full-outer join of target and change-batch on the
    * key, then per-row action resolution (DELETE drops the row, UPDATE
    * takes the source column, INSERT materializes the source-only row).
    * The change batch here is derived deterministically from orders so
    * both engines see the same CDC stream: keys %13==0 are deletes,
    * %7==0 are price updates (+10%), and a shifted key range is inserts.
    * At 100 TB both sides hash-partition on the merge key — the single
    * shuffle a partitioned MERGE pays; with a bucketed/cell-layout
    * target it is co-located and shuffle-free on the target side.
    * Output: post-merge per-priority rowcount + exact cents total — the
    * reconciliation numbers a CDC apply job emits.
    */
  /** The merge target: (key, priority, exact cents). */
  private[graft] def mergeTarget(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        cents(col("o_totalprice")).as("price_cents"))

  /** The deterministic change batch: one action per key (D / U / I).
    * Insert keys are shifted past the CURRENT max target key (scalar
    * aggregate, 1-row broadcast cross join) — a constant offset would
    * collide with real orderkeys at a large enough SF and silently turn
    * the inserts into updates. */
  private[graft] def cdcBatch(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val maxKey = orders.agg(max(col("o_orderkey")).as("max_ok"))
    orders
      .filter(col("o_orderkey") % 7 === 0 || col("o_orderkey") % 13 === 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 13 === 0, lit("D")).otherwise(lit("U")).as("op"),
        col("o_orderpriority"),
        // integer div: `/` on longs is double division in the DSL
        expr("(cast(round(o_totalprice * 100) as bigint) * 110) div 100")
          .as("price_cents"))
      .unionByName(orders
        .filter(col("o_orderkey") % 11 === 0)
        .crossJoin(broadcast(maxKey))
        .select((col("o_orderkey") + col("max_ok")).as("o_orderkey"),
          lit("I").as("op"), col("o_orderpriority"),
          cents(col("o_totalprice")).as("price_cents")))
  }

  /** One MERGE application: full-outer key join + action resolution,
    * with MERGE INTO's match guards made explicit — an UPDATE or DELETE
    * whose key is absent from the target is a no-op (not an insert),
    * and an INSERT whose key already exists keeps the target row (not
    * an update). A bare coalesce resolution would silently upsert both
    * malformed cases; real CDC streams contain them (late deletes,
    * replayed inserts). Also the per-microbatch step of the streaming
    * CDC apply (streaming/StreamingOps.streamingCdcMerge). */
  private[graft] def mergeStep(target: DataFrame, cdc: DataFrame): DataFrame = {
    // non-null marker for "key exists in target": survives the
    // full-outer join as null exactly on the not-matched side
    val t = target.withColumn("t_present", lit(true))
    val joined = t.as("t").join(cdc.as("s"), Seq("o_orderkey"), "full_outer")
      .withColumn("matched", coalesce(col("t_present"), lit(false)))
    val takeSource = (col("s.op") === "U" && col("matched")) ||
      (col("s.op") === "I" && !col("matched"))
    joined
      .filter(
        (col("s.op").isNull && col("matched")) || // untouched target row
          (col("s.op") === "U" && col("matched")) || // matched update
          (col("s.op") === "I")) // insert if new, else target passes through
      .select(col("o_orderkey"),
        when(takeSource, col("s.o_orderpriority"))
          .otherwise(col("t.o_orderpriority")).as("o_orderpriority"),
        when(takeSource, col("s.price_cents"))
          .otherwise(col("t.price_cents")).as("price_cents"))
  }

  def tableMerge(spark: SparkSession, dir: String): DataFrame =
    mergeStep(mergeTarget(spark, dir), cdcBatch(spark, dir))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("total_cents"))
      .orderBy(col("o_orderpriority"))

  // private[graft]: stream_live_cdc (streaming/StreamingQueries) is
  // batch-equality-locked to tableMerge, so it shares this oracle text
  // verbatim rather than carrying a drift-prone copy
  private[graft] val tableMergeOracle =
    s"""WITH target AS (
       |  SELECT o_orderkey, o_orderpriority,
       |         ${oCents("o_totalprice")} AS price_cents
       |  FROM orders),
       |cdc AS (
       |  SELECT o_orderkey,
       |         CASE WHEN o_orderkey % 13 = 0 THEN 'D' ELSE 'U' END AS op,
       |         o_orderpriority,
       |         ${oCents("o_totalprice")} * 110 // 100 AS price_cents
       |  FROM orders WHERE o_orderkey % 7 = 0 OR o_orderkey % 13 = 0
       |  UNION ALL
       |  SELECT o_orderkey + (SELECT max(o_orderkey) FROM orders), 'I',
       |         o_orderpriority, ${oCents("o_totalprice")}
       |  FROM orders WHERE o_orderkey % 11 = 0),
       |merged AS (
       |  SELECT CASE WHEN (s.op = 'U' AND t.o_orderkey IS NOT NULL)
       |                OR (s.op = 'I' AND t.o_orderkey IS NULL)
       |              THEN s.o_orderpriority ELSE t.o_orderpriority END
       |           AS o_orderpriority,
       |         CASE WHEN (s.op = 'U' AND t.o_orderkey IS NOT NULL)
       |                OR (s.op = 'I' AND t.o_orderkey IS NULL)
       |              THEN s.price_cents ELSE t.price_cents END AS price_cents
       |  FROM target t FULL OUTER JOIN cdc s ON t.o_orderkey = s.o_orderkey
       |  WHERE (s.op IS NULL AND t.o_orderkey IS NOT NULL)
       |     OR (s.op = 'U' AND t.o_orderkey IS NOT NULL)
       |     OR (s.op = 'I'))
       |SELECT o_orderpriority, COUNT(*) AS n,
       |       CAST(SUM(price_cents) AS BIGINT) AS total_cents
       |FROM merged GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  // ----------------------------------------------------------- agg_incremental
  /** Incremental aggregate maintenance (materialized-view refresh): the
    * standing per-priority aggregate is updated by FOLDING IN a late
    * batch's partial aggregate — base ⊕ delta via a full-outer join on
    * the group key — instead of rescanning the fact table. COUNT and
    * SUM are the mergeable pair (AVG = SUM/COUNT derives; MIN/MAX merge
    * the same way; only non-algebraic aggregates like exact DISTINCT
    * need a re-scan or a sketch). At 100 TB this is the difference
    * between touching the delta (GBs) and the history (TBs) on every
    * refresh; the oracle IS the from-scratch recompute over the full
    * table, so the driver checks the refresh algebra exactly. */
  def aggIncremental(spark: SparkSession, dir: String): DataFrame = {
    val all = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        cents(col("o_totalprice")).as("price_cents"))
    def partial(df: DataFrame): DataFrame =
      df.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("total_cents"))
    val base = partial(all.filter(col("o_orderkey") % 17 =!= 0))
    val delta = partial(all.filter(col("o_orderkey") % 17 === 0))
    base.as("b").join(delta.as("d"), Seq("o_orderpriority"), "full_outer")
      .select(col("o_orderpriority"),
        (coalesce(col("b.n"), lit(0L)) + coalesce(col("d.n"), lit(0L))).as("n"),
        (coalesce(col("b.total_cents"), lit(0L)) +
          coalesce(col("d.total_cents"), lit(0L))).as("total_cents"))
      .orderBy(col("o_orderpriority"))
  }

  private val aggIncrementalOracle =
    s"""SELECT o_orderpriority, COUNT(*) AS n,
       |       CAST(SUM(${oCents("o_totalprice")}) AS BIGINT) AS total_cents
       |FROM orders GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  // ------------------------------------------------------------ skyline_pareto
  /** 2-D skyline (Pareto frontier) over parts: minimize retail price,
    * maximize size — "no other part is both cheaper and larger". The
    * implementation and the oracle deliberately use DIFFERENT
    * formulations so the oracle cross-checks the algorithm against the
    * declarative spec: Spark computes the frontier with the sort +
    * prefix-max sweep (a pair sorted by (price asc, size desc) is
    * dominated iff some strictly-preceding pair has size ≥ its own),
    * the oracle with the textbook NOT EXISTS dominance predicate.
    * Scale: the sweep needs a GLOBAL prefix max, but only over the
    * DISTINCT (price, size) pairs — the first groupBy shrinks 100 TB of
    * parts to the value-domain cross product, so the single-partition
    * window is O(|domain|), not O(rows); for unbounded domains the
    * two-phase variant (per-bucket skyline, then sweep the union of
    * bucket skylines) drops in without changing the result. */
  def skylinePareto(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = Tables.part(spark, dir)
      .groupBy(cents(col("p_retailprice")).as("price_c"),
        col("p_size").cast("long").as("size"))
      .agg(count(lit(1)).as("n_parts"))
    // strictly-preceding frame: a row never competes with itself, and
    // equal-price pairs (distinct sizes, sorted desc) are correctly
    // dominated by the larger size ahead of them
    val w = Window.orderBy(col("price_c"), col("size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    pairs.withColumn("best", max(col("size")).over(w))
      .filter(col("best").isNull || col("size") > col("best"))
      .select(col("price_c"), col("size"), col("n_parts"))
      .orderBy(col("price_c"))
  }

  private val skylineParetoOracle =
    s"""WITH pairs AS (
       |  SELECT ${oCents("p_retailprice")} AS price_c,
       |         CAST(p_size AS BIGINT) AS size, COUNT(*) AS n_parts
       |  FROM part GROUP BY 1, 2)
       |SELECT price_c, size, n_parts FROM pairs p
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM pairs q
       |  WHERE q.price_c <= p.price_c AND q.size >= p.size
       |    AND (q.price_c < p.price_c OR q.size > p.size))
       |ORDER BY price_c""".stripMargin

  // --------------------------------------------------- shared co-purchase graph
  /** FAMILY-SHARED directed co-purchase pairs with support —
    * (src, dst, support) for src ≠ dst, support = co-occurrence count
    * over per-order row pairs (symmetric, so the src<dst half equals
    * the canonical counts). Memoized per (application, dir), persisted
    * MEMORY_AND_DISK_SER: this ONE basket-explode + groupBy is the
    * expensive subplan behind the whole graph family, and round 5
    * charged it three times per sweep (graph_degree_dist's directed
    * build, graph_jaccard's canon build, graph_pagerank's directed
    * build — the driver billed those three 49 s together). Every graph
    * qid now derives from this cached relation: the directed edge set
    * is a projection (groupBy output is already distinct), the mined
    * canonical graph is the src<dst ∧ support≥2 filter, degrees are a
    * re-aggregation.
    *
    * Scale contract: the unpruned co-occurrence relation grows with
    * the corpus, so it is cached SERIALIZED and disk-backed — the
    * round-5 rehearsal showed a DESERIALIZED cache of this relation
    * spilling at 20× and costing a lone consumer more than recompute
    * (graph_jaccard 4.6 → 16.5 s); the calculus changes when three
    * queries amortize one build and the cache bytes are compact
    * SER blocks (re-measured at 10×/20× — see docs/DESIGN.md). At
    * real corpus scale this relation is exactly what a production
    * pipeline materializes ONCE per corpus as an ETL table; the
    * family-scope disk-backed cache is the single-node analog. */
  private[graft] def coPurchaseAll(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, ("coPurchaseAll", dir), s"coPurchaseAll ($dir)") {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      // Pair generation via per-order baskets, not a self-join: the
      // self-join shuffles lineitem TWICE (both join sides) and then
      // shuffles the pair stream a third time for the support count;
      // collecting each order's basket needs ONE shuffle of lineitem,
      // pairs are generated map-side by the double explode, and only
      // the (src, dst) support groupBy shuffles after that. Duplicate
      // parts stay in the basket and the inequality filter is on the
      // VALUE, so row-pair multiplicity — hence every support count —
      // is identical to the row-level self-join with a.pk ≠ b.pk.
      // Per-basket work is O(k²) either way (k = order size, ≤ 7 in
      // this schema); a cart-size cap is the standard guard if an
      // upstream corpus had unbounded baskets.
      val baskets = li.groupBy(col("ok")).agg(collect_list(col("pk")).as("ps"))
      val all = baskets
        .select(explode(col("ps")).as("src"), col("ps"))
        .select(col("src"), explode(col("ps")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("support"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      // eager, TIMED materialization (the shingleBaskets pattern):
      // this build is the graph family's dominant shared ETL, and
      // fusing it lazily into whichever graph qid ran first made
      // that qid's bench number unattributable — r8's suite maximum
      // (graph_degree_dist, 11.6 s) was mostly this build plus cold
      // codegen, indistinguishable from a plan regression in the
      // artifact. One count scan of the freshly persisted relation
      // buys a logged build time; consumers read the same cache.
      val t0 = System.nanoTime()
      val n = all.count()
      graft.BuildLog.log(f"coPurchaseAll built in ${(System.nanoTime() - t0) / 1e9}%.2f s ($n pairs, $dir)")
      all
    }

  /** Canonical co-purchase pairs (u, v, support) with u < v — a cheap
    * filter-projection of the family-shared [[coPurchaseAll]] cache. */
  private[graft] def coPurchasePairs(spark: SparkSession, dir: String): DataFrame =
    coPurchaseAll(spark, dir)
      .filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"), col("support"))

  /** Directed distinct co-purchase pairs (src, dst) — both directions,
    * all supports: a projection of [[coPurchaseAll]] (its groupBy
    * output is already distinct per direction). */
  private def coPurchaseDirected(spark: SparkSession, dir: String): DataFrame =
    coPurchaseAll(spark, dir).select(col("src"), col("dst"))

  /** Canonical SUPPORT-PRUNED edges (u, v): pairs co-occurring in ≥ 2
    * orders — the association-rule support prune every production
    * co-occurrence graph applies before structure mining. The mined
    * graph graph_triangles / graph_jaccard / graph_shortest_path all
    * consume; ~300× smaller than the unpruned pair set (sf0.1: 3,853
    * vs 1.196M rows), so its own deserialized cache is free at any
    * scale the prune holds — and since the build is now a filter of
    * the cached [[coPurchaseAll]], the first canon consumer no longer
    * pays a full self-join. Memoized per (application, dir), the
    * shinglePairStats live-storage contract. */
  private[graft] def coPurchaseCanon(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, ("coPurchaseCanon", dir), s"coPurchaseCanon ($dir)") {
      coPurchasePairs(spark, dir)
        .filter(col("support") >= 2)
        .select(col("u"), col("v"))
        .persist()
    }

  // ----------------------------------------------------------- graph_triangles
  /** Triangle counting over the co-purchase graph: per-node triangle
    * participation, top-10. Spark orients each undirected edge from its
    * LOWER-DEGREE endpoint (ties by id) — the classic wedge-volume
    * bound: every wedge is generated at its lowest-degree corner, so
    * per-node wedge work is O(deg · min(deg, …)) and the hub that would
    * generate deg² wedges under id-orientation generates almost none
    * (Σ wedges = O(m^{3/2}) for any graph). The DuckDB oracle orients
    * by id instead — far simpler SQL, identical triangle SET (a
    * triangle exists independent of orientation), so the oracle
    * cross-checks the optimized algorithm against the naive spec, the
    * skyline_pareto pattern. Wedge join + closing-edge semi-join are
    * both equi-joins on node pairs; nothing is ever all-pairs.
    *
    * Edges carry a SUPPORT ≥ 2 threshold (the pair co-occurs in at
    * least two orders) — the standard association-rule support prune:
    * a single co-purchase is noise, and keeping it makes the graph
    * nearly complete (measured sf0.1: 1.196M single-support pairs vs
    * 3,853 real ones, 49M wedges vs thousands — 12 s of wall time
    * counting triangles of coincidences). Support pruning is what
    * every production co-occurrence graph does BEFORE structure
    * mining, and it is what makes the operator's cost track signal,
    * not fixture density. */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    val canon = coPurchaseCanon(spark, dir)
    val und = canon.unionByName(
      canon.select(col("v").as("u"), col("u").as("v")))
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("d"))
    // orient u -> v iff (d(u), u) < (d(v), v); each undirected edge
    // survives exactly once
    val oriented = und
      .join(deg.select(col("u"), col("d").as("du")), "u")
      .join(deg.select(col("u").as("v"), col("d").as("dv")), "v")
      .filter(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")))
      .select(col("u"), col("v"))
      // feeds the wedge join AND the closing-edge check of the RETURNED
      // lazy plan, so the operator cannot unpersist it itself; freed by
      // the caller's clearCache or LRU eviction (pageRank's contract)
      .persist()
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.v") === col("e2.u"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    val tris = wedges.join(oriented.select(col("u").as("a"), col("v").as("c")),
      Seq("a", "c"), "leftsemi")
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
      .orderBy(col("n_tri").desc, col("node"))
      .limit(10)
  }

  private val graphTrianglesOracle =
    """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (
      |  SELECT a.pk AS u, b.pk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |tri AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM e e1 JOIN e e2 ON e1.v = e2.u
      |  WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.u = e1.u AND e3.v = e2.v)),
      |nodes AS (
      |  SELECT unnest([a, b, c]) AS node FROM tri)
      |SELECT node, COUNT(*) AS n_tri FROM nodes
      |GROUP BY node ORDER BY n_tri DESC, node LIMIT 10""".stripMargin

  // ------------------------------------------------------------ graph_jaccard
  /** Neighborhood-Jaccard link prediction on the co-purchase graph:
    * score NON-adjacent part pairs by |N(u)∩N(v)| / |N(u)∪N(v)| — the
    * classic "customers who bought these also bought..." candidate
    * generator (Liben-Nowell & Kleinberg 2003). Candidates come only
    * from wedge enumeration (pairs sharing ≥ 1 neighbor), so the cost
    * is O(Σ_w d(w)²) over the SUPPORT-PRUNED graph (same ≥ 2 threshold
    * as graph_triangles), never all-pairs; at crawl scale the same
    * shape additionally caps hub degree before the wedge join. The
    * score is exact integer arithmetic end to end: intersection from
    * the wedge count, union as d(u)+d(v)−inter, and the ratio as
    * FLOOR(1e6·inter/union) — integer floor-div is bitwise portable
    * across engines, no IEEE rounding boundary at all. One shuffle
    * per groupBy, one self-join on the wedge center. */
  def graphJaccard(spark: SparkSession, dir: String): DataFrame = {
    // canon is a cheap filter of the persisted family-shared
    // coPurchasePairs; und, the wedge join's two sides, the degree
    // count, and the anti join all derive from it
    val canon = coPurchaseCanon(spark, dir)
    val und = canon.unionByName(
      canon.select(col("v").as("u"), col("u").as("v")))
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val pairs = und.as("e1").join(und.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .groupBy(col("e1.v").as("u"), col("e2.v").as("v"))
      .agg(count(lit(1)).as("n_common"))
      // predicted links only: drop pairs that are already edges
      .join(canon, Seq("u", "v"), "leftanti")
    pairs
      .join(deg.select(col("u"), col("d").as("du")), "u")
      .join(deg.select(col("u").as("v"), col("d").as("dv")), "v")
      .withColumn("n_union", col("du") + col("dv") - col("n_common"))
      .select(col("u"), col("v"), col("n_common"), col("n_union"),
        expr("(1000000 * n_common) div n_union").as("jacc_e6"))
      .orderBy(col("jacc_e6").desc, col("u"), col("v"))
      .limit(20)
  }

  private val graphJaccardOracle =
    """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |canon AS (
      |  SELECT a.pk AS u, b.pk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |und AS (
      |  SELECT u, v FROM canon UNION ALL SELECT v, u FROM canon),
      |deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
      |pairs AS (
      |  SELECT e1.v AS u, e2.v AS v, COUNT(*) AS n_common
      |  FROM und e1 JOIN und e2 ON e1.u = e2.u AND e1.v < e2.v
      |  GROUP BY 1, 2),
      |nonedge AS (
      |  SELECT p.* FROM pairs p
      |  WHERE NOT EXISTS (SELECT 1 FROM canon c WHERE c.u = p.u AND c.v = p.v))
      |SELECT p.u, p.v, p.n_common,
      |       da.d + db.d - p.n_common AS n_union,
      |       (1000000 * p.n_common) // (da.d + db.d - p.n_common) AS jacc_e6
      |FROM nonedge p
      |JOIN deg da ON da.u = p.u JOIN deg db ON db.u = p.v
      |ORDER BY jacc_e6 DESC, p.u, p.v LIMIT 20""".stripMargin

  // --------------------------------------------------------------- hier_depth
  /** Hierarchy flattening — the recursive-CTE query class Spark lacks
    * natively (org charts, BOM explosions, category trees), answered
    * by [[GraphOps.rootedDepth]]'s O(log depth) pointer doubling. The
    * fixture has no parent column, so a deterministic random forest is
    * DERIVED portably: parent(p) = 1 + h32(p) mod (p−1) for p > 1 — a
    * uniform ancestor below each node, the classical random recursive
    * tree (expected depth Θ(log n), so doubling settles in ~5 rounds).
    * Both engines build the SAME tree from the same md5 bytes; the
    * oracle then walks it with a true recursive CTE — cross-engine
    * evidence that the iterative loop IS the recursion. Output: depth
    * histogram + per-depth node-id checksum (order-free exact sum). */
  def hierDepth(spark: SparkSession, dir: String): DataFrame = {
    val parents = Tables.part(spark, dir).select(
      col("p_partkey").as("node"),
      when(col("p_partkey") === 1, lit(1L)).otherwise(
        expr("1 + cast(conv(substring(md5(concat('hier:', cast(p_partkey as string))), 1, 8), 16, 10) as bigint) % (p_partkey - 1)"))
        .as("parent"))
    GraphOps.rootedDepth(parents)
      .groupBy(col("depth"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("node_sum"))
      .orderBy(col("depth"))
  }

  private val hierDepthOracle =
    """WITH RECURSIVE parents AS (
      |  SELECT p_partkey AS node,
      |         CASE WHEN p_partkey = 1 THEN 1
      |              ELSE 1 + CAST(('0x' || substr(md5(concat('hier:', CAST(p_partkey AS VARCHAR))), 1, 8)) AS BIGINT) % (p_partkey - 1)
      |         END AS parent
      |  FROM part),
      |walk AS (
      |  SELECT node, CAST(0 AS BIGINT) AS depth FROM parents WHERE node = 1
      |  UNION ALL
      |  SELECT p.node, w.depth + 1 FROM parents p
      |  JOIN walk w ON p.parent = w.node WHERE p.node <> 1)
      |SELECT depth, COUNT(*) AS n_nodes, CAST(SUM(node) AS BIGINT) AS node_sum
      |FROM walk GROUP BY depth ORDER BY depth""".stripMargin

  // ------------------------------------------------------- graph_shortest_path
  /** Bounded-hop BFS distance from a deterministic source (the MAX-
    * DEGREE part in the support-pruned co-purchase graph, total-order
    * tie-broken — the hub anchors the giant component; the min-id
    * anchor tried first sat in a 2-node islet and proved nothing) —
    * "how many co-purchase steps away is everything from this anchor".
    * Six hops of frontier push on owner blocks ([[GraphOps.boundedBfs]],
    * which also picks the source, in its block build job; same
    * bounded-iteration contract as graph_pagerank). The oracle is a
    * DuckDB recursive CTE whose UNION-distinct frontier mirrors the
    * same 6-hop bound; output is the per-distance census with an
    * order-free node checksum. Unreached-within-6 nodes are absent on
    * both sides by construction. */
  def graphShortestPath(spark: SparkSession, dir: String): DataFrame =
    GraphOps.boundedBfs(coPurchaseCanon(spark, dir).select(col("u").as("src"), col("v").as("dst")), hops = 6)
      .groupBy(col("dist"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("node_sum"))
      .orderBy(col("dist"))

  private val graphShortestPathOracle =
    """WITH RECURSIVE li AS (
      |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |canon AS (
      |  SELECT a.pk AS u, b.pk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |e AS (SELECT u, v FROM canon UNION ALL SELECT v, u FROM canon),
      |src AS (
      |  SELECT u FROM (SELECT u, COUNT(*) AS d FROM e GROUP BY u)
      |  ORDER BY d DESC, u LIMIT 1),
      |walk AS (
      |  SELECT u AS node, CAST(0 AS BIGINT) AS dist FROM src
      |  UNION
      |  SELECT e.v, w.dist + 1 FROM walk w JOIN e ON e.u = w.node
      |  WHERE w.dist < 6),
      |best AS (SELECT node, MIN(dist) AS dist FROM walk GROUP BY node)
      |SELECT dist, COUNT(*) AS n_nodes, CAST(SUM(node) AS BIGINT) AS node_sum
      |FROM best GROUP BY dist ORDER BY dist""".stripMargin

  // --------------------------------------------------------- graph_degree_dist
  /** Degree distribution of the co-purchase graph in log₂ bins — the
    * first thing anyone asks of a graph at scale (is it heavy-tailed?
    * where do the hubs start?), and the audit that justifies
    * graph_triangles' degree orientation. The log₂ bin is computed
    * WITHOUT floats: bucket = string length of the degree's binary
    * form (conv/bin in the two engines) = ⌊log₂ d⌋ + 1 exactly, for
    * any BIGINT. One groupBy for degrees, one 6-ish-ary groupBy for
    * bins; both map-side combinable. */
  def graphDegreeDist(spark: SparkSession, dir: String): DataFrame = {
    val und = coPurchaseDirected(spark, dir)
      .select(col("src").as("u"), col("dst").as("v"))
    und.groupBy(col("u")).agg(count(lit(1)).as("d"))
      .groupBy(length(conv(col("d"), 10, 2)).cast("long").as("log2_bin"))
      .agg(count(lit(1)).as("n_nodes"), min(col("d")).as("min_deg"),
        max(col("d")).as("max_deg"))
      .orderBy(col("log2_bin"))
  }

  private val graphDegreeDistOracle =
    """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |und AS (
      |  SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
      |deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY u)
      |SELECT CAST(length(bin(d)) AS BIGINT) AS log2_bin,
      |       COUNT(*) AS n_nodes, MIN(d) AS min_deg, MAX(d) AS max_deg
      |FROM deg GROUP BY 1 ORDER BY log2_bin""".stripMargin

  // --------------------------------------------------------------- table_scd2
  /** Slowly-Changing-Dimension Type 2 build — the warehouse verb that
    * turns an event/change stream into versioned dimension rows with
    * validity intervals. Source: each customer's order stream, tracking
    * o_orderpriority as the versioned attribute. Two window passes on
    * the SAME (custkey, date, orderkey) order: pass 1 keeps only
    * change points (attr ≠ lag(attr) — consecutive-equal values
    * collapse, which is what makes it SCD2 and not a snapshot log);
    * pass 2 numbers versions and closes each interval with
    * lead(valid_from) (NULL = current). Both windows share one
    * partitioning, so the plan carries ONE shuffle on custkey; at
    * 100 TB this is the standard one-pass history rebuild, and
    * incremental maintenance rides table_merge on (key, valid_from). */
  def tableScd2(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .withColumn("prev", lag(col("o_orderpriority"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("o_orderpriority"))
      .withColumn("version", row_number().over(w))
      .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
      .select(col("o_custkey"), col("version"),
        col("o_orderpriority").as("attr"),
        col("o_orderdate").as("valid_from"), col("valid_to"),
        when(col("valid_to").isNull, 1L).otherwise(0L).as("is_current"))
      .orderBy(col("o_custkey"), col("version"))
  }

  // ----------------------------------------------------------- table_timetravel
  /** AS-OF read over the SCD2 history — the query half of time travel
    * (the lakehouse formats stay environment-blocked, but "what did
    * this table say on date D" is an SQL shape, not a format feature):
    * pick each key's version whose [valid_from, valid_to) interval
    * covers the probe date. Exactly one interval per key can match (the
    * SCD2 invariant table_scd2's spec pins: contiguous, non-overlapping
    * half-open intervals), so the filter IS the snapshot — no window,
    * no dedup pass. Output is the compact per-attr census of that
    * snapshot with an order-free key checksum, so the driver hash
    * pins every row of the reconstructed state, not just its size.
    * At 100 TB the history table is partitioned by valid_from month
    * and the probe prunes to partitions overlapping D. */
  def tableTimetravel(spark: SparkSession, dir: String): DataFrame = {
    // probe MID-history (TPC-H order dates span 1992..1998): a
    // post-history probe date would degenerate to the is_current
    // (valid_to IS NULL) rows and never exercise interval selection —
    // 1995-06-15 reconstructs a state where most matched versions are
    // CLOSED intervals superseded by later ones
    val asOf = lit("1995-06-15").cast("timestamp")
    tableScd2(spark, dir)
      .filter(col("valid_from") <= asOf &&
        (col("valid_to").isNull || col("valid_to") > asOf))
      .groupBy(col("attr"))
      .agg(count(lit(1)).as("n_cust"), sum(col("o_custkey")).as("custkey_sum"))
      .orderBy(col("attr"))
  }

  private val tableTimetravelOracle =
    """WITH marked AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
      |         lag(o_orderpriority) OVER (PARTITION BY o_custkey
      |           ORDER BY o_orderdate, o_orderkey) AS prev
      |  FROM orders),
      |changes AS (
      |  SELECT * FROM marked
      |  WHERE prev IS NULL OR prev <> o_orderpriority),
      |hist AS (
      |  SELECT o_custkey, o_orderpriority AS attr,
      |         o_orderdate AS valid_from,
      |         lead(o_orderdate) OVER (PARTITION BY o_custkey
      |           ORDER BY o_orderdate, o_orderkey) AS valid_to
      |  FROM changes)
      |SELECT attr, COUNT(*) AS n_cust,
      |       CAST(SUM(o_custkey) AS BIGINT) AS custkey_sum
      |FROM hist
      |WHERE valid_from <= TIMESTAMP '1995-06-15'
      |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '1995-06-15')
      |GROUP BY attr ORDER BY attr""".stripMargin

  private val tableScd2Oracle =
    """WITH marked AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
      |         lag(o_orderpriority) OVER (PARTITION BY o_custkey
      |           ORDER BY o_orderdate, o_orderkey) AS prev
      |  FROM orders),
      |changes AS (
      |  SELECT * FROM marked
      |  WHERE prev IS NULL OR prev <> o_orderpriority)
      |SELECT o_custkey,
      |       row_number() OVER w AS version,
      |       o_orderpriority AS attr,
      |       o_orderdate AS valid_from,
      |       lead(o_orderdate) OVER w AS valid_to,
      |       CASE WHEN lead(o_orderdate) OVER w IS NULL
      |            THEN 1 ELSE 0 END AS is_current
      |FROM changes
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, version""".stripMargin

  // ------------------------------------------------------------ graph_pagerank
  /** PageRank over the co-purchase graph — parts are linked when some
    * order contains both (the "customers who bought X also bought Y"
    * graph), 3 damped iterations, top-20 by final rank. The iteration
    * lives in [[GraphOps.pageRank]]: all-integer e6 arithmetic, one
    * co-keyed join + groupBy-sum per round (the Pregel round as
    * relational algebra), bitwise-deterministic so the DuckDB oracle
    * can unroll the SAME three rounds as CTEs and hash-compare. Edges
    * are a projection of the family-shared [[coPurchaseAll]] cache;
    * pageRank itself persists the degree-joined relation
    * hash-partitioned on the join key so each iteration shuffles only
    * the small ranks side. */
  def graphPagerank(spark: SparkSession, dir: String): DataFrame = {
    val edges = coPurchaseDirected(spark, dir)
    GraphOps.pageRank(edges, 3)
      .orderBy(col("rank_e6").desc, col("node"))
      .limit(20)
      .select(col("node"), col("rank_e6"))
  }

  private val graphPagerankOracle = {
    def round(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT e.dst AS node,
         |         150000 + (85 * CAST(SUM(r.rank_e6 // d.deg) AS BIGINT)) // 100 AS rank_e6
         |  FROM edges e JOIN $prev r ON e.src = r.node
         |               JOIN deg d ON e.src = d.src
         |  GROUP BY e.dst)""".stripMargin
    s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |edges AS (
       |  SELECT DISTINCT a.pk AS src, b.pk AS dst
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
       |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
       |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank_e6 FROM deg),
       |${round("r0", "r1")},
       |${round("r1", "r2")},
       |${round("r2", "r3")}
       |SELECT node, CAST(rank_e6 AS BIGINT) AS rank_e6
       |FROM r3 ORDER BY rank_e6 DESC, node LIMIT 20""".stripMargin
  }

  def queries: Seq[GQuery] = Seq(
    GQuery("graph_pagerank", graphPagerank, Some(graphPagerankOracle),
      "3-iteration integer PageRank on the co-purchase graph, top-20"),
    GQuery("table_scd2", tableScd2, Some(tableScd2Oracle),
      "SCD Type-2 history build: change compression + validity intervals"),
    GQuery("table_timetravel", tableTimetravel, Some(tableTimetravelOracle),
      "AS-OF snapshot read over the SCD2 history (time-travel query half)"),
    GQuery("hier_depth", hierDepth, Some(hierDepthOracle),
      "recursive-CTE hierarchy flatten via O(log d) pointer doubling"),
    GQuery("graph_jaccard", graphJaccard, Some(graphJaccardOracle),
      "neighborhood-Jaccard link prediction, exact integer floor-div score"),
    GQuery("graph_shortest_path", graphShortestPath, Some(graphShortestPathOracle),
      "6-hop BFS census from a deterministic anchor vs recursive-CTE oracle"),
    GQuery("graph_triangles", graphTriangles, Some(graphTrianglesOracle),
      "degree-ordered triangle counting vs naive id-ordered spec oracle"),
    GQuery("graph_degree_dist", graphDegreeDist, Some(graphDegreeDistOracle),
      "log2-binned degree distribution, float-free binning"),
    GQuery("skyline_pareto", skylinePareto, Some(skylineParetoOracle),
      "2-D Pareto frontier: sweep algorithm vs NOT EXISTS spec oracle"),
    GQuery("agg_incremental", aggIncremental, Some(aggIncrementalOracle),
      "incremental MV refresh: base + delta partials merged, == full scan"),
    GQuery("table_merge", tableMerge, Some(tableMergeOracle),
      "MERGE/CDC upsert: full-outer key join + action resolution"),
    GQuery("agg_pivot", aggPivot, Some(aggPivotOracle),
      "pivot wide aggregation with explicit value list"),
    GQuery("sub_scalar", subScalar, Some(subScalarOracle),
      "scalar subquery vs global aggregate (broadcast 1-row join)"),
    GQuery("sub_correlated", subCorrelated, Some(subCorrelatedOracle),
      "correlated scalar subquery, Catalyst-decorrelated"),
    GQuery("join_skew_salt", joinSkewSalt, Some(joinSkewSaltOracle),
      "salted join for skewed keys (result-identical to plain join)"),
    GQuery("join_bucketed", joinBucketed, Some(joinBucketedOracle),
      "bucketed co-located join, shuffle-free on both sides"),
    GQuery("sql_surface", sqlSurface, Some(q5Sql),
      "one ANSI SQL text (TPC-H Q5 shape) runs verbatim on both engines"),
    GQuery("q3_shipping", q3Shipping, Some(q3Oracle),
      "TPC-H Q3 shape: 3-way join, exact integer revenue, global top-10"),
    GQuery("q10_returns", q10Returns, Some(q10Oracle),
      "TPC-H Q10 shape: 4-way join with broadcast dim, top-20 lost revenue"),
    GQuery("q1_pricing", q1Pricing, Some(q1Oracle),
      "flagship TPC-H Q1-shaped pricing summary (scan+filter+agg+sort)"),
    GQuery("scan_parquet", scanParquet, Some(scanParquetOracle),
      "plain vectorized parquet scan"),
    GQuery("scan_pruned", scanPruned, Some(scanPrunedOracle),
      "column pruning + predicate pushdown into parquet"),
    GQuery("source_csv", sourceCsv, Some(sourceCsvOracle),
      "CSV source round trip: explicit schema, header/sep options, broadcast dim join"),
    GQuery("source_orc", sourceOrc, Some(sourceOrcOracle),
      "ORC source round trip with predicate pushdown on the ORC scan"),
    GQuery("scan_schema_evolve", scanSchemaEvolve, Some(scanSchemaEvolveOracle),
      "mergeSchema read across two parquet generations with an added column"),
    GQuery("agg_argmax", aggArgmax, Some(aggArgmaxOracle),
      "ARGMAX/ARGMIN via max_by/min_by on a unique composite key"),
    GQuery("source_jsonl", sourceJsonl, Some(sourceJsonlOracle),
      "JSON-lines sink + explicit-schema source round trip"),
    GQuery("source_binaryfile", sourceBinaryFile, Some(sourceBinaryFileOracle),
      "binaryFile whole-file source: multimodal manifest + content hash"),
    GQuery("source_json_col", sourceJsonCol, Some(sourceJsonColOracle),
      "JSON-in-string extraction (events.props)"),
    GQuery("filter_pred", filterPred, Some(filterPredOracle),
      "BETWEEN / IN / LIKE / NOT predicate combos"),
    GQuery("project_expr", projectExpr, Some(projectExprOracle),
      "arithmetic, CASE WHEN, cast projection"),
    GQuery("join_inner", joinInner, Some(joinInnerOracle),
      "shuffle equi inner join + aggregate"),
    GQuery("join_broadcast", joinBroadcast, Some(joinBroadcastOracle),
      "broadcast-hash join of small dim against fact"),
    GQuery("join_left", joinLeft, Some(joinLeftOracle),
      "left outer join preserving unmatched"),
    GQuery("join_full", joinFull, Some(joinFullOracle),
      "full outer join of keyed aggregates"),
    GQuery("join_semi", joinSemi, Some(joinSemiOracle),
      "left-semi existence join"),
    GQuery("join_anti", joinAnti, Some(joinAntiOracle),
      "left-anti negated-existence join"),
    GQuery("join_theta", joinTheta, Some(joinThetaOracle),
      "band join (equi key + date-range predicate)"),
    GQuery("agg_hash", aggHash, Some(aggHashOracle),
      "partial+final hash aggregation, mixed aggregates"),
    GQuery("agg_distinct", aggDistinct, Some(aggDistinctOracle),
      "multi COUNT(DISTINCT) aggregation"),
    GQuery("agg_approx_distinct", aggApproxDistinct, Some(aggApproxDistinctOracle),
      "HLL++ approx distinct: exact count + 5% accuracy-bound assertion"),
    GQuery("agg_grouping_sets", aggGroupingSets, Some(aggGroupingSetsOracle),
      "ROLLUP multi-level aggregation with grouping_id"),
    GQuery("agg_having", aggHaving, Some(aggHavingOracle),
      "post-aggregation HAVING filter"),
    GQuery("agg_stats", aggStats, Some(aggStatsOracle),
      "stddev/var/corr/covar/percentile statistics"),
    GQuery("agg_corr_matrix", aggCorrMatrix, Some(aggCorrMatrixOracle),
      "pairwise correlation matrix from exact integer moments, one scan"),
    GQuery("agg_mode", aggMode, Some(aggModeOracle),
      "deterministic exact mode: count-rank with total-order tiebreak"),
    GQuery("agg_histogram", aggHistogram, Some(aggHistogramOracle),
      "exact fixed-bin histogram via integer bucket arithmetic"),
    GQuery("agg_weighted", aggWeighted, Some(aggWeightedOracle),
      "quantity-weighted average via exact integer num/den + one division"),
    GQuery("agg_bool", aggBool, Some(aggBoolOracle),
      "boolean aggregates bool_and/bool_or (data-quality assertions)"),
    GQuery("set_ops_all", setOpsAll, Some(setOpsAllOracle),
      "multiset INTERSECT ALL / EXCEPT ALL with duplicate preservation"),
    GQuery("join_fuzzy", joinFuzzy, Some(joinFuzzyOracle),
      "blocked fuzzy entity-resolution join under edit distance <= 1"),
    GQuery("join_lateral", joinLateral, Some(lateralSql),
      "ANSI LATERAL correlated-subquery join, one SQL text on both engines"),
    GQuery("join_null_safe", joinNullSafe, Some(joinNullSafeOracle),
      "null-safe equality join: NULL keys match (IS NOT DISTINCT FROM)"),
    GQuery("agg_filtered", aggFiltered, Some(aggFilteredOracle),
      "FILTER-clause aggregates: N filtered measures in one pass"),
    GQuery("agg_percentile", aggPercentile, Some(aggPercentileOracle),
      "exact p25/p50/p75 quantiles per group over integer cents"),
    GQuery("agg_listagg", aggListagg, Some(aggListaggOracle),
      "ordered string aggregation (LISTAGG) keyed by a second column"),
    GQuery("unpivot_long", unpivotLong, Some(unpivotLongOracle),
      "wide-to-long UNPIVOT/melt of an aggregated relation"),
    GQuery("agg_collect", aggCollect, Some(aggCollectOracle),
      "collect_set list aggregation (sorted for determinism)"),
    GQuery("sort_multi", sortMulti, Some(sortMultiOracle),
      "multi-key sort, explicit direction + NULL placement"),
    GQuery("limit_topk", limitTopk, Some(limitTopkOracle),
      "global top-k via TakeOrderedAndProject"),
    GQuery("set_union", setUnion, Some(setUnionOracle),
      "UNION distinct"),
    GQuery("set_intersect", setIntersect, Some(setIntersectOracle),
      "INTERSECT"),
    GQuery("set_except", setExcept, Some(setExceptOracle),
      "EXCEPT")
  )
}
