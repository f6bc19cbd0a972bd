package graft.functions

import graft.{Det, GQuery}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, MapType, StringType}

/** Scalar function families + the engine's extension points
  * (SURVEY.md §2.C "Scalar function families" / "UDF surface").
  *
  * The reference's extension model is user-supplied `WorkerLogic` /
  * `ParameterServerLogic` callbacks; the Spark-native equivalents are
  * (in preference order) built-in codegen'd functions, higher-order
  * array functions, and — only when genuinely needed — `Aggregator`
  * UDAFs and scalar UDFs. Every family below leans on built-ins so the
  * hot path stays inside whole-stage codegen.
  */
object FunctionQueries {
  import Det._

  // ------------------------------------------------------------------ fn_string
  /** String family: case, trim, substring, concat, split, length, pad,
    * regexp, levenshtein — on document text (what the text pipeline uses).
    */
  def fnString(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") < 100)
      .select(
        col("doc_id"),
        upper(substring(col("text"), 1, 12)).as("head_upper"),
        length(col("text")).as("len"),
        size(split(col("text"), " ")).as("n_tokens"),
        lpad(col("lang"), 4, "_").as("lang_pad"),
        regexp_extract(col("text"), "^[a-z]+", 0).as("first_word"),
        concat_ws("|", col("lang"), col("source")).as("tag"),
        levenshtein(col("lang"), lit("en")).as("lang_dist"))
      .orderBy(col("doc_id"))

  private val fnStringOracle =
    """SELECT doc_id,
      |  UPPER(SUBSTRING(text, 1, 12)) AS head_upper,
      |  LENGTH(text) AS len,
      |  LENGTH(string_split(text, ' ')) AS n_tokens,
      |  LPAD(lang, 4, '_') AS lang_pad,
      |  regexp_extract(text, '^[a-z]+') AS first_word,
      |  CONCAT_WS('|', lang, source) AS tag,
      |  levenshtein(lang, 'en') AS lang_dist
      |FROM documents
      |WHERE doc_id < 100
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ fn_regexp
  /** Regexp family: extract (group), replace-all, match test, and
    * extract_all counting — the primitives the text pipeline's BPE-ish
    * tokenizer and quality filters build on. Patterns stay in the
    * dialect-portable subset (char classes, quantifiers, word
    * boundaries — identical semantics in Java regex and RE2); DuckDB's
    * `regexp_replace` needs the explicit 'g' flag to match Spark's
    * replace-ALL default. */
  def fnRegexp(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") < 300)
      .select(
        col("doc_id"),
        regexp_extract(col("text"), "^([a-z]+) ([a-z]+)", 2).as("second_word"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[aeiou]", ""))).cast("long")
          .as("n_vowels"),
        col("text").rlike("(key|row|event)").as("has_marker"),
        size(expr("regexp_extract_all(text, '\\\\b[a-z]{4}\\\\b', 0)"))
          .cast("long").as("n_four_letter"))
      .orderBy(col("doc_id"))

  private val fnRegexpOracle =
    """SELECT doc_id,
      |  regexp_extract(text, '^([a-z]+) ([a-z]+)', 2) AS second_word,
      |  CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[aeiou]', '', 'g'))
      |       AS BIGINT) AS n_vowels,
      |  regexp_matches(text, '(key|row|event)') AS has_marker,
      |  CAST(len(regexp_extract_all(text, '\b[a-z]{4}\b')) AS BIGINT)
      |    AS n_four_letter
      |FROM documents
      |WHERE doc_id < 300
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ fn_encode
  /** Encoding family: base64 encode + decode round trip, ascii code
    * points, chr — the binary/text boundary functions the multimodal
    * path relies on (binary payloads travel base64 in JSON exports). */
  def fnEncode(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") < 200)
      .select(
        col("doc_id"),
        base64(substring(col("text"), 1, 9).cast("binary")).as("head_b64"),
        unbase64(base64(substring(col("text"), 1, 9).cast("binary")))
          .cast("string").as("head_back"),
        ascii(substring(col("text"), 1, 1)).cast("long").as("first_cp"),
        chr(lit(65) + col("doc_id") % 26).as("bucket_chr"))
      .orderBy(col("doc_id"))

  private val fnEncodeOracle =
    """SELECT doc_id,
      |  base64(encode(substring(text, 1, 9))) AS head_b64,
      |  decode(from_base64(base64(encode(substring(text, 1, 9))))) AS head_back,
      |  CAST(ascii(substring(text, 1, 1)) AS BIGINT) AS first_cp,
      |  chr(CAST(65 + doc_id % 26 AS INTEGER)) AS bucket_chr
      |FROM documents
      |WHERE doc_id < 200
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------- fn_try
  /** Error-tolerant evaluation: `try_cast` over a dirty string column
    * and `try_divide` with embedded zero divisors — NULL instead of a
    * job-killing exception. At 100 TB this is non-negotiable ingest
    * hardening: one malformed record must never fail a thousand-executor
    * stage, and the NULLs stay countable for data-quality metrics.
    * DuckDB twins: TRY_CAST is native; try_divide is division by
    * `NULLIF(divisor, 0)`.
    */
  def fnTry(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") < 400)
      .select(col("doc_id"),
        // every third value is deliberately malformed ("123x")
        concat(col("doc_id").cast("string"),
          when(col("doc_id") % 3 === 0, lit("x")).otherwise(lit(""))).as("dirty"))
      .select(
        col("doc_id"),
        expr("try_cast(dirty AS BIGINT)").as("parsed"),
        expr("try_divide(doc_id, doc_id % 5)").as("ratio"),
        coalesce(expr("try_cast(dirty AS BIGINT)"), lit(-1L)).as("cleaned"))
      .orderBy(col("doc_id"))

  private val fnTryOracle =
    """WITH d AS (
      |  SELECT doc_id,
      |    concat(CAST(doc_id AS VARCHAR),
      |           CASE WHEN doc_id % 3 = 0 THEN 'x' ELSE '' END) AS dirty
      |  FROM documents WHERE doc_id < 400)
      |SELECT doc_id,
      |  TRY_CAST(dirty AS BIGINT) AS parsed,
      |  doc_id / NULLIF(doc_id % 5, 0) AS ratio,
      |  COALESCE(TRY_CAST(dirty AS BIGINT), -1) AS cleaned
      |FROM d ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------- fn_date
  /** Date/time family on order dates: parts, trunc, arithmetic, diff.
    * Parts are cast to BIGINT on the Spark side — DuckDB date parts are
    * BIGINT and the driver compares values after a schema-blind sort.
    */
  def fnDate(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderkey") < 2000)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        date_trunc("quarter", col("o_orderdate")).as("qtr_start"),
        date_add(col("o_orderdate"), 30).cast("timestamp").as("due_date"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("days_to_2002"))
      .orderBy(col("o_orderkey"))

  private val fnDateOracle =
    """SELECT o_orderkey,
      |  year(o_orderdate) AS yr,
      |  month(o_orderdate) AS mo,
      |  day(o_orderdate) AS dom,
      |  CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP) AS qtr_start,
      |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS TIMESTAMP) AS due_date,
      |  date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002
      |FROM orders
      |WHERE o_orderkey < 2000
      |ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------------- fn_math
  /** Math family. Transcendentals (exp/ln/log10) are evaluated on small
    * arguments and rounded after aggregation to a handful of rows —
    * libm last-ulp differences across engines never reach the output.
    */
  def fnMath(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(sum(floor(col("l_quantity") / 7)), 0).cast("long").as("sum_floor"),
        round(sum(ceil(col("l_quantity") / 7)), 0).cast("long").as("sum_ceil"),
        round(avg(sqrt(col("l_quantity"))), 6).as("avg_sqrt_qty"),
        round(avg(ln(col("l_quantity") + 1)), 6).as("avg_ln_qty"),
        round(avg(log10(col("l_extendedprice"))), 6).as("avg_log10_price"),
        round(avg(pow(col("l_discount"), 2)), 6).as("avg_disc_sq"),
        sum(pmod(col("l_orderkey"), lit(7))).as("sum_pmod"),
        sum(round(greatest(col("l_quantity"), col("l_tax") * 100)).cast("long"))
          .as("sum_greatest"),
        sum(abs(signum(col("l_discount")))).cast("long").as("n_discounted"))
      .orderBy(col("l_returnflag"))

  private val fnMathOracle =
    """SELECT l_returnflag,
      |  CAST(ROUND(SUM(FLOOR(l_quantity / 7)), 0) AS BIGINT) AS sum_floor,
      |  CAST(ROUND(SUM(CEIL(l_quantity / 7)), 0) AS BIGINT) AS sum_ceil,
      |  ROUND(AVG(SQRT(l_quantity)), 6) AS avg_sqrt_qty,
      |  ROUND(AVG(LN(l_quantity + 1)), 6) AS avg_ln_qty,
      |  ROUND(AVG(LOG10(l_extendedprice)), 6) AS avg_log10_price,
      |  ROUND(AVG(POW(l_discount, 2)), 6) AS avg_disc_sq,
      |  CAST(SUM(((l_orderkey % 7) + 7) % 7) AS BIGINT) AS sum_pmod,
      |  CAST(SUM(CAST(ROUND(GREATEST(l_quantity, l_tax * 100)) AS BIGINT)) AS BIGINT) AS sum_greatest,
      |  CAST(SUM(ABS(SIGN(l_discount))) AS BIGINT) AS n_discounted
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------------------- fn_array
  /** Higher-order array functions on exact integer lists (sequence →
    * transform → filter → aggregate → zip_with): the vector-math toolkit
    * used by the embedding operators, demonstrated with exact arithmetic.
    */
  def fnArray(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .filter(col("p_partkey") < 200)
      .select(
        col("p_partkey"),
        expr("sequence(1, p_size)").as("seq"))
      .select(
        col("p_partkey"),
        size(col("seq")).cast("long").as("n"),
        expr("aggregate(transform(seq, x -> x * 2), 0L, (acc, x) -> acc + x)").as("sum_doubled"),
        expr("size(filter(seq, x -> x % 3 = 0))").cast("long").as("n_div3"),
        expr("aggregate(zip_with(seq, seq, (a, b) -> a * b), 0L, (acc, x) -> acc + x)").as("dot_self"),
        array_contains(col("seq"), 10).as("has_10"),
        expr("array_join(transform(slice(seq, 1, 3), x -> cast(x AS string)), ',')")
          .as("first3"))
      .orderBy(col("p_partkey"))

  private val fnArrayOracle =
    """WITH t AS (SELECT p_partkey, generate_series(1, p_size) AS seq
      |           FROM part WHERE p_partkey < 200)
      |SELECT p_partkey,
      |  CAST(length(seq) AS BIGINT) AS n,
      |  CAST(list_aggregate(list_transform(seq, x -> x * 2), 'sum') AS BIGINT) AS sum_doubled,
      |  CAST(length(list_filter(seq, x -> x % 3 = 0)) AS BIGINT) AS n_div3,
      |  CAST(list_aggregate(list_transform(seq, x -> x * x), 'sum') AS BIGINT) AS dot_self,
      |  list_contains(seq, 10) AS has_10,
      |  array_to_string(seq[1:3], ',') AS first3
      |FROM t ORDER BY p_partkey""".stripMargin

  // --------------------------------------------------------------------- fn_map
  /** Map functions over JSON-parsed props: from_json to MAP, key/value
    * access. The oracle goes through DuckDB's JSON operators.
    */
  def fnMap(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("user_id") <= 5)
      .select(
        col("event_id"),
        from_json(col("props"), MapType(StringType, LongType)).as("m"))
      .select(
        col("event_id"),
        concat_ws(",", array_sort(map_keys(col("m")))).as("keys"),
        element_at(col("m"), "k").as("k_value"),
        size(col("m")).as("n_entries"))
      .orderBy(col("event_id"))

  private val fnMapOracle =
    """SELECT event_id,
      |  array_to_string(list_sort(json_keys(props)), ',') AS keys,
      |  CAST(props->>'k' AS BIGINT) AS k_value,
      |  CAST(length(json_keys(props)) AS BIGINT) AS n_entries
      |FROM events
      |WHERE user_id <= 5
      |ORDER BY event_id""".stripMargin

  // -------------------------------------------------------------------- fn_json
  /** JSON functions: extraction, tuple access, re-serialization. to_json
    * output formatting matches DuckDB's compact struct serialization.
    */
  def fnJson(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("user_id") <= 5)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        json_tuple(col("props"), "k").as("k_str"),
        to_json(struct(col("user_id").as("u"))).as("u_json"))
      .orderBy(col("event_id"))

  private val fnJsonOracle =
    """SELECT event_id,
      |  CAST(props->>'k' AS BIGINT) AS k,
      |  props->>'k' AS k_str,
      |  to_json(struct_pack(u := user_id)) AS u_json
      |FROM events
      |WHERE user_id <= 5
      |ORDER BY event_id""".stripMargin

  // ----------------------------------------------------------------- fn_variant
  /** Spark 4 VARIANT — the open-format semi-structured type (binary
    * JSON with typed access, the Parquet/Iceberg VARIANT spec): strings
    * parse ONCE into variant, fields project with `variant_get` at a
    * typed path (no per-access re-parse, unlike get_json_object), and
    * malformed input degrades to NULL through `try_parse_json` — the
    * ingest posture fn_try documents. At 100 TB the parse cost is paid
    * once at ingest and every downstream access is a binary field
    * probe; the declared output is scalar (the driver compare needs
    * scalars), so the variant column itself stays internal. DuckDB has
    * no VARIANT; the oracle extracts the same fields from the JSON
    * text, which is exactly the semantic contract variant_get makes.
    */
  def fnVariant(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("user_id") <= 5)
      .select(col("event_id"), col("event_type"),
        try_parse_json(col("props")).as("v"),
        try_parse_json(lit("{not json")).as("bad"))
      .select(
        col("event_id"),
        variant_get(col("v"), "$.k", "bigint").as("k"),
        variant_get(col("v"), "$.k", "string").as("k_str"),
        variant_get(col("v"), "$.missing", "bigint").as("k_missing"),
        is_variant_null(col("v")).as("v_is_json_null"),
        col("bad").isNull.as("bad_is_null"),
        schema_of_variant(col("v")).as("v_schema"))
      .orderBy(col("event_id"))

  private val fnVariantOracle =
    """SELECT event_id,
      |  CAST(props->>'k' AS BIGINT) AS k,
      |  props->>'k' AS k_str,
      |  CAST(NULL AS BIGINT) AS k_missing,
      |  FALSE AS v_is_json_null,
      |  TRUE AS bad_is_null,
      |  'OBJECT<k: BIGINT>' AS v_schema
      |FROM events
      |WHERE user_id <= 5
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------ fn_bitmap
  /** Bitmap-index distinct counting (Spark 3.5+ bitmap functions): keys
    * bucket by `bitmap_bucket_number` (32k-bit buckets), each bucket
    * folds to ONE roaring-style bitmap via `bitmap_construct_agg`, and
    * popcounts sum to the exact distinct count. Versus COUNT(DISTINCT)
    * this shuffles one ~4KB bitmap per (group, bucket) instead of every
    * distinct key — the materialized-view-friendly shape (bitmaps OR
    * together with `bitmap_or_agg` across partitions/days, so the MV
    * refresh is mergeable exactly like agg_incremental's partials).
    * The oracle is the plain COUNT(DISTINCT) it must equal. */
  def fnBitmap(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_orderkey"))
      .groupBy(col("l_returnflag"),
        expr("bitmap_bucket_number(l_orderkey)").as("bucket"))
      .agg(expr(
        "bitmap_count(bitmap_construct_agg(bitmap_bit_position(l_orderkey)))")
        .as("cnt"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("cnt")).as("n_orders"))
      .orderBy(col("l_returnflag"))

  private val fnBitmapOracle =
    """SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------------------ fn_collate
  /** Spark 4 string collations: the same relation counted DISTINCT
    * under binary (UTF8_BINARY, the default) and case-insensitive
    * (UTF8_LCASE) comparison — collation-aware equality runs inside
    * the hash aggregate itself, no normalizing projection in the plan.
    * The fixture's brands are single-case, so a 3-way case-variant
    * union (upper/lower/original) makes the two semantics visibly
    * diverge: 3 binary-distinct variants collapse to 1 under
    * UTF8_LCASE. The oracle's portable twin is COUNT(DISTINCT
    * lower(brand)) — for ASCII data UTF8_LCASE equality IS
    * lowercase-normalized equality, which is exactly the collapse the
    * qid asserts cross-engine. At scale collation beats the lower()
    * projection because the comparison stays inside codegen and no
    * derived column is materialized through the shuffle.
    */
  def fnCollate(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).select(
      split(col("p_type"), " ").getItem(0).as("type_class"), col("p_brand"))
    // explode(array(upper, lower, original)) emits the same multiset of
    // rows as the oracle's 3-way UNION ALL from ONE scan of part — the
    // union phrasing read the table three times in one execution
    // (ScanAudit r9), tripling the read at any scale for rows that are
    // pure per-row projections of each other.
    val mixed = p.select(col("type_class"),
      explode(array(upper(col("p_brand")), lower(col("p_brand")),
        col("p_brand"))).as("brand"))
    mixed.groupBy(col("type_class"))
      .agg(count(lit(1)).as("n_rows"),
        count_distinct(col("brand")).as("n_case_sensitive"),
        count_distinct(collate(col("brand"), "UTF8_LCASE"))
          .as("n_case_insensitive"))
      .orderBy(col("type_class"))
  }

  private val fnCollateOracle =
    """WITH mixed AS (
      |  SELECT string_split(p_type, ' ')[1] AS type_class,
      |         UPPER(p_brand) AS brand FROM part
      |  UNION ALL SELECT string_split(p_type, ' ')[1], LOWER(p_brand) FROM part
      |  UNION ALL SELECT string_split(p_type, ' ')[1], p_brand FROM part)
      |SELECT type_class, COUNT(*) AS n_rows,
      |       COUNT(DISTINCT brand) AS n_case_sensitive,
      |       COUNT(DISTINCT lower(brand)) AS n_case_insensitive
      |FROM mixed GROUP BY type_class ORDER BY type_class""".stripMargin

  // -------------------------------------------------------------------- fn_cond
  /** Conditionals: coalesce / nullif / nvl / if / case / isnull. */
  def fnCond(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(
        col("c_custkey"),
        nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_or_null"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("(default)"))
          .as("seg_coalesced"),
        when(col("c_acctbal") < 0, lit("overdrawn"))
          .when(col("c_acctbal") < 5000, lit("low"))
          .otherwise(lit("high")).as("bal_class"),
        isnull(nullif(col("c_mktsegment"), lit("BUILDING"))).as("is_building"))
      .orderBy(col("c_custkey"))

  private val fnCondOracle =
    """SELECT c_custkey,
      |  NULLIF(c_mktsegment, 'BUILDING') AS seg_or_null,
      |  COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '(default)') AS seg_coalesced,
      |  CASE WHEN c_acctbal < 0 THEN 'overdrawn'
      |       WHEN c_acctbal < 5000 THEN 'low'
      |       ELSE 'high' END AS bal_class,
      |  NULLIF(c_mktsegment, 'BUILDING') IS NULL AS is_building
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------- fn_hash
  /** Hash family for dedup keys: md5 + sha2-256 (cross-engine-stable
    * hex). Spark-specific hash/xxhash64 power the internal dedup/sketch
    * paths but are excluded from oracle outputs by design.
    */
  def fnHash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") < 100)
      .select(
        col("doc_id"),
        md5(col("text")).as("md5_text"),
        sha2(col("text"), 256).as("sha256_text"),
        md5(concat_ws("|", col("lang"), col("source"))).as("md5_composite"))
      .orderBy(col("doc_id"))

  private val fnHashOracle =
    """SELECT doc_id,
      |  md5(text) AS md5_text,
      |  sha256(text) AS sha256_text,
      |  md5(concat(lang, '|', source)) AS md5_composite
      |FROM documents
      |WHERE doc_id < 100
      |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------- udf_scalar
  /** Scalar UDF extension point: L2 norm of the embedding vector.
    * Demonstrates the registered-UDF path; production vector math should
    * use the HOF forms (see LlmPipeline) which stay in codegen.
    */
  def udfScalar(spark: SparkSession, dir: String): DataFrame = {
    val l2 = udf((v: Seq[Float]) => {
      var acc = 0.0
      v.foreach(x => acc += x.toDouble * x.toDouble)
      math.sqrt(acc)
    })
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 100)
      .select(col("vec_id"), round(l2(col("embedding")), 6).as("l2_norm"))
      .orderBy(col("vec_id"))
  }

  private val udfScalarOracle =
    """SELECT vec_id,
      |  ROUND(SQRT(list_aggregate(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 6) AS l2_norm
      |FROM embeddings
      |WHERE vec_id < 100
      |ORDER BY vec_id""".stripMargin

  /** Typed Aggregator (UDAF extension point): exact L1 sum in integer
    * cents — the shape a ToW/sketch accumulator uses (mergeable state,
    * associative reduce), checked here against an exact oracle.
    */
  object L1CentsAgg extends Aggregator[Long, Long, Long] {
    def zero: Long = 0L
    def reduce(b: Long, a: Long): Long = b + math.abs(a)
    def merge(b1: Long, b2: Long): Long = b1 + b2
    def finish(r: Long): Long = r
    def bufferEncoder: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
    def outputEncoder: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
  }

  // ------------------------------------------------------------------- udaf_agg
  def udafAgg(spark: SparkSession, dir: String): DataFrame = {
    val l1 = udaf(L1CentsAgg)
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(l1(cents(col("value"))).as("l1_cents"))
      .orderBy(col("event_type"))
  }

  private val udafAggOracle =
    s"""SELECT event_type, CAST(SUM(ABS(${oCents("value")})) AS BIGINT) AS l1_cents
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------- udtf_gen
  /** Table-generating (UDTF) surface: posexplode of tokenized text —
    * the shingling/expansion primitive. Spark's Generator expressions
    * (explode/posexplode/inline) subsume custom UDTFs.
    */
  def udtfGen(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") < 10)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .withColumnRenamed("col", "token")
      .orderBy(col("doc_id"), col("pos"))

  private val udtfGenOracle =
    """SELECT doc_id, u.pos - 1 AS pos, u.token AS token
      |FROM (SELECT doc_id,
      |        unnest(list_transform(string_split(text, ' '),
      |          (x, i) -> {'pos': i, 'token': x})) AS u
      |      FROM documents WHERE doc_id < 10)
      |ORDER BY doc_id, pos""".stripMargin

  // ----------------------------------------------------------------- fn_bitwise
  /** Bitwise family: & | ^ shifts, bit_count — the primitives under the
    * simhash/band operators, exercised directly. */
  def fnBitwise(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .filter(col("p_partkey") < 500)
      .select(
        col("p_partkey"),
        expr("p_partkey & 255").as("b_and"),
        expr("p_partkey | 4096").as("b_or"),
        expr("p_partkey ^ 1365").as("b_xor"),
        expr("shiftleft(p_partkey, 3)").as("b_shl"),
        expr("shiftright(p_partkey, 2)").as("b_shr"),
        expr("bit_count(p_partkey)").as("b_cnt"))
      .orderBy(col("p_partkey"))

  private val fnBitwiseOracle =
    """SELECT p_partkey,
      |  p_partkey & 255 AS b_and,
      |  p_partkey | 4096 AS b_or,
      |  xor(p_partkey, 1365) AS b_xor,
      |  p_partkey << 3 AS b_shl,
      |  p_partkey >> 2 AS b_shr,
      |  CAST(bit_count(p_partkey) AS INTEGER) AS b_cnt
      |FROM part WHERE p_partkey < 500
      |ORDER BY p_partkey""".stripMargin

  // ------------------------------------------------------------------ fn_struct
  /** Struct family: create, nested access, re-projection — the row
    * sub-assembly primitive the multimodal pipeline uses for typed
    * metadata next to opaque payloads. */
  def fnStruct(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .filter(col("c_custkey") < 300)
      .select(col("c_custkey"),
        struct(col("c_name").as("name"),
          struct(col("c_acctbal").as("bal"), col("c_mktsegment").as("seg"))
            .as("account")).as("profile"))
      .select(col("c_custkey"),
        col("profile.name").as("name"),
        col("profile.account.seg").as("seg"),
        cents(col("profile.account.bal")).as("bal_cents"))
      .orderBy(col("c_custkey"))

  private val fnStructOracle =
    s"""WITH p AS (
       |  SELECT c_custkey,
       |    struct_pack(name := c_name,
       |      account := struct_pack(bal := c_acctbal, seg := c_mktsegment))
       |      AS profile
       |  FROM customer WHERE c_custkey < 300)
       |SELECT c_custkey,
       |  profile.name AS name,
       |  profile.account.seg AS seg,
       |  ${oCents("profile.account.bal")} AS bal_cents
       |FROM p ORDER BY c_custkey""".stripMargin

  // ----------------------------------------------------------- scan_partitioned
  /** Hive-style partitioned layout + partition pruning: orders written
    * once per (sf, session) partitioned by order year; the filtered read
    * shows `PartitionFilters` in the plan — at 100 TB this is the
    * difference between scanning one year and scanning the decade. The
    * oracle checks the logical result of the pruned read. */
  def scanPartitioned(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.Snapshots.parquet(spark, "partitioned", dir, Seq("orders"),
      Tables.orders(spark, dir).withColumn("o_year", year(col("o_orderdate"))),
      (df, p) => df.write.mode("overwrite").partitionBy("o_year").parquet(p))
      .filter(col("o_year") === 1997)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("price_cents"))
      .orderBy(col("o_orderpriority"))
  }

  private val scanPartitionedOracle =
    s"""SELECT o_orderpriority, COUNT(*) AS n,
       |       CAST(SUM(${oCents("o_totalprice")}) AS BIGINT) AS price_cents
       |FROM orders WHERE year(o_orderdate) = 1997
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  def queries: Seq[GQuery] = Seq(
    GQuery("fn_bitwise", fnBitwise, Some(fnBitwiseOracle),
      "bitwise family: and/or/xor/shifts/bit_count"),
    GQuery("fn_struct", fnStruct, Some(fnStructOracle),
      "struct create + nested access"),
    GQuery("scan_partitioned", scanPartitioned, Some(scanPartitionedOracle),
      "hive-partitioned write + partition-pruned scan"),
    GQuery("fn_string", fnString, Some(fnStringOracle),
      "string family: case/trim/substr/split/regexp/levenshtein"),
    GQuery("fn_regexp", fnRegexp, Some(fnRegexpOracle),
      "regexp family: group extract, replace-all, match test, extract_all count"),
    GQuery("fn_encode", fnEncode, Some(fnEncodeOracle),
      "encoding family: base64 round trip, ascii code points, chr"),
    GQuery("fn_try", fnTry, Some(fnTryOracle),
      "error-tolerant try_cast/try_divide ingest hardening"),
    GQuery("fn_date", fnDate, Some(fnDateOracle),
      "date family: parts/trunc/arith/diff"),
    GQuery("fn_math", fnMath, Some(fnMathOracle),
      "math family incl. transcendentals (rounded post-agg)"),
    GQuery("fn_array", fnArray, Some(fnArrayOracle),
      "higher-order array fns: transform/filter/aggregate/zip_with"),
    GQuery("fn_map", fnMap, Some(fnMapOracle),
      "map fns over JSON-parsed props"),
    GQuery("fn_json", fnJson, Some(fnJsonOracle),
      "JSON extraction + serialization"),
    GQuery("fn_bitmap", fnBitmap, Some(fnBitmapOracle),
      "bitmap-index exact distinct: bucketed construct_agg + popcount"),
    GQuery("fn_collate", fnCollate, Some(fnCollateOracle),
      "UTF8_LCASE vs binary collation distinct counts, no normalize column"),
    GQuery("fn_variant", fnVariant, Some(fnVariantOracle),
      "Spark 4 VARIANT: parse once, typed variant_get access"),
    GQuery("fn_cond", fnCond, Some(fnCondOracle),
      "conditionals: coalesce/nullif/case/isnull"),
    GQuery("fn_hash", fnHash, Some(fnHashOracle),
      "hash family: md5/sha256 dedup keys"),
    GQuery("udf_scalar", udfScalar, Some(udfScalarOracle),
      "scalar UDF extension point (vector L2 norm)"),
    GQuery("udaf_agg", udafAgg, Some(udafAggOracle),
      "typed Aggregator UDAF extension point (exact integer state)"),
    GQuery("udtf_gen", udtfGen, Some(udtfGenOracle),
      "generator/UDTF surface: posexplode tokenization")
  )
}
