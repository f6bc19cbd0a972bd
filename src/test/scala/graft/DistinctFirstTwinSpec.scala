package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact-equivalence twins for the round-9 distinct-first
  * restatements (the MinhashTwinSpec pattern): join_fuzzy and
  * dedup_embed now band/bucket, verify, and score DISTINCT values and
  * expand matches through the id tables only after matching — the
  * duplicate-mass fix the shuffle audit forced (identical replica
  * values made every block grow with multiplicity, pair volume Σm²).
  * The naive twins below are the old per-row shapes inlined, so a
  * future edit to the production path is checked against the
  * definition, not against itself. Both run on sf0.001 PLUS a
  * duplicate-heavy variant (each id table unioned with a key-shifted
  * copy of itself — the rehearsal's replica shape in miniature),
  * because the fixture's near-unique values never exercise the
  * multiplicity-expansion path the restatement exists for.
  */
class DistinctFirstTwinSpec extends SparkSpec {

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  // ------------------------------------------------------------ join_fuzzy
  /** The pre-round-9 per-row form: band every ROW, four separate
    * 3-of-4 band joins, verify, emit key pairs directly. */
  private def naiveFuzzy(clean: DataFrame, dirty: DataFrame): DataFrame = {
    def banded(df: DataFrame, nameCol: String, p: String): DataFrame =
      (1 to 4).foldLeft(df.withColumn(s"${p}0", length(col(nameCol)))) {
        (d, i) =>
          d.withColumn(s"$p$i", expr(
            s"substring($nameCol, (${i - 1} * length($nameCol)) div 4 + 1, " +
              s"($i * length($nameCol)) div 4 - (${i - 1} * length($nameCol)) div 4)"))
      }
    val c = banded(clean, "s_name", "cb")
    val d = banded(dirty, "d_name", "db")
    val cands = (1 to 4).map { skip =>
      val cond = (0 to 4).filter(_ != skip)
        .map(i => col(s"cb$i") === col(s"db$i")).reduce(_ && _)
      c.join(d, cond)
        .select(col("s_suppkey"), col("s_name"), col("d_key"), col("d_name"))
    }.reduce(_ unionByName _).distinct()
    cands
      .filter(levenshtein(col("s_name"), col("d_name")) <= 1)
      .select(col("s_suppkey"), col("d_key"),
        levenshtein(col("s_name"), col("d_name")).cast("long").as("dist"))
  }

  test("join_fuzzy: distinct-first + struct-key fold == per-row four-join form") {
    val prod = Registry.byId("join_fuzzy").fn(spark, sfDir)
    val clean = sources.Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_name"))
    val dirty = clean.select(
      (col("s_suppkey") + 1000000L).as("d_key"),
      concat(substring(col("s_name"), 1, 2), lit("x"),
        substring(col("s_name"), 4, 100)).as("d_name"))
    val naive = naiveFuzzy(clean, dirty)
    assert(prod.count() > 0, "fixture yields no fuzzy matches — twin asserts nothing")
    assert(sortedRows(prod) === sortedRows(naive))
  }

  test("join_fuzzy twin under duplicate mass (every name twice per side)") {
    val base = sources.Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_name"))
    val clean = base.unionByName(
      base.select((col("s_suppkey") + 500000L).as("s_suppkey"), col("s_name")))
    val dirty = clean.select(
      (col("s_suppkey") + 1000000L).as("d_key"),
      concat(substring(col("s_name"), 1, 2), lit("x"),
        substring(col("s_name"), 4, 100)).as("d_name"))
    // PRODUCTION pipeline over the duplicated tables — joinFuzzyOn is
    // the exact code path the qid runs (r9 ADVICE: the earlier
    // re-inlined copy would have checked a future joinFuzzy edit
    // against a stale twin on exactly the duplicate-heavy input the
    // restatement exists for)
    val prod = operators.Relational.joinFuzzyOn(clean, dirty)
    val naive = naiveFuzzy(clean, dirty)
    val nProd = prod.count()
    val nBase = Registry.byId("join_fuzzy").fn(spark, sfDir).count()
    // 2x duplicate mass on both sides => 4x the match pairs
    assert(nProd === 4L * nBase, s"expected 4x $nBase, got $nProd")
    assert(sortedRows(prod) === sortedRows(naive))
  }

  // ------------------------------------------------------------ dedup_embed
  /** The pre-round-9 per-row form: bucket every row, in-bucket
    * id-ordered self-join, score every pair. */
  private def naiveEmbed(corpus: DataFrame): DataFrame = {
    val e = operators.LlmPipeline.signLshBucketed(corpus)
    e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("da"), col("b.vec_id").as("db"),
        round(functions.VectorExprs.dot(col("a.v"), col("b.v")) /
          (col("a.n") * col("b.n")), 6).as("cos"))
      .filter(col("cos") >= 0.9)
  }

  test("dedup_embed: distinct-first == per-row in-bucket join, incl. duplicate mass") {
    val base = sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    // duplicate-heavy corpus: every vector appears twice (vec_id
    // shifted), plus the qid's own re-ingested perturbation — so the
    // intra-group (cos = 1) path, the cross-group path, AND the
    // multiplicity expansion all carry rows
    val corpus = base.unionByName(
        base.select((col("vec_id") + 2000000).as("vec_id"), col("v")))
      .unionByName(base.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          expr("transform(v, (x, i) -> if(i = 0, x * cast(1.5 as double), x))").as("v")))
    val prod = operators.LlmPipeline.dedupEmbedOn(corpus)
    val naive = naiveEmbed(corpus)
    val nProd = prod.count()
    // every base vector has an identical twin => at least one cos=1
    // pair per vector: the intra path is exercised, not vacuous
    assert(nProd >= base.count(), s"intra-group path looks vacuous: $nProd pairs")
    assert(sortedRows(prod) === sortedRows(naive))
  }

  test("dedup_embed: the Bench prelude's toy corpus runs, one pair per planted twin at least") {
    // the sign-LSH key reads at least 12 dimensions: a narrower toy corpus
    // throws, and the failed warm leaves dedup_embed's first-run JIT
    // inside its timed window
    val n = operators.LlmPipeline.dedupEmbedOn(Bench.embedWarmCorpus(spark)).count()
    assert(n >= 32, s"the 32 planted twin pairs gave $n pairs")
  }
}
