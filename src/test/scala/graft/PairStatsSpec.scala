package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** LlmPipeline.pairStatsOn, the shingle-block build behind dedup_near
  * and dedup_containment: exact against the capped postings self-join
  * (BasketPairsSpec's reference) where the df cap binds, on edge texts
  * and at any block count; its job budget; and that it leaves no
  * persisted RDD behind but its own cache entry. */
class PairStatsSpec extends SparkSpec {
  import spark.implicits._

  /** The reference: the capped postings self-join, sizes over the same
    * capped postings, and the family admission filter as the DataFrame
    * expression it was. */
  private def reference(docs: DataFrame, cap: Long): DataFrame = {
    val sh = operators.LlmPipeline.shingles(docs).select(col("doc_id").as("doc"), col("shingle"))
    val capped = CappedSelfJoin.capped(sh, cap)
    val sizes = capped.groupBy("doc").agg(count(lit(1)).as("n"))
    CappedSelfJoin.inter(capped)
      .join(sizes.select(col("doc").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("doc").as("db"), col("n").as("nb")), "db")
      .filter(
        col("inter") * 10000 >= (col("na") + col("nb") - col("inter")) * 7990 ||
          col("inter") * 100 >= least(col("na"), col("nb")) * 89)
      .select("db", "da", "inter", "na", "nb")
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sorted.toSeq

  private def built(docs: DataFrame, cap: Long): Seq[(Long, Long, Long, Long, Long)] = {
    val stats = operators.LlmPipeline.pairStatsOn(docs, cap)
    try rows(stats) finally stats.unpersist()
  }

  /** Seeded corpus over a 6-word vocabulary, so shingles repeat across
    * docs and a small cap binds; every third doc is followed by a
    * planted copy with one token replaced or appended. */
  private def corpus(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val vocab = Seq("a", "b", "c", "d", "e", "f")
    def words(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val texts = (1 to 40).flatMap { i =>
      val w = words(1 + rnd.nextInt(9))
      if (i % 3 != 0) Seq(w)
      else if (rnd.nextBoolean()) Seq(w, w.updated(rnd.nextInt(w.size), "g"))
      else Seq(w, w :+ "g")
    }
    rnd.shuffle(texts.indices.map(_ * 7L + 3)).zip(texts.map(_.mkString(" ")))
      .toDF("doc_id", "text")
  }

  /** Null and empty text, 1–2 tokens, leading, trailing and double
    * spaces, a shingle repeated within a doc, each text twice so each
    * shape forms pairs; a null doc_id and a repeated doc_id. */
  private val edgeTexts = Seq(null, "", "a", "a b", " a b c", "a b c ", "a  b c",
    "a b c a b c", "x y z w")
  private def edgeDocs: DataFrame =
    (edgeTexts.zipWithIndex.flatMap { case (t, i) =>
      Seq((Option(10L + i), t), (Option(100L + i), t))
    } ++ Seq((None, "x y z w"), (Some(100L + 7), "a b c"))).toDF("doc_id", "text")

  test("textShingles: the rows of the shingles relation, on edge texts") {
    val docs = edgeTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val viaFrame = operators.LlmPipeline.shingles(docs.toDF("doc_id", "text"))
      .as[(Long, String)].collect().toSet
    val viaText = docs.flatMap { case (id, t) => operators.LlmPipeline.textShingles(t).map(id -> _) }
    assert(viaText.length === viaText.toSet.size, "textShingles must be distinct per doc")
    assert(viaText.toSet === viaFrame)
  }

  test("pairStatsOn equals the capped postings self-join where the cap binds") {
    for (seed <- Seq(7, 42, 1234); cap <- Seq(1L, 2L, 3L)) {
      val docs = corpus(seed).cache()
      val sh = operators.LlmPipeline.shingles(docs)
      val hot = sh.groupBy("shingle").count().filter(col("count") > cap).count()
      assert(hot > 0, s"seed=$seed cap=$cap: the cap must bind")
      val want = rows(reference(docs, cap))
      // at cap 1 every shared shingle is hot: no pair at all
      assert(want.nonEmpty == (cap > 1), s"seed=$seed cap=$cap: ${want.size} admitted pairs")
      assert(built(docs, cap) === want, s"seed=$seed cap=$cap")
      docs.unpersist()
    }
  }

  test("pairStatsOn on edge texts, a null and a repeated doc_id") {
    for (cap <- Seq(1L, 2L, 3L, operators.LlmPipeline.DfCap)) {
      val want = rows(reference(edgeDocs, cap))
      assert(built(edgeDocs, cap) === want, s"cap=$cap")
    }
    // "x y z w" is in 3 docs, one with a null id: df 3 drops it at cap 2
    val near = built(edgeDocs, 2L).map(r => (r._2, r._1))
    assert(!near.contains((18L, 108L)), "a null doc_id must count toward df")
    assert(built(edgeDocs, 3L).map(r => (r._2, r._1)).contains((18L, 108L)))
  }

  test("pairStatsOn: the same rows at 1, 4 and 7 shuffle partitions") {
    val docs = corpus(99).cache()
    val runs = PartitionSweep(spark, Seq(1, 4, 7))(_ => (built(docs, 2L), built(docs, 1000L)))
    assert(runs.head._1.nonEmpty && runs.head._2.nonEmpty)
    runs.tail.foreach(r => assert(r === runs.head, "pairStatsOn differs across block counts"))
    docs.unpersist()
  }

  test("pairStatsOn: int doc ids keep their type; a non-integral doc_id fails naming it") {
    val ints = Seq((1, "p q r s"), (2, "p q r s"), (3, "t u v")).toDF("doc_id", "text")
    val stats = operators.LlmPipeline.pairStatsOn(ints, 1000L)
    assert(stats.schema.map(_.name) === Seq("db", "da", "inter", "na", "nb"))
    assert(stats.schema.map(_.dataType.simpleString) === Seq("int", "int", "bigint", "bigint", "bigint"))
    assert(stats.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq === Seq((2, 1, 2L)))
    stats.unpersist()
    val e = intercept[IllegalArgumentException](operators.LlmPipeline.pairStatsOn(
      Seq(("1", "p q r")).toDF("doc_id", "text"), 1000L))
    assert(e.getMessage.contains("doc_id") && e.getMessage.contains("string"), e.getMessage)
  }

  test("shinglePairStats: a cold build runs at most 6 jobs") {
    spark.catalog.clearCache()
    val jobs = obs.Recorder.during(spark)(operators.LlmPipeline.shinglePairStats(spark, sfDir)).jobs
    info(s"$jobs jobs")
    assert(jobs <= 6, s"cold shinglePairStats build ran $jobs jobs")
    spark.catalog.clearCache()
  }

  test("pairStatsOn leaves only its cache entry persisted, also when it fails") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    val docs = corpus(5)
    val stats = operators.LlmPipeline.pairStatsOn(docs, 2L)
    assert(stats.storageLevel === StorageLevel.MEMORY_AND_DISK_SER)
    assert(sc.getPersistentRDDs.size === before.size + 1, "only the cache entry may stay")
    stats.unpersist()
    assert(sc.getPersistentRDDs.keySet === before)
    val failing = docs.withColumn("text",
      when(col("doc_id") === 10L, raise_error(lit("boom"))).otherwise(col("text")))
    val e = intercept[Exception](operators.LlmPipeline.pairStatsOn(failing, 2L))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("boom")), e)
    assert(sc.getPersistentRDDs.keySet === before)
    assert(spark.sharedState.cacheManager.isEmpty, "a failed build must drop its cache entry")
  }
}
