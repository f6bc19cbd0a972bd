package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.LlmPipeline

/** The doc-block builds behind dedup_simhash, dedup_simhash_recall and
  * text_tfidf (LlmPipeline.docTermsOn, simhashes, simhashJoin,
  * tfidfTopOn): exact against the DataFrame forms they replaced
  * ([[DocTermsReference]]) on edge texts and at any block count, their
  * job budgets, and that they leave no persisted RDD behind but the
  * memo's own cache entry. */
class DocTermsSpec extends SparkSpec {
  import spark.implicits._
  import DocTermsReference._

  /** Null and empty text, leading, trailing and double spaces,
    * non-ASCII tokens, a null doc_id and a repeated doc_id. */
  private def edgeDocs: DataFrame = Seq[(Option[Long], String)](
    (Some(1L), null), (Some(2L), ""), (Some(3L), " a b"), (Some(4L), "a b "),
    (Some(5L), "a  b"), (Some(6L), "naïve 日本 😀 Ａ"), (Some(7L), "a b a b a"),
    (None, "a b c"), (None, "c d"), (Some(8L), "x y"), (Some(8L), "y z"),
    (Some(150L), "a b"), (Some(151L), "naïve 日本"), (Some(152L), "")
  ).toDF("doc_id", "text")

  /** Seeded corpus over a small vocabulary with planted near-duplicates:
    * exact copies, reorderings and copies with one token changed or
    * appended, so pairs share 1 to 4 simhash bands. */
  private def corpus(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val vocab = (0 until 40).map(i => s"w$i")
    def words(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val texts = (1 to 60).flatMap { i =>
      val w = words(8 + rnd.nextInt(40))
      i % 4 match {
        case 0 => Seq(w, w)
        case 1 => Seq(w, rnd.shuffle(w))
        case 2 => Seq(w, w.updated(rnd.nextInt(w.size), "edit"))
        case _ => Seq(w, w :+ "extra")
      }
    }
    rnd.shuffle(texts.indices.map(_ * 3L + 1)).zip(texts.map(_.mkString(" ")))
      .toDF("doc_id", "text")
  }

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** docTermsOn's rows, its cache entry dropped after. */
  private def terms[T](docs: DataFrame)(f: DataFrame => T): T = {
    val t = LlmPipeline.docTermsOn(docs)
    try f(t) finally t.unpersist()
  }

  private def simhashRows(docs: DataFrame): Seq[String] =
    terms(docs)(t => LlmPipeline.simhashes(t).collect().map { case (d, s) => s"[$d,$s]" }.toSeq.sorted)

  private def simhashPairs(docs: DataFrame): Seq[String] =
    terms(docs)(t => sorted(LlmPipeline.simhashPairsOn(t)))

  private def tfidfRows(docs: DataFrame): Seq[String] =
    terms(docs)(t => sorted(LlmPipeline.tfidfTopOn(t)))

  test("tokenHash equals the SQL h32 form") {
    val toks = Seq("", "a", ":", "7:a", "naïve", "日本", "😀", "Ａ", " ", "w12") ++
      sources.Tables.documents(spark, sfDir).select(explode(split(col("text"), " ")))
        .distinct().limit(200).as[String].collect().toSeq
    val viaSql = toks.toDF("tok").select(col("tok"), expr(tokenHashSql)).as[(String, Long)].collect()
    assert(viaSql.length === toks.length)
    viaSql.foreach { case (t, h) => assert(LlmPipeline.tokenHash(t) === h, s"token '$t'") }
  }

  test("docTermsOn equals the token groupBy") {
    for (docs <- Seq(edgeDocs, corpus(3), sources.Tables.documents(spark, sfDir).select("doc_id", "text")))
      assert(terms(docs)(sorted) === sorted(referenceTerms(docs)))
    // a repeated doc_id counts as one doc, a null text has no token
    val rows = terms(edgeDocs)(_.filter(col("doc_id") === 8L || col("doc_id") === 1L)
      .as[(Long, String, Long)].collect().toSet)
    assert(rows === Set((8L, "x", 1L), (8L, "y", 2L), (8L, "z", 1L)))
  }

  test("simhashes equal the SimHashAgg groupBy over the token hashes") {
    for (docs <- Seq(edgeDocs, corpus(11)))
      assert(simhashRows(docs) === sorted(referenceSimhashes(docs).filter(col("doc_id").isNotNull)))
  }

  test("simhash band join equals the band self-join with distinct") {
    for (seed <- Seq(1, 2, 3)) {
      val docs = corpus(seed)
      val want = sorted(referenceBandPairs(referenceSimhashes(docs)))
      assert(want.nonEmpty)
      assert(simhashPairs(docs) === want, s"seed=$seed")
    }
    assert(simhashPairs(edgeDocs) === sorted(referenceBandPairs(referenceSimhashes(edgeDocs))))
  }

  test("simhash band join: pairs sharing 1 to 4 bands appear once") {
    val rnd = new scala.util.Random(17)
    // per base simhash: the base twice, then flips that leave it 3, 2,
    // 1 or no band shared
    val flips = Seq(Seq(), Seq(), Seq(5), Seq(1, 2, 3), Seq(0, 60), Seq(17, 40), Seq(3, 20, 36),
      Seq(8, 24, 40, 56), Seq(16, 17, 18, 19))
    val sims = (0 until 5).flatMap { g =>
      val base = rnd.nextLong() & Long.MaxValue
      flips.zipWithIndex.map { case (f, i) =>
        (g * 100L + i, f.foldLeft(base)((s, b) => s ^ (1L << b)))
      }
    }
    val want = sorted(referenceBandPairs(sims.toDF("doc_id", "simhash")))
    val got = LlmPipeline.simhashJoin(spark, spark.sparkContext.parallelize(sims, 3),
      org.apache.spark.sql.types.LongType)
    val rows = got.as[(Long, Long, Int)].collect().toSeq
    assert(rows.distinct.size === rows.size, "a pair left more than one bucket")
    assert(sorted(got) === want)
    val sim = sims.toMap
    val shared = rows.map { case (a, b, _) =>
      (0 until 4).count(k => ((sim(a) ^ sim(b)) >>> (16 * k) & 0xffffL) == 0)
    }.toSet
    assert(shared === Set(1, 2, 3, 4), s"bands shared by the pairs: $shared")
  }

  test("tfidfTopOn equals the broadcast/window form, n over tokens") {
    for (docs <- Seq(edgeDocs, corpus(5), sources.Tables.documents(spark, sfDir).select("doc_id", "text")))
      assert(tfidfRows(docs) === sorted(referenceTfidf(docs)))
  }

  /** (doc_id, rk, term, tfidf) rows of a bigint-id tf-idf frame, by (doc_id, rk). */
  private def ranked(df: DataFrame): Seq[(Long, Int, String, Double)] =
    df.as[(Long, Int, String, Double)].collect().toSeq.sortBy(r => (r._1, r._2))

  test("text_tfidf: n counts the docs with a token, not a null-text doc") {
    // 4 docs, one with a null text: n = 3, so "a" (df 3) scores 0 and
    // "b" (df 1) ln 3; counting the null-text doc would give ln 4
    val docs = Seq((1L, "a b"), (2L, "a"), (3L, "a"), (4L, null)).toDF("doc_id", "text")
    val rows = terms(docs)(t => ranked(LlmPipeline.tfidfTopOn(t)))
    assert(rows === Seq((1L, 1, "b", 1.098612), (1L, 2, "a", 0.0), (2L, 1, "a", 0.0), (3L, 1, "a", 0.0)))
    assert(rows === ranked(referenceTfidf(docs)))
  }

  test("tfidfTopOn: ties at the 6th decimal rank by term in UTF-8 byte order") {
    // two (tf, df) cells whose scores differ before rounding and tie
    // after it, at n = 32 docs
    val n = 32
    val cells = for (tf <- 1 to 4; df <- 1 to n) yield (tf, df, tf * StrictMath.log(n.toDouble / df))
    val Seq(hi, lo) = cells.groupBy(c => LlmPipeline.tfidf(c._1, n, c._2)).values
      .flatMap(_.combinations(2).find(p => p(0)._3 != p(1)._3)).head.sortBy(-_._3)
    // doc 1: "tb" at the higher raw score, "ta" at the lower, so only
    // the rounded tie puts "ta" first; doc 2: four df-1 terms whose
    // Java String order ("😀" < "Ａ") differs from the byte order
    val band = Seq((1L, Seq.fill(hi._1)("tb") ++ Seq.fill(lo._1)("ta")), (2L, Seq("😀", "Ａ", "zé", "b")))
    val fillers = (0 until n - 2).map { i =>
      (100L + i, Seq("z") ++ Seq("tb").filter(_ => i < hi._2 - 1) ++ Seq("ta").filter(_ => i < lo._2 - 1))
    }
    val docs = (band ++ fillers).map { case (d, w) => (d, w.mkString(" ")) }.toDF("doc_id", "text")
    val got = terms(docs)(t => ranked(LlmPipeline.tfidfTopOn(t)))
    assert(got.filter(_._1 == 1L).map(_._3) === Seq("ta", "tb"), got)
    assert(got.filter(_._1 == 2L).map(_._3) === Seq("b", "zé", "Ａ"), got)
    assert(got === ranked(referenceTfidf(docs)))
  }

  test("tfidf reproduces Spark's round(tf * log(n / df), 6) on doubles") {
    val rnd = new scala.util.Random(23)
    val triples = Seq.fill(20000) {
      val n = 1L + rnd.nextInt(if (rnd.nextBoolean()) 50 else 1000000)
      (1L + rnd.nextInt(40), n, 1L + rnd.nextInt(n.toInt + 2))
    }
    // a local relation is folded by the interpreted expressions, a
    // repartitioned one runs the generated code
    val local = triples.toDF("tf", "n", "df")
    for (in <- Seq(local, local.repartition(3))) {
      val viaSpark = in.select(col("tf"), col("n"), col("df"),
          round(col("tf") * log(col("n").cast("double") / col("df")), 6))
        .as[(Long, Long, Long, Double)].collect()
      assert(viaSpark.length === triples.length)
      val bad = viaSpark.filter { case (tf, n, df, v) =>
        java.lang.Double.doubleToLongBits(LlmPipeline.tfidf(tf, n, df)) != java.lang.Double.doubleToLongBits(v)
      }
      assert(bad.isEmpty, bad.take(5).mkString(", "))
    }
  }

  test("the doc-term builds: the same rows at 1, 4 and 7 shuffle partitions") {
    val docs = corpus(29).cache()
    val runs = PartitionSweep(spark, Seq(1, 4, 7))(_ =>
      (terms(docs)(sorted), simhashPairs(docs), tfidfRows(docs)))
    assert(runs.head._2.nonEmpty && runs.head._3.nonEmpty)
    runs.tail.foreach(r => assert(r === runs.head, "the doc-term builds differ across block counts"))
    docs.unpersist()
  }

  test("the doc-term builds: int doc ids keep their type; a string doc_id fails naming it") {
    val ints = Seq((1, "p q r s"), (2, "s r q p"), (3, "t u v")).toDF("doc_id", "text")
    terms(ints) { t =>
      assert(t.schema.map(_.dataType.simpleString) === Seq("int", "string", "bigint"))
      val pairs = LlmPipeline.simhashPairsOn(t)
      assert(pairs.schema.map(_.dataType.simpleString) === Seq("int", "int", "int"))
      assert(pairs.collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq === Seq((1, 2, 0)))
      val top = LlmPipeline.tfidfTopOn(t)
      assert(top.schema.map(_.dataType.simpleString) === Seq("int", "int", "string", "double"))
      assert(top.filter(col("doc_id") === 3).count() === 3)
    }
    val e = intercept[IllegalArgumentException](LlmPipeline.docTermsOn(
      Seq(("1", "p q r")).toDF("doc_id", "text")))
    assert(e.getMessage.contains("doc_id") && e.getMessage.contains("string"), e.getMessage)
  }

  test("dedup_simhash: a cold construct plus count runs at most 4 jobs") {
    spark.catalog.clearCache()
    val q = LlmPipeline.queries.find(_.id == "dedup_simhash").get
    val jobs = obs.Recorder.during(spark)(q.fn(spark, sfDir).count()).jobs
    info(s"$jobs jobs")
    assert(jobs <= 4, s"cold dedup_simhash ran $jobs jobs")
    spark.catalog.clearCache()
  }

  test("text_tfidf on a built docTerms runs at most 3 jobs") {
    spark.catalog.clearCache()
    LlmPipeline.docTerms(spark, sfDir)
    val q = LlmPipeline.queries.find(_.id == "text_tfidf").get
    val jobs = obs.Recorder.during(spark)(q.fn(spark, sfDir).count()).jobs
    info(s"$jobs jobs")
    assert(jobs <= 3, s"text_tfidf on a built memo ran $jobs jobs")
    spark.catalog.clearCache()
  }

  test("the doc-term builds leave only the memo's cache entry persisted, also when one fails") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    val docs = corpus(5)
    val t = LlmPipeline.docTermsOn(docs)
    assert(t.storageLevel === StorageLevel.MEMORY_AND_DISK_SER)
    assert(sc.getPersistentRDDs.size === before.size + 1, "only the cache entry may stay")
    LlmPipeline.simhashPairsOn(t).count()
    LlmPipeline.tfidfTopOn(t).count()
    assert(sc.getPersistentRDDs.size === before.size + 1, "the ops may persist nothing")
    t.unpersist()
    assert(sc.getPersistentRDDs.keySet === before)
    val failing = docs.withColumn("text",
      when(col("doc_id") === 10L, raise_error(lit("boom"))).otherwise(col("text")))
    val e = intercept[Exception](LlmPipeline.docTermsOn(failing))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("boom")), e)
    assert(sc.getPersistentRDDs.keySet === before)
    assert(spark.sharedState.cacheManager.isEmpty, "a failed build must drop its cache entry")
  }
}

/** The DataFrame forms of dedup_simhash and text_tfidf that the doc-block
  * builds replaced: the reference the builds are compared against. */
object DocTermsReference {

  /** 32-bit portable hash of a string expression with a seed: first 8
    * hex chars of md5(seed || ':' || s) read as an unsigned int. */
  private def h32(sexpr: String, seed: Int): String =
    s"cast(conv(substring(md5(concat('$seed:', $sexpr)), 1, 8), 16, 10) as bigint)"

  /** The simhash token hash of column `tok`. */
  val tokenHashSql: String = s"shiftleft(${h32("tok", 7)} & 2147483647, 32) | ${h32("tok", 8)}"

  def referenceTerms(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** (doc_id, simhash): the typed SimHashAgg over the token hashes. */
  def referenceSimhashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .withColumn("h", expr(tokenHashSql))
      .groupBy("doc_id")
      .agg(udaf(LlmPipeline.SimHashAgg).apply(col("h"), col("tf")).as("simhash"))

  /** (da, db, hamming ≤ 3): the 4 × 16-bit band self-join with distinct. */
  def referenceBandPairs(sim: DataFrame): DataFrame = {
    val banded = sim.select(col("doc_id"), col("simhash"),
      posexplode(expr("transform(sequence(0, 3), b -> shiftright(simhash, b * 16) & 65535)"))
        .as(Seq("band", "bv")))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  /** (doc_id, rk, term, tfidf): the broadcast/crossJoin/window form, with
    * n counted over the tokens as the oracle counts it. */
  def referenceTfidf(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val nDocs = toks.select(countDistinct("doc_id").as("n"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df_ = toks.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    broadcast(tf.filter(col("doc_id") < 100))
      .join(df_, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(col("tf") * log(col("n").cast("double") / col("df")), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("tfidf"))
  }
}
