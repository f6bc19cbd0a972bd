package graft

import org.apache.spark.sql.functions._

/** Hand-computed checks of the PS/algorithm update algebra
  * (SURVEY §5.2: PA single-step closed form, MF SGD step, loop
  * convergence) — independent of the DuckDB oracle.
  */
class PsAlgebraSpec extends SparkSpec {
  import spark.implicits._

  test("PA-I step algebra on a hand-computed example") {
    // x=(1,0), w=(0.5,0), y=-1: wx=0.5, loss=1-(-1*0.5)=1.5, xx=1
    // tau=min(C=0.5, 1.5)=0.5, new_margin=y*wx+tau*xx=-0.5+0.5=0.0
    val df = Seq((Seq(1.0, 0.0), Seq(0.5, 0.0), -1.0)).toDF("x", "w", "y")
      .withColumn("wx", expr("aggregate(zip_with(w, x, (a, b) -> a * b), 0D, (acc, v) -> acc + v)"))
      .withColumn("xx", expr("aggregate(transform(x, v -> v * v), 0D, (acc, v) -> acc + v)"))
      .withColumn("loss", greatest(lit(0.0), lit(1.0) - col("y") * col("wx")))
      .withColumn("tau", least(lit(0.5), col("loss") / col("xx")))
      .withColumn("new_margin", col("y") * col("wx") + col("tau") * col("xx"))
    val r = df.head()
    assert(r.getAs[Double]("loss") === 1.5)
    assert(r.getAs[Double]("tau") === 0.5)
    assert(r.getAs[Double]("new_margin") === 0.0)
  }

  test("MF SGD step algebra on a hand-computed example") {
    // p=(1,0), q=(0.5,0.5), r=2: e = 2 - 0.5 = 1.5
    // dq_j = lr*(e*p_j - reg*q_j), lr=0.1, reg=0 -> q' = (0.65, 0.5)
    val df = Seq((Seq(1.0, 0.0), Seq(0.5, 0.5), 2.0)).toDF("p", "q", "r")
      .withColumn("e", col("r") -
        expr("aggregate(zip_with(p, q, (x, y) -> x * y), 0D, (a, x) -> a + x)"))
      .withColumn("q_new", expr(
        "transform(sequence(0, 1), j -> element_at(q, j + 1) + " +
          "0.1 * (e * element_at(p, j + 1) - 0.0 * element_at(q, j + 1)))"))
    val r = df.head()
    assert(r.getAs[Double]("e") === 1.5)
    assert(r.getAs[Seq[Double]]("q_new") === Seq(0.65, 0.5))
  }

  test("ps_transform loop converges toward per-item mean rating") {
    val q = ps.PsQueries.queries.find(_.id == "ps_transform").get
    val model = q.fn(spark, sfDir)
    // after 3 damped steps p = (1 - 0.5^3) * mean = 0.875 * mean
    val ratings = Tables0.ratings(spark, sfDir)
    val mean = ratings.groupBy("item")
      .agg((sum(Det.cents(col("rating"))).cast("double") / 100.0 /
        count(lit(1)).cast("double")).as("m"))
    val joined = model.join(mean, "item")
      .withColumn("expect", round(col("m") * 0.875, 6))
      .filter(abs(col("p") - col("expect")) > 1e-9)
    assert(joined.count() === 0)
  }

  test("negative samples never collide with observed pairs") {
    val q = ps.PsQueries.queries.find(_.id == "mf_neg_sample").get
    val neg = q.fn(spark, sfDir)
    val seen = Tables0.ratings(spark, sfDir)
      .select(col("user"), col("item").as("neg_item")).distinct()
    assert(neg.join(seen, Seq("user", "neg_item"), "inner").count() === 0)
  }

  test("mf_topk scores agree with direct inner products (pruning is lossless at k)") {
    val q = ps.PsQueries.queries.find(_.id == "mf_topk").get
    val out = q.fn(spark, sfDir)
    assert(out.groupBy("uid").count().filter(col("count") =!= 5).count() === 0)
    // rank 1 score >= rank 5 score per user
    val agg = out.groupBy("uid")
      .agg(max(when(col("rk") === 1, col("score"))).as("s1"),
        max(when(col("rk") === 5, col("score"))).as("s5"))
    assert(agg.filter(col("s1") < col("s5")).count() === 0)
  }
}

/** Test-side duplicate of the ratings view (PsQueries' is private). */
object Tables0 {
  def ratings(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val o = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    val l = graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("user"), col("l_partkey").as("item"),
        col("l_quantity").as("rating"))
  }
}

/** Runs `body` once per `spark.sql.shuffle.partitions` value, then
  * restores the shared session's setting. */
object PartitionSweep {
  def apply[T](spark: org.apache.spark.sql.SparkSession, ns: Seq[Int])(body: Int => T): Seq[T] = {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    try ns.map { n => spark.conf.set(key, n.toLong); body(n) }
    finally spark.conf.set(key, saved)
  }

  /** Raw bits, so -0.0/0.0 and NaN payloads count as differences. */
  def bits(v: Seq[Double]): Seq[Long] = v.map(java.lang.Double.doubleToRawLongBits)
}

/** Full training-loop convergence (SURVEY §3.2/§3.4 harness). */
class MfTrainerSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import spark.implicits._

  test("MF training loop monotonically reduces MSE on the ratings matrix") {
    val ratings = Tables0.ratings(spark, sfDir)
    val (p, q, losses) = ps.MfTrainer.train(spark, ratings, k = 8, iters = 4)
    assert(losses.size === 5)
    // strictly decreasing loss trajectory (full-batch, small lr)
    losses.sliding(2).foreach { case Seq(a, b) => assert(b < a, losses) }
    // factors stay finite and k-dimensional
    assert(p.filter(size(col("vec")) =!= 8).count() === 0)
    assert(q.filter(size(col("vec")) =!= 8).count() === 0)
    operators.GraphOps.freeCheckpoint(p)
    operators.GraphOps.freeCheckpoint(q)
  }

  test("MF losses and factors are bitwise equal at 1, 4 and 7 shuffle partitions") {
    val ratings = Tables0.ratings(spark, sfDir)
    def model(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.get(0) -> PartitionSweep.bits(r.getSeq[Double](1))).toMap
    val setting = spark.conf.get("spark.sql.shuffle.partitions")
    val runs = PartitionSweep(spark, Seq(1, 4, 7)) { _ =>
      val (p, q, losses) = ps.MfTrainer.train(spark, ratings, k = 8, iters = 4)
      val out = (PartitionSweep.bits(losses), model(p), model(q))
      operators.GraphOps.freeCheckpoint(p)
      operators.GraphOps.freeCheckpoint(q)
      out
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") === setting)
    assert(runs.head._2.nonEmpty && runs.head._3.nonEmpty)
    runs.tail.foreach { r =>
      assert(r._1 === runs.head._1, "losses differ across partition counts")
      assert(r._2 === runs.head._2, "user factors differ across partition counts")
      assert(r._3 === runs.head._3, "item factors differ across partition counts")
    }
  }

  test("MF init is bit for bit the md5-seeded SQL form") {
    val ids = Seq("0", "7", "123456789012", "-5", "a:b", "ü")
    val sql = ids.toDF("id").select(col("id"), expr(
      "transform(sequence(0, 7), j -> cast(-0.1 as double) + " +
        "(pmod(cast(conv(substring(md5(concat('21:', id, ':', j)), 1, 8), 16, 10) as bigint), 1000) " +
        "/ cast(1000 as double)) * cast(0.2 as double))").as("vec"))
      .collect().map(r => r.getString(0) -> PartitionSweep.bits(r.getSeq[Double](1))).toMap
    ids.foreach(id => assert(PartitionSweep.bits(ps.MfTrainer.initVec(21, id, 8).toSeq) === sql(id), id))
    assert(ps.MfTrainer.initVec(21, 123456789012L, 8).toSeq ===
      ps.MfTrainer.initVec(21, "123456789012", 8).toSeq)
  }

  test("MF output keeps the id column's type") {
    val ratings = Seq(("u1", 3, 4.0), ("u2", 3, 2.0), ("u1", 5, 1.0)).toDF("user", "item", "rating")
    val (p, q, _) = ps.MfTrainer.train(spark, ratings, k = 2, iters = 1)
    assert(p.schema("id").dataType === org.apache.spark.sql.types.StringType)
    assert(q.schema("id").dataType === org.apache.spark.sql.types.IntegerType)
    assert(p.collect().map(_.getString(0)).sorted.toSeq === Seq("u1", "u2"))
    assert(q.collect().map(_.getInt(0)).sorted.toSeq === Seq(3, 5))
    operators.GraphOps.freeCheckpoint(p)
    operators.GraphOps.freeCheckpoint(q)
  }

  test("MF train releases all it persists; freeCheckpoint frees the model") {
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (p, q, _) = ps.MfTrainer.train(spark, Tables0.ratings(spark, sfDir), k = 4, iters = 2)
    assert(p.count() > 0 && q.count() > 0)
    assert(sc.getPersistentRDDs.size === before.size + 2, "only the two model RDDs stay")
    operators.GraphOps.freeCheckpoint(p)
    operators.GraphOps.freeCheckpoint(q)
    assert(sc.getPersistentRDDs.keySet === before)
    assert(CacheProbe.isEmpty(spark))
  }

  test("MF rating outside the fixed-point range throws, naming the value") {
    val ratings = Seq((1L, 1L, 3.0), (1L, 2L, 1e12), (2L, 1L, 4.0)).toDF("user", "item", "rating")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[ArithmeticException](ps.MfTrainer.train(spark, ratings, k = 4, iters = 2))
    val v = """value (\S+) outside""".r.findFirstMatchIn(e.getMessage).map(_.group(1).toDouble)
    assert(v.exists(_ > 1e23), e.getMessage)   // e*e of the 1e12 rating
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
  }
}

/** No DataFrame is registered in the session's CacheManager. */
object CacheProbe {
  def isEmpty(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager.isEmpty
}

/** PA full-loop training: hinge loss decreases, accuracy beats chance. */
class PaTrainerSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import spark.implicits._

  private def embeddings = graft.sources.Tables.embeddings(spark, sfDir)
    .select(expr("transform(embedding, v -> cast(v as double))").as("x"),
      when(col("label") >= 5, 1.0).otherwise(-1.0).as("y"))

  test("PA training loop reduces hinge loss on the embeddings") {
    val (w, metrics) = ps.PaTrainer.train(spark, embeddings, dim = 64, iters = 5)
    assert(w.length === 64)
    assert(metrics.size === 5)
    assert(metrics.last._1 < metrics.head._1, metrics)   // hinge decreased
    assert(metrics.last._2 > 0.5, metrics)               // beats chance
  }

  test("PA weights and metrics are bitwise equal at 1, 4 and 7 partitions") {
    val setting = spark.conf.get("spark.sql.shuffle.partitions")
    val runs = PartitionSweep(spark, Seq(1, 4, 7)) { n =>
      val (w, metrics) = ps.PaTrainer.train(spark, embeddings.repartition(n), dim = 64, iters = 5)
      (PartitionSweep.bits(w.toSeq), metrics.map(m => PartitionSweep.bits(Seq(m._1, m._2))))
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") === setting)
    runs.tail.foreach(r => assert(r === runs.head, "PA differs across partition counts"))
  }

  test("PA train releases its cached rows") {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    ps.PaTrainer.train(spark, embeddings, dim = 64, iters = 2)
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
    assert(CacheProbe.isEmpty(spark))
  }

  test("PA huge feature overflows the fixed-point hinge sum and throws, naming it") {
    // iteration 1 sets w0 = 10 * 0.5 / 11; iteration 2's hinge on the
    // huge row is then 1 + w0 * 1e15, far outside the range
    val data = (Seq.fill(10)((Seq(1.0, 0.0), 1.0)) :+ ((Seq(1e15, 0.0), -1.0))).toDF("x", "y")
    val e = intercept[ArithmeticException](ps.PaTrainer.train(spark, data, dim = 2, iters = 2))
    val v = """value (\S+) outside""".r.findFirstMatchIn(e.getMessage).map(_.group(1).toDouble)
    assert(v.exists(_ > 4e14), e.getMessage)
  }
}
