package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe: stage timings of dedup_minhash in its CURRENT (r8,
  * basket-hashed) shape — signature wide-agg off shingleBaskets /
  * banding / candidate self-join / sizes / verification joins — for
  * bench-cost attribution. Two passes separate first-run JIT from the
  * steady-state cost of each stage. Not a driver surface. */
object MinhashProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", Warehouse.dir)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"$tag: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    for (pass <- 1 to 2) {
      println(s"--- pass $pass")
      val sh = operators.LlmPipeline.shingleBase(spark, dir)
      t("shingleBase count")(sh.count())
      val baskets = operators.LlmPipeline.shingleBaskets(spark, dir)
      t("baskets count")(baskets.count())
      val hashed = baskets
        .withColumn("d0", md5(concat(lit("100:"), col("shingle"))))
        .withColumn("d1", md5(concat(lit("101:"), col("shingle"))))
        .withColumn("d2", md5(concat(lit("102:"), col("shingle"))))
        .withColumn("d3", md5(concat(lit("103:"), col("shingle"))))
        .select(col("docs"), array((0 until 16).map { s =>
          expr(s"cast(conv(substring(d${s / 4}, ${s % 4 * 8 + 1}, 8), 16, 10) as bigint)")
        }: _*).as("mhs"))
      val minAggs = (0 until 16).map { s =>
        min(element_at(col("mhs"), s + 1)).as(s"mh$s")
      }
      val wide = t("signature wide agg")(
        hashed.select(explode(col("docs")).as("doc_id"), col("mhs"))
          .groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*).localCheckpoint())
      val sig = wide.select(col("doc_id"),
        posexplode(array((0 until 16).map(s => col(s"mh$s")): _*)).as(Seq("seed", "mh")))
      val bands = t("banding agg")(sig.withColumn("band", expr("seed div 4"))
        .groupBy("doc_id", "band")
        .agg(md5(concat_ws(",", sort_array(collect_list(
          format_string("%02d:%020d", col("seed"), col("mh")))))).as("bv"))
        .localCheckpoint())
      val cand = t("candidate self-join")(bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .distinct().localCheckpoint())
      println(s"candidates: ${cand.count()}")
      t("sizes groupBy over postings")(
        sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh")).localCheckpoint())
      val inter = cand
        .join(sh.as("x"), col("da") === col("x.doc_id"))
        .select(col("da"), col("db"), col("x.shingle").as("c_shingle"))
        .join(sh.as("y"),
          col("db") === col("y.doc_id") && col("c_shingle") === col("y.shingle"))
        .groupBy("da", "db").agg(count(lit(1)).as("inter"))
      t("verification joins")(inter.count())
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
