package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Locks the round-6 basket-form pair generation against the self-join
  * formulation it replaced, on RANDOM data with duplicates and skewed
  * group sizes — the shapes where the two could diverge if the
  * value-inequality / set-semantics argument were wrong anywhere.
  *
  * coPurchaseAll's claim: collect_list per group + double explode with
  * src != dst (VALUE inequality) counts exactly the row pairs of the
  * self-join `a.key = b.key AND a.val != b.val` — duplicates stay in
  * the basket, so row-pair multiplicity (hence every support count) is
  * preserved.
  *
  * mf_cooccur's claim: collect_set per group + double explode with
  * a < b counts each group's unordered DISTINCT value pairs once —
  * identical to the self-join over the distinct relation — and the
  * size() filter equals the distinct-degree cap.
  */
class BasketPairsSpec extends SparkSpec {

  /** Seeded random (key, value) rows with duplicates: ~200 groups,
    * group size 1..12, values drawn from a domain small enough to force
    * repeats inside a group. */
  private def randomRows(seed: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (1 to 1500).map { _ =>
      (rnd.nextInt(200).toLong, rnd.nextInt(40).toLong)
    }.toDF("k", "v")
  }

  private def supportsBySelfJoin(rows: DataFrame): DataFrame =
    rows.as("a").join(rows.as("b"),
        col("a.k") === col("b.k") && col("a.v") =!= col("b.v"))
      .groupBy(col("a.v").as("src"), col("b.v").as("dst"))
      .agg(count(lit(1)).as("support"))

  private def supportsByBasket(rows: DataFrame): DataFrame =
    rows.groupBy(col("k")).agg(collect_list(col("v")).as("vs"))
      .select(explode(col("vs")).as("src"), col("vs"))
      .select(col("src"), explode(col("vs")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("support"))

  test("basket collect_list pair counts equal the row-level self-join on random data") {
    for (seed <- Seq(7, 42, 1234)) {
      val rows = randomRows(seed).cache()
      val a = supportsBySelfJoin(rows).orderBy("src", "dst").collect().toSeq
      val b = supportsByBasket(rows).orderBy("src", "dst").collect().toSeq
      assert(a == b, s"seed=$seed: basket supports diverge from self-join supports")
      rows.unpersist()
    }
  }

  private def cooccurBySelfJoin(rows: DataFrame, cap: Int): DataFrame = {
    val ui = rows.select(col("k"), col("v")).distinct()
    val deg = ui.groupBy(col("k")).agg(count(lit(1)).as("d"))
      .filter(col("d") <= cap)
    val capped = ui.join(deg.select("k"), "k")
    capped.as("a").join(capped.as("b"),
        col("a.k") === col("b.k") && col("a.v") < col("b.v"))
      .groupBy(col("a.v").as("va"), col("b.v").as("vb"))
      .agg(count(lit(1)).as("support"))
  }

  private def cooccurByBasket(rows: DataFrame, cap: Int): DataFrame =
    rows.groupBy(col("k")).agg(collect_set(col("v")).as("vs"))
      .filter(size(col("vs")) <= cap)
      .select(explode(col("vs")).as("va"), col("vs"))
      .select(col("va"), explode(col("vs")).as("vb"))
      .filter(col("va") < col("vb"))
      .groupBy(col("va"), col("vb"))
      .agg(count(lit(1)).as("support"))

  test("basket collect_set cooccurrence with size cap equals distinct self-join with degree cap") {
    for ((seed, cap) <- Seq((7, 5), (42, 8), (1234, 3))) {
      val rows = randomRows(seed).cache()
      val a = cooccurBySelfJoin(rows, cap).orderBy("va", "vb").collect().toSeq
      val b = cooccurByBasket(rows, cap).orderBy("va", "vb").collect().toSeq
      assert(a == b, s"seed=$seed cap=$cap: basket cooccurrence diverges from self-join")
      rows.unpersist()
    }
  }

  /** shinglePairStats' claim (the third basket form): over a DISTINCT
    * (key, value) posting relation with a df cap on the key, sorted
    * collect_list + double explode with a < b yields one row per
    * shared key per unordered pair — identical to the capped postings
    * self-join `x.key = y.key AND x.v < y.v` — and a size-2 basket is
    * itself the canonical pair (the dedup_clusters edge path). */
  test("shingle-style basket pair stats equal the capped postings self-join on random data") {
    for ((seed, cap) <- Seq((7, 6), (42, 4), (1234, 9))) {
      // distinct postings: a doc lists a shingle at most once
      val sh = randomRows(seed).select(col("v").as("doc"), col("k").as("shingle"))
        .distinct().cache()
      val capped = CappedSelfJoin.capped(sh, cap)
      val bySelfJoin = CappedSelfJoin.inter(capped)
      val baskets = capped.groupBy("shingle")
        .agg(sort_array(collect_list(col("doc"))).as("docs")).cache()
      val byBasket = baskets
        .select(explode(col("docs")).as("da"), col("docs"))
        .select(col("da"), explode(col("docs")).as("db"))
        .filter(col("da") < col("db"))
        .groupBy("da", "db").agg(count(lit(1)).as("inter"))
      val a = bySelfJoin.orderBy("da", "db").collect().toSeq
      val b = byBasket.orderBy("da", "db").collect().toSeq
      assert(a == b, s"seed=$seed cap=$cap: basket pair stats diverge from self-join")
      // a 2-doc basket IS the canonical edge: filter+projection must
      // equal the distinct pair set of df=2 keys from the self-join
      val edgesByBasket = baskets.filter(size(col("docs")) === 2)
        .select(col("docs").getItem(0).as("src"), col("docs").getItem(1).as("dst"))
        .distinct()
      val df2 = capped.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") === 2).select("shingle")
      val edgesBySelfJoin = capped.join(df2, "shingle").as("x")
        .join(capped.join(df2, "shingle").as("y"),
          col("x.shingle") === col("y.shingle") && col("x.doc") < col("y.doc"))
        .select(col("x.doc").as("src"), col("y.doc").as("dst"))
        .distinct()
      val ea = edgesBySelfJoin.orderBy("src", "dst").collect().toSeq
      val eb = edgesByBasket.orderBy("src", "dst").collect().toSeq
      assert(ea == eb, s"seed=$seed cap=$cap: df=2 basket edges diverge")
      baskets.unpersist(); sh.unpersist()
    }
  }
}

/** The capped postings self-join: the reference form of the shingle
  * pair stats over (doc, shingle) postings. */
object CappedSelfJoin {

  /** The postings of keys whose df (all rows, null docs included) is
    * at most `cap`. */
  def capped(sh: DataFrame, cap: Long): DataFrame = {
    val hot = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select("shingle")
    sh.join(hot, Seq("shingle"), "left_anti")
  }

  /** (da, db, inter): shared keys per doc pair da < db. */
  def inter(capped: DataFrame): DataFrame =
    capped.as("x").join(capped.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc") < col("y.doc"))
      .groupBy(col("x.doc").as("da"), col("y.doc").as("db"))
      .agg(count(lit(1)).as("inter"))
}
