package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Contract tests for the family-shared memoized relations
  * (graft.Memo and its callers): within a session the same
  * persisted instance is reused; after a clearCache the memo must
  * REBUILD (detect the dead storage level), not hand back a handle to
  * dropped blocks — Verify's per-query clearCache hygiene and the
  * bench's family-boundary clearing both depend on this.
  */
class SharedRelationsSpec extends SparkSpec {

  // every family memo: the build under test, as its callers reach it
  private val memos: Seq[(String, () => DataFrame)] = Seq(
    "shinglePairStats" -> (() => operators.LlmPipeline.shinglePairStats(spark, sfDir)),
    "docTerms" -> (() => operators.LlmPipeline.docTerms(spark, sfDir)),
    "coPurchaseAll" -> (() => operators.Relational.coPurchaseAll(spark, sfDir)),
    "coPurchaseCanon" -> (() => operators.Relational.coPurchaseCanon(spark, sfDir)),
    "ivfCandidatesShared" -> (() => ml.MlBridges.ivfCandidatesShared(spark, sfDir,
      operators.LlmPipeline.AnnNCells, Some(operators.LlmPipeline.AnnQueryBand))))

  memos.foreach { case (name, build) =>
    test(s"$name: reused while cached, rebuilt after clearCache, same rows") {
      def rows(df: DataFrame) = df.orderBy(df.columns.head, df.columns.tail.toIndexedSeq: _*).collect()
      val a = build()
      val rowsA = rows(a)
      assert(build() eq a, "second call while cached must return the memoized instance")
      spark.catalog.clearCache()
      assert(a.storageLevel == StorageLevel.NONE, "clearCache should drop the blocks")
      val b = build()
      assert(!(b eq a), "after clearCache the memo must rebuild, not reuse")
      assert(b.storageLevel != StorageLevel.NONE, "rebuild must re-persist")
      assert(rows(b).sameElements(rowsA), "rebuild must reproduce identical content")
      spark.catalog.clearCache()
    }
  }

  test("shingleBase: reused while cached, rebuilt after clearCache, consistent") {
    val base = operators.LlmPipeline.shingleBase(spark, sfDir)
    assert(operators.LlmPipeline.shingleBase(spark, sfDir) eq base)
    val nPostings = base.count()
    spark.catalog.clearCache()
    assert(base.storageLevel == StorageLevel.NONE)
    val base2 = operators.LlmPipeline.shingleBase(spark, sfDir)
    assert(!(base2 eq base), "memo must rebuild after clearCache")
    assert(base2.count() == nPostings)
    spark.catalog.clearCache()
  }

  test("shingleBaskets: sorted capped baskets equal to the postings groupBy; memo rebuilds") {
    import org.apache.spark.sql.functions._
    val baskets = operators.LlmPipeline.shingleBaskets(spark, sfDir)
    assert(operators.LlmPipeline.shingleBaskets(spark, sfDir) eq baskets,
      "second call while cached must return the memoized instance")
    // every basket is sorted ascending and non-empty (df=0 impossible)
    val unsorted = baskets.filter(
      col("docs") =!= sort_array(col("docs")) || size(col("docs")) < 1)
    assert(unsorted.isEmpty, "baskets must be sorted non-empty doc arrays")
    // exploding the baskets recovers exactly the df-capped postings:
    // pair generation and the size denominator both ride this identity
    val exploded = baskets
      .select(col("shingle"), explode(col("docs")).as("doc_id"))
    val sh = operators.LlmPipeline.shingleBase(spark, sfDir)
    val capped = sh.join(
      sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") > operators.LlmPipeline.DfCap).select("shingle"),
      Seq("shingle"), "left_anti")
      .select(col("shingle"), col("doc_id"))
    assert(exploded.exceptAll(capped).isEmpty && capped.exceptAll(exploded).isEmpty,
      "basket explode must equal the df-capped posting relation")
    spark.catalog.clearCache()
    val rebuilt = operators.LlmPipeline.shingleBaskets(spark, sfDir)
    assert(!(rebuilt eq baskets), "after clearCache the memo must rebuild")
    assert(rebuilt.count() == baskets.count())
    spark.catalog.clearCache()
  }

  test("coPurchaseAll: directed set is symmetric-distinct and the src<dst half carries canonical support") {
    import org.apache.spark.sql.functions._
    val all = operators.Relational.coPurchaseAll(spark, sfDir)
    // (src, dst) pairs are distinct by construction (groupBy output)
    assert(all.count() == all.select("src", "dst").distinct().count())
    // symmetric: support(a, b) == support(b, a) for every pair
    val asym = all.as("f").join(all.as("r"),
        col("f.src") === col("r.dst") && col("f.dst") === col("r.src"),
        "full_outer")
      .filter(col("f.support").isNull || col("r.support").isNull ||
        col("f.support") =!= col("r.support"))
    assert(asym.isEmpty, "directed supports must mirror exactly")
    // the src<dst half must equal an independently-built canonical
    // aggregation over the raw lineitem self-join
    val li = sources.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val indep = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("src"), col("b.pk").as("dst"))
      .agg(count(lit(1)).as("support"))
    val half = all.filter(col("src") < col("dst"))
    assert(half.exceptAll(indep).isEmpty && indep.exceptAll(half).isEmpty,
      "src<dst half of the shared relation must equal the direct canonical build")
    spark.catalog.clearCache()
  }
}
