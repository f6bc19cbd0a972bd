package graft

/** Structural locks for the round-9 scan-audit restatements. Each of
  * these queries was rewritten so every consumer derives from ONE read
  * (or the documented floor) of its big table; moving back to the old
  * union-of-branches / aggregate-join shapes would keep results
  * bit-identical and only re-inflate the read volume — exactly the
  * regression a correctness suite cannot see. The lock is the live
  * parquet-scan count in the EXECUTED adaptive plan (the scan audit's
  * metric, `obs.Plans.liveScans`: scans reachable without crossing a
  * ReusedExchange or InMemoryTableScan), after a collect so AQE has
  * materialized its reuse decisions — count() would prune columns and
  * legitimately restructure branches (see `graft.Audit`'s scaladoc).
  */
class Round9PlanSpec extends SparkSpec {

  private def liveScanCount(qid: String): Int = {
    val df = Registry.byId(qid).fn(spark, sfDir)
    df.collect()
    obs.Plans.liveScans(df.queryExecution.executedPlan).size
  }

  private def liveExchangeDupes(qid: String): Int = {
    val df = Registry.byId(qid).fn(spark, sfDir)
    df.collect()
    obs.Plans.liveExchanges(df.queryExecution.executedPlan)
      .groupBy(_.canonicalized.semanticHash()).values.count(_.size > 1)
  }

  test("sketch_tow: one events scan feeds the sketch and the exact twin") {
    assert(liveScanCount("sketch_tow") == 1)
  }

  test("text_langid: one documents scan for all lexicons (stack, not union)") {
    assert(liveScanCount("text_langid") == 1)
  }

  test("fn_collate: one part scan for the case-variant union (explode, not union)") {
    assert(liveScanCount("fn_collate") == 1)
  }

  test("dedup_lines: one documents scan; the cross-doc count rides a window") {
    assert(liveScanCount("dedup_lines") == 1)
    val plan = Registry.byId("dedup_lines").fn(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
  }

  test("sketch_heavy_hitters: one documents scan; sketch folds the count relation") {
    assert(liveScanCount("sketch_heavy_hitters") == 1)
  }

  test("text_bm25: two documents scans (stats + scoring, the no-cache floor)") {
    assert(liveScanCount("text_bm25") <= 2)
  }

  test("mf_fold_in: at most two ratings reads (model build + scoring)") {
    // the snapshot is parquet-backed, so live parquet scans bound the
    // ratings reads; the old shape paid four
    assert(liveScanCount("mf_fold_in") <= 2)
  }

  test("sketch_cms: one events scan feeds the sketch and the exact top-10") {
    assert(liveScanCount("sketch_cms") == 1)
  }

  test("ts_outlier: one events scan; both medians ride reused exchanges") {
    assert(liveScanCount("ts_outlier") == 1)
  }

  test("no restated qid recomputes a semantically-equal live shuffle") {
    for (qid <- Seq("sketch_tow", "text_langid", "fn_collate", "dedup_lines",
        "sketch_heavy_hitters", "text_bm25", "mf_fold_in", "sketch_cms",
        "ts_outlier"))
      assert(liveExchangeDupes(qid) == 0, qid)
  }
}
