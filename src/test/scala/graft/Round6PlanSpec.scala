package graft

/** Round-6 plan lock (that round's scale audit): text_tfidf once
  * broadcast the document-frequency relation, the full corpus
  * VOCABULARY, Heaps-law unbounded on a real crawl, and only looked
  * fine because the fixture vocabulary fits in a broadcast. text_tfidf
  * now shuffles its df partials to term blocks and its scores to doc
  * blocks (LlmPipeline.tfidfTopOn); this suite pins that nothing it
  * runs is broadcast: its executed plan, after a run has fixed the
  * adaptive plan, has no broadcast exchange and no broadcast join.
  */
class Round6PlanSpec extends SparkSpec {

  test("text_tfidf's executed plan has no broadcast") {
    val df = operators.LlmPipeline.textTfidf(spark, sfDir)
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Broadcast"), plan)
    spark.catalog.clearCache()
  }
}
