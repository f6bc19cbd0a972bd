package graft.obs

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Registry

/** The harness under the diagnostic mains (`graft.Audit`,
  * `graft.Profile`, `ScaleRehearsal`) and `graft.Bench`: one qid
  * selection, one family-boundary cache rule and one sweep, on the
  * session `graft.GraftSession` builds. What a run started is read from
  * one [[Recorder]]; the live-plan walker and the plan measures are in
  * [[Plans]].
  */
object Diag {
  /** Every registered qid, in name order (the bench's order). */
  def allQids: Seq[String] = Registry.all.map(_.id).sorted

  /** The registered qids starting with one of the SPARK_GRAFT_ONLY
    * prefixes (comma-separated) when it is set, else `default`: re-check
    * just the qids a fix touched without a full sweep. */
  def selected(default: Seq[String]): Seq[String] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq) match {
      case Some(prefixes) => allQids.filter(q => prefixes.exists(q.startsWith))
      case None => default
    }

  /** `qids` for a QueryExecutionListener measure. stream_live_* run
    * through streaming's IncrementalExecution, which never reaches that
    * listener: running them would pay seconds of streaming machinery to
    * audit only the trivial post-sink batch fragment, recording hollow
    * coverage. Their scale story is the batch twins' (same shapes) plus
    * the StreamingMlSpec equality proofs; they are excluded loudly. */
  def planQids(qids: Seq[String]): Seq[String] = qids.filterNot { q =>
    val skip = q.startsWith("stream_live")
    if (skip) println(s"SKIP $q (streaming IncrementalExecution is invisible to QueryExecutionListener)")
    skip
  }

  /** Clear the cache after `qids(i)` when the next qid starts another
    * family (the prefix before the first `_`), or `qids(i)` is the last:
    * shared family relations are built once per family and storage
    * never outlives it. */
  def endFamily(spark: SparkSession, qids: Seq[String], i: Int): Unit = {
    def family(q: String): String = q.takeWhile(_ != '_')
    if (i + 1 >= qids.size || family(qids(i + 1)) != family(qids(i)))
      try spark.catalog.clearCache() catch { case _: Throwable => () }
  }

  /** Run `action` on each qid's frame over `dir`, in the given order,
    * each under [[Recorder.during]], with [[endFamily]] after each.
    * Lazy, one qid per step, so a caller that reads its measure off a
    * record and drops it never holds two qids' plans. A failing qid
    * prints an `ERR` line and reports what was recorded anyway. */
  def sweep(spark: SparkSession, dir: String, qids: Seq[String])(
      action: DataFrame => Any): Iterator[(String, Record)] =
    qids.iterator.zipWithIndex.map { case (q, i) =>
      val record = Recorder.during(spark) {
        try action(Registry.byId(q).fn(spark, dir))
        catch { case t: Throwable => println(s"ERR $q $dir ${t.getClass.getSimpleName}") }
      }
      endFamily(spark, qids, i)
      q -> record
    }
}
