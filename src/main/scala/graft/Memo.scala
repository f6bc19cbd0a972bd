package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The per-application memo: every base-table scan
  * ([[sources.Tables.table]]), stage read ([[sources.Snapshots]]) and
  * family build (the shingle, pair-stats, doc-terms, co-purchase and IVF
  * families) is one DataFrame per (application, key) here. The contract:
  *  - a key names everything its DataFrame reads: a scan's key carries
  *    its table's content (data file names, sizes, mtimes), so a table
  *    rewritten in place is read again, never through its old file index;
  *  - a hit on a build that was persisted when it was built requires live
  *    storage, so a clearCache just causes a rebuild and correctness never
  *    depends on cache residency;
  *  - the entries of a stopped application are dropped at the first
  *    access from the next one (one SparkContext is live per JVM, so every
  *    other application is stopped), and never pin a dead session's plans.
  * Each miss is logged to [[BuildLog]] as "memo miss: `what`".
  */
object Memo {
  private final case class Entry(df: DataFrame, persisted: Boolean)

  private val held = scala.collection.concurrent.TrieMap.empty[(String, Any), Entry]
  @volatile private var liveApp = ""

  def apply(spark: SparkSession, key: Any, what: => String)(build: => DataFrame): DataFrame = {
    val app = spark.sparkContext.applicationId
    if (app != liveApp) {
      liveApp = app
      held.filterInPlace { case ((a, _), _) => a == app }
    }
    held.get((app, key))
      .filter(e => !e.persisted || e.df.storageLevel != StorageLevel.NONE)
      .map(_.df)
      .getOrElse {
        BuildLog.log(s"memo miss: $what")
        val df = build
        held.put((app, key), Entry(df, df.storageLevel != StorageLevel.NONE))
        df
      }
  }

  /** Drop `key` in every application. */
  def forget(key: Any): Unit = held.filterInPlace { case ((_, k), _) => k != key }

  /** The applications that hold entries. */
  private[graft] def applications: Set[String] = held.keySet.map(_._1).toSet
}
