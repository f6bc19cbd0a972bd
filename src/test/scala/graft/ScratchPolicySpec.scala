package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.sources.{Snapshots, Tables}
import graft.streaming.StreamingOps

/** The scratch policy end to end, through the qids and mains that use
  * it: stages follow their source tables' content, and per-process
  * entries (checkpoints, the bench warm, the warehouse) stay with their
  * JVM and leave nothing behind.
  */
class ScratchPolicySpec extends SparkSpec {

  private def root = Paths.get(Scratch.tmpRoot)

  /** Run `body` on a fresh empty corpus dir, then delete it and every
    * stage derived from it. */
  private def withDir(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_policy_").toString
    try body(dir)
    finally {
      Scratch.entries(root)
        .filter(_.getFileName.toString.contains(s"_${Integer.toHexString(dir.hashCode)}_"))
        .foreach(Scratch.deleteRecursively)
      Scratch.deleteRecursively(Paths.get(dir))
    }
  }

  test("a source table rewritten in place restages: source_csv reads the new rows, the old stage goes") {
    withDir { dir =>
      Tables.nation(spark, sfDir).write.parquet(s"$dir/nation.parquet")
      def writeSupplier(keep: org.apache.spark.sql.Column) =
        Tables.supplier(spark, sfDir).filter(keep)
          .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
      def suppliers() = operators.Relational.sourceCsv(spark, dir)
        .agg(sum(col("n_suppliers"))).head().getLong(0)
      writeSupplier(lit(true))
      assert(suppliers() === Tables.supplier(spark, sfDir).count())
      val first = Snapshots.stagePath("csv", dir, Seq("supplier"))
      assert(Files.exists(first.resolve("_SUCCESS")))
      writeSupplier(col("s_suppkey") % 2 === 0)
      assert(suppliers() === Tables.supplier(spark, sfDir).filter(col("s_suppkey") % 2 === 0).count(),
        "source_csv replayed the stage of the old table")
      assert(!Files.exists(first), "the superseded stage survived")
    }
  }

  test("an events source given as a multi-part directory stages every part; stream_live_state equals its batch twin") {
    withDir { dir =>
      Tables.table(spark, sfDir, "events").repartition(4)
        .write.parquet(s"$dir/events.parquet")
      val streamed = Registry.byId("stream_live_state").fn(spark, dir).collect().toSeq
      val parts = Snapshots.dataFiles(dir, "events").map(_.getFileName.toString)
      assert(parts.size === 4)
      val staged = Snapshots.stagePath("stream", dir, Seq("events"))
      assert(Scratch.entries(staged).map(_.getFileName.toString)
        .filterNot(_.startsWith("_")).sorted === parts, "a part file was not staged")
      val batch = Tables.events(spark, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), max(Det.cents(col("value"))).as("max_cents"))
        .orderBy(col("user_id")).collect().toSeq
      assert(streamed.nonEmpty)
      assert(streamed.map(_.toString) === batch.map(_.toString))
    }
  }

  test("two runToTable runs use distinct graft_chk_<pid>_* dirs and leave none behind") {
    val prefix = s"graft_chk_${ProcessHandle.current().pid()}_"
    def chks() = ScratchPolicySpec.entriesNamed(prefix)
    // every row records the checkpoint dirs that exist while its batch runs
    val seen = udf(() => ScratchPolicySpec.entriesNamed(prefix)).asNondeterministic()
    val used = Seq("a", "b").map { n =>
      val out = StreamingOps.runToTable(spark,
        StreamingOps.eventStream(spark, sfDir).select(seen().as("chk")),
        s"graft_chk_probe_$n", org.apache.spark.sql.streaming.OutputMode.Append())
      val dirs = out.collect().map(_.getString(0)).distinct.toSeq
      spark.catalog.dropTempView(s"graft_chk_probe_$n")
      assert(chks().isEmpty, s"run $n left its checkpoint dir behind")
      dirs
    }
    assert(used.forall(d => d.size == 1 && d.head.nonEmpty && !d.head.contains(",")),
      s"each run must see exactly its own checkpoint dir: $used")
    assert(used(0) !== used(1), "a checkpoint dir was reused")
  }

  test("stream_live_cdc checkpoints under a graft_chk_<pid>_* entry that is gone after the qid") {
    val prefix = s"graft_chk_${ProcessHandle.current().pid()}_"
    val used = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
    // QueryStartedEvent reaches a session's listeners on the query's own
    // thread as it starts: the checkpoint whose metadata carries the
    // query's id is the one it runs on
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        Scratch.entries(root).filter { p =>
          val meta = p.resolve("metadata")
          p.getFileName.toString.startsWith(prefix) && Files.exists(meta) &&
            Files.readString(meta).contains(e.id.toString)
        }.foreach(used.add)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try assert(Registry.byId("stream_live_cdc").fn(spark, sfDir).collect().nonEmpty)
    finally spark.streams.removeListener(listener)
    assert(used.size === 1, s"the CDC stream ran on no per-run checkpoint under $root")
    assert(!Files.exists(used.peek), s"${used.peek} survived the qid")
  }

  test("the Bench prelude's streaming warm leaves no scratch behind") {
    val tmpdir = Paths.get(System.getProperty("java.io.tmpdir"))
    def warmDirs() = Scratch.entries(tmpdir).map(_.getFileName.toString)
      .filter(_.startsWith("graft_warm")).toSet
    val before = warmDirs()
    Bench.warmStreaming(spark)
    assert(!Files.exists(Scratch.own("warm")), "the warm's scratch entry survived")
    assert(warmDirs() === before, "the warm left a dir in java.io.tmpdir")
  }

  test("the test session keeps managed tables in its per-process warehouse") {
    assert(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") ===
      Scratch.own("warehouse").toString)
    operators.Relational.joinBucketed(spark, sfDir).count()
    val lt = s"graft_bkt_lineitem_${Integer.toHexString(sfDir.hashCode)}"
    assert(Files.isDirectory(Scratch.own("warehouse").resolve(lt)))
  }
}

object ScratchPolicySpec {
  /** The scratch entries whose names start with `prefix`, comma-joined
    * (a UDF body: no reference to the suite instance). */
  def entriesNamed(prefix: String): String =
    Scratch.entries(Paths.get(Scratch.tmpRoot)).map(_.getFileName.toString)
      .filter(_.startsWith(prefix)).sorted.mkString(",")
}
