package graft
import java.util.Locale

import org.apache.spark.sql.SparkSession
/** The graded sweep, `sbt "runMain graft.Bench"` (`tools/run_main.sh
  * graft.Bench`): after an untimed prelude of warms, it times
  * `fn(spark, sf).count()` for every registered qid in name order and
  * prints one JSON line per qid, then a 40-qid `"metric":"queries"` map
  * and a short final `{"metric":"total",…}` line, the two the
  * round-over-round comparator parses from the last 2,000 chars of
  * stdout. Every JSON line of the
  * run also goes to one artifact, `BENCH_QUERIES_LATEST.jsonl`.
  * docs/DESIGN.md "Bench calibration" reads the channels.
  */
object Bench {
  // Host-calibration probes make the artifact self-attributing (the r9
  // graded artifact, 326 s against a 77 s same-HEAD local sweep, was
  // attributable to host throttling only out of band): a single-thread
  // LCG loop (pure clock speed of one core) and one tiny fixed Spark job
  // (scheduler, codegen-cache and thread-pool health), sampled at sweep
  // start, midpoint and end. Per qid, continuous channels close the gaps
  // between those samples:
  //  - process-CPU seconds (JVM-wide, GC included): a code regression
  //    does more CPU work; steal inflates wall at flat CPU; frequency
  //    throttling inflates both and the clock samples;
  //  - /proc/stat deltas: steal seconds (other-tenant CPU theft) and
  //    busy-other seconds (a competing process on the same VM), for the
  //    whole sweep and inside each qid's own window. Linux-only.
  private val osBean = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => Some(b)
      case _ => None
    }
  private def processCpuSec(): Double =
    osBean.map(_.getProcessCpuTime / 1e9).getOrElse(-1.0)
  // Cumulative stop-the-world GC seconds across all collectors: real CPU
  // burned by this JVM that the host channels cannot flag (r10: the 8g
  // default-flags regime cost +24% wall with flat probes and zero steal).
  // Weather shows in steal/clk, code in cpu at flat gc, heap pressure here.
  private def gcSec(): Double =
    try {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
    } catch { case _: Throwable => -1.0 }
  // Delta of two gcSec() reads with the sentinel kept coherent (r10
  // ADVICE): if either endpoint is the -1 unavailability marker, the
  // delta is -1 too — never a meaningless raw difference.
  private[graft] def gcDelta(g0: Double, g1: Double): Double =
    if (g0 < 0 || g1 < 0) -1.0 else g1 - g0

  // ---- JVM regime: detected once, proven in the artifact ----
  // Pre-sized heap and ParallelGC erased a +24%-wall GC tax (build.sbt,
  // docs/DESIGN.md "Bench calibration"), and capping the young
  // generation at the 8g geometry erased the multi-second minor-GC
  // bursts of a large presized heap. build.sbt's forked run applies all
  // three, so the graded `sbt runMain` launch is in regime; any other
  // launch prints one REGIME MISMATCH line and runs in process, and the
  // final line's "jvm" object records what actually ran.
  private def gcBeanNames: Set[String] = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getName).toSet
  }
  private def heapBean = java.lang.management.ManagementFactory
    .getMemoryMXBean.getHeapMemoryUsage
  /** JVM -Xmx-style size string to bytes; ANY malformed input
    * (empty string, "8 gb", garbage) or non-positive size ("-8g", "0")
    * falls back to the 8g default — an exported-but-empty
    * SPARK_DRIVER_MEM must never be a crash. A NON-empty value that
    * fails the parse gets a one-line warning (r11 ADVICE): a host
    * provisioned "100gb" must not benchmark at 8g with no diagnostic
    * until the jvm artifact object is read. */
  private[graft] def parseMemBytes(raw: String): Long =
    try {
      val s = raw.trim.toLowerCase
      val mult = s.last match {
        case 'k' => 1L << 10
        case 'm' => 1L << 20
        case 'g' => 1L << 30
        case 't' => 1L << 40
        case _ => 1L
      }
      val digits = if (s.last.isDigit) s else s.dropRight(1)
      val bytes = digits.toLong * mult
      require(bytes > 0, s"non-positive size $bytes")
      bytes
    } catch {
      case _: Throwable =>
        if (raw.trim.nonEmpty)
          println(s"WARN: SPARK_DRIVER_MEM '$raw' unparseable or not positive - using the 8g default")
        8L << 30
    }
  /** Target heap: the driver contract's SPARK_DRIVER_MEM (default 8g,
    * the §13 ladder's proven point), parsed to bytes. */
  private[graft] def targetHeapBytes: Long =
    parseMemBytes(sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))
  /** Max capacity of the eden pool in bytes, or -1 if unknowable. */
  private[graft] def edenMaxBytes: Long =
    try {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .find(_.getName.toLowerCase.contains("eden"))
        .map(_.getUsage.getMax).getOrElse(-1L)
    } catch { case _: Throwable => -1L }

  /** The timing regime of the running JVM, read from runtime state, not
    * launch flags. `parallel`: ParallelGC's beans won. `presized`: init
    * ≈ max, so no heap-growth stalls (a stock launch's 1/64-of-RAM
    * initial heap fails it decisively). `sized`: max is at least ~80% of
    * the SPARK_DRIVER_MEM target. `young`: eden is within the proven 8g
    * geometry (~2.2g; past 3g is an uncapped large heap whose minor GCs
    * burst for seconds; an unknowable eden counts as in band). The one
    * predicate Bench's jvm object and both mains' mismatch lines read. */
  private[graft] final case class Regime(parallel: Boolean, presized: Boolean,
      sized: Boolean, young: Boolean) {
    def ok: Boolean = parallel && presized && sized && young
    def mismatch: String =
      s"REGIME MISMATCH: parallel=$parallel presized=$presized sized=$sized young=$young"
  }
  private[graft] def regime(): Regime = {
    val h = heapBean
    val target = targetHeapBytes
    val eden = edenMaxBytes
    Regime(
      parallel = gcBeanNames.exists(_.startsWith("PS ")),
      presized = h.getInit > 0 && h.getMax > 0 && h.getInit >= h.getMax - (h.getMax / 10),
      sized = h.getMax >= target - (target / 5),
      young = eden <= 0 || eden <= (3L << 30))
  }
  /** The collector family of this JVM, as the jvm object names it. */
  private def gcName: String = {
    val names = gcBeanNames
    if (names.exists(_.startsWith("PS "))) "parallel"
    else if (names.exists(_.startsWith("G1 "))) "g1"
    else if (names.exists(_.contains("ZGC"))) "z"
    else names.headOption.getOrElse("?")
  }
  /** ~90-char self-identification of the graded JVM for the final
    * line: collector family, max heap and eden, and the regime bits. */
  private[graft] def jvmJson(r: Regime, gc: String, heapBytes: Long, edenBytes: Long): String = {
    val g = 1024.0 * 1024 * 1024
    s""","jvm":{"gc":"$gc","heap_g":${num(heapBytes / g, 1)},"eden_g":${num(edenBytes / g, 1)},"presized":${r.presized},"sized":${r.sized},"young_ok":${r.young},"regime_ok":${r.ok}}"""
  }
  // (user, nice, system, idle, iowait, irq, softirq, steal, ...) in
  // USER_HZ ticks (100 Hz on every mainstream Linux) summed over cores
  private def procStat(): Option[Array[Long]] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try Some(src.getLines().next().split("\\s+").drop(1).map(_.toLong))
      finally src.close()
    } catch { case _: Throwable => None }
  /** (steal_s, busy_other_s) between two /proc/stat snapshots, given
    * this JVM's own process-CPU seconds inside the same window: steal =
    * hypervisor ticks stolen by other tenants; busy_other = non-idle
    * host CPU not charged to this JVM (a competing process on the VM).
    * Both in CPU-core-seconds; (-1,-1) when /proc/stat is unreadable
    * (non-Linux). Used for the whole sweep and for EACH query's own
    * timing window (VERDICT r12 ask #1): the boundary clk/ac probes
    * sample BETWEEN queries, so a contention burst inside a multi-second
    * query faded before the sample. Resolution is USER_HZ (10 ms-per-core
    * ticks): decisive for multi-second outliers, noise for ~50 ms qids. */
  private[graft] def hostDelta(s0: Option[Array[Long]],
      s1: Option[Array[Long]], myCpu: Double): (Double, Double) =
    (for { a <- s0; b <- s1 } yield {
      val d = b.zip(a).map { case (x, y) => x - y }
      val stealS = if (d.length > 7) d(7) / 100.0 else -1.0
      val idleS = d(3) / 100.0 + (if (d.length > 4) d(4) / 100.0 else 0.0)
      val busyOther = math.max(0.0, d.sum / 100.0 - idleS - math.max(0.0, myCpu))
      (stealS, busyOther)
    }).getOrElse((-1.0, -1.0))
  @volatile private var calSink: Long = 0L // defeat DCE of the CPU loop
  // Per-query clock-speed sample (~13 ms): the CPU channel alone cannot
  // separate "more work" from "same work at a throttled clock" —
  // frequency capping inflates process-CPU seconds proportionally. A
  // fixed 5e6-iteration LCG timed right before each query records the
  // single-thread clock at that instant; under throttle the query and
  // this sample inflate TOGETHER, which a code regression cannot fake.
  private def clkMs(): Double = (1 to 2).map { _ =>
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    val t = System.nanoTime()
    while (i < 5000000L) {
      x = x * 6364136223846793005L + 1442695040888963407L; i += 1
    }
    calSink ^= x
    (System.nanoTime() - t) / 1e6
  }.min
  // ALL-CORE clock sample (r11 verdict ask #1): the single-thread clk
  // probe is blind to all-core DVFS / memory-bandwidth contention. Same
  // fixed LCG work, one copy per hardware thread, all released together;
  // elapsed = the slowest core's effective speed under full load. ac up
  // at flat clk = all-core contention. Min of 2 runs, ~26 ms per query,
  // timed OUTSIDE the per-query window.
  private lazy val acPool = java.util.concurrent.Executors.newFixedThreadPool(
    Runtime.getRuntime.availableProcessors(),
    new java.util.concurrent.ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, "graft-ac-probe"); t.setDaemon(true); t
      }
    })
  private def allCoreMs(): Double =
    try {
      val n = Runtime.getRuntime.availableProcessors()
      (1 to 2).map { _ =>
        val start = new java.util.concurrent.CountDownLatch(1)
        val done = new java.util.concurrent.CountDownLatch(n)
        var k = 0
        while (k < n) {
          acPool.execute(() => {
            try {
              start.await()
              var x = 0x9E3779B97F4A7C15L
              var i = 0L
              while (i < 5000000L) {
                x = x * 6364136223846793005L + 1442695040888963407L; i += 1
              }
              calSink ^= x
            } catch { case _: InterruptedException => () }
            finally done.countDown()
          })
          k += 1
        }
        val t = System.nanoTime()
        start.countDown()
        done.await()
        (System.nanoTime() - t) / 1e6
      }.min
    } catch { case _: Throwable => -1.0 }
  private def calibrate(spark: SparkSession): (Double, Double, Double) = {
    // min of 2 back-to-back runs per probe: a GC pause or one scheduler
    // hiccup inside a single probe run would fake a throttled host; a
    // genuinely throttled host slows BOTH runs, so the min survives it
    def min2(f: => Unit): Double = (1 to 2).map { _ =>
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }.min
    val cpuSec = min2 {
      var x = 0x9E3779B97F4A7C15L
      var i = 0L
      while (i < 200000000L) {
        x = x * 6364136223846793005L + 1442695040888963407L; i += 1
      }
      calSink ^= x
    }
    val sparkSec = min2 {
      spark.range(10000000L).selectExpr("sum(id * 2 + 1) AS s").collect()
    }
    (cpuSec, sparkSec, allCoreMs())
  }
  /** `v` with `digits` decimals and a '.' point under any default
    * locale. Every number in Bench's JSON lines is formatted here: a
    * comma-decimal default locale must not make them invalid JSON. */
  private[graft] def num(v: Double, digits: Int): String =
    s"%.${digits}f".formatLocal(Locale.ROOT, v)

  /** `{"k":v,...}`, each v through [[num]]. */
  private[graft] def numMap(kv: Seq[(String, Double)], digits: Int): String =
    kv.map { case (k, v) => s""""$k":${num(v, digits)}""" }.mkString("{", ",", "}")

  /** One measured query: wall seconds, error class if it threw, and the
    * attribution channels (process-CPU, single-thread clk sample,
    * stop-the-world GC, all-core sample, in-window steal / busy-other). */
  private[graft] final case class QRes(name: String, sec: Double, err: Option[String],
      cpu: Double, clk: Double, gc: Double, ac: Double, st: Double, bo: Double) {
    def json: String = {
      val errTag = err.map(e => s""","err":"$e"""").getOrElse("")
      s"""{"query":"$name","sec":${num(sec, 3)},"cpu":${num(cpu, 3)},"gc":${num(gc, 3)},"clk_ms":${num(clk, 1)},"ac_ms":${num(ac, 1)},"st":${num(st, 2)},"bo":${num(bo, 2)}$errTag}"""
    }
  }

  /** The per-query map the round-over-round comparator reads from the
    * 2,000-char stdout tail (VERDICT r14 item 1): the 40 most expensive
    * successful qids at 2 decimals, printed just before the final line.
    * The 189 names alone are ~2,300 chars, so the complete map is the
    * artifact's per-qid lines. */
  private[graft] def partialLine(rs: Seq[QRes]): String = {
    val top = rs.filter(_.err.isEmpty).sortBy(r => (-r.sec, r.name)).take(40)
    s"""{"metric":"queries","partial":true,"unit":"sec","queries":${numMap(top.map(r => r.name -> r.sec), 2)}}"""
  }

  /** `,"key":{"min":…,"p50":…,"max":…}` over the positive samples (a
    * failed probe's -1 must not read as the sweep's best clock), or "". */
  private def spread(key: String, samples: Seq[Double]): String = {
    val s = samples.filter(_ > 0).sorted
    if (s.isEmpty) ""
    else s""","$key":${numMap(Seq("min" -> s.head, "p50" -> s(s.size / 2), "max" -> s.last), 1)}"""
  }

  /** The final line, LAST on stdout (the graded-run contract): round 5 inlined
    * the per-query map here, the line outgrew the tail capture, and
    * BENCH_r05 came back parsed:null. It carries the total, the cal
    * start/mid/end triples, the clk and ac spreads (max/min = the
    * throttle or contention depth during the sweep), the sweep's host
    * accounting (steal, busy-other, own CPU, GC and wall seconds) and the
    * jvm object. */
  private[graft] def totalLine(rs: Seq[QRes], cal: Seq[(Double, Double, Double)],
      host: Option[Seq[(String, Double)]], jvm: String, sf: String): String = {
    def col(f: ((Double, Double, Double)) => String) = cal.map(f).mkString("[", ",", "]")
    val calJson = s"""{"cpu":${col(c => num(c._1, 3))},"spark":${col(c => num(c._2, 3))},"ac":${col(c => num(c._3, 1))}}"""
    val hostJson = host.fold("")(h => s""","host":${numMap(h, 1)}""")
    s"""{"metric":"total","value":${num(rs.map(_.sec).sum, 3)},"unit":"sec","n_queries":${rs.size},"n_err":${rs.count(_.err.isDefined)},"cpu_total":${num(rs.map(_.cpu).sum, 1)},"cal":$calJson${spread("clk_ms", rs.map(_.clk))}${spread("ac_ms", rs.map(_.ac))}$hostJson$jvm,"sf":"$sf"}"""
  }
  // A permanently broken warm (e.g. a signature change in a warmed
  // production helper) must be VISIBLE in the bench output, not read as
  // an unexplained cold-JIT perf regression — print a one-line marker
  // per failed warm while still never aborting the other warms.
  private def warmed(name: String)(body: => Unit): Unit =
    try body catch {
      case t: Throwable =>
        println(s"WARM FAILED $name ${t.getClass.getSimpleName}")
    }
  /** The prelude's toy corpus for the distinct-first dedup_embed chain:
    * 64 vectors with planted twins (id div 2), so both its intra- and
    * cross-group paths JIT. They have the fixture's 64 dimensions: the
    * sign-LSH key reads at least 12 of them. */
  private[graft] def embedWarmCorpus(spark: SparkSession) =
    spark.range(64).selectExpr("id AS vec_id",
      "transform(sequence(1, 64), j -> cast(((id div 2) * 13 + j) % 19 - 9 as double)) AS v")
  /** The prelude's Structured Streaming warm. The machinery
    * (IncrementalExecution, the state store, the memory sink, the
    * stream-stream hash join) JITs once per JVM, ~1.5–2 s charged to the
    * first stream_live_* qid: a toy windowed agg and interval join through
    * the qids' runToTable path, on a per-process scratch entry deleted
    * when the warm ends. */
  private[graft] def warmStreaming(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions.{col, expr, window}
    import org.apache.spark.sql.streaming.OutputMode
    val tmp = Scratch.own("warm")
    try {
      val in = tmp.resolve("in").toString
      spark.range(8)
        .selectExpr("timestamp_micros(id * 1000000) AS ts", "id % 2 AS k")
        .write.mode("overwrite").parquet(in)
      val sch = spark.read.parquet(in).schema
      def src = spark.readStream.schema(sch).parquet(in)
      streaming.StreamingOps.runToTable(spark,
        src.withWatermark("ts", "1 second")
          .groupBy(window(col("ts"), "2 seconds"), col("k")).count(),
        "graft_warm_stream_agg", OutputMode.Append()).count()
      val l = src.selectExpr("ts AS l_ts", "k AS l_k").withWatermark("l_ts", "1 second")
      val r = src.selectExpr("ts AS r_ts", "k AS r_k").withWatermark("r_ts", "1 second")
      streaming.StreamingOps.runToTable(spark,
        l.join(r, col("l_k") === col("r_k") && col("r_ts") > col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr("INTERVAL 2 SECONDS")),
        "graft_warm_stream_join", OutputMode.Append()).count()
      spark.catalog.dropTempView("graft_warm_stream_agg")
      spark.catalog.dropTempView("graft_warm_stream_join")
    } finally Scratch.deleteRecursively(tmp)
  }
  def main(args: Array[String]): Unit = {
    val jvmRegime = regime()
    if (!jvmRegime.ok)
      println(s"${jvmRegime.mismatch} - running in process; launch through tools/run_main.sh")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the session build reaps stale scratch first, untimed
    val spark = GraftSession.builder().local().build()
    // Warm the session once (codegen compiler, broadcast/shuffle thread
    // pools, parquet reader init) so the first measured query isn't
    // charged several seconds of one-time JVM setup, and build the
    // one-time data layouts (ratings materialized view, bucketed
    // tables, partitioned layout) that are ETL-time artifacts in a real
    // deployment, not per-query cost.
    try {
      import org.apache.spark.sql.functions.{broadcast, col}
      val a = spark.range(1000).toDF("id")
      a.join(broadcast(spark.range(100).toDF("id")), "id")
        .groupBy((col("id") % 7).as("k")).count().count()
      spark.read.parquet(s"$sfDir/lineitem.parquet").limit(10).count()
      // warm the text/vector codegen paths (md5, split/explode HOFs,
      // array dot products) on a small slice so the first measured
      // documents/embeddings query isn't charged the JIT setup
      import org.apache.spark.sql.functions.{explode, md5, split}
      // Spark 4's CollationAwareUTF8String <clinit> warms ICU title-case
      // dictionaries, a multi-second stall every executor thread blocks
      // on at the first non-ASCII lower()/initcap(): force it here.
      Class.forName("org.apache.spark.sql.catalyst.util.CollationAwareUTF8String")
      spark.read.parquet(s"$sfDir/documents.parquet").limit(500)
        .select(md5(col("text")).as("h"), explode(split(col("text"), " ")).as("t"))
        .groupBy("h", "t").count().count()
      spark.read.parquet(s"$sfDir/embeddings.parquet").limit(100)
        .selectExpr("aggregate(zip_with(embedding, embedding, (a, b) -> cast(a*b as double)), 0D, (s, v) -> s + v)")
        .count()
      // warm WindowExec + struct-min hash-agg codegen: ~40 qids rank
      // with row_number and the ANN/PQ family argmins with min(struct);
      // without this the alphabetically-first of them is charged the
      // one-time JIT of those operators
      import org.apache.spark.sql.functions.{min, row_number, struct}
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy((col("id") % 5).as("g")).orderBy(col("id"))
      spark.range(500).toDF("id")
        .select(col("id"), row_number().over(w).as("rk"))
        .groupBy(col("id") % 3)
        .agg(min(struct(col("rk"), col("id"))))
        .count()
      // the basket-build shape shared by coPurchaseAll and shingleBaskets
      // (collect_list + sort_array, double explode, support agg), so the
      // eager family builds' logged times carry no one-time JIT
      import org.apache.spark.sql.functions.{collect_list, count, explode, lit, sort_array}
      spark.range(200).selectExpr("id % 40 AS ok", "id % 13 AS pk")
        .groupBy(col("ok")).agg(sort_array(collect_list(col("pk"))).as("ps"))
        .select(explode(col("ps")).as("src"), col("ps"))
        .select(col("src"), explode(col("ps")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("support"))
        .count()
      Seq("ps_combine", "join_bucketed", "scan_partitioned").foreach { q =>
        Registry.byId.get(q).foreach(g => g.fn(spark, sfDir).count())
      }
      // The iterative loops on TINY inputs: their per-round code JITs
      // here instead of on hier_depth / dedup_clusters / sim_knn_graph
      // (production code paths, toy data). Each warm's result reads
      // blocks outside the CacheManager, so they are freed explicitly.
      // Thunked + per-warm try/finally: building a warm RUNS its loop,
      // so one warm failing must not skip the free (or the run) of the
      // others, or the prelude-final clearCache — blocks leaked here
      // would survive every clearCache.
      // the PQ chain on 64 toy vectors: sim_pq's r8 graded regression
      // (1.61 → 2.35 s, plan unchanged) was pure first-run JIT
      warmed("simPqOn")(operators.LlmPipeline.simPqOn(
        spark.range(64).selectExpr("id AS vec_id",
          "transform(sequence(1, 64), j -> cast((id * 31 + j) % 97 as float)) AS embedding")
      ).count())
      warmed("dedupEmbedOn")(operators.LlmPipeline.dedupEmbedOn(embedWarmCorpus(spark)).count())
      val warmThunks: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
        "rootedDepth" -> (() => operators.GraphOps.rootedDepth(
          spark.range(1, 65).selectExpr("id AS node",
            "greatest(1L, id DIV 2) AS parent"))),
        "connectedComponents" -> (() => operators.GraphOps.connectedComponents(
          spark.range(63).selectExpr("id + 1 AS src", "(id + 1) * 2 AS dst")
            .filter(org.apache.spark.sql.functions.col("dst") <= 63))),
        "knnGraphEdges" -> (() => operators.LlmPipeline.knnGraphEdges(spark, sfDir, k = 3,
          rounds = 1, bucketings = 2, bucketSize = 4, capRows = Some(128))))
      warmThunks.foreach { case (nm, mk) =>
        warmed(nm) {
          val warm = mk()
          try warm.count()
          finally operators.GraphOps.freeCheckpoint(warm)
        }
      }
      // the BFS hops (graph_shortest_path), the pagerank round shape
      // and the six-stage minhash chain, each ~2x its steady-state cost
      // in-bench from first-run JIT; the toy persisted inputs are
      // dropped by the clearCache below, before any measured query runs.
      locally {
        val toyCanon = spark.range(1, 32).selectExpr("id AS u", "id * 2 AS v")
          .filter(org.apache.spark.sql.functions.col("v") < 32)
        val toyUnd = toyCanon.unionByName(toyCanon.selectExpr("v AS u", "u AS v")).persist()
        warmed("boundedBfs") {
          val bfs = operators.GraphOps.boundedBfs(toyCanon.selectExpr("u AS src", "v AS dst"), hops = 6)
          try bfs.count() finally operators.GraphOps.freeCheckpoint(bfs)
        }
        warmed("pageRank")(operators.GraphOps.pageRank(
          toyUnd.select(col("u").as("src"), col("v").as("dst")), iters = 3).count())
        warmed("dedupMinhashOn") {
          val toySh = spark.range(600)
            .selectExpr("id % 60 AS doc_id", "concat('s', id % 37) AS shingle")
            .distinct().persist()
          val toyBaskets = toySh.groupBy(col("shingle"))
            .agg(org.apache.spark.sql.functions.sort_array(
              collect_list(col("doc_id"))).as("docs"))
          operators.LlmPipeline.dedupMinhashOn(toySh, toyBaskets).count()
        }
        // RANGE-frame cumulative window (ts_outlier's histogram median):
        // one consumer, so its first-run JIT landed entirely on ts_outlier
        warmed("rangeFrameWindow") {
          val wr = org.apache.spark.sql.expressions.Window
            .partitionBy(col("g")).orderBy(col("v"))
            .rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)
          spark.range(200).selectExpr("id % 5 AS g", "id % 23 AS v", "1L AS cnt")
            .groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt"))
            .withColumn("cum", org.apache.spark.sql.functions.sum(col("cnt")).over(wr))
            .withColumn("n", org.apache.spark.sql.functions.sum(col("cnt")).over(
              org.apache.spark.sql.expressions.Window.partitionBy(col("g"))))
            .groupBy(col("g"))
            .agg(org.apache.spark.sql.functions.min(org.apache.spark.sql.functions
              .when(col("cum") >= org.apache.spark.sql.functions.expr("(n + 1) div 2"),
                col("v"))).as("med"))
            .count()
        }
      }
      warmed("streamingEngine")(warmStreaming(spark))
      // warm the calibration probe's exact Spark job shape once,
      // untimed, so the three timed probes (start/mid/end) are
      // comparable to each other — the first one must not carry the
      // probe expression's own one-time codegen
      warmed("calProbeJob")(
        spark.range(10000000L).selectExpr("sum(id * 2 + 1) AS s").collect())
      // drop every cache the warms created (toy pagerank/BFS edge
      // caches, toy postings): measured queries must start from the
      // bench's normal cold-cache state. Checkpoint blocks are freed
      // above (they live outside the CacheManager).
      warmed("clearCache")(spark.catalog.clearCache())
    } catch {
      case t: Throwable =>
        println(s"WARM FAILED prelude ${t.getClass.getSimpleName}")
    }
    // Run in NAME order so each qid family (dedup_*, graph_*, …) is
    // contiguous, and drop caches only at family boundaries: shared
    // relations (the dedup_near/dedup_containment shingle pair-stats)
    // are intentionally reused across a family's queries, while storage
    // still never outlives a family — bounded memory AND no repeated
    // subplans. Sorted order also makes run-to-run timings comparable.
    // dev-only filter (SPARK_GRAFT_ONLY through Diag.selected, unset on
    // the driver): run just the qids whose name starts with one of the
    // comma-separated prefixes, under the exact bench conditions
    // (prelude warms, family-boundary cache clears, sorted order)
    val names = obs.Diag.selected(obs.Diag.allQids)
    val ordered = names.map(q => q -> Registry.byId(q).fn)
    val filtered = ordered.size < obs.Diag.allQids.size
    // every JSON line of the run, in print order: the run's one artifact
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    def emit(line: String): Unit = { println(line); lines += line }
    // calibration samples: start (post-prelude, pre-first-query),
    // midpoint (between queries — never inside a query's timing), end
    val cal = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double)]
    def sampleCal(tag: String): Unit = {
      val (c, s, a) = calibrate(spark)
      cal += ((c, s, a))
      emit(s"""{"cal":"$tag","cpu_sec":${num(c, 3)},"spark_sec":${num(s, 3)},"ac_ms":${num(a, 1)}}""")
    }
    sampleCal("start")
    val stat0 = procStat()
    val sweepCpu0 = processCpuSec()
    val sweepGc0 = gcSec()
    val sweepT0 = System.nanoTime()
    val mid = ordered.size / 2
    val results = ordered.zipWithIndex.map { case ((name, fn), i) =>
      if (i == mid && i > 0) sampleCal("mid")
      val clk = clkMs()
      // all-core sample immediately after the single-thread one: the
      // PAIR separates "host fine" (both flat) / "per-core throttle"
      // (both up) / "all-core contention" (ac up, clk flat)
      val ac = allCoreMs()
      val c0 = processCpuSec()
      val g0 = gcSec()
      val hs0 = procStat()
      val t0 = System.nanoTime()
      // a failing qid must be VISIBLE, not silently timed: record the
      // exception class per query instead of swallowing it — a broken
      // query otherwise shows up only as a suspiciously fast timing
      val err: Option[String] =
        try { fn(spark, sfDir).count(); None }
        catch { case t: Throwable => Some(t.getClass.getSimpleName) }
      val sec = (System.nanoTime() - t0) / 1e9
      val cpu = processCpuSec() - c0
      // per-query stop-the-world GC and IN-WINDOW host weather (steal +
      // busy-other core-seconds inside this query's own timing window)
      val gc = gcDelta(g0, gcSec())
      val (st, bo) = hostDelta(hs0, procStat(), cpu)
      val r = QRes(name, sec, err, cpu, clk, gc, ac, st, bo)
      emit(r.json)
      obs.Diag.endFamily(spark, names, i)
      r
    }
    val sweepWall = (System.nanoTime() - sweepT0) / 1e9
    val sweepCpu = processCpuSec() - sweepCpu0
    val sweepGc = gcDelta(sweepGc0, gcSec())
    val stat1 = procStat()
    sampleCal("end")
    // sweep-level host accounting from /proc/stat, in CPU-core-seconds
    val host = if (stat0.isEmpty || stat1.isEmpty) None else {
      val (stealS, busyOther) = hostDelta(stat0, stat1, sweepCpu)
      Some(Seq("steal_s" -> stealS, "busy_other_s" -> busyOther,
        "my_cpu_s" -> sweepCpu, "gc_s" -> sweepGc, "wall_s" -> sweepWall))
    }
    emit(partialLine(results))
    emit(totalLine(results, cal.toSeq, host,
      jvmJson(jvmRegime, gcName, heapBean.getMax, edenMaxBytes), sfDir))
    // The run's one artifact. A full sweep's is committed as
    // BENCH_QUERIES_r<N>.jsonl at the next round's open
    // (tools/round_open.sh): both r7→r8 "suite maximum arrived unnoticed"
    // incidents trace to the full map living only in truncated stdout.
    // A run over fewer qids (SPARK_GRAFT_ONLY) must not overwrite it
    // with a partial map.
    val artifact =
      if (filtered) "target/bench_queries_filtered.jsonl" else "BENCH_QUERIES_LATEST.jsonl"
    try java.nio.file.Files.write(java.nio.file.Paths.get(artifact),
      lines.map(_ + "\n").mkString.getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
  }
}
