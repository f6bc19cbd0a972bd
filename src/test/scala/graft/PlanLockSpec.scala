package graft

import scala.collection.mutable
import scala.reflect.ClassTag
import scala.util.matching.Regex

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row => SqlRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Md5, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, QueryPlan}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowGroupLimitExec
import org.apache.spark.sql.functions._

/** Plan locks: the plan shapes that make a qid fast. A restatement that
  * moves back to a slow shape keeps every result bit-identical, so the
  * oracle hash cannot see it; these rows pin the shape instead.
  *
  * One table, one `test` per row. A row names its subject (a registered
  * qid or a toy input), the phase it reads, and a check:
  *
  *   - `Analyzed`, `Cached`, `Optimized`: `analyzed`, `withCachedData`,
  *     `optimizedPlan`; nodes are the logical tree's own;
  *   - `Planned`: the text of `executedPlan` before the run (AQE's
  *     initial plan), taken before any collect of the same subject;
  *   - `Executed`: `executedPlan` after `collect()`, walked live through
  *     `obs.Plans.live` (adaptive wrappers, query stages and subqueries
  *     entered; reused exchanges and cached scans not);
  *   - `Jobs`: the `obs.Recorder` record of the subject's build and count.
  *
  * Each subject is built once and collected at most once for all its
  * rows; the two registry-sweep rows read one `optimizedPlan` pass over
  * `Registry.all`, reusing the subjects built before them. Rows of one
  * subject stay together, because a row that clears the cache must not
  * fall between a subject's build and its collect.
  */
class PlanLockSpec extends SparkSpec {
  import PlanLockSpec._
  import spark.implicits._

  private lazy val registry = Registry.all
  private lazy val byId = registry.map(q => q.id -> q).toMap
  private val subjects = mutable.Map[String, Subject]()
  private def qid(id: String): Subject =
    subjects.getOrElseUpdate(id, new Subject(byId(id).fn(spark, sfDir)))
  private def toy(build: => DataFrame): Subject = new Subject(build)

  /** Every registered qid's optimized plan, read once for both sweeps;
    * the iterative qids run their loops here, at construction. */
  private lazy val sweep: Seq[(String, LogicalPlan)] = {
    val plans = registry.map(q => q.id -> new View(qid(q.id), Optimized).logical)
    subjects.clear()
    spark.catalog.clearCache()
    plans
  }

  /** A deliberately UDF'd cached relation: the UDF scan must see it. */
  private lazy val poisoned = {
    val poison = udf((x: Long) => x + 1)
    spark.range(10).select(poison(col("id")).as("y")).cache()
  }

  private val annFamily = Seq("sim_ann_ivf", "sim_ann_ivf_sweep", "sim_ann_lsh",
    "sim_cosine", "sim_pq", "sim_centroid", "sim_quantize", "sim_knn_class",
    "sim_knn_graph")
  private val oneReadFamily = Seq("sketch_tow", "text_langid", "fn_collate",
    "dedup_lines", "sketch_heavy_hitters", "text_bm25", "mf_fold_in", "sketch_cms",
    "ts_outlier")

  private val locks: Seq[Lock] = Seq(
    // ---- executedPlan text before the run --------------------------------
    lock("pa_multi broadcasts the class-prototype table", qid("pa_multi"), Planned)(
      _.has("BroadcastExchange", "array_dot_product")),
    lock("source_orc pushes the price predicate into the ORC scan", qid("source_orc"), Planned) { v =>
      v.hasAny("Format: orc", "Scan orc")
      v.has("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,200000.0)]")
    },
    lock("agg_percentile runs as a partial+final object hash aggregate", qid("agg_percentile"), Planned)(
      _.has("ObjectHashAggregate", "partial_percentile")),
    // one exchange for the 3-group agg, one for the final total order
    lock("sample_split is one map-side-combined aggregation pass", qid("sample_split"), Planned) { v =>
      assert(v.hits("Exchange") <= 2, v.text)
      v.hasAny("partial_count", "HashAggregate")
    },
    lock("sample_stratified rides WindowGroupLimit (no full per-lang sort)", qid("sample_stratified"), Planned)(
      _.has("WindowGroupLimit")),
    lock("sim_ann_ivf broadcasts the query band against the corpus", qid("sim_ann_ivf"), Planned)(
      _.has("BroadcastExchange", "array_dot_product")),
    lock("text_entropy is join-free (single-pass entropy formula)", qid("text_entropy"), Planned) { v =>
      v.lacks("Join")
      v.has("partial_")
    },
    lock("sketch_quantile scans lineitem once (windowed audit, no re-join)", qid("sketch_quantile"), Planned) { v =>
      v.lacks("SortMergeJoin", "BroadcastHashJoin")
      assert(v.hits("Scan parquet") == 1, v.text)
      v.has("Window")
    },
    // scan -> exchange (h, type) -> window -> hash agg -> final sort: the
    // agg reuses the window's partitioning
    lock("ts_resample: window and groupBy share one exchange on (h, type)", qid("ts_resample"), Planned) { v =>
      assert(v.hits("Exchange") <= 2, v.text)
      v.has("Window")
    },
    lock("event_pattern is one window pass, no self-join", qid("event_pattern"), Planned) { v =>
      v.lacks("Join")
      v.has("Window")
    },
    // through rounds 1-6 the completion bound matched no fixture row, so
    // the oracle compare was 0 = 0; this keeps the fixture predicate live
    lock("event_pattern matches a NON-EMPTY set on the real fixture", qid("event_pattern"), Executed)(v =>
      assert(v.rows.nonEmpty, "event_pattern matches nothing on the fixture: its oracle check is vacuous")),
    lock("agg_incremental merges partials map-side before the key join", qid("agg_incremental"), Planned) { v =>
      v.hasAny("partial_count", "partial_sum")
      v.has("FullOuter")
    },
    lock("agg_corr_matrix: all 9 moments in ONE scan, join-free", qid("agg_corr_matrix"), Planned) { v =>
      v.lacks("Join")
      assert(v.hits("Scan parquet") == 1, v.text)
      v.has("partial_")
    },
    // hourly agg exchange + per-series exchange (shared by the window and
    // the moment aggregate) + the final sort's range exchange
    lock("ts_acf: all 3 lags from one window pass, join-free single scan", qid("ts_acf"), Planned) { v =>
      v.lacks("Join")
      assert(v.hits("Scan parquet") == 1, v.text)
      assert(v.hits("Exchange") <= 3, v.text)
      v.has("Window")
    },
    // the same query, threshold and AQE-off planning; only the cost model differs
    lock("CBO: ANALYZE'd stats flip the hint-free dim join to broadcast",
        toy(plans.CboDemo.filteredDimJoin(spark, sfDir)), Planned) { v =>
      plans.CboDemo.setup(spark, sfDir)
      val without = plans.CboDemo.plan(spark, sfDir, cbo = false)
      assert(without.contains("SortMergeJoin"), s"expected SMJ when only file sizes are known:\n$without")
      val withCbo = plans.CboDemo.plan(spark, sfDir, cbo = true)
      assert(withCbo.contains("BroadcastHashJoin"), s"expected stats-driven broadcast under CBO:\n$withCbo")
      assert(v.rows.nonEmpty)
    },

    // ---- analyzed and cached-data plans ----------------------------------
    lock("ps_pull carries no broadcast hint (AQE/CBO decide at runtime)", qid("ps_pull"), Analyzed)(
      _.lacks("ResolvedHint")),
    // hashing after the explode is the per-posting shape: ~10x the md5 work
    lock("dedup_minhash: md5(shingle) only below the basket docs explode", qid("dedup_minhash"), Analyzed) { v =>
      val (above, reached) = aboveDocsExplode(v.logical)
      assert(reached, "no explode of the basket docs array: the signature pass no longer reads shingleBaskets")
      above.foreach(p => assert(!p.expressions.exists(md5OnShingle),
        s"md5(shingle) computed above the docs explode:\n$p"))
    },
    // clears the cache before the subject is built: views are lazy
    lock("dedup_simhash reads the cached docTerms build, no join", qid("dedup_simhash"), Analyzed) { v =>
      spark.catalog.clearCache()
      val analyzed = v.logical
      val entry = operators.LlmPipeline.docTerms(spark, sfDir).queryExecution.withCachedData
        .collect { case r: InMemoryRelation => r }
      assert(entry.size == 1)
      val cached = entry.head.cacheBuilder.cachedColumnBuffers
      // the query scans one RDD lineage, and that lineage reads the entry
      val leaves = analyzed.collectLeaves()
      assert(leaves.size == 1, analyzed.toString)
      def lineage(r: RDD[_]): Seq[RDD[_]] = r +: r.dependencies.flatMap(d => lineage(d.rdd))
      val scanned = leaves.collect { case l: LogicalRDD => l.rdd }
      assert(scanned.flatMap(lineage).exists(_.id == cached.id), "dedup_simhash does not read the docTerms entry")
      v.at(Planned).lacks("Join")
      spark.catalog.clearCache()
    },
    // the cache entry scans the pair-stats RDD lineage with no plan of its
    // own: one leaf, no exchange
    lock("dedup_near reads the cached block build, no postings join", qid("dedup_near"), Cached) { v =>
      val cached = v.logical.collect { case r: InMemoryRelation => r }
      assert(cached.size == 1, v.text)
      val built = cached.head.cacheBuilder.cachedPlan
      assert(built.collectLeaves().map(_.getClass) == Seq(classOf[RDDScanExec]), built.toString)
      assert(!built.toString.contains("Exchange"), built.toString)
      v.at(Planned).lacks("Join")
      spark.catalog.clearCache()
    },

    // ---- optimized plans of toy inputs -----------------------------------
    // pins the UDF scan's descent into cached plans, so the family row
    // cannot go blind if Spark's cache substitution changes shape
    lock("the lock actually sees through InMemoryRelation (self-test)",
        toy(poisoned.select(col("y") * 2)), Optimized) { v =>
      try assert(udfs(v.plan).nonEmpty, "the UDF scan failed to see a UDF inside a cached relation")
      finally poisoned.unpersist()
    },

    // ---- executedPlan after collect() ------------------------------------
    lock("text_tfidf's executed plan has no broadcast", qid("text_tfidf"), Executed) { v =>
      assert(v.rows.nonEmpty)
      v.lacks("Broadcast")
      spark.catalog.clearCache()
    },
    lock("sketch_tow: one events scan feeds the sketch and the exact twin", qid("sketch_tow"), Executed)(
      v => assert(v.scans == 1)),
    lock("text_langid: one documents scan for all lexicons (stack, not union)", qid("text_langid"), Executed)(
      v => assert(v.scans == 1)),
    lock("fn_collate: one part scan for the case-variant union (explode, not union)", qid("fn_collate"), Executed)(
      v => assert(v.scans == 1)),
    lock("dedup_lines: one documents scan; the cross-doc count rides a window", qid("dedup_lines"), Executed) { v =>
      assert(v.scans == 1)
      v.at(Planned).lacks("Join")
    },
    lock("sketch_heavy_hitters folds MG in an object hash aggregate", qid("sketch_heavy_hitters"), Planned)(
      _.has("ObjectHashAggregate")),
    lock("sketch_heavy_hitters: one documents scan; sketch folds the count relation", qid("sketch_heavy_hitters"),
        Executed)(v => assert(v.scans == 1)),
    lock("text_bm25: two documents scans (stats + scoring, the no-cache floor)", qid("text_bm25"), Executed)(
      v => assert(v.scans <= 2)),
    // the snapshot is parquet-backed, so live parquet scans bound the
    // ratings reads; the old shape paid four
    lock("mf_fold_in: at most two ratings reads (model build + scoring)", qid("mf_fold_in"), Executed)(
      v => assert(v.scans <= 2)),
    lock("sketch_cms probes join the 1024-cell sketch by broadcast", qid("sketch_cms"), Planned)(
      _.has("BroadcastHashJoin")),
    lock("sketch_cms: one events scan feeds the sketch and the exact top-10", qid("sketch_cms"), Executed)(
      v => assert(v.scans == 1)),
    lock("ts_outlier: one events scan; both medians ride reused exchanges", qid("ts_outlier"), Executed)(
      v => assert(v.scans == 1)),
    // two live shuffles with semantically equal plans are a missed reuse
    each("no restated qid recomputes a semantically-equal live shuffle", oneReadFamily, Executed)((q, v) =>
      assert(obs.Plans.liveExchanges(v.physical).groupBy(_.canonicalized.semanticHash())
        .values.count(_.size > 1) == 0, q)),
    // min(struct(d, c)) forced a SortAggregate: a full sort of the pair
    // stream before the partial agg; the packed min(d * 16 + c) does not
    lock("sim_pq: hash-aggregate encode path, no SortAggregate anywhere", qid("sim_pq"), Executed)(
      v => assert(v.all[SortAggregateExec].isEmpty, "the packed-long argmin regressed to a sort-based aggregate")),
    // the codebook top-16 specifically: limit 16 in Partial mode (the
    // pre-exchange keep); the ADC top-5 also makes WindowGroupLimit nodes
    lock("sim_pq: codebook top-16 is a pushed window group limit", qid("sim_pq"), Executed) { v =>
      val wgl = v.all[WindowGroupLimitExec]
      assert(wgl.exists(w => w.limit == 16 && w.mode.toString == "Partial"),
        s"no Partial-mode limit-16 WindowGroupLimit; found: ${wgl.map(w => (w.limit, w.mode.toString))}")
    },
    // the ANN family is native-expression-only since round 7: a UDF keeps
    // results and leaves whole-stage codegen. The udf_* demos are their
    // own qids and exempt
    each("the similarity/ANN family plans contain no Scala UDFs", annFamily, Optimized)((q, v) =>
      assert(udfs(v.plan).isEmpty, s"$q's plan contains ScalaUDF(s)")),
    // both joins of a round are SHUFFLE_HASH-hinted (e ⋈ share and
    // deg ⋈ ranks); every relation in the loop grows with the corpus, so
    // a sort-merge or broadcast join is a lost hint
    lock("graph_pagerank: per-round share join shuffle-hashes, never sort-merges", qid("graph_pagerank"),
        Executed) { v =>
      assert(v.all[SortMergeJoinExec].isEmpty, "a SHUFFLE_HASH hint regressed")
      assert(v.all[ShuffledHashJoinExec].size >= 2, "the e-side or share-build hint regressed")
      assert(v.all[BroadcastHashJoinExec].isEmpty, "the loop broadcast-joins a corpus-sized relation")
    },
    // a broadcast join has no reducer for the salt to spread load over
    lock("join_skew_salt: the salted join shuffles, it does not broadcast", qid("join_skew_salt"), Executed) { v =>
      assert(v.all[ShuffledHashJoinExec].nonEmpty, "the SHUFFLE_HASH hint on the exploded dim regressed")
      assert(v.all[BroadcastHashJoinExec].isEmpty, "the salted dim is broadcast")
    },

    // ---- job budgets: distinct job-launching SQL executions --------------
    // A knnGraphEdges round spends two: the lazy checkpoint call and the
    // fused probe; a third per-round action or an eager count pass breaks
    // its bound. The block loops' rounds are RDD jobs: their raw job
    // budgets are in RootedDepthSpec and GraphBlocksSpec.
    lock("the counter itself counts one execution per action (self-test)",
        toy { spark.range(10).count(); spark.range(10).agg(sum(col("id"))) }, Jobs)(v =>
      assert(v.record.executions == 2, s"expected 2 executions, counted ${v.record.executions}")),
    // chain 1 <- 2 <- ... <- 33. Its rounds are RDD jobs with no SQL
    // execution id, so this sees only the final count; RootedDepthSpec's
    // raw job count is the per-round lock
    lock("rootedDepth: at most 2 actions per round + init pair + output",
        toy(operators.GraphOps.rootedDepth((1L to 33L).map(p => (p, math.max(1L, p - 1))).toDF("node", "parent"))),
        Jobs) { v =>
      val n = v.record.executions // runs the loop, which sets lastRounds
      val rounds = operators.GraphOps.lastRounds
      assert(rounds >= 2)
      assert(n <= 2 * rounds + 3, s"$n actions for $rounds rounds")
    },
    // bucket count + init pair + rounds x (ckpt, probe) + the output;
    // early convergence only lowers it
    lock("knnGraphEdges: 2 actions per round + bucket count + init pair + output",
        toy(operators.LlmPipeline.knnGraphEdges(spark, sfDir, k = 3, rounds = 2, bucketings = 2,
          bucketSize = 4, capRows = Some(64))), Jobs) { v =>
      val n = v.record.executions
      assert(n <= 2 * 2 + 4, s"$n actions for <= 2 rounds")
      assert(n >= 4, s"suspiciously few actions ($n): did the loop run?")
    },

    // ---- registry sweeps over optimizedPlan -----------------------------
    // A window with no PARTITION BY runs the whole relation through one
    // task. Each allowed one has a bound argued at its definition site:
    // skyline_pareto windows distinct (price, size) pairs after a groupBy,
    // sim_ann_ivf_sweep the 8-row nprobe table, text_bm25 the 10 survivors
    // of an orderBy+limit, join_range_band one carry row per 60 s band.
    registrySweep("skyline_pareto and sim_ann_ivf_sweep are the ONLY unpartitioned windows",
        Set("skyline_pareto", "sim_ann_ivf_sweep", "text_bm25", "join_range_band"))(
      _.exists { case w: Window => w.partitionSpec.isEmpty; case _ => false }),
    // A condition-less join multiplies partitions pairwise unless one side
    // is bounded: provably <= 1 row, a literal Range of <= 64 rows, or a
    // BROADCAST hint (the definition site's assertion, enforced by Spark).
    registrySweep("every condition-less join in the registry has a bounded side", Set.empty)(
      _.exists {
        case j: Join => j.condition.isEmpty && (j.joinType == Cross || j.joinType == Inner) &&
          !Seq(j.left, j.right).exists(s => scalarSide(s) || boundedRange(s)) &&
          !Seq(j.hint.leftHint, j.hint.rightHint).exists(_.exists(_.strategy.contains(BROADCAST)))
        case _ => false
      }))

  locks.foreach(l => test(l.name)(l.run()))

  /** One subject: built on first use, its pre-run plan text read before
    * its one collect. */
  final class Subject(build: => DataFrame) {
    private lazy val df = build
    private lazy val planned = df.queryExecution.executedPlan.toString
    lazy val rows: Array[SqlRow] = { planned; df.collect() }
    lazy val record: obs.Record = obs.Recorder.during(spark)(df.count())
    def plan(phase: Phase): QueryPlan[_] = phase match {
      case Analyzed => df.queryExecution.analyzed
      case Cached => df.queryExecution.withCachedData
      case Optimized => df.queryExecution.optimizedPlan
      case Executed => rows; df.queryExecution.executedPlan
      case p => sys.error(s"$p has no stable plan tree")
    }
    def text(phase: Phase): String = if (phase == Planned) planned else plan(phase).toString
  }

  /** What a row's check reads: one phase of one subject. */
  final class View(s: Subject, phase: Phase) {
    lazy val plan: QueryPlan[_] = s.plan(phase)
    lazy val text: String = s.text(phase)
    def logical: LogicalPlan = plan.asInstanceOf[LogicalPlan]
    def physical: SparkPlan = plan.asInstanceOf[SparkPlan]
    def rows: Array[SqlRow] = s.rows
    def record: obs.Record = s.record
    def at(other: Phase): View = new View(s, other)
    def all[T: ClassTag]: Seq[T] = nodes(plan).collect { case t: T => t }
    def scans: Int = obs.Plans.liveScans(physical).size
    def hits(s: String): Int = Regex.quote(s).r.findAllIn(text).size
    def has(ss: String*): Unit = ss.foreach(x => assert(text.contains(x), text))
    def hasAny(ss: String*): Unit = assert(ss.exists(text.contains), text)
    def lacks(ss: String*): Unit = ss.foreach(x => assert(!text.contains(x), text))
  }

  /** The check on one phase of one subject. */
  private def lock(name: String, subject: Subject, phase: Phase)(check: View => Unit): Lock =
    Lock(name, () => check(new View(subject, phase)))
  /** The check once per qid of a family, each at `phase`. */
  private def each(name: String, qids: Seq[String], phase: Phase)(check: (String, View) => Unit): Lock =
    Lock(name, () => qids.foreach(q => check(q, new View(qid(q), phase))))
  /** The registry qids whose optimized plan `offends` must be exactly `allowed`. */
  private def registrySweep(name: String, allowed: Set[String])(offends: LogicalPlan => Boolean): Lock =
    Lock(name, { () =>
      val offenders = sweep.collect { case (q, p) if offends(p) => q }.toSet
      assert((offenders -- allowed).isEmpty, s"new offenders: ${(offenders -- allowed).mkString(", ")}")
      assert((allowed -- offenders).isEmpty, s"allowed but gone, shrink the list: ${(allowed -- offenders).mkString(", ")}")
    })
}

object PlanLockSpec {
  final case class Lock(name: String, run: () => Unit)

  sealed trait Phase
  case object Analyzed extends Phase
  case object Cached extends Phase
  case object Optimized extends Phase
  case object Planned extends Phase
  case object Executed extends Phase
  case object Jobs extends Phase

  /** The nodes of `p`: a logical tree's own, a physical plan's live ones. */
  def nodes(p: QueryPlan[_]): Seq[QueryPlan[_]] = p match {
    case s: SparkPlan => obs.Plans.live(s)
    case l: LogicalPlan => l.collect { case n => n }
  }

  /** ScalaUDFs in the expressions of `p`'s nodes. A cached relation or
    * cached scan is entered through its cached physical plan, which the
    * optimizer shows as a leaf. */
  def udfs(p: QueryPlan[_]): Seq[ScalaUDF] =
    nodes(p).flatMap { n =>
      val cached = n match {
        case r: InMemoryRelation => udfs(r.cachedPlan)
        case s: InMemoryTableScanExec => udfs(s.relation.cachedPlan)
        case _ => Nil
      }
      n.expressions.flatMap(_.collect { case u: ScalaUDF => u }) ++ cached
    }

  def md5OnShingle(e: Expression): Boolean = e.exists {
    case m: Md5 => m.references.exists(_.name == "shingle")
    case _ => false
  }

  /** The nodes of `p` above the first explode of the basket `docs`
    * arrays on each path, and whether any path reaches one. */
  def aboveDocsExplode(p: LogicalPlan): (Seq[LogicalPlan], Boolean) = p match {
    case g: Generate if g.generator.references.exists(_.name == "docs") => (Nil, true)
    case _ =>
      val below = p.children.map(aboveDocsExplode)
      (p +: below.flatMap(_._1), below.exists(_._2))
  }

  /** True when `plan` is provably at most one row at any data scale. */
  def scalarSide(plan: LogicalPlan): Boolean = plan match {
    case Project(_, child) => scalarSide(child)
    case Filter(_, child) => scalarSide(child)
    case SubqueryAlias(_, child) => scalarSide(child)
    case a: Aggregate => a.groupingExpressions.isEmpty
    case l: LocalRelation => l.data.lengthCompare(1) <= 0
    case _: OneRowRelation => true
    case GlobalLimit(Literal(n: Int, _), _) => n <= 1
    case _ => false
  }

  /** True when `plan` is a literal Range of at most 64 rows. */
  def boundedRange(plan: LogicalPlan): Boolean = plan match {
    case Project(_, child) => boundedRange(child)
    case Filter(_, child) => boundedRange(child)
    case SubqueryAlias(_, child) => boundedRange(child)
    case r: Range => (r.end - r.start).abs <= 64
    case _ => false
  }
}
