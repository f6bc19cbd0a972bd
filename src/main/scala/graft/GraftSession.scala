package graft

import org.apache.spark.sql.SparkSession

/** The one way a SparkSession is built, for the mains, the tests and
  * library users alike:
  *
  * {{{
  * val spark = GraftSession.builder().master("local[32]").build()
  * val topk  = ps.PsQueries.queries.find(_.id == "mf_topk").get
  *               .fn(spark, "/data/sf0.1")
  * val (p, q, loss) = ps.MfTrainer.train(spark, myRatings)
  * }}}
  *
  * Every session it builds has UTC as its session time zone, reads
  * parquet TIMESTAMP(NANOS) as long (`Tables.events` converts it), runs
  * no UI, keeps managed tables in a per-process warehouse
  * (`Scratch.own`), puts shuffle and spill on [[Scratch.fastRoot]] when
  * the host has one (the shared-disk default charged 11–14 s of
  * shuffle-write I/O wait to kilobyte exchanges under co-tenant disk
  * load), logs at ERROR and carries the engine's SQL functions and
  * optimizer rules (`GraftExtensions`). It turns off per-session
  * artifact isolation, which gave every stream's cloned session its own
  * executor classloader and so recompiled the stream's generated code
  * on each run, and routes `file:` through the fork-free
  * [[sources.LocalFs]] (docs/DESIGN.md "Session"). Each application it
  * starts first reaps stale scratch ([[Scratch.cleanupStale]]): a killed
  * JVM's per-process entries and stages unused for 48 h.
  *
  * On a cluster, drop the master call and submit normally; every
  * operator scales through partitioning, not through session config.
  */
object GraftSession {

  final class Builder private[GraftSession] () {
    private var masterOpt: Option[String] = None
    private var appName: String = "graft"
    private var shufflePartitions: Option[Int] = None

    def master(m: String): Builder = { masterOpt = Some(m); this }
    def name(n: String): Builder = { appName = n; this }
    def shuffle(p: Int): Builder = { shufflePartitions = Some(p); this }
    /** `local[cpus]` with one shuffle partition per core: the mains'
      * and the tests' session. `cpus` defaults to SPARK_GRAFT_CPUS or
      * max(4, nproc). */
    def local(cpus: Int = defaultCpus): Builder = master(s"local[$cpus]").shuffle(cpus)

    def build(): SparkSession = {
      val b = SparkSession.builder().appName(appName)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", Scratch.own("warehouse").toString)
        // full extension set (SQL functions + optimizer fusion rules)
        // for sessions the builder actually constructs; registerOn
        // below covers the pre-existing-session path for functions
        .config("spark.sql.extensions", "graft.functions.GraftExtensions")
        // the engine adds no session artifact for isolation to protect
        .config("spark.sql.artifact.isolation.enabled", "false")
      sources.LocalFs.hadoopConfs.foreach { case (k, v) => b.config(s"spark.hadoop.$k", v) }
      Scratch.fastRoot.foreach(b.config("spark.local.dir", _))
      masterOpt.foreach(b.master)
      // default: one shuffle partition per core locally; on a cluster
      // leave it to AQE coalescing unless pinned explicitly
      shufflePartitions.foreach(p => b.config("spark.sql.shuffle.partitions", p.toLong))
      val spark = b.getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      functions.GraftExtensions.registerOn(spark)
      val app = spark.sparkContext.applicationId
      if (app != reapedFor) {
        reapedFor = app
        val n = Scratch.cleanupStale()
        if (n > 0) BuildLog.log(s"scratch cleanup: removed $n stale graft_* entries")
      }
      spark
    }
  }

  def builder(): Builder = new Builder()

  /** SPARK_GRAFT_CPUS, else max(4, nproc). */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption)
    .getOrElse(math.max(4, Runtime.getRuntime.availableProcessors()))

  /** The application whose start last reaped stale scratch. */
  @volatile private var reapedFor = ""

  /** Run `body` with the SQL confs `confs` set, then restore each key's
    * previous value, unsetting a key that was absent before. */
  def withConfs[A](spark: SparkSession, confs: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val set = conf.getAll
    val saved = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.reverse.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
