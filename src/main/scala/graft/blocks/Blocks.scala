package graft.blocks

import scala.collection.mutable

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** The block layout of the PS-style lineages (*PS2: Parameter Server on
  * Spark*, SIGMOD 2019), each decision made once:
  *  - owner blocks: a key lives in one of `spark.sql.shuffle.partitions`
  *    hash blocks ([[owner]]);
  *  - a shuffle record is one input partition's batch for one block,
  *    never a per-record tuple ([[spread]]); the lineages move batches
  *    with Spark's own pair-RDD shuffles on the session serializer.
  *    Records a block must hold sorted go one record each through
  *    Spark's spillable sort (`repartitionAndSortWithinPartitions`), so
  *    no task has to hold a hot key's records at once;
  *  - every RDD a lineage persists is released on success and on
  *    failure unless handed over to the caller ([[scope]]);
  *  - a family-shared build is a persisted DataFrame, materialized and
  *    timed once ([[cached]]) and memoized while its storage is live
  *    ([[graft.Memo]]);
  *  - ids travel as Long or String and come back in their column's type
  *    ([[idType]], [[catalystId]]).
  */
object Blocks {

  /** The owner blocks of the session: one hash block per shuffle
    * partition. */
  def owner(spark: SparkSession): HashPartitioner =
    new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)

  /** One batch per block of `owner` that receives a record: `fill` is
    * handed `to`, which returns the batch under construction for the
    * block owning a key (made with `newBatch` on first use), and
    * `result` seals each batch. Records of one input partition become
    * (block, batch) pairs for one `partitionBy(owner)`. */
  def spread[A <: AnyRef, B](owner: Partitioner)(newBatch: => A)(fill: (Any => A) => Unit)
      (result: A => B): Iterator[(Int, B)] = {
    val batches = new Array[AnyRef](owner.numPartitions)
    fill { key =>
      val t = owner.getPartition(key)
      if (batches(t) == null) batches(t) = newBatch
      batches(t).asInstanceOf[A]
    }
    batches.indices.iterator.filter(batches(_) != null).map(t => (t, result(batches(t).asInstanceOf[A])))
  }

  /** The RDDs one lineage holds: all are unpersisted when [[scope]]
    * returns or throws, except those [[handOver]] exempts. */
  final class Scope private[Blocks] {
    private[Blocks] val held = mutable.Set[RDD[_]]()
    def persist[T](r: RDD[T]): RDD[T] = { held += r; r.persist(StorageLevel.MEMORY_AND_DISK) }
    def checkpoint[T](r: RDD[T]): RDD[T] = { held += r; r.localCheckpoint() }
    def release(r: RDD[_]): Unit = { held -= r; r.unpersist(blocking = false) }
    /** `rs` outlive the scope: the caller frees them. */
    def handOver(rs: RDD[_]*): Unit = held --= rs
  }

  def scope[T](body: Scope => T): T = {
    val s = new Scope
    try body(s) finally s.held.foreach(_.unpersist(blocking = false))
  }

  /** A family-shared build: `rows` as a DataFrame of `schema`, persisted
    * MEMORY_AND_DISK_SER as a CacheManager entry and materialized here
    * in one job through its RDD (no count aggregate, so no exchange).
    * `report` gets the row count, may run more jobs off the build (a
    * coverage census) and returns the [[graft.BuildLog]] line's tail
    * after "`name` built in s"; the whole build is timed. If any step
    * throws, the entry is dropped. */
  def cached(spark: SparkSession, name: String, rows: RDD[InternalRow], schema: StructType)
      (report: Long => String): DataFrame = {
    val t0 = System.nanoTime()
    val frame = GraftColumnBridge.dataFrame(spark, rows, schema)
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val tail = report(frame.rdd.count())
      graft.BuildLog.log(f"$name built in ${(System.nanoTime() - t0) / 1e9}%.2f s $tail")
      frame
    } catch {
      case e: Throwable =>
        frame.unpersist(blocking = false)
        throw e
    }
  }

  /** The type of id column `c` of `df`: integral, or also string when
    * `orString`. A block lineage carries the id as a Long or a String. */
  def idType(df: DataFrame, c: String, op: String, orString: Boolean = false): DataType = {
    val t = df.schema(c).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t) || orString && t == StringType,
      s"$op: $c must be an integral${if (orString) " or string" else ""} column, got ${t.simpleString}")
    t
  }

  /** A carried id (any integral number or a String; null stays null) as
    * the Catalyst value of an [[idType]] column of type `t`. */
  def catalystId(t: DataType): Any => Any = t match {
    case StringType => k => if (k == null) null else UTF8String.fromString(k.asInstanceOf[String])
    case ByteType => k => if (k == null) null else k.asInstanceOf[Number].byteValue
    case ShortType => k => if (k == null) null else k.asInstanceOf[Number].shortValue
    case IntegerType => k => if (k == null) null else k.asInstanceOf[Number].intValue
    case _ => k => if (k == null) null else k.asInstanceOf[Number].longValue
  }
}
