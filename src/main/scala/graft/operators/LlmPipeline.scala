package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Det.{h32, oH32}
import graft.GQuery
import graft.blocks.Blocks
import graft.functions.VectorExprs
import graft.sources.Tables
import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** LLM-data-pipeline operators (SURVEY.md §2.C north-star extension):
  * deduplication (exact, n-gram Jaccard, MinHash+LSH bands, SimHash),
  * similarity search (brute-force cosine top-k, sign-bit LSH ANN, k-NN
  * label vote), text analysis (stats, tf-idf, language-ID, quality
  * scoring, tokenization, rolling-hash fingerprint), and multimodal
  * column plumbing (text⋈embedding join, opaque binary decode path).
  *
  * Scale design notes (100 TB — the whole point of these operators):
  *  - Every pairwise operator generates candidates through a *blocking
  *    key join* (shared rare shingle / minhash band / simhash band /
  *    LSH bucket), never a cross join: cost is O(Σ bucket²), and the
  *    bucket keys are engineered to keep buckets tiny. That is the
  *    published MinHash-LSH / SimHash-band design and it shuffles on
  *    the band key, so it parallelizes per-bucket on a real cluster.
  *  - All hashes are md5-derived (engine-portable, seedable,
  *    deterministic) — no reliance on Spark-internal hash functions in
  *    any oracle-checked output.
  *  - Operators are built-in codegen'd expressions (HOF array
  *    functions), with these exceptions: the clearly-marked multimodal
  *    decode stub, which demonstrates the per-partition batch path
  *    (`mapPartitions` over a typed Dataset — the Scala analog of
  *    `mapInPandas`), and the block builds on [[graft.blocks.Blocks]],
  *    RDD lineages over doc, shingle, band and term blocks exposed as
  *    DataFrames: [[shinglePairStats]] and [[docTerms]] (both cached),
  *    and over docTerms dedup_simhash ([[simhashJoin]]),
  *    dedup_simhash_recall's blocked side and text_tfidf
  *    ([[tfidfTopOn]]).
  *
  * Reference analog: the reference's sketch module family
  * (minhash / bloom similarity — SURVEY §2.B sketch_minhash
  * [K-low], `ps/.../sketch/minhash/`) computes set-similarity over
  * streams; these operators are the batch-relational restatement plus
  * the training-data-pipeline extensions the north star mandates.
  */
object LlmPipeline {

  /** Word 3-gram shingles of a text column (distinct per doc).
    * The corpus parquet is a single small file → a single input split,
    * but shingling + hashing are CPU-bound per row: spread the rows
    * across the cores first (a ~KB-scale shuffle buying full
    * parallelism — the classic fix for small-input/heavy-compute). */
  private[graft] def shingles(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      // split ONCE into an array column: `slice(split(text), i, 3)`
      // inside the lambda would re-split the full text for every i —
      // O(tokens²) character work per doc, and it was the dominant CPU
      // cost of every shingle-based query in round 1's bench.
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      // r14 (VERDICT r13 ask #5): concat(element_at×3) instead of
      // concat_ws(' ', slice(w, i, 3)) — the slice allocates a 3-slot
      // array and concat_ws walks it per shingle; three direct O(1)
      // element_at reads into one 5-arg concat measured 2.5 vs 3.7
      // warm CPU-s for the full sf0.1 explode (DedupCpuProbe, −32%).
      // Row-identical by case analysis: for size(w) >= 3 both forms
      // join w(i..i+2) with single spaces (concat_ws skips only
      // NULLs, which split() never yields, so empty tokens from
      // repeated spaces concatenate identically); for short/empty/
      // null-text docs the explicit else-branch reproduces the old
      // sequence(1, greatest(size-2, 1)) degenerate slice exactly:
      // one shingle = concat_ws(' ', w) (the whole text; "" when w is
      // NULL, matching concat_ws(' ', slice(NULL,..)) = "").
      .select(col("doc_id"),
        expr("explode(array_distinct(if(size(w) >= 3, " +
          "transform(sequence(1, size(w) - 2), " +
          "i -> concat(element_at(w, i), ' ', element_at(w, i + 1), ' ', " +
          "element_at(w, i + 2))), " +
          "array(concat_ws(' ', w)))))").as("shingle"))

  private val oShingles =
    """SELECT DISTINCT doc_id, unnest(list_transform(
      |    generate_series(1, greatest(length(string_split(text, ' ')) - 2, 1)),
      |    i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS shingle
      |FROM documents""".stripMargin

  /** FAMILY-SHARED raw shingle postings (doc_id, shingle) — memoized
    * per (application, dir), persisted MEMORY_AND_DISK_SER. The
    * DataFrame shingle consumers of the dedup family (dedup_clusters'
    * rare-shingle edges, dedup_minhash's signature pass) read this ONE
    * cached relation, so the document scan + tokenize + explode — the
    * dominant CPU of every shingle query — runs once per family sweep,
    * not once per qid. SERIALIZED storage is deliberate: round 5's
    * family-lifetime caches fit on a quiet host but spilled their
    * deserialized rows on the contended grading host, and reading a fat
    * deserialized spill cost more than recomputing; SER keeps the
    * resident bytes ~3× smaller and makes the disk-backed path compact.
    * Memo contract: [[graft.Memo]]. */
  private[graft] def shingleBase(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, ("shingleBase", dir), s"shingleBase ($dir)") {
      // persisted ALREADY HASH-PARTITIONED on the shingle — the
      // inverted-index layout. Every shingle-keyed consumer (the df
      // census, the hot-set anti join, the basket groupBy, minhash's
      // per-distinct-shingle hashing) then reads the cached
      // partitioning instead of re-exchanging the postings per
      // aggregation: one shuffle at build time replaces two at first
      // family use (pageRank's cached-partitioning trade, measured
      // there). doc_id-keyed consumers re-shuffle exactly as they
      // did from the unpartitioned cache — no regression path.
      shingles(Tables.documents(spark, dir))
        .repartition(col("shingle"))
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
    }

  /** df cap for the pair-generating shingle universe: one ultra-hot
    * shingle makes Σdf² quadratic at crawl scale while carrying no
    * discriminative signal, so shingles hotter than this many documents
    * are excluded from pair generation (and from the size denominator —
    * the stats describe the df≤cap universe). At the test SFs max df
    * ≈ 25, the cap never binds and every result is exact overlap.
    * private[graft] so the spec locks against THIS value, not a
    * hardcoded copy that could drift. */
  private[graft] val DfCap = 1000L

  /** FAMILY-SHARED per-shingle document baskets (shingle, docs) over
    * the df≤[[DfCap]] universe — the basket form of the inverted
    * index, same memo + SER contract as [[shingleBase]]. `docs` is the
    * sorted doc_id array, so `docs[i] < docs[j]` for i < j and a df=2
    * basket IS a canonical (src, dst) edge. Pair generation from
    * baskets needs ONE shuffle of the postings (the groupBy here)
    * where the postings self-join shuffled them twice — the same
    * measured trade as the co-purchase basket rewrite. Boundedness:
    * the hot anti-join runs BEFORE collect_list, so no basket exceeds
    * [[DfCap]] doc_ids (the giant-row skew hazard is excluded before
    * the aggregation buffer exists) and per-basket pair volume is
    * ≤ DfCap² via the streaming double explode, never an in-row
    * materialized pair array. */
  private[graft] def shingleBaskets(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, ("shingleBaskets", dir), s"shingleBaskets ($dir)") {
      // hot-set built inline, un-persisted: this aggregation runs
      // exactly once per basket build (itself memoized), so caching
      // the full (shingle, df) relation for the family's lifetime
      // would be dead residency on a contended host
      val hot = shingleBase(spark, dir)
        .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .filter(col("df") > DfCap).select("shingle")
      val baskets = shingleBase(spark, dir)
        .join(hot, Seq("shingle"), "left_anti")
        .groupBy(col("shingle"))
        .agg(sort_array(collect_list(col("doc_id"))).as("docs"))
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
      // eager, TIMED materialization: the basket build is the dedup
      // family's dominant shared ETL, and fusing it into whichever
      // qid happens to run first made that qid's bench number
      // unattributable (the r6→r7 "dedup regression" debate). The
      // materializing scan doubles as a COVERAGE census (ADVICE r8):
      // a doc whose every shingle is hotter than [[DfCap]] lands in
      // no basket, gets no minhash signature, and can never be
      // flagged near-duplicate — a real behavior change vs the
      // uncapped per-posting shape that the fixtures (max df ≈ 25)
      // can never exercise, so a BINDING cap must be loud in the
      // log, not silent. The corpus count is parquet-metadata-only.
      val t0 = System.nanoTime()
      val cov = baskets.select(explode(col("docs")).as("d"))
        .agg(count(lit(1)), countDistinct(col("d"))).head()
      val (nPost, nDocs) = (cov.getLong(0), cov.getLong(1))
      val nCorpus = Tables.documents(spark, dir).count()
      graft.BuildLog.log(
        f"shingleBaskets built in ${(System.nanoTime() - t0) / 1e9}%.2f s " +
          f"($nDocs of $nCorpus docs in the df<=$DfCap universe, $nPost postings, $dir)" +
          (if (nDocs < nCorpus)
            // two causes land a doc outside the basket universe: every
            // shingle hotter than the cap, OR text too short to yield
            // any shingle — name both so triage doesn't hunt for a
            // binding cap on a short-doc corpus
            f" WARNING: ${nCorpus - nDocs} signature-less docs" +
              " (df cap binds on all their shingles, or too short to shingle)"
          else ""))
      baskets
    }

  // ---------------------------------------------------------------- dedup_exact
  /** Exact dedup by normalized-text hash. The corpus has no literal
    * dups, so the query materializes a duplicated corpus (docs ∪ every
    * 7th doc re-ingested under a shifted id — the "same file crawled
    * twice" case) and collapses it: keep the smallest doc_id per
    * normalized hash, count copies. At 100 TB this is one hash-shuffle
    * groupBy — the cheapest possible dedup, always run first.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val recrawled = d.filter(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000)
    d.unionByName(recrawled)
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))
  }

  private val dedupExactOracle =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0)
      |SELECT md5(lower(trim(text))) AS text_hash,
      |       min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM corpus GROUP BY 1 ORDER BY keep_id""".stripMargin

  // ---------------------------------------------------------------- dedup_near
  /** Shared pair statistics for the shingle-overlap dedup family:
    * (db, da, inter, na, nb) for the doc pairs da < db that share a
    * shingle of the df≤[[DfCap]] universe — the intersection count and
    * each doc's shingle count in that universe — that could pass SOME
    * consumer's threshold. dedup_near (Jaccard) and dedup_containment
    * (Broder containment) are both projections of THIS relation;
    * building it twice was the bench's single largest repeated subplan
    * (VERDICT r4 §Performance #4).
    *
    * Built by [[pairStatsOn]] from the documents table and memoized
    * per (application, dir) ([[graft.Memo]]): the second
    * family member reuses it, a clearCache between the two calls
    * (Verify's per-query hygiene) just rebuilds, and the caller's
    * clearCache frees it (pageRank's contract). */
  private[graft] def shinglePairStats(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, ("shinglePairStats", dir), s"shinglePairStats ($dir)")(pairStatsOn(Tables.documents(spark, dir), DfCap))

  /** [[shinglePairStats]] over any (doc_id, text) relation with df cap
    * `cap`, as ONE RDD lineage over the owner blocks of
    * [[graft.blocks.Blocks]]:
    *  1. the documents are spread over the doc blocks and shingled per
    *     doc ([[textShingles]], row-identical to [[shingles]]);
    *  2. the postings go to their shingle's owner block. All postings
    *     of a shingle meet there, so its df is exact and the cap applies
    *     before any pair exists: a shingle with df > cap yields no pair
    *     and no size;
    *  3. each shingle block's posting counts per doc go to the doc's
    *     owner block, which sums them into the doc's size and sends each
    *     shingle block the sizes of its docs (a routed pull);
    *  4. each shingle block orders its baskets by (size, id) and sends,
    *     per doc a, the docs after a in them to owner(a): one record per
    *     (shingle block, a), sorted by a there by Spark's spillable
    *     external sort. owner(a) counts inter per doc b in a buffer of
    *     a's own neighbours; since na <= nb, a pair that could be
    *     admitted shares at least 1598/1799 of na, and the others stop
    *     there ([[candidatePairs]]);
    *  5. the survivors are pushed to owner(b), which joins nb and
    *     applies the family admission filter ([[admitted]]).
    * No task-local structure grows with the pair stream: block maps
    * hold postings or docs, and a per-doc buffer one doc's neighbours.
    * The result is a [[graft.blocks.Blocks.cached]] build whose report
    * takes the coverage census in a second job.
    *
    * `doc_id` must be integral (da and db keep its type); `text` is
    * read as a string. A null doc_id counts toward its shingles' df
    * but gets no pair and no size. Two rows with one doc_id count as
    * two postings of it, as in the postings self-join. */
  private[graft] def pairStatsOn(documents: DataFrame, cap: Long): DataFrame = Blocks.scope { live =>
    val spark = documents.sparkSession
    val idType = Blocks.idType(documents, "doc_id", "pairStatsOn")
    val typed = Blocks.catalystId(idType)
    val owner = Blocks.owner(spark)
    val docs = docBatches(documents, owner).partitionBy(owner)
    val baskets = live.persist(postingBatches(docs, owner).partitionBy(owner).mapPartitions(cappedBaskets(_, cap)))
    // size partials: each shingle block's posting count per doc, one
    // batch per owner block, which sums them per doc
    val sizes = live.persist(baskets.mapPartitionsWithIndex((t, bs) => sizePartials(t, bs.next(), owner))
      .partitionBy(owner).mapPartitions(ps => Iterator(SizeBlock(ps.map(_._2).toArray))))
    // ...and answers each shingle block with the sizes of its docs
    val replies = sizes.mapPartitions(_.next().replies).partitionBy(owner)
    // per shingle block and doc a, the docs after a in its baskets'
    // (size, id) order, so na <= nb for every pair; sorted by a at
    // owner(a) (spillable), counted there and pruned on na alone
    val candidates = baskets.zipPartitions(replies)((bs, rs) => suffixes(bs.next(), rs))
      .repartitionAndSortWithinPartitions(owner)
      .mapPartitions(candidatePairs)
    // the survivors, pushed to owner(b), where nb joins and the
    // admission filter runs
    val rows: RDD[InternalRow] = sizes.zipPartitions(candidates.partitionBy(owner)) { (s, ps) =>
      val size = s.next().total
      ps.flatMap { case (b, h) =>
        val nb = size(b)
        if (!admitted(h.inter, h.na, nb)) Iterator.empty
        else Iterator(new GenericInternalRow(
          if (h.a < b) Array[Any](typed(b), typed(h.a), h.inter, h.na, nb)
          else Array[Any](typed(h.a), typed(b), h.inter, nb, h.na)))
      }
    }
    val schema = StructType(Seq("db", "da").map(StructField(_, idType, nullable = false)) ++
      Seq("inter", "na", "nb").map(StructField(_, LongType, nullable = false)))
    Blocks.cached(spark, "shinglePairStats", rows, schema) { nPairs =>
      // the coverage census off the same shuffles (ADVICE r8): a doc
      // whose every shingle is hotter than the cap has no size and no
      // pair, a real behavior change vs exact overlap that the fixtures
      // (max df ≈ 25) never exercise, so a BINDING cap must be loud
      val (nDocs, nCorpus) = docs.zipPartitions(sizes) { (d, s) =>
        Iterator((s.next().total.size.toLong, d.map(_._2.ids.length.toLong).sum))
      }.collect().foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
      f"($nPairs pairs, $nDocs of $nCorpus docs in the df<=$cap universe)" +
        (if (nDocs < nCorpus)
          f" WARNING: ${nCorpus - nDocs} docs outside it (the df cap binds on all" +
            " their shingles, or their doc_id is null or repeated)"
        else "")
    }
  }

  /** Family ADMISSION filter (r9) of [[shinglePairStats]]: keep only
    * pairs that could pass SOME consumer's threshold — jaccard ≥ 0.8
    * (dedup_near) or containment ≥ 0.9 (dedup_containment), each
    * relaxed by a safety margin (0.799 / 0.89, integer forms so no IEEE
    * step) and re-checked exactly by the consumer. The full pair stream
    * still flows through the combine, but the PERSISTED relation drops
    * from Σdf²-sized (1.13M rows at sf0.1, unbounded at crawl scale) to
    * the near-dup survivor set (~10³). Consumers' results are
    * bit-identical: the admission bound is strictly weaker than every
    * consumer filter (10000·i ≥ 7990·union admits every
    * round(j,4) ≥ 0.8; 100·i ≥ 89·min admits every
    * (1e6·i) div min ≥ 900000). */
  private def admitted(inter: Long, na: Long, nb: Long): Boolean =
    inter * 10000 >= (na + nb - inter) * 7990 || inter * 100 >= math.min(na, nb) * 89

  /** Word 3-gram shingles of one text, distinct, as the rows
    * [[shingles]] yields for it: `split(text, " ")` keeps empty tokens
    * (leading, trailing or repeated spaces), and a text of fewer than
    * 3 tokens is one shingle, itself ("" for a null text). */
  private[graft] def textShingles(text: String): Array[String] =
    if (text == null) Array("")
    else {
      // token i spans [start(i), start(i + 1) - 1), so shingle i is the
      // text from token i's start to token i + 2's end
      val start = mutable.ArrayBuilder.make[Int]
      start += 0
      var p = text.indexOf(' ')
      while (p >= 0) {
        start += p + 1
        p = text.indexOf(' ', p + 1)
      }
      start += text.length + 1
      val s = start.result()
      if (s.length < 4) Array(text)
      else {
        val out = new java.util.HashSet[String]()
        for (i <- 0 until s.length - 3) out.add(text.substring(s(i), s(i + 3) - 1))
        out.toArray(new Array[String](0))
      }
    }

  /** Documents of one doc block from one input partition; a null id is
    * a null element. */
  private final case class DocBatch(ids: Array[java.lang.Long], texts: Array[String])

  /** One doc block's postings of the shingles of one shingle block:
    * per shingle, its non-null doc ids and its null-id posting count. */
  private final case class PostingBatch(shingles: Array[String], docs: Array[Array[Long]],
      nulls: Array[Int])

  private final class Postings {
    val docs = new mutable.ArrayBuilder.ofLong
    var nulls = 0
  }

  /** The (doc_id, text) documents → one batch per (input partition, doc
    * block), doc_id as a long. */
  private def docBatches(documents: DataFrame, owner: Partitioner): RDD[(Int, DocBatch)] =
    documents.select(col("doc_id").cast(LongType), col("text").cast(StringType)).rdd.mapPartitions { rows =>
      Blocks.spread(owner)((mutable.ArrayBuffer[java.lang.Long](), mutable.ArrayBuffer[String]())) { to =>
        rows.foreach { r =>
          val id = if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
          val (ids, texts) = to(id)
          ids += id
          texts += r.getString(1)
        }
      } { case (ids, texts) => DocBatch(ids.toArray, texts.toArray) }
    }

  /** Doc blocks → one batch of postings per (doc block, shingle block). */
  private def postingBatches(docs: RDD[(Int, DocBatch)], owner: Partitioner): RDD[(Int, PostingBatch)] =
    docs.mapPartitions { batches =>
      Blocks.spread(owner)(new java.util.HashMap[String, Postings]()) { to =>
        batches.foreach { case (_, b) =>
          b.ids.indices.foreach { i =>
            textShingles(b.texts(i)).foreach { s =>
              val p = to(s).computeIfAbsent(s, _ => new Postings)
              if (b.ids(i) == null) p.nulls += 1 else p.docs += b.ids(i)
            }
          }
        }
      } { postings =>
        val (shingles, ps) = postings.asScala.toArray.unzip
        PostingBatch(shingles, ps.map(_.docs.result()), ps.map(_.nulls))
      }
    }

  /** One shingle block's posting batches → its df≤cap baskets: the
    * sorted non-null doc ids of every shingle whose df (null ids
    * included) is at most `cap`. */
  private def cappedBaskets(batches: Iterator[(Int, PostingBatch)], cap: Long)
      : Iterator[Array[Array[Long]]] = {
    val merged = new java.util.HashMap[String, Postings]()
    batches.foreach { case (_, b) =>
      b.shingles.indices.foreach { k =>
        val p = merged.computeIfAbsent(b.shingles(k), _ => new Postings)
        p.docs ++= b.docs(k)
        p.nulls += b.nulls(k)
      }
    }
    val out = mutable.ArrayBuffer[Array[Long]]()
    merged.values.forEach { p =>
      val d = p.docs.result()
      if (d.nonEmpty && d.length + p.nulls <= cap) {
        java.util.Arrays.sort(d)
        out += d
      }
    }
    Iterator(out.toArray)
  }

  /** Posting counts of the docs of one shingle block (`from`) that one
    * doc block owns. */
  private final case class SizePartial(from: Int, docs: Array[Long], counts: Array[Long])

  /** One doc block's size partials and, per doc, their sum: its
    * shingle count in the df≤cap universe. */
  private final case class SizeBlock(partials: Array[SizePartial]) {
    val total = mutable.LongMap[Long]()
    partials.foreach(p => p.docs.indices.foreach(i =>
      total(p.docs(i)) = total.getOrElse(p.docs(i), 0L) + p.counts(i)))

    /** Per partial, the sizes of its docs, back to its shingle block. */
    def replies: Iterator[(Int, (Array[Long], Array[Long]))] =
      partials.iterator.map(p => (p.from, (p.docs, p.docs.map(total))))
  }

  private def sizePartials(from: Int, baskets: Array[Array[Long]], owner: Partitioner)
      : Iterator[(Int, SizePartial)] = {
    val counts = mutable.LongMap[Long]()
    baskets.foreach(_.foreach(d => counts(d) = counts.getOrElse(d, 0L) + 1))
    Blocks.spread(owner)((new mutable.ArrayBuilder.ofLong, new mutable.ArrayBuilder.ofLong)) { to =>
      counts.foreachEntry { (d, c) =>
        val (ds, cs) = to(d)
        ds += d
        cs += c
      }
    } { case (ds, cs) => SizePartial(from, ds.result(), cs.result()) }
  }

  /** One shingle block's suffix records, given the sizes of its docs:
    * for each doc a with a doc after it in one of the block's baskets,
    * in (size, id) order, (a, [na, every such doc, once per posting of
    * a]), by increasing a. A doc's duplicate postings (one doc_id in
    * two rows) are adjacent in that order and pair with neither each
    * other nor themselves. The record is a's alone: it holds the docs a
    * shares a shingle of this block with. */
  private def suffixes(baskets: Array[Array[Long]],
      sizes: Iterator[(Int, (Array[Long], Array[Long]))]): Iterator[(Long, Array[Long])] = {
    val size = mutable.LongMap[Long]()
    sizes.foreach { case (_, (docs, ns)) => docs.indices.foreach(i => size(docs(i)) = ns(i)) }
    val ordered = baskets.map(_.sortWith((x, y) => size(x) < size(y) || size(x) == size(y) && x < y))
    // per doc, the (basket, first position after it) of its postings
    val after = mutable.LongMap[mutable.ArrayBuilder.ofLong]()
    ordered.indices.foreach { k =>
      val b = ordered(k)
      b.indices.foreach { i =>
        val j = b.indexWhere(_ != b(i), i + 1)
        if (j > 0) after.getOrElseUpdate(b(i), new mutable.ArrayBuilder.ofLong) += (k.toLong << 32 | j)
      }
    }
    after.keys.toArray.sorted.iterator.map { a =>
      val out = new mutable.ArrayBuilder.ofLong
      out += size(a)
      after(a).result().foreach(kj => out ++= ordered((kj >>> 32).toInt).drop(kj.toInt))
      (a, out.result())
    }
  }

  /** A pair candidate pushed to owner(b): the other doc `a`, the shared
    * shingle count and a's size. */
  private final case class HalfPair(a: Long, inter: Long, na: Long)

  /** One doc block's suffix records, sorted by a → (b, (a, inter, na))
    * for each doc b that shares inter shingles with a and could pass
    * the admission filter. inter is the number of times a's records
    * hold b: one per shared shingle, and per posting as in the postings
    * self-join. a's records are gathered, sorted and counted in a
    * buffer that holds only the docs a shares a shingle with. Since
    * na <= nb, an admitted pair shares at least 1598/1799 of na:
    * [[admitted]] with nb >= na implies 1799·inter >= 1598·na. */
  private def candidatePairs(records: Iterator[(Long, Array[Long])]): Iterator[(Long, HalfPair)] = {
    val in = records.buffered
    var buf = new Array[Long](64)
    Iterator.continually(in.hasNext).takeWhile(identity).flatMap { _ =>
      val (a, first) = in.head
      val na = first(0)
      var n = 0
      while (in.hasNext && in.head._1 == a) {
        val bs = in.next()._2
        if (n + bs.length > buf.length) buf = java.util.Arrays.copyOf(buf, 2 * (n + bs.length))
        System.arraycopy(bs, 1, buf, n, bs.length - 1)
        n += bs.length - 1
      }
      java.util.Arrays.sort(buf, 0, n)
      val out = mutable.ArrayBuffer[(Long, HalfPair)]()
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n && buf(j) == buf(i)) j += 1
        if (1799L * (j - i) >= 1598L * na) out += ((buf(i), HalfPair(a, j - i, na)))
        i = j
      }
      out
    }
  }

  /** Near-dup detection by word-3-gram Jaccard ≥ 0.8, exact over the
    * df-capped shingle universe: a projection of [[shinglePairStats]]
    * (intersection counts from the shingle blocks, no materialized
    * candidate set). This is the exactness baseline that validates the
    * sub-quadratic scale paths (dedup_minhash LSH banding, dedup_simhash
    * bands) — at 100 TB you run those, and this, sampled, to audit their
    * recall. */
  def dedupNear(spark: SparkSession, dir: String): DataFrame =
    shinglePairStats(spark, dir)
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jaccard") >= 0.8)
      .select(col("da"), col("db"), col("jaccard"))
      .orderBy(col("da"), col("db"))

  // ---------------------------------------------------------- dedup_containment
  /** Asymmetric CONTAINMENT dedup — |A∩B| / min(|A|,|B|) over the same
    * df-capped shingle universe as dedup_near. Jaccard misses the
    * quote/prefix case: a short doc fully embedded in a long one has
    * tiny Jaccard (union is the long doc) but containment 1.0, and at
    * crawl scale that is exactly the boilerplate-wrapper and quoted-
    * reply duplication Jaccard lets through (Broder's containment, the
    * measure CC-pipeline suffix dedup approximates). Same inverted-
    * index blocking — candidates only through shared rare shingles,
    * O(Σ df²) never all-pairs — and the score is the exact integer
    * floor-div (1e6·inter) div min(na,nb): no IEEE step anywhere.
    * Scores [[shinglePairStats]], the relation shared with dedup_near. */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    shinglePairStats(spark, dir)
      .withColumn("containment_e6",
        expr("(1000000 * inter) div least(na, nb)"))
      .filter(col("containment_e6") >= 900000L)
      .select(col("da"), col("db"), col("inter"), col("containment_e6"))
      .orderBy(col("da"), col("db"))

  private val dedupContainmentOracle =
    s"""WITH sh_all AS ($oShingles),
       |hot AS (SELECT shingle FROM sh_all GROUP BY shingle HAVING count(*) > 1000),
       |sh AS (SELECT * FROM sh_all
       |       WHERE shingle NOT IN (SELECT shingle FROM hot)),
       |sizes AS (SELECT doc_id, count(*) n_sh FROM sh GROUP BY doc_id),
       |inter AS (SELECT x.doc_id da, y.doc_id db, count(*) inter
       |          FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |          GROUP BY 1, 2)
       |SELECT da, db, inter,
       |       CAST((1000000 * inter) // LEAST(sa.n_sh, sb.n_sh) AS BIGINT)
       |         AS containment_e6
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = da
       |JOIN sizes sb ON sb.doc_id = db
       |WHERE (1000000 * inter) // LEAST(sa.n_sh, sb.n_sh) >= 900000
       |ORDER BY da, db""".stripMargin

  private val dedupNearOracle =
    s"""WITH sh_all AS ($oShingles),
       |hot AS (SELECT shingle FROM sh_all GROUP BY shingle HAVING count(*) > 1000),
       |sh AS (SELECT * FROM sh_all
       |       WHERE shingle NOT IN (SELECT shingle FROM hot)),
       |sizes AS (SELECT doc_id, count(*) n_sh FROM sh GROUP BY doc_id),
       |inter AS (SELECT x.doc_id da, y.doc_id db, count(*) inter
       |          FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |          GROUP BY 1, 2)
       |SELECT da, db,
       |       ROUND(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 4) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = da
       |JOIN sizes sb ON sb.doc_id = db
       |WHERE ROUND(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 4) >= 0.8
       |ORDER BY da, db""".stripMargin

  // ------------------------------------------------------------- dedup_minhash
  /** MinHash + LSH banding — the scale path for near-dup. 16 portable
    * md5-derived minhashes per doc, banded 4×4; docs sharing any band
    * value become candidates (join on the band key — never a cross
    * join); candidates are verified with exact Jaccard ≥ 0.7. At 100 TB
    * the signature pass is one groupBy over (doc, seed) and the band
    * join shuffles on a high-cardinality key with near-singleton
    * buckets — textbook MinHashLSH.
    */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    dedupMinhashOn(shingleBase(spark, dir), shingleBaskets(spark, dir))

  /** dedup_minhash over arbitrary postings (doc_id, shingle) and their
    * df-capped baskets (shingle, docs) — split out (the simPqOn
    * pattern) so the bench prelude can warm the chain's six codegen
    * stages (4-md5 slice, 16-way min agg, band agg, band self-join,
    * sizes, verification joins) on toy postings: MinhashProbe measured
    * the in-bench figure at ~2× the steady-state stage sum, the rest
    * being first-run JIT. */
  private[graft] def dedupMinhashOn(sh: DataFrame, baskets: DataFrame): DataFrame = {
    // (doc_id, seed, minhash): 16 seeded 32-bit hashes per shingle from
    // only 4 md5 evaluations — each 128-bit digest is sliced into four
    // 8-hex-char words (seed = group*4 + slot). All 16 minima are taken
    // in ONE wide aggregation pass (16 codegen'd min() columns — no 16×
    // row explosion, no extra shuffle), then melted to long format over
    // the per-doc rows only.
    //
    // Hash per DISTINCT shingle, not per posting (round-8): the fixture
    // vocabulary makes postings share shingles heavily (~1.1M postings
    // over ~27k distinct shingles at sf0.1), so computing the 4 md5s on
    // the family-shared [[shingleBaskets]] relation and exploding its
    // doc arrays afterwards does ~40× less hash work for the identical
    // per-doc minima — the hash of a shingle doesn't depend on which
    // doc carries it. Baskets cover the df≤[[DfCap]] universe; at the
    // test SFs the cap never binds (max df ≈ 25), and at crawl scale
    // excluding non-discriminative ultra-hot shingles from signatures
    // is the standard MinHash hygiene — the same contract dedup_near
    // documents. The exact-Jaccard verification below stays on the
    // uncapped postings.
    val hashed = baskets
      .withColumn("d0", md5(concat(lit("100:"), col("shingle"))))
      .withColumn("d1", md5(concat(lit("101:"), col("shingle"))))
      .withColumn("d2", md5(concat(lit("102:"), col("shingle"))))
      .withColumn("d3", md5(concat(lit("103:"), col("shingle"))))
      .select(col("docs"), array((0 until 16).map { s =>
        expr(s"cast(conv(substring(d${s / 4}, ${s % 4 * 8 + 1}, 8), 16, 10) as bigint)")
      }: _*).as("mhs"))
    val minAggs = (0 until 16).map { s =>
      min(element_at(col("mhs"), s + 1)).as(s"mh$s")
    }
    val wide = hashed.select(explode(col("docs")).as("doc_id"), col("mhs"))
      .groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*)
    val sig = wide.select(col("doc_id"),
      posexplode(array((0 until 16).map(s => col(s"mh$s")): _*)).as(Seq("seed", "mh")))
    // band id = seed div 4; band value = md5 of the 4 minhashes in order
    val bands = sig.withColumn("band", expr("seed div 4"))
      .groupBy("doc_id", "band")
      .agg(md5(concat_ws(",", sort_array(collect_list(
        format_string("%02d:%020d", col("seed"), col("mh")))))).as("bv"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // candidate-driven intersection (see dedupNear): never self-join the
    // full shingle relation for verification. `cand` is one row per
    // candidate PAIR (unbounded at crawl scale), so no broadcast hint —
    // AQE broadcasts it when the runtime size is actually small.
    val inter = cand
      .join(sh.as("x"), col("da") === col("x.doc_id"))
      .select(col("da"), col("db"), col("x.shingle").as("c_shingle"))
      .join(sh.as("y"),
        col("db") === col("y.doc_id") && col("c_shingle") === col("y.shingle"))
      .groupBy("da", "db").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "da").withColumnRenamed("n_sh", "na"), "da")
      .join(sizes.withColumnRenamed("doc_id", "db").withColumnRenamed("n_sh", "nb"), "db")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jaccard") >= 0.7)
      .select(col("da"), col("db"), col("jaccard"))
      .orderBy(col("da"), col("db"))
  }

  private val dedupMinhashOracle = {
    // the signature pass reads the df≤DfCap universe, EXACTLY like the
    // implementation (which hashes the shingleBaskets relation): the
    // oracle models the cap too, so the two engines agree even on a
    // corpus where the cap binds — not just on fixtures where it never
    // does. Verification (inter/sizes) stays on the uncapped postings
    // in BOTH engines.
    val mhUnion = (0 until 16)
      .map { s =>
        val slice = s"CAST(('0x' || substr(md5(concat('${100 + s / 4}:', shingle)), " +
          s"${s % 4 * 8 + 1}, 8)) AS BIGINT)"
        s"SELECT doc_id, $s AS seed, min($slice) AS mh FROM sh_capped GROUP BY doc_id"
      }
      .mkString("\n  UNION ALL\n  ")
    s"""WITH sh AS ($oShingles),
       |sh_capped AS (
       |  SELECT doc_id, shingle FROM sh
       |  WHERE shingle IN (SELECT shingle FROM sh
       |                    GROUP BY shingle HAVING count(*) <= $DfCap)),
       |sig AS (
       |  $mhUnion),
       |bands AS (
       |  SELECT doc_id, seed // 4 AS band,
       |         md5(array_to_string(list_sort(list(format('{:02d}:{:020d}', seed, mh))), ',')) AS bv
       |  FROM sig GROUP BY doc_id, seed // 4),
       |cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, count(*) n_sh FROM sh GROUP BY doc_id),
       |inter AS (SELECT x.doc_id da, y.doc_id db, count(*) inter
       |          FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |          WHERE (x.doc_id, y.doc_id) IN (SELECT (da, db) FROM cand)
       |          GROUP BY 1, 2)
       |SELECT da, db,
       |       ROUND(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 4) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = da
       |JOIN sizes sb ON sb.doc_id = db
       |WHERE ROUND(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 4) >= 0.7
       |ORDER BY da, db""".stripMargin
  }

  // ------------------------------------------------------------------ doc terms
  /** FAMILY-SHARED per-doc term counts (doc_id, term, tf): one row per
    * doc_id and `split(text, " ")` token, with the token's count in the
    * doc — the rows of `explode(split(text, " "))` grouped by (doc_id,
    * term). dedup_simhash, dedup_simhash_recall and text_tfidf read this
    * ONE relation, so the documents are scanned and tokenized once per
    * family sweep. Built by [[docTermsOn]]; memo contract:
    * [[graft.Memo]]. */
  private[graft] def docTerms(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, ("docTerms", dir), s"docTerms ($dir)")(docTermsOn(Tables.documents(spark, dir)))

  /** [[docTerms]] over any (doc_id, text) relation, in the doc-block
    * layout of [[pairStatsOn]]: the documents are spread once over
    * n = spark.sql.shuffle.partitions doc blocks ([[docBatches]]) and
    * each block counts its docs' tokens ([[termCounts]]). Partition i
    * of the result, and of any scan of its cache entry, is doc block i:
    * all rows of a doc_id are in it, contiguous, by increasing doc_id
    * (null first). The simhash fold and the tf-idf doc count rely on
    * that. The result is a [[graft.blocks.Blocks.cached]] build.
    *
    * `doc_id` must be integral and keeps its type; `text` is read as a
    * string. A null text has no token; `""` is one empty token, and
    * leading, trailing or repeated spaces give empty tokens as
    * `split` does. Rows with one doc_id, null included, count as one
    * doc. */
  private[graft] def docTermsOn(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val idType = Blocks.idType(documents, "doc_id", "docTermsOn")
    val typed = Blocks.catalystId(idType)
    val owner = Blocks.owner(spark)
    val rows: RDD[InternalRow] = docBatches(documents, owner).partitionBy(owner)
      .mapPartitions(bs => termCounts(bs.map(_._2)).map { case (id, term, tf) =>
        new GenericInternalRow(Array[Any](typed(id), term, tf))
      })
    Blocks.cached(spark, "docTerms", rows, StructType(Seq(
      StructField("doc_id", idType),
      StructField("term", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))))(nRows => s"($nRows doc-term rows)")
  }

  /** One doc block's documents → (doc_id, term, tf) for the
    * `split(text, " ")` tokens of each doc_id, by increasing doc_id
    * (null first); the rows of two documents with one doc_id are
    * counted together. */
  private def termCounts(batches: Iterator[DocBatch]): Iterator[(java.lang.Long, UTF8String, Long)] = {
    val bs = batches.toArray
    val ids = bs.flatMap(_.ids)
    val texts = bs.flatMap(_.texts)
    val order = ids.indices.sortBy(i => Option(ids(i)).map(_.longValue)).toArray
    val counts = new java.util.HashMap[String, Array[Long]]()
    var i = 0
    Iterator.continually(i < order.length).takeWhile(identity).flatMap { _ =>
      val id = ids(order(i))
      counts.clear()
      while (i < order.length && java.util.Objects.equals(ids(order(i)), id)) {
        val text = texts(order(i))
        if (text != null) text.split(" ", -1).foreach(t => counts.computeIfAbsent(t, _ => Array(0L))(0) += 1)
        i += 1
      }
      counts.asScala.map { case (t, c) => (id, UTF8String.fromString(t), c(0)) }.toList
    }
  }

  /** [[docTerms]] rows with doc_id as a bigint, partition by partition. */
  private def termRows(terms: DataFrame): RDD[InternalRow] =
    terms.select(col("doc_id").cast(LongType), col("term"), col("tf")).queryExecution.toRdd

  // ------------------------------------------------------------- dedup_simhash
  /** Tf-weighted 63-bit simhash fold as a typed Aggregator: the buffer
    * is the 63 signed bit-sums, `reduce` folds one (hash, tf) token row
    * in a tight JVM loop, `merge` is vector add, and `finish` assembles
    * the simhash long directly. [[simhashes]] folds each doc's
    * [[docTerms]] rows with `reduce` and `finish` inside its doc block.
    */
  object SimHashAgg extends Aggregator[(Long, Long), Array[Long], Long] {
    def zero: Array[Long] = new Array[Long](63)
    def reduce(b: Array[Long], in: (Long, Long)): Array[Long] = {
      val h = in._1; val tf = in._2
      var i = 0
      while (i < 63) {
        b(i) += (if (((h >> i) & 1L) == 1L) tf else -tf); i += 1
      }
      b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < 63) { a(i) += b(i); i += 1 }
      a
    }
    def finish(b: Array[Long]): Long = {
      var sim = 0L; var i = 0
      while (i < 63) { if (b(i) > 0) sim |= (1L << i); i += 1 }
      sim
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
  }

  /** The 63-bit token hash of the simhash, equal to the SQL form
    * `shiftleft(h32(tok, 7) & 2147483647, 32) | h32(tok, 8)` of the
    * oracle: two seeded 32-bit md5 hashes, the top one masked to 31
    * bits so every value stays a positive BIGINT in both engines. */
  private[graft] def tokenHash(token: String): Long =
    tokenHash(token.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.security.MessageDigest.getInstance("MD5"))

  private def tokenHash(utf8: Array[Byte], md5: java.security.MessageDigest): Long = {
    // the first 8 hex digits of md5(seed || ':' || token) as an unsigned int
    def h32(seed: Int): Long = {
      md5.update(s"$seed:".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      md5.update(utf8)
      val d = md5.digest()
      (d(0) & 0xffL) << 24 | (d(1) & 0xffL) << 16 | (d(2) & 0xffL) << 8 | (d(3) & 0xffL)
    }
    (h32(7) & 0x7fffffffL) << 32 | h32(8)
  }

  /** Per doc block of [[docTerms]], (doc_id, simhash) for each doc with
    * a non-null doc_id: its contiguous rows folded by [[SimHashAgg]]'s
    * `reduce`/`finish`, token hashes cached per block. A doc without a
    * token (null text) has no row in docTerms and so no simhash. */
  private[graft] def simhashes(terms: DataFrame): RDD[(Long, Long)] =
    termRows(terms).mapPartitions { rows =>
      val md5 = java.security.MessageDigest.getInstance("MD5")
      val hashes = new java.util.HashMap[UTF8String, java.lang.Long]()
      val in = rows.filter(!_.isNullAt(0)).buffered
      Iterator.continually(in.hasNext).takeWhile(identity).map { _ =>
        val id = in.head.getLong(0)
        val bits = SimHashAgg.zero
        while (in.hasNext && in.head.getLong(0) == id) {
          // the scan reuses its row: read it before advancing
          val r = in.next()
          val t = r.getUTF8String(1)
          var h = hashes.get(t)
          if (h == null) {
            h = tokenHash(t.getBytes, md5)
            hashes.put(t.clone(), h)
          }
          SimHashAgg.reduce(bits, (h.longValue, r.getLong(2)))
        }
        (id, SimHashAgg.finish(bits))
      }
    }

  /** The lowest 16-bit band in which two simhashes agree, given their
    * xor (4 when none does). */
  private def lowestSharedBand(xor: Long): Int = {
    var b = 0
    while (b < 4 && ((xor >>> (16 * b)) & 0xffffL) != 0) b += 1
    b
  }

  /** (doc_id, simhash) per doc block → the pairs (da, db, hamming) with
    * da < db at hamming ≤ 3, by band blocking over 4 × 16-bit bands.
    * Each doc goes once per band to the owner block of its band key
    * (band, value). There every bucket (the docs of one
    * band key) compares its docs pairwise and keeps a pair only in the
    * lowest band its docs share, so each pair leaves exactly one bucket
    * and no distinct is needed. By pigeonhole, ≤ 3 flipped bits touch
    * ≤ 3 of the 4 bands, so every pair at hamming ≤ 3 shares one:
    * recall is 1.0 against all pairs (dedup_simhash_recall audits it).
    * 16-bit bands, not 8-bit: a bucket holds n/65536 docs instead of
    * n/256, and the round-4 scale rehearsal measured the 8-bit form's
    * O(n²/256) candidate growth (docs/DESIGN.md). `idType` is the
    * type da and db take. */
  private[graft] def simhashJoin(spark: SparkSession, sims: RDD[(Long, Long)], idType: DataType)
      : DataFrame = {
    val typed = Blocks.catalystId(idType)
    val owner = Blocks.owner(spark)
    // (band key, doc_id, simhash) triples per band block
    val batches = sims.mapPartitions { ds =>
      Blocks.spread(owner)(new mutable.ArrayBuilder.ofLong) { to =>
        ds.foreach { case (id, sim) =>
          for (b <- 0 until 4) {
            val key = b.toLong << 16 | (sim >>> (16 * b)) & 0xffffL
            to(key) += key += id += sim
          }
        }
      }(_.result())
    }
    val rows: RDD[InternalRow] = batches.partitionBy(owner).mapPartitions { bs =>
      val buckets = mutable.LongMap[mutable.ArrayBuilder.ofLong]()
      bs.foreach { case (_, b) =>
        for (i <- b.indices by 3) buckets.getOrElseUpdate(b(i), new mutable.ArrayBuilder.ofLong) += b(i + 1) += b(i + 2)
      }
      buckets.iterator.flatMap { case (key, docs) =>
        val band = (key >>> 16).toInt
        val d = docs.result()
        for {
          i <- (0 until d.length by 2).iterator
          j <- (i + 2 until d.length by 2).iterator
          xor = d(i + 1) ^ d(j + 1)
          hamming = java.lang.Long.bitCount(xor)
          if hamming <= 3 && lowestSharedBand(xor) == band
        } yield new GenericInternalRow(Array[Any](
          typed(math.min(d(i), d(j))), typed(math.max(d(i), d(j))), hamming)): InternalRow
      }
    }
    GraftColumnBridge.dataFrame(spark, rows, StructType(Seq(
      StructField("da", idType), StructField("db", idType),
      StructField("hamming", IntegerType, nullable = false))))
  }

  /** SimHash near-dup: 63-bit tf-weighted simhash per doc (two seeded
    * 32-bit md5 hashes per token concatenated), folded in the doc
    * blocks of [[docTerms]] ([[simhashes]]); pairs within Hamming
    * distance ≤ 3 found by the band-block join [[simhashJoin]], which
    * scans only O(Σ bucket²) candidates. The band join is what keeps
    * the operator linear-ish at crawl scale; 63 bits keep random
    * collisions negligible. The recall guarantee is driver-checked as
    * data by dedup_simhash_recall. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashPairsOn(docTerms(spark, dir)).orderBy(col("da"), col("db"))

  /** dedup_simhash's rows, unordered, from a [[docTerms]] relation. */
  private[graft] def simhashPairsOn(terms: DataFrame): DataFrame =
    simhashJoin(terms.sparkSession, simhashes(terms), terms.schema("doc_id").dataType)

  /** Shared DuckDB CTE prefix computing (doc_id, simhash) — used by the
    * dedup_simhash and dedup_simhash_recall oracles. */
  private val oSimhashCtes =
    s"""toks AS (
       |  SELECT doc_id, tok, count(*) tf,
       |         ((${oH32("tok", 7)} & 2147483647) << 32) | ${oH32("tok", 8)} AS h
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
       |  GROUP BY doc_id, tok),
       |bits AS (
       |  SELECT doc_id, i AS bit,
       |         sum(CASE WHEN (h >> i) & 1 = 1 THEN tf ELSE -tf END) AS s
       |  FROM toks, unnest(generate_series(0, 62)) AS t(i)
       |  GROUP BY doc_id, i),
       |sim AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)
       |              AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id)""".stripMargin

  private val dedupSimhashOracle =
    s"""WITH $oSimhashCtes,
       |banded AS (
       |  SELECT doc_id, simhash, b AS band, (simhash >> (b * 16)) & 65535 AS bv
       |  FROM sim, unnest(generate_series(0, 3)) AS t(b))
       |SELECT DISTINCT a.doc_id da, b.doc_id db,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM banded a JOIN banded b
       |  ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY da, db""".stripMargin

  // ------------------------------------------------------ dedup_simhash_recall
  /** The band-blocking recall CONTRACT of dedup_simhash, declared as
    * driver-checked data (the sim_ann_ivf_sweep pattern): by pigeonhole,
    * any pair at hamming ≤ 3 differs in at most 3 of the 4 16-bit
    * bands, so it SHARES at least 1 — band blocking has recall 1.0
    * against the true hamming-≤3 pair set, and `n_missed` is provably 0.
    * The blocked side is dedup_simhash's own [[simhashJoin]]; the exact
    * side is an all-pairs self-join on the same (doc_id, simhash)
    * relation — ONE long per doc, so the audit is O(docs²) on an
    * 8-byte key, not O(corpus²) on text. That is the standard sampled
    * recall-audit shape at 100 TB: run it over a deterministic doc
    * sample (the band join itself stays the production path); at the
    * verified SFs the full corpus IS the sample. Output is one row:
    * (n_exact, n_missed, recall_ok). */
  def dedupSimhashRecall(spark: SparkSession, dir: String): DataFrame = {
    val terms = docTerms(spark, dir)
    val idType = terms.schema("doc_id").dataType
    val typed = Blocks.catalystId(idType)
    val sims = simhashes(terms)
    val sim = GraftColumnBridge.dataFrame(spark,
      sims.map { case (id, s) => new GenericInternalRow(Array[Any](typed(id), s)): InternalRow },
      StructType(Seq(StructField("doc_id", idType), StructField("simhash", LongType, nullable = false))))
    val exact = sim.as("a").join(sim.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .filter(col("hamming") <= 3)
    val blocked = simhashJoin(spark, sims, idType).select(col("da"), col("db"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val nMissed = exact.join(blocked, Seq("da", "db"), "left_anti")
      .agg(count(lit(1)).as("n_missed"))
    nExact.crossJoin(nMissed) // two 1-row aggregates
      .select(col("n_exact"), col("n_missed"),
        (col("n_missed") === 0L).as("recall_ok"))
  }

  private val dedupSimhashRecallOracle =
    s"""WITH $oSimhashCtes,
       |exact AS (
       |  SELECT a.doc_id da, b.doc_id db
       |  FROM sim a JOIN sim b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       |banded AS (
       |  SELECT doc_id, simhash, b AS band, (simhash >> (b * 16)) & 65535 AS bv
       |  FROM sim, unnest(generate_series(0, 3)) AS t(b)),
       |blocked AS (
       |  SELECT DISTINCT a.doc_id da, b.doc_id db
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       |missed AS (
       |  SELECT count(*) AS n_missed FROM exact
       |  WHERE (da, db) NOT IN (SELECT (da, db) FROM blocked))
       |SELECT (SELECT count(*) FROM exact) AS n_exact,
       |       n_missed,
       |       n_missed = 0 AS recall_ok
       |FROM missed""".stripMargin

  // ---------------------------------------------------------------- dedup_embed
  /** Embedding-cosine near-duplicate detection: pairs with cosine ≥ 0.9
    * are near-dups. The fixture corpus has no natural embedding dups
    * (max cosine ≈ 0.4), so — like dedup_exact — the query materializes
    * a re-ingested corpus: every 50th vector re-enters under a shifted
    * id with its first component scaled ×1.5 (a "re-encoded media"
    * near-dup, cosine ≈ 0.99). Candidates come from the sign-bit LSH
    * bucket join; the key WIDTH is derived from the corpus count
    * (target bucket ≈ 16 vectors, floor 12 bits) — a FIXED width is
    * the O(n²/B) quadratic class the simhash 8-bit bands and the
    * knn-graph init already eliminated, while a derived width keeps
    * the in-bucket join linear at any corpus size. The width is
    * computed by the same scalar-subquery formula in both engines
    * (ceil(log2) only straddles an integer at exact powers of two,
    * where log2 is exact — no cross-engine flip). The perturbation
    * preserves every sign, so planted pairs share a bucket at ANY
    * width; at every fixture/rehearsal size the formula yields the
    * original 12 bits. The corpus shuffles once on the bucket id —
    * never a cross join. */
  private val signLshBits =
    "greatest(12L, least(48L, cast(ceil(log2(cnt / 16.0d)) as long)))"
  /** (vec_id, v) → (vec_id, v, bucket, n) with the derived-width sign
    * key — the one bucketing definition behind dedup_embed and
    * sim_ann_lsh (and the width-growth spec). `widthOf` is the
    * relation whose COUNT derives the key width (defaults to the
    * bucketed relation itself); dedup_embed buckets distinct vectors
    * but derives the width from the full corpus count so its
    * candidate set — and the DuckDB oracle's — is width-identical. */
  private[graft] def signLshBucketed(corpus: DataFrame): DataFrame =
    signLshBucketedFrom(corpus, corpus)
  private[graft] def signLshBucketedFrom(
      df: DataFrame, widthOf: DataFrame): DataFrame = {
    val bits = widthOf.agg(count(lit(1)).as("cnt"))
      .select(expr(signLshBits).as("bits"))
    df.crossJoin(broadcast(bits)) // 1-row derived key width
      .withColumn("bucket",
        expr("aggregate(transform(sequence(0, cast(bits as int) - 1), " +
          "i -> if(element_at(v, i + 1) > 0, shiftleft(1L, i), 0L)), 0L, (a, x) -> a + x)"))
      .withColumn("n", VectorExprs.l2(col("v")))
  }
  /** Bucket, pair, and score DISTINCT vectors; expand through the id
    * table only after verification (round 9). Identical vectors share
    * every sign bit, so NO key width can split a duplicate group — a
    * duplicate-heavy corpus (the norm at crawl scale; re-ingested
    * media is this qid's own story) grows every bucket with the
    * duplicate mass and the in-bucket pair join goes Σ(multiplicity²)
    * (ShuffleGrowthAudit measured the per-row form 54× on the 10×
    * rehearsal corpus, whose replicas are verbatim vectors). Scoring
    * per distinct PAIR keeps the LSH join and every dot product
    * linear in distinct vectors; the two expansion joins are
    * output-sized — under duplicate mass the true near-dup PAIR LIST
    * is itself Σ(multiplicity²), which no plan can undercut
    * (dedup_clusters' component-representative output is the
    * production interface when listing pairs stops being meaningful).
    * Orientation: each unordered distinct-vector pair is scored once
    * (rep < rep), mirrored AFTER scoring (the knnGraphEdges scoreBoth
    * idiom), and the final id filter keeps da < db — bit-identical to
    * the per-row form (cos is symmetric bit-for-bit: same element
    * order, commutative products). Same-vector pairs (cos = 1 by the
    * same rounded formula) enter once, unmirrored. */
  def dedupEmbed(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val reingested = base.filter(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"),
        expr("transform(v, (x, i) -> if(i = 0, x * cast(1.5 as double), x))").as("v"))
    dedupEmbedOn(base.unionByName(reingested))
  }
  /** The distinct-first pipeline over an explicit (vec_id, v) corpus —
    * split out so the bench prelude can warm its shapes (array-keyed
    * groupBy/joins, mirror explode) on toy vectors, the simPqOn
    * contract. */
  private[graft] def dedupEmbedOn(corpus: DataFrame): DataFrame = {
    val groups = corpus.groupBy(col("v"))
      .agg(min(col("vec_id")).as("vec_id"), count(lit(1)).as("m"))
    val e = signLshBucketedFrom(groups.select(col("vec_id"), col("v")), corpus)
    val cross = e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.v").as("va"), col("b.v").as("vb"),
        round(VectorExprs.dot(col("a.v"), col("b.v")) /
          (col("a.n") * col("b.n")), 6).as("cos"))
      .filter(col("cos") >= 0.9)
    val intra = groups.filter(col("m") >= 2).select(col("v"))
      .withColumn("n", VectorExprs.l2(col("v")))
      .select(col("v").as("va"), col("v").as("vb"),
        round(VectorExprs.dot(col("v"), col("v")) /
          (col("n") * col("n")), 6).as("cos"))
      .filter(col("cos") >= 0.9)
    val oriented = cross
      .select(explode(array(
          struct(col("va").as("x"), col("vb").as("y")),
          struct(col("vb").as("x"), col("va").as("y")))).as("p"), col("cos"))
      .select(col("p.x").as("va"), col("p.y").as("vb"), col("cos"))
      .unionByName(intra)
    oriented
      .join(corpus.select(col("vec_id").as("da"), col("v").as("va")), "va")
      .join(corpus.select(col("vec_id").as("db"), col("v").as("vb")), "vb")
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"), col("cos"))
      .orderBy(col("da"), col("db"))
  }

  private val dedupEmbedOracle =
    """WITH base AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |              FROM embeddings),
      |corpus AS (
      |  SELECT vec_id, v FROM base
      |  UNION ALL
      |  SELECT vec_id + 1000000,
      |         list_transform(v, (x, i) -> CASE WHEN i = 1
      |           THEN x * CAST(1.5 AS DOUBLE) ELSE x END)
      |  FROM base WHERE vec_id % 50 = 0),
      |bits AS (SELECT GREATEST(12, LEAST(48,
      |           CAST(CEIL(LOG2(COUNT(*) / 16.0)) AS BIGINT))) AS bits
      |         FROM corpus),
      |e AS (SELECT vec_id, v,
      |        list_reduce(list_prepend(0::BIGINT,
      |          list_transform(generate_series(0, CAST(bits AS INT) - 1),
      |          i -> CASE WHEN v[i + 1] > 0 THEN (1::BIGINT << i) ELSE 0 END)),
      |          (a, x) -> a + x) AS bucket,
      |        sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
      |                         (a, x) -> a + x)) AS n
      |      FROM corpus, bits)
      |SELECT a.vec_id da, b.vec_id db,
      |       ROUND(list_reduce(list_prepend(0.0,
      |               list_transform(generate_series(1, 64), i -> a.v[i] * b.v[i])),
      |             (acc, x) -> acc + x) / (a.n * b.n), 6) AS cos
      |FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      |WHERE ROUND(list_reduce(list_prepend(0.0,
      |        list_transform(generate_series(1, 64), i -> a.v[i] * b.v[i])),
      |      (acc, x) -> acc + x) / (a.n * b.n), 6) >= 0.9
      |ORDER BY da, db""".stripMargin

  // ----------------------------------------------------------------- sim_cosine
  /** Brute-force cosine top-k: the exact ANN baseline. Queries are a
    * bounded id range joined (broadcast — the query side is small by
    * construction) against the full corpus; per-query top-5 via window
    * rank. At 100 TB the corpus side stays partitioned and the query
    * side broadcasts — no shuffle of the big side at all.
    */
  def simCosine(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val norm = e.withColumn("n", VectorExprs.l2(col("v")))
    val q = norm.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n").as("qn"))
    broadcast(q).join(norm.as("c"), col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("cid"),
        round(VectorExprs.dot(col("qv"), col("v")) /
          (col("qn") * col("n")), 6).as("cos"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("cid"))))
      .filter(col("rk") <= 5)
      .select(col("qid"), col("rk"), col("cid"), col("cos"))
      .orderBy(col("qid"), col("rk"))
  }

  private val simCosineOracle =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |           FROM embeddings),
      |n AS (SELECT vec_id, v,
      |        sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
      |                         (a, x) -> a + x)) AS n
      |      FROM v),
      |scored AS (
      |  SELECT q.vec_id qid, c.vec_id cid,
      |         ROUND(list_reduce(list_prepend(0.0,
      |                 list_transform(generate_series(1, 64), i -> q.v[i] * c.v[i])),
      |               (a, x) -> a + x) / (q.n * c.n), 6) AS cos
      |  FROM n q JOIN n c ON q.vec_id < 20 AND c.vec_id != q.vec_id)
      |SELECT qid, rk, cid, cos FROM (
      |  SELECT qid, cid, cos,
      |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
      |  FROM scored)
      |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin

  // ---------------------------------------------------------------- sim_ann_lsh
  /** LSH-bucketed approximate NN — the scale path. Bucket key = sign
    * bits of the leading dimensions (axis-aligned random-hyperplane
    * LSH; deterministic and engine-portable), with the key WIDTH
    * derived from the corpus count exactly as in [[dedupEmbed]]
    * (target bucket ≈ 16, floor 12 bits — a fixed width is the
    * O(n²/B) quadratic class). Neighbors are only sought inside the
    * same bucket: the join is an equi-join on bucket id, so 100 TB of
    * vectors shuffle once on a key whose cardinality GROWS with the
    * corpus instead of cross-joining. Returns per-query top-3
    * in-bucket by exact cosine.
    */
  def simAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = signLshBucketed(Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v")))
    e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("cid"),
        round(VectorExprs.dot(col("a.v"), col("b.v")) /
          (col("a.n") * col("b.n")), 6).as("cos"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("cid"))))
      .filter(col("rk") <= 3 && col("qid") < 100)
      .select(col("qid"), col("rk"), col("cid"), col("cos"))
      .orderBy(col("qid"), col("rk"))
  }

  private val simAnnLshOracle =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |           FROM embeddings),
      |bits AS (SELECT GREATEST(12, LEAST(48,
      |           CAST(CEIL(LOG2(COUNT(*) / 16.0)) AS BIGINT))) AS bits
      |         FROM v),
      |e AS (SELECT vec_id, v,
      |        list_reduce(list_prepend(0::BIGINT,
      |          list_transform(generate_series(0, CAST(bits AS INT) - 1),
      |          i -> CASE WHEN v[i + 1] > 0 THEN (1::BIGINT << i) ELSE 0 END)),
      |          (a, x) -> a + x) AS bucket,
      |        sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
      |                         (a, x) -> a + x)) AS n
      |      FROM v, bits),
      |scored AS (
      |  SELECT a.vec_id qid, b.vec_id cid,
      |         ROUND(list_reduce(list_prepend(0.0,
      |                 list_transform(generate_series(1, 64), i -> a.v[i] * b.v[i])),
      |               (acc, x) -> acc + x) / (a.n * b.n), 6) AS cos
      |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id != b.vec_id)
      |SELECT qid, rk, cid, cos FROM (
      |  SELECT qid, cid, cos,
      |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
      |  FROM scored)
      |WHERE rk <= 3 AND qid < 100 ORDER BY qid, rk""".stripMargin

  // --------------------------------------------------------------- sim_knn_class
  /** k-NN label vote: classify query vectors (id < 50) by the majority
    * label of their 10 nearest (cosine) neighbors from the reference
    * set (id ≥ 50). The capability analog of the reference's online
    * classifier scoring path (SURVEY §2.B pa_binary): model "lookup" is
    * a broadcast join, vote is a groupBy — both scale-free shapes.
    */
  def simKnnClass(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("n", VectorExprs.l2(col("v")))
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n").as("qn"))
    val ref = e.filter(col("vec_id") >= 50)
    // native codegen'd dot product: the zip_with/aggregate HOF form
    // allocates an intermediate 64-element array per candidate pair
    // (~250k/query-batch), which showed up as GC-driven run-to-run
    // variance in round 1's bench
    val top10 = broadcast(q).join(ref, col("qid") =!= col("vec_id"))
      .select(col("qid"), col("label"),
        round(VectorExprs.dot(col("qv"), col("v")) /
          (col("qn") * col("n")), 6).as("cos"),
        col("vec_id"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= 10)
    top10.groupBy("qid", "label").agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("votes").desc, col("label"))))
      .filter(col("vr") === 1)
      .select(col("qid"), col("label").as("pred_label"), col("votes"))
      .orderBy(col("qid"))
  }

  private val simKnnClassOracle =
    """WITH v AS (SELECT vec_id, label,
      |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |           FROM embeddings),
      |e AS (SELECT vec_id, label, v,
      |        sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
      |                         (a, x) -> a + x)) AS n
      |      FROM v),
      |scored AS (
      |  SELECT q.vec_id qid, c.label, c.vec_id,
      |         ROUND(list_reduce(list_prepend(0.0,
      |                 list_transform(generate_series(1, 64), i -> q.v[i] * c.v[i])),
      |               (a, x) -> a + x) / (q.n * c.n), 6) AS cos
      |  FROM e q JOIN e c ON q.vec_id < 50 AND c.vec_id >= 50),
      |top10 AS (
      |  SELECT qid, label FROM (
      |    SELECT qid, label,
      |           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
      |    FROM scored)
      |  WHERE rk <= 10),
      |votes AS (SELECT qid, label, count(*) votes FROM top10 GROUP BY 1, 2)
      |SELECT qid, label AS pred_label, votes FROM (
      |  SELECT qid, label, votes,
      |         row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS vr
      |  FROM votes)
      |WHERE vr = 1 ORDER BY qid""".stripMargin

  // ----------------------------------------------------------------- text_stats
  /** Corpus text statistics per (lang, source): doc counts, token and
    * char moments — the profiling pass every pipeline runs first. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_tok", size(split(col("text"), " ")))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_tok")).cast("long").as("total_tokens"),
        round(avg(col("n_tok")), 4).as("avg_tokens"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("lang")

  private val textStatsOracle =
    """SELECT lang, count(*) n_docs, count(DISTINCT source) n_sources,
      |  CAST(sum(length(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      |  ROUND(avg(length(string_split(text, ' '))), 4) AS avg_tokens,
      |  ROUND(avg(n_chars), 4) AS avg_chars,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ----------------------------------------------------------------- text_tfidf
  /** tf-idf: top-3 scoring terms per document (doc_id < 100), idf over
    * the full corpus, read from the [[docTerms]] memo by
    * [[tfidfTopOn]]. */
  def textTfidf(spark: SparkSession, dir: String): DataFrame =
    tfidfTopOn(docTerms(spark, dir)).orderBy(col("doc_id"), col("rk"))

  /** What one doc block sends one term block: its distinct non-null
    * doc count, the df partials of its terms owned by the term block,
    * and its query-band (doc_id < 100) tf rows of those terms. */
  private final case class TermBatch(docs: Long, terms: Array[UTF8String], df: Array[Long],
      bandIds: Array[Long], bandTerms: Array[UTF8String], bandTf: Array[Long])

  /** text_tfidf's rows (doc_id, rk, term, tfidf), unordered, from a
    * [[docTerms]] relation in its doc-block layout, over n =
    * spark.sql.shuffle.partitions term blocks:
    *  1. ONE shuffle from the doc blocks to the term blocks, one batch
    *     per block pair ([[TermBatch]]). A term's df partials all meet
    *     at its owner block, so its df is exact; every term block gets
    *     every doc block's doc count, so each knows n;
    *  2. each term block scores its band rows, round(tf·ln(n/df), 6)
    *     ([[tfidf]]), and sends them to their doc's owner block, where
    *     the top 3 are ranked by tfidf desc, then term in Spark's
    *     (UTF-8 byte) order.
    * n counts the distinct non-null doc_ids with a token, as the oracle
    * does; df counts a null doc_id as one doc, as the oracle's DISTINCT
    * does. Only the band's rows and per-term counts travel: nothing
    * corpus-sized is broadcast or gathered. */
  private[graft] def tfidfTopOn(terms: DataFrame): DataFrame = {
    val spark = terms.sparkSession
    val idType = terms.schema("doc_id").dataType
    val typed = Blocks.catalystId(idType)
    val owner = Blocks.owner(spark)
    val scores = termRows(terms).mapPartitions(termBatches(_, owner)).partitionBy(owner).mapPartitions(scoreBand)
    val rows: RDD[InternalRow] = scores.partitionBy(owner).mapPartitions { ss =>
      val byDoc = mutable.LongMap[mutable.ArrayBuffer[(UTF8String, Double)]]()
      ss.foreach { case (d, s) => byDoc.getOrElseUpdate(d, mutable.ArrayBuffer()) += s }
      byDoc.keys.toArray.sorted.iterator.flatMap { d =>
        byDoc(d).sortWith { case ((ta, a), (tb, b)) => a > b || a == b && ta.compareTo(tb) < 0 }
          .take(3).zipWithIndex.map { case ((t, s), r) =>
            new GenericInternalRow(Array[Any](typed(d), r + 1, t, s)): InternalRow
          }
      }
    }
    GraftColumnBridge.dataFrame(spark, rows, StructType(Seq(
      StructField("doc_id", idType),
      StructField("rk", IntegerType, nullable = false),
      StructField("term", StringType, nullable = false),
      StructField("tfidf", DoubleType))))
  }

  /** One doc block's [[docTerms]] rows (doc_id as bigint) → exactly one
    * [[TermBatch]] per term block. */
  private def termBatches(rows: Iterator[InternalRow], owner: Partitioner): Iterator[(Int, TermBatch)] = {
    val df = Array.fill(owner.numPartitions)(new java.util.HashMap[UTF8String, Array[Long]]())
    val band = Array.fill(owner.numPartitions)(
      (new mutable.ArrayBuilder.ofLong, mutable.ArrayBuffer[UTF8String](), new mutable.ArrayBuilder.ofLong))
    var docs = 0L
    var last = 0L
    rows.foreach { r =>
      // the scan reuses its row and term buffer: copy what is kept
      val t = r.getUTF8String(1)
      val b = owner.getPartition(t)
      val partial = df(b).get(t)
      if (partial == null) df(b).put(t.clone(), Array(1L)) else partial(0) += 1
      if (!r.isNullAt(0)) {
        val id = r.getLong(0)
        // a doc's rows are contiguous in its block
        if (docs == 0 || id != last) { docs += 1; last = id }
        if (id < 100) {
          val (ids, ts, tfs) = band(b)
          ids += id
          ts += t.clone()
          tfs += r.getLong(2)
        }
      }
    }
    Iterator.tabulate(owner.numPartitions) { b =>
      val (ts, partials) = df(b).asScala.toArray.unzip
      val (ids, bts, tfs) = band(b)
      (b, TermBatch(docs, ts, partials.map(_(0)), ids.result(), bts.toArray, tfs.result()))
    }
  }

  /** One term block's batches → (doc_id, (term, tfidf)) for the band
    * rows of its terms. */
  private def scoreBand(batches: Iterator[(Int, TermBatch)]): Iterator[(Long, (UTF8String, Double))] = {
    val df = new java.util.HashMap[UTF8String, Array[Long]]()
    var n = 0L
    val band = mutable.ArrayBuffer[TermBatch]()
    batches.foreach { case (_, b) =>
      n += b.docs
      b.terms.indices.foreach(i => df.computeIfAbsent(b.terms(i), _ => Array(0L))(0) += b.df(i))
      if (b.bandIds.nonEmpty) band += b
    }
    band.iterator.flatMap(b => b.bandIds.indices.iterator.map { i =>
      (b.bandIds(i), (b.bandTerms(i), tfidf(b.bandTf(i), n, df.get(b.bandTerms(i))(0))))
    })
  }

  /** `round(tf * log(n / df), 6)` as Spark evaluates it on doubles:
    * `StrictMath.log`, then HALF_UP rounding of the double's decimal
    * (`Double.toString`) form. */
  private[graft] def tfidf(tf: Long, n: Long, df: Long): Double = {
    val x = tf * StrictMath.log(n.toDouble / df)
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  private val textTfidfOracle =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |              FROM documents),
      |tf AS (SELECT doc_id, term, count(*) tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, count(*) df FROM (SELECT DISTINCT doc_id, term FROM toks)
      |       GROUP BY term),
      |n AS (SELECT count(DISTINCT doc_id) n FROM toks),
      |scored AS (
      |  SELECT tf.doc_id, tf.term,
      |         ROUND(tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
      |  FROM tf JOIN df USING (term) CROSS JOIN n
      |  WHERE tf.doc_id < 100)
      |SELECT doc_id, rk, term, tfidf FROM (
      |  SELECT doc_id, term, tfidf,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
      |  FROM scored)
      |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  // ---------------------------------------------------------------- text_langid
  /** Lexicon-vote language ID: score each doc against small per-language
    * marker lexicons (the n-gram-heuristic shape: count marker hits,
    * argmax wins, ties → lexicon order). The fixture vocabulary is
    * synthetic, so the lexicons are synthetic too — the *operator* (per
    * class: array_intersect-style scoring + argmax) is the real thing.
    */
  def textLangid(spark: SparkSession, dir: String): DataFrame = {
    val lex = Map(
      "lx_join" -> Seq("join", "merge", "key"),
      "lx_scan" -> Seq("scan", "table", "row"),
      "lx_flow" -> Seq("stream", "window", "event"))
    val toks = Tables.documents(spark, dir)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    // One grouped aggregate computes every lexicon's score, then stack
    // pivots to the (doc_id, lx, score) long form the argmax needs.
    // The union-of-groupBys phrasing (one branch per lexicon, the
    // oracle's shape) reads the corpus and shuffles the tokens once
    // PER LEXICON — ScanAudit (r9) flagged documents scanned 3x in
    // one execution; this form is one scan + one shuffle at any
    // corpus size and any lexicon count, and emits identical rows.
    val lexSorted = lex.toSeq.sortBy(_._1)
    val scoreCols = lexSorted.map { case (name, words) =>
      sum(when(col("tok").isin(words: _*), 1L).otherwise(0L)).as(name)
    }
    val stackArgs = lexSorted.map { case (name, _) => s"'$name', $name" }
      .mkString(", ")
    val scored = toks.groupBy("doc_id")
      .agg(scoreCols.head, scoreCols.tail: _*)
      .select(col("doc_id"),
        expr(s"stack(${lexSorted.size}, $stackArgs) as (lx, score)"))
    scored
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("lx"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lx").as("pred_lex"), col("score"))
      .orderBy(col("doc_id"))
  }

  private val textLangidOracle =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |              FROM documents WHERE doc_id < 200),
      |scored AS (
      |  SELECT doc_id, 'lx_join' AS lx,
      |         sum(CASE WHEN tok IN ('join','merge','key') THEN 1 ELSE 0 END) AS score
      |  FROM toks GROUP BY doc_id
      |  UNION ALL
      |  SELECT doc_id, 'lx_scan',
      |         sum(CASE WHEN tok IN ('scan','table','row') THEN 1 ELSE 0 END)
      |  FROM toks GROUP BY doc_id
      |  UNION ALL
      |  SELECT doc_id, 'lx_flow',
      |         sum(CASE WHEN tok IN ('stream','window','event') THEN 1 ELSE 0 END)
      |  FROM toks GROUP BY doc_id)
      |SELECT doc_id, lx AS pred_lex, CAST(score AS BIGINT) AS score FROM (
      |  SELECT doc_id, lx, score,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lx) AS rk
      |  FROM scored)
      |WHERE rk = 1 ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- text_quality
  /** Document quality scoring: length band, stopword ratio, type/token
    * ratio, mean token length → composite score, all emitted as e6-scaled
    * BIGINTs. Integer-scale rounding is the cross-engine-safe form: a
    * .5 rounding boundary at integer scale is exactly representable
    * (k + 0.5 is dyadic), and both engines round it away from zero —
    * whereas fractional-scale boundaries sit between doubles and the
    * engines disagree (found at sf0.1 row 719). One narrow projection,
    * no shuffle at all. */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "and", "of", "data", "value", "row")
    Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")))
      .withColumn("n_stop",
        expr(s"size(filter(toks, t -> t in (${stop.map("'" + _ + "'").mkString(",")})))"))
      .withColumn("n_uniq", size(array_distinct(col("toks"))))
      .withColumn("stop_ratio_e6",
        round(col("n_stop") * lit(1000000L).cast("double") / col("n_tok")).cast("long"))
      .withColumn("uniq_ratio_e6",
        round(col("n_uniq") * lit(1000000L).cast("double") / col("n_tok")).cast("long"))
      .withColumn("mean_tok_len_e6",
        round((col("n_chars") - col("n_tok") + 1) * lit(1000000L).cast("double")
          / col("n_tok")).cast("long"))
      .withColumn("quality_e6",
        (when(col("n_tok").between(20, 80), 400000L).otherwise(100000L)
          + round((col("n_tok") - col("n_stop")) * lit(300000L).cast("double")
            / col("n_tok")).cast("long")
          + round(col("n_uniq") * lit(300000L).cast("double") / col("n_tok"))
            .cast("long")))
      .select(col("doc_id"), col("n_tok"), col("stop_ratio_e6"),
        col("uniq_ratio_e6"), col("mean_tok_len_e6"), col("quality_e6"))
      .orderBy(col("doc_id"))
  }

  private val textQualityOracle =
    """WITH t AS (
      |  SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents),
      |m AS (
      |  SELECT doc_id, n_chars, length(toks) AS n_tok,
      |         length(list_filter(toks,
      |           x -> x IN ('the','and','of','data','value','row'))) AS n_stop,
      |         length(list_distinct(toks)) AS n_uniq
      |  FROM t)
      |SELECT doc_id, n_tok,
      |  CAST(ROUND(n_stop * CAST(1000000 AS DOUBLE) / n_tok) AS BIGINT)
      |    AS stop_ratio_e6,
      |  CAST(ROUND(n_uniq * CAST(1000000 AS DOUBLE) / n_tok) AS BIGINT)
      |    AS uniq_ratio_e6,
      |  CAST(ROUND((n_chars - n_tok + 1) * CAST(1000000 AS DOUBLE) / n_tok) AS BIGINT)
      |    AS mean_tok_len_e6,
      |  CAST(CASE WHEN n_tok BETWEEN 20 AND 80 THEN 400000 ELSE 100000 END
      |    + CAST(ROUND((n_tok - n_stop) * CAST(300000 AS DOUBLE) / n_tok) AS BIGINT)
      |    + CAST(ROUND(n_uniq * CAST(300000 AS DOUBLE) / n_tok) AS BIGINT) AS BIGINT)
      |    AS quality_e6
      |FROM m ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- text_tokens
  /** Token counting two ways: whitespace split vs a BPE-ish regex
    * (alpha runs / digit runs / single non-space symbols) — the "how
    * many training tokens is this corpus" estimator. */
  def textTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")
          .as("re_tokens"),
        length(col("text")).as("n_chars_m"))
      .withColumn("chars_per_tok",
        round(col("n_chars_m").cast("double") / col("re_tokens"), 6))
      .orderBy(col("doc_id"))

  private val textTokensOracle =
    """SELECT doc_id,
      |  length(string_split(text, ' ')) AS ws_tokens,
      |  length(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens,
      |  length(text) AS n_chars_m,
      |  ROUND(CAST(length(text) AS DOUBLE)
      |        / length(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')), 6)
      |    AS chars_per_tok
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ text_fingerprint
  /** Rolling polynomial fingerprint (Karp–Rabin shape) over the token
    * stream: fold acc = (acc * 31 + ascii(first char) * 64 + len) mod p.
    * Order-sensitive by design (catches re-orderings exact-hash dedup
    * misses); pure integer math → bit-identical everywhere. */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("aggregate(transform(split(text, ' '), " +
          "t -> cast(ascii(substring(t, 1, 1)) * 64 + length(t) as bigint)), 0L, " +
          "(acc, x) -> pmod(acc * 31 + x, 1000000007L))").as("fingerprint"))
      .orderBy(col("doc_id"))

  private val textFingerprintOracle =
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(0::BIGINT,
      |      list_transform(string_split(text, ' '),
      |        t -> CAST(ascii(substr(t, 1, 1)) * 64 + length(t) AS BIGINT))),
      |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------- text_pii_scrub
  /** PII scrubbing — the redaction stage every compliant training
    * pipeline runs. Because the fixture corpus is synthetic lorem, the
    * query first plants deterministic PII (an email on every 5th doc, a
    * long digit run on every 7th), then scrubs with dialect-portable
    * regexes and reports per-doc redaction counts plus the cleaned
    * length. Shuffle-free projection: at 100 TB this is pure map work
    * riding the ingest scan.
    */
  def textPiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-z0-9.]+@[a-z0-9]+\\.[a-z]+"
    val digitRe = "[0-9]{6,}"
    Tables.documents(spark, dir)
      .select(col("doc_id"), concat(
        col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" id "), lpad(col("doc_id").cast("string"), 9, "0")))
          .otherwise(lit(""))).as("dirty"))
      .select(
        col("doc_id"),
        size(expr(s"regexp_extract_all(dirty, '$emailRe', 0)")).cast("long")
          .as("n_emails"),
        size(expr(s"regexp_extract_all(dirty, '$digitRe', 0)")).cast("long")
          .as("n_digit_runs"),
        length(regexp_replace(regexp_replace(col("dirty"), emailRe, "[EMAIL]"),
          digitRe, "[NUM]")).cast("long").as("clean_len"))
      .orderBy(col("doc_id"))
  }

  private val textPiiScrubOracle =
    """WITH d AS (
      |  SELECT doc_id, concat(text,
      |    CASE WHEN doc_id % 5 = 0
      |         THEN concat(' contact user', CAST(doc_id AS VARCHAR), '@example.com')
      |         ELSE '' END,
      |    CASE WHEN doc_id % 7 = 0
      |         THEN concat(' id ', lpad(CAST(doc_id AS VARCHAR), 9, '0'))
      |         ELSE '' END) AS dirty
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(dirty, '[a-z0-9.]+@[a-z0-9]+\.[a-z]+'))
      |       AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(dirty, '[0-9]{6,}')) AS BIGINT)
      |    AS n_digit_runs,
      |  CAST(length(regexp_replace(regexp_replace(dirty,
      |    '[a-z0-9.]+@[a-z0-9]+\.[a-z]+', '[EMAIL]', 'g'),
      |    '[0-9]{6,}', '[NUM]', 'g')) AS BIGINT) AS clean_len
      |FROM d ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------- dedup_lines
  /** Line-level dedup audit (the C4-style pipeline stage: boilerplate
    * sentences repeat across pages; drop or down-weight them). Sentences
    * are exploded per doc, counted across docs, and each doc gets its
    * duplicated-sentence fraction in e6 integer units (integer division
    * keeps it engine-exact). The cross-doc count rides a window over
    * the ONE line-keyed shuffle rather than a separate aggregate joined
    * back: ScanAudit (r9) showed the aggregate-join phrasing scanning
    * and exploding the corpus twice (the raw and aggregated subtrees
    * can never exchange-reuse), while this form reads the corpus once
    * at any scale. count(*) over the line partition IS count(distinct
    * doc): array_distinct makes (doc, line) unique per doc, and doc_id
    * is the table's non-null key. At 100 TB the line-keyed exchange is
    * the big one — in production the line key would be md5-bucketed
    * exactly like the shingle paths.
    */
  def dedupLines(spark: SparkSession, dir: String): DataFrame = {
    val lines = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(expr("array_distinct(split(text, '\\\\. '))")).as("line"))
      .filter(length(col("line")) >= 20)
    lines
      .withColumn("ndocs", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("line")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_dup_lines"))
      .select(col("doc_id"), col("n_lines"), col("n_dup_lines"),
        expr("(n_dup_lines * 1000000L) div n_lines").as("dup_frac_e6"))
      .orderBy(col("doc_id"))
  }

  private val dedupLinesOracle =
    """WITH l AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, '. ')) AS line
      |  FROM documents),
      |lf AS (SELECT doc_id, line FROM l WHERE length(line) >= 20),
      |c AS (SELECT line, COUNT(DISTINCT doc_id) AS ndocs FROM lf GROUP BY 1)
      |SELECT doc_id, COUNT(*) AS n_lines,
      |  CAST(SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_lines,
      |  CAST(SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) * 1000000
      |       // COUNT(*) AS BIGINT) AS dup_frac_e6
      |FROM lf JOIN c USING (line)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------- dedup_decontam
  /** Eval-set decontamination — the pipeline stage that keeps benchmark
    * answers out of training data: flag every training document sharing
    * a word 5-gram with any held-out eval document (here: source =
    * 'src0' plays the eval set). The join is keyed on the shingle, and
    * the eval side is the small one — at 100 TB the eval shingle set
    * broadcast-fits (benchmarks are MBs, corpora are TBs), so this is a
    * map-side join over the training scan, never a shuffle of the
    * corpus. Output: flagged train docs with overlap counts.
    */
  def dedupDecontam(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def grams5(df: DataFrame): DataFrame =
      df.repartition(df.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"),
          expr("explode(array_distinct(transform(" +
            "sequence(1, greatest(size(w) - 4, 1)), " +
            "i -> concat_ws(' ', slice(w, i, 5)))))").as("g"))
    val evalG = grams5(docs.filter(col("source") === "src0"))
      .select(col("doc_id").as("eval_id"), col("g"))
    val trainG = grams5(docs.filter(col("source") =!= "src0"))
    trainG.join(broadcast(evalG), "g")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_shared_grams"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .orderBy(col("doc_id"))
  }

  private val dedupDecontamOracle =
    """WITH g AS (
      |  SELECT DISTINCT doc_id, source, unnest(list_transform(
      |      generate_series(1, greatest(length(string_split(text, ' ')) - 4, 1)),
      |      i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS g
      |  FROM documents),
      |ev AS (SELECT doc_id AS eval_id, g FROM g WHERE source = 'src0'),
      |tr AS (SELECT doc_id, g FROM g WHERE source <> 'src0')
      |SELECT tr.doc_id,
      |  COUNT(DISTINCT tr.g) AS n_shared_grams,
      |  COUNT(DISTINCT ev.eval_id) AS n_eval_docs
      |FROM tr JOIN ev USING (g)
      |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin

  // --------------------------------------------------------------- sim_centroid
  /** Per-label embedding centroids + dispersion — the cluster-quality
    * diagnostic run after any labeling/clustering pass (tight, separated
    * clusters → learnable labels). Dims are quantized to e6 integers
    * up front, the centroid is an integer-division mean per (label,
    * dim), and each vector's squared distance to its centroid stays in
    * exact integer units — deterministic across engines and partitions.
    * posexplode → (label, dim) agg → rejoin is one shuffle each way on
    * keys of cardinality labels × 64.
    */
  def simCentroid(spark: SparkSession, dir: String): DataFrame = {
    val dims = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(expr(
          "transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint))"))
          .as(Seq("dim", "x_e6")))
    val cent = dims.groupBy(col("label"), col("dim"))
      .agg(expr("sum(x_e6) div count(1)").as("c_e6"))
    val dist = dims.join(cent, Seq("label", "dim"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum((col("x_e6") - col("c_e6")) * (col("x_e6") - col("c_e6")))
        .as("sq_dist_e12"))
    dist.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("sum(sq_dist_e12) div count(1)").as("avg_sq_dist_e12"),
        max(col("sq_dist_e12")).as("max_sq_dist_e12"))
      .orderBy(col("label"))
  }

  private val simCentroidOracle =
    """WITH dims AS (
      |  SELECT vec_id, label, j AS dim,
      |    CAST(ROUND(CAST(embedding[CAST(j + 1 AS INTEGER)] AS DOUBLE) * 1000000)
      |         AS BIGINT) AS x_e6
      |  FROM embeddings,
      |       unnest(generate_series(0, len(embedding) - 1)) AS t(j)),
      |cent AS (
      |  SELECT label, dim, CAST(SUM(x_e6) // COUNT(*) AS BIGINT) AS c_e6
      |  FROM dims GROUP BY 1, 2),
      |dist AS (
      |  SELECT vec_id, label,
      |    CAST(SUM((x_e6 - c_e6) * (x_e6 - c_e6)) AS BIGINT) AS sq_dist_e12
      |  FROM dims JOIN cent USING (label, dim)
      |  GROUP BY 1, 2)
      |SELECT label, COUNT(*) AS n_vecs,
      |  CAST(SUM(sq_dist_e12) // COUNT(*) AS BIGINT) AS avg_sq_dist_e12,
      |  MAX(sq_dist_e12) AS max_sq_dist_e12
      |FROM dist GROUP BY label ORDER BY label""".stripMargin

  // --------------------------------------------------------------- sim_quantize
  /** Int8 scalar quantization of embeddings — the memory-compression
    * step of a large-scale vector index (4× smaller than float32, the
    * difference between an in-RAM and a spilled ANN index at 100 TB).
    * Each dim maps to round(x·127); the declared output audits the
    * round trip per vector: the quantized first dim, the count of
    * clipped dims (|x| > 1), and the total squared reconstruction error
    * in exact integer units (d = round(127e6·x) − 1e6·round(127·x),
    * Σd² — order-independent, so both engines agree bit-for-bit).
    * Pure projection: no shuffle except the final total order.
    */
  def simQuantize(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(
        col("vec_id"),
        expr("cast(round(cast(element_at(embedding, 1) as double) * 127) as bigint)")
          .as("q0"),
        expr("aggregate(transform(embedding, x -> " +
          "cast(case when abs(cast(x as double)) > 1.0 then 1 else 0 end as bigint)), " +
          "0L, (a, c) -> a + c)").as("n_clipped"),
        expr("aggregate(transform(embedding, x -> " +
          "cast(round(cast(x as double) * 127000000) as bigint) - " +
          "cast(round(cast(x as double) * 127) as bigint) * 1000000), " +
          "0L, (a, d) -> a + d * d)").as("err_e12"))
      .orderBy(col("vec_id"))

  private val simQuantizeOracle =
    """SELECT vec_id,
      |  CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 127) AS BIGINT) AS q0,
      |  list_reduce(list_prepend(0::BIGINT,
      |    list_transform(embedding, x ->
      |      CASE WHEN abs(CAST(x AS DOUBLE)) > 1.0
      |           THEN 1::BIGINT ELSE 0::BIGINT END)),
      |    (a, c) -> a + c) AS n_clipped,
      |  list_reduce(list_prepend(0::BIGINT,
      |    list_transform(embedding, x ->
      |      CAST(ROUND(CAST(x AS DOUBLE) * 127000000) AS BIGINT) -
      |      CAST(ROUND(CAST(x AS DOUBLE) * 127) AS BIGINT) * 1000000)),
      |    (a, d) -> a + d * d) AS err_e12
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // -------------------------------------------------------------------- sim_pq
  /** Product quantization — the codebook compression path of
    * billion-scale ANN (FAISS-style IVFPQ's PQ half; sim_quantize is
    * the scalar-int8 half). 64 dims → 8 subspaces × 8 dims, 16 codes
    * per subspace: a vector stores 8 nibbles instead of 64 floats
    * (64× smaller), and query scoring is table lookups (ADC) instead
    * of float dot products. Codebooks here are deterministic SAMPLED
    * entries — per subspace, the 16 vectors with the smallest seeded
    * md5 (per-group top-16 = WindowGroupLimit, O(k) state per
    * subspace) — the PQ baseline; k-means training only tightens
    * distortion, the encode/score plumbing is identical. Everything
    * runs in e6 integer units (components rounded once), so code
    * assignment, the ADC table, and the final distances are
    * bit-identical across engines, partitionings, and aggregation
    * orders — the whole PQ path is oracle-checked, not just an audit
    * flag. Scale: encoding is a broadcast join of the 128-row codebook
    * against the corpus (map-side, one shuffle for the per-(vec, sub)
    * argmin); query ADC joins the 2,560-row LUT broadcast against the
    * n×8 code table and sums per (query, vec) — never a pairwise
    * float scan of the corpus.
    */
  def simPq(spark: SparkSession, dir: String): DataFrame =
    simPqOn(Tables.embeddings(spark, dir))

  /** sim_pq over an arbitrary (vec_id, embedding) relation — split out
    * so the bench prelude can warm the full PQ codegen chain (struct-
    * slice explode, group-limit window, two broadcast joins, the
    * zip_with/aggregate distance HOF, packed-long hash argmin, ADC top-k) on
    * toy vectors: the r8→r9 probe measured the registered query at
    * 5.23 s cold vs 1.66 s warm in one JVM — the driver delta was
    * first-run JIT, not the plan (PqPhaseProbe). */
  private[graft] def simPqOn(emb: DataFrame): DataFrame = {
    val nQ = 20
    val ve = emb
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint))")
          .as("ve6"))
    // (vec_id, subspace, 8-dim integer subvector) — n×8 rows
    val subs = ve.select(col("vec_id"), explode(expr(
        "transform(sequence(0, 7), s -> struct(s AS s, slice(ve6, s * 8 + 1, 8) AS sub))"))
        .as("x"))
      .select(col("vec_id"), col("x.s").as("s"), col("x.sub").as("sub"))
    // codebook: per subspace the 16 smallest-md5 vectors (seeded, engine-
    // portable). The filter must reference the RANK COLUMN ITSELF
    // (rn <= 16), not an expression of it: the r13 before-plan shows the
    // old `row_number() - 1 < 16` defeated Spark's WindowGroupLimit
    // pushdown (the rewrite pattern-matches rank-attribute predicates
    // only), so every n×8 subvector row was exchanged into 8 subspace
    // partitions and FULLY sorted there — an 8-task serial stage that
    // grows with the corpus. With the rank-shaped filter the plan gets a
    // PARTIAL WindowGroupLimit before the exchange: each map task keeps
    // 16 rows per subspace, the exchange moves O(16·maps·8) rows, and
    // the final sort is over hundreds of rows regardless of corpus
    // size. c = rn − 1 is projected AFTER the filter; same rows exactly.
    val cbW = org.apache.spark.sql.expressions.Window
      .partitionBy("s").orderBy(col("h"), col("vec_id"))
    val codebook = subs
      .withColumn("h", expr(h32("concat(cast(s as string), ':', cast(vec_id as string))", 7001)))
      .withColumn("rn", row_number().over(cbW))
      .filter(col("rn") <= 16)
      .select(col("s"), (col("rn") - 1).as("c"), col("sub").as("csub"))
    def sq(a: String, b: String): String =
      s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), 0L, (acc, d) -> acc + d)"
    // encode: per (vec, subspace) the nearest codebook entry.
    // min(d·16 + c) is the lexicographic minimum of (d, c) packed into
    // one long (c ∈ [0,16), and d ≤ 8·(2e6)² ≈ 3.2e13, so d·16 + 15
    // is far under Long range) — the same winner as the oracle's
    // ORDER BY d, c window with rk = 1. The r13 before-plan showed the
    // earlier min(struct(d, c)) falling off the hash path entirely:
    // a struct min-buffer forces SortAggregate, which SORTS the full
    // n×8×16 joined stream before the partial agg (guide §4: keep the
    // hot path on codegen'd primitives). The packed-long min is a
    // plain HashAggregate with map-side partial combine — the 16×
    // pair stream collapses to n×8 groups before the exchange.
    val codes = subs.join(broadcast(codebook), "s")
      .withColumn("d", expr(sq("sub", "csub")))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(col("d") * 16L + col("c")).as("m"))
      .select(col("vec_id"), col("s"), (col("m") % 16L).cast("int").as("c"))
    // ADC lookup table: query subvector × every codebook entry
    val lut = subs.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("s"), col("sub"))
      .join(broadcast(codebook), "s")
      .select(col("qid"), col("s"), col("c"), expr(sq("sub", "csub")).as("d"))
    // asymmetric distance = Σ_s lut[qid][s][code_s(vec)] — integer sum
    val adcW = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("adc"), col("cid"))
    codes.join(broadcast(lut), Seq("s", "c"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id").as("cid"))
      .agg(sum(col("d")).as("adc"))
      .withColumn("rk", row_number().over(adcW))
      .filter(col("rk") <= 5)
      .select(col("qid"), col("rk"), col("cid"), col("adc"))
      .orderBy(col("qid"), col("rk"))
  }

  private val simPqOracle =
    """WITH ve AS (
      |  SELECT vec_id, list_transform(embedding,
      |           x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS ve6
      |  FROM embeddings),
      |subs AS (
      |  SELECT vec_id, s, ve6[s * 8 + 1 : s * 8 + 8] AS sub
      |  FROM ve, unnest(generate_series(0, 7)) AS t(s)),
      |cb AS (
      |  SELECT s, c, csub FROM (
      |    SELECT s, sub AS csub,
      |      ROW_NUMBER() OVER (PARTITION BY s ORDER BY
      |        CAST(('0x' || substr(md5(concat('7001:', CAST(s AS VARCHAR), ':',
      |          CAST(vec_id AS VARCHAR))), 1, 8)) AS BIGINT), vec_id) - 1 AS c
      |    FROM subs)
      |  WHERE c < 16),
      |codes AS (
      |  SELECT vec_id, s, c FROM (
      |    SELECT subs.vec_id, subs.s, cb.c,
      |      ROW_NUMBER() OVER (PARTITION BY subs.vec_id, subs.s ORDER BY
      |        list_reduce(list_prepend(0::BIGINT, list_transform(generate_series(1, 8),
      |          j -> (sub[j] - csub[j]) * (sub[j] - csub[j]))), (a, x) -> a + x),
      |        cb.c) AS rk
      |    FROM subs JOIN cb ON subs.s = cb.s)
      |  WHERE rk = 1),
      |lut AS (
      |  SELECT subs.vec_id AS qid, subs.s, cb.c,
      |    list_reduce(list_prepend(0::BIGINT, list_transform(generate_series(1, 8),
      |      j -> (sub[j] - csub[j]) * (sub[j] - csub[j]))), (a, x) -> a + x) AS d
      |  FROM subs JOIN cb ON subs.s = cb.s
      |  WHERE subs.vec_id < 20),
      |adc AS (
      |  SELECT lut.qid, codes.vec_id AS cid, SUM(lut.d) AS adc
      |  FROM codes JOIN lut ON codes.s = lut.s AND codes.c = lut.c
      |  WHERE lut.qid != codes.vec_id
      |  GROUP BY 1, 2)
      |SELECT qid, rk, cid, CAST(adc AS BIGINT) AS adc FROM (
      |  SELECT qid, cid, adc,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, cid) AS rk
      |  FROM adc)
      |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin

  // --------------------------------------------------------- text_ngram_profile
  /** Character-bigram frequency profile per language — the statistical
    * object n-gram language ID is trained from (text_langid consumes a
    * fixed lexicon; this builds the profile). Explode is per character,
    * so the relation is O(corpus chars); one (lang, bigram) groupBy with
    * map-side combine carries it, then a per-lang top-5 window. At
    * 100 TB the profile fits in memory regardless of corpus size —
    * cardinality is langs × 26². */
  def textNgramProfile(spark: SparkSession, dir: String): DataFrame = {
    val bi = Tables.documents(spark, dir)
      .filter(length(col("text")) >= 2)
      // lowercase ONCE per document, not once per bigram — and split to a
      // char ARRAY once: substring(lt, i, 2) inside the per-index lambda
      // re-scans the string from the start for byte offsets, O(chars²)
      // per doc (the round-1 shingle lesson, char-level edition).
      // element_at on the array is O(1). Char-split alignment equals the
      // oracle's codepoint substring on this corpus (ASCII-only,
      // fixture-verified); non-[a-z] pairs are filtered either way.
      // Round 7: the [a-z]{2} gate moved INSIDE the array, as two range
      // comparisons on the single chars (for a one-char string, 'a' <=
      // c <= 'z' is exactly the regex class: multi-byte UTF-8 leads
      // with bytes > 'z' and is excluded under binary collation either
      // way) — the per-bigram regex engine was the only non-codegen-
      // friendly piece of this pipeline, and filtering BEFORE explode
      // also shrinks the exploded relation to letter-pairs only.
      .select(col("lang"), split(lower(col("text")), "").as("cs"))
      .select(col("lang"), explode(expr(
        "filter(transform(sequence(1, size(cs) - 1), " +
          "i -> struct(element_at(cs, i) as a, element_at(cs, i + 1) as b)), " +
          "p -> p.a >= 'a' and p.a <= 'z' and p.b >= 'a' and p.b <= 'z')"))
        .as("p"))
      .select(col("lang"), concat(col("p.a"), col("p.b")).as("bigram"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("n").desc, col("bigram"))
    bi.groupBy(col("lang"), col("bigram")).agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .orderBy(col("lang"), col("rk"))
  }

  private val textNgramProfileOracle =
    """WITH lt AS (
      |  SELECT lang, lower(text) AS lt FROM documents WHERE length(text) >= 2),
      |bi AS (
      |  SELECT lang, substring(lt, CAST(i AS INTEGER), 2) AS bigram
      |  FROM lt, unnest(generate_series(1, length(lt) - 1)) AS t(i)),
      |f AS (
      |  SELECT lang, bigram, COUNT(*) AS n FROM bi
      |  WHERE regexp_matches(bigram, '^[a-z]{2}$') GROUP BY 1, 2),
      |r AS (
      |  SELECT lang, bigram, n,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rk
      |  FROM f)
      |SELECT lang, bigram, n, rk FROM r WHERE rk <= 5
      |ORDER BY lang, rk""".stripMargin

  // --------------------------------------------------------------- sample_split
  /** Deterministic train/valid/test split — the sampling primitive every
    * training-data pipeline needs. Bucket = portable 32-bit md5 hash of
    * the doc id mod 100, then 80/10/10 by bucket range. Hash-based (not
    * random) so the split is reproducible run-to-run, stable under
    * re-partitioning, and consistent across engines/backfills; a pure
    * shuffle-free projection followed by a 3-group aggregate, so at
    * 100 TB it is one map-side-combined pass. Declared output is the
    * per-split audit (counts + char volume); the projection itself is
    * the reusable operator.
    */
  def sampleSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        expr(s"pmod(${h32("cast(doc_id as string)", 7001)}, 100)").as("bucket"))
      .select(col("doc_id"), col("n_chars"),
        when(col("bucket") < 80, lit("train"))
          .when(col("bucket") < 90, lit("valid"))
          .otherwise(lit("test")).as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("split"))

  private val sampleSplitOracle =
    s"""WITH b AS (
       |  SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars,
       |    ${oH32("CAST(doc_id AS VARCHAR)", 7001)} % 100 AS bucket
       |  FROM documents)
       |SELECT CASE WHEN bucket < 80 THEN 'train'
       |            WHEN bucket < 90 THEN 'valid'
       |            ELSE 'test' END AS split,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
       |FROM b GROUP BY 1 ORDER BY split""".stripMargin

  // ------------------------------------------------------------ multimodal_join
  /** Multimodal row assembly: documents ⋈ embeddings (doc_id = vec_id)
    * with mixed text + vector measures per language — the feature-store
    * join every multimodal pipeline runs. Equi-join on aligned ids: at
    * scale both sides co-partition on the key (bucketed layout). */
  def multimodalJoin(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        expr("aggregate(transform(embedding, x -> cast(x as double) * cast(x as double)), " +
          "0D, (a, x) -> a + x)").as("sq"))
    d.join(e, d("doc_id") === e("vec_id"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n"),
        round(avg(sqrt(col("sq"))), 6).as("avg_l2"),
        round(avg(size(split(col("text"), " "))), 4).as("avg_tokens"),
        countDistinct(col("label")).as("n_labels"))
      .orderBy("lang")
  }

  private val multimodalJoinOracle =
    """SELECT lang, count(*) n,
      |  ROUND(avg(sqrt(list_reduce(list_prepend(0.0,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |    (a, x) -> a + x))), 6) AS avg_l2,
      |  ROUND(avg(length(string_split(text, ' '))), 4) AS avg_tokens,
      |  count(DISTINCT label) AS n_labels
      |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------- multimodal_binary
  /** Opaque-binary-column plumbing: the image/audio path. The "media"
    * bytes are synthesized deterministically (md5 of the text, unhex'd
    * to 16 bytes) because no codec libraries exist in this container —
    * the DECODE STEP IS A STUB; everything around it (binary column
    * schema, per-partition batch iteration, typed output schema) is the
    * real production shape. `mapPartitions` over a typed Dataset is the
    * Scala analog of `mapInPandas`: one decoder instance per partition,
    * streaming over rows, no per-row setup cost — exactly how a real
    * image decoder would be wired.
    */
  def multimodalBinary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val withBlob = Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(md5(col("text"))).as("media"))
      .as[(Long, Array[Byte])]
    // STUB decoder: a real implementation would decode image/audio
    // frames here; this deterministic fake extracts byte statistics with
    // the identical batch shape (Iterator[row] => Iterator[features]).
    withBlob.mapPartitions { rows =>
      rows.map { case (id, bytes) =>
        var checksum = 0L
        var mx = 0
        bytes.foreach { b =>
          val u = b & 0xff
          checksum += u
          if (u > mx) mx = u
        }
        (id, bytes.length, checksum, bytes(0) & 0xff, mx)
      }
    }.toDF("doc_id", "n_bytes", "checksum", "first_byte", "max_byte")
      .orderBy(col("doc_id"))
  }

  private val multimodalBinaryOracle =
    """WITH b AS (
      |  SELECT doc_id, md5(text) AS h FROM documents),
      |bytes AS (
      |  SELECT doc_id, h,
      |         list_transform(generate_series(0, 15),
      |           i -> CAST(('0x' || substr(h, i * 2 + 1, 2)) AS BIGINT)) AS bs
      |  FROM b)
      |SELECT doc_id,
      |  16 AS n_bytes,
      |  list_reduce(list_prepend(0::BIGINT, bs), (a, x) -> a + x) AS checksum,
      |  CAST(bs[1] AS INTEGER) AS first_byte,
      |  CAST(list_max(bs) AS INTEGER) AS max_byte
      |FROM bytes ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------- multimodal_frames
  /** Video/audio frame-sampling shape: each document stands in for a
    * media object whose frame count derives from its size (1 frame per
    * 50 chars); frames explode to rows, every 2nd frame is sampled
    * (stride sampling — the standard cost reducer before decode), the
    * per-frame DECODE IS A STUB (md5-derived pseudo-bytes — no codecs
    * in this container), and per-frame features aggregate back to one
    * row per object. The explode → per-frame map → aggregate pipeline
    * is exactly the production shape: frames parallelize across the
    * cluster regardless of how large one object is.
    */
  def multimodalFrames(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        greatest(lit(1L), (col("n_chars") / 50).cast("long")).as("n_frames"))
      .select(col("doc_id"), col("n_frames"),
        posexplode(expr("sequence(0, n_frames - 1)")).as(Seq("fi", "frame")))
      .filter(col("frame") % 2 === 0) // stride-2 frame sampling
      // decode stub: first 4 bytes of md5(doc:frame) as the "feature"
      .withColumn("feature",
        expr(s"${h32("concat(doc_id, ':', frame)", 31)} % 1000"))
      .groupBy("doc_id")
      .agg(max(col("n_frames")).as("n_frames"),
        count(lit(1)).as("n_sampled"),
        sum(col("feature")).as("feature_sum"),
        round(sum(col("feature")).cast("double") / count(lit(1)).cast("double"), 4)
          .as("feature_avg"))
      .orderBy(col("doc_id"))

  private val multimodalFramesOracle =
    s"""WITH f AS (
       |  SELECT doc_id, greatest(1, n_chars // 50) AS n_frames,
       |         unnest(generate_series(0, greatest(1, n_chars // 50) - 1)) AS frame
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, n_frames, frame,
       |         (${oH32("concat(doc_id, ':', frame)", 31)}) % 1000 AS feature
       |  FROM f WHERE frame % 2 = 0)
       |SELECT doc_id, CAST(max(n_frames) AS BIGINT) AS n_frames, count(*) AS n_sampled,
       |       CAST(sum(feature) AS BIGINT) AS feature_sum,
       |       ROUND(CAST(sum(feature) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
       |         AS feature_avg
       |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- sim_ann_ivf
  /** IVF (inverted-file) ANN, driver-verified end to end: queries
    * (vec_id < 30) probe their nprobe=3 nearest coarse cells (of 8) and
    * take the in-probe top-5 by exact cosine (ml/MlBridges.ivfCandidates
    * — round 7 replaced the MLlib KMeans quantizer with a deterministic
    * sampled-anchor + one-integer-Lloyd-step codebook; the fit was
    * costing more than the candidate join itself). The declared output
    * is the EXACT top-5 (brute-force, fully oracle-able) plus a
    * `recall_ok` boolean asserting the IVF answer recovered >= 50% of
    * the exact neighbors across the query band (measured round 7:
    * 0.63 / 0.67 / 0.59 at sf0.001/0.01/0.1 — now BITWISE deterministic
    * under any partitioning, not just seed-fixed, so the thinnest
    * margin, 13 hits at sf0.1, is a constant of the fixture) — the
    * agg_approx_distinct pattern (exact twin + accuracy bound the
    * oracle asserts as constant TRUE). At 100 TB the corpus partitions
    * BY CELL, so a query touches nprobe partition groups instead of the
    * whole corpus; the brute-force side here doubles as the audit and
    * stays broadcast-query-side × partitioned-corpus.
    */
  /** The ONE (nCells, query-band) point the shared IVF relation is
    * memoized at. sim_ann_ivf, sim_ann_ivf_sweep, and sim_knn_graph's
    * exact twin must call [[graft.ml.MlBridges.ivfCandidatesShared]]
    * with exactly these values or the "one build per family sweep"
    * contract silently becomes N builds + N persisted 30×n relations —
    * hoisted here so a tune can't drift one consumer off the key. */
  private[graft] val AnnNCells = 8
  private[graft] val AnnQueryBand = 30

  /** The family-shared full-probe relation at the family's ONE memo
    * key — the only way qids should reach ivfCandidatesShared. */
  private def annFullProbe(spark: SparkSession, dir: String): DataFrame =
    graft.ml.MlBridges
      .ivfCandidatesShared(spark, dir, AnnNCells, Some(AnnQueryBand))

  def simAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val nQ = AnnQueryBand
    val k = 5
    // ONE shared quantization + candidate join for the whole ANN family
    // (sim_ann_ivf_sweep reuses it): the unfiltered relation is the
    // exhaustive scored set (nprobe = nCells), so the exact brute-force
    // twin is a rank over it and the IVF answer is the pr ≤ 3 filter.
    val full = annFullProbe(spark, dir)
    val exact = full
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("cid"))))
      .filter(col("rk") <= k)
    val ivf = full.filter(col("pr") <= 3)
      .withColumn("ark", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("cid"))))
      .filter(col("ark") <= k)
      .select(col("qid"), col("cid"))
    val recall = exact.join(ivf, Seq("qid", "cid"), "leftsemi")
      .agg(count(lit(1)).as("nhits"))
      .select((col("nhits") >= lit((nQ * k * 5L) / 10L)).as("recall_ok"))
    exact.select(col("qid"), col("rk"), col("cid"), col("cos"))
      .crossJoin(broadcast(recall))
      .orderBy(col("qid"), col("rk"))
  }

  private val simAnnIvfOracle =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |           FROM embeddings),
      |n AS (SELECT vec_id, v,
      |        sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
      |                         (a, x) -> a + x)) AS n
      |      FROM v),
      |scored AS (
      |  SELECT q.vec_id qid, c.vec_id cid,
      |         ROUND(list_reduce(list_prepend(0.0,
      |                 list_transform(generate_series(1, 64), i -> q.v[i] * c.v[i])),
      |               (a, x) -> a + x) / (q.n * c.n), 6) AS cos
      |  FROM n q JOIN n c ON q.vec_id < 30 AND c.vec_id != q.vec_id)
      |SELECT qid, rk, cid, cos, TRUE AS recall_ok FROM (
      |  SELECT qid, cid, cos,
      |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
      |  FROM scored)
      |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin

  // ---------------------------------------------------------- sim_ann_ivf_sweep
  /** The IVF recall knob as DATA: one quantization serves nprobe ∈
    * {1,2,4,8} (candidates tagged with their cell's probe rank, filtered
    * per sweep point), and the output asserts the two structural IVF
    * guarantees the engine makes: recall is monotone in nprobe (the
    * candidate sets are nested, and an exact-top-k member inside a
    * candidate set always survives to its top-k under the shared total
    * order), and nprobe = nCells is exhaustive search (recall exactly
    * 1.0, bitwise — candidate scoring reuses the brute-force expression
    * shape). Recall VALUES are quantizer-dependent, so the declared
    * columns are the booleans, constant-TRUE-oracled like
    * agg_approx_distinct.
    */
  def simAnnIvfSweep(spark: SparkSession, dir: String): DataFrame = {
    val nQ = AnnQueryBand
    val k = 5
    val nCells = AnnNCells
    // the family-shared full candidate relation (built by sim_ann_ivf
    // in a bench sweep): exhaustive scored set + probe ranks in one
    val full = annFullProbe(spark, dir)
    val exactSet = full
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("cid"))))
      .filter(col("rk") <= k)
      .select(col("qid"), col("cid"))
    val topk = full
      .select(col("qid"), col("pr"), col("cid"), col("cos"),
        explode(expr("array(1, 2, 4, 8)")).as("nprobe"))
      .filter(col("pr") <= col("nprobe"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("nprobe", "qid")
          .orderBy(col("cos").desc, col("cid"))))
      .filter(col("rk") <= k)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("nprobe"))
    topk.join(exactSet, Seq("qid", "cid"), "leftsemi")
      .groupBy(col("nprobe")).agg(count(lit(1)).as("nhits"))
      .withColumn("recall_ge_prev", col("nhits") >= lag(col("nhits"), 1, 0L).over(w))
      .withColumn("exact_at_full",
        col("nprobe") =!= nCells || col("nhits") === lit(nQ * k.toLong))
      .select(col("nprobe").cast("long").as("nprobe"),
        col("recall_ge_prev"), col("exact_at_full"))
      .orderBy(col("nprobe"))
  }

  private val simAnnIvfSweepOracle =
    """SELECT CAST(nprobe AS BIGINT) AS nprobe, recall_ge_prev, exact_at_full
      |FROM (VALUES (1, TRUE, TRUE), (2, TRUE, TRUE), (4, TRUE, TRUE),
      |             (8, TRUE, TRUE)) AS t(nprobe, recall_ge_prev, exact_at_full)
      |ORDER BY nprobe""".stripMargin

  // ---------------------------------------------------------------- sim_knn_graph
  /** k-NN graph construction by NN-Descent (Dong et al., WWW 2011 —
    * public algorithm): the graph-index ANN family (HNSW layer-0 is a
    * refined k-NN graph; NN-Descent is its standard DISTRIBUTED
    * construction — sequential-insertion HNSW does not map to a bulk
    * engine, neighbor-of-neighbor refinement does). Start from a
    * geometry-free deterministic expander init (cosine top-k within
    * SIX independent md5 bucketings — one bucketing's components are
    * closed under neighbor-of-neighbor and descent could never leave
    * them; the union mixes), then iterate 4 rounds: candidates =
    * neighbors-of-neighbors over the symmetrized graph, keep the best
    * k=12 per node by exact cosine. Each round is two self-joins + a
    * windowed top-k — all keyed, never all-pairs; per-round candidate
    * volume is O(n·k²), independent of corpus pair count. Like the
    * other iterative loops, every round localCheckpoints and frees the
    * previous round's blocks.
    *
    * Output contract (the sim_ann_ivf pattern): declared rows are the
    * EXACT cosine top-5 of the query band (vec_id < 30, fully
    * DuckDB-oracle-able) plus `recall_ok` — the NN-Descent graph's
    * out-edges recovered ≥ 60% of those exact neighbors. Deterministic
    * (seeded hashes, total-order tie-breaks), measured 0.91 / 0.95 /
    * 0.75 at sf0.001/0.01/0.1 (B=6 init, r14). The fixture embeddings are uniform
    * random — NO metric clustering — which is NN-Descent's worst case
    * (neighbor-of-neighbor carries no signal beyond sampling); on real
    * clustered embeddings the same loop converges far faster, so the
    * 0.6 floor is conservative. At 100 TB the same loop partitions by
    * node id; candidate generation co-partitions with the graph because
    * both joins key on a node column.
    */
  /** The NN-Descent loop itself: returns the directed k-NN graph
    * (src, dst, cos). Shared by the qid and its diagnostics. */
  private[graft] def knnGraphEdges(spark: SparkSession, dir: String,
      k: Int, rounds: Int, bucketings: Int = 6, bucketSize: Int = 12,
      capRows: Option[Int] = None): DataFrame = {
    // capRows is the bench-prelude warm hook ONLY: a tiny corpus slice
    // drives the production loop end to end so its codegen shapes
    // (score joins, top-k window, probe agg, LogicalRDD rounds) JIT
    // once in the quiet warmup window instead of on the measured qid.
    // No qid passes it.
    val ev0 = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
    val ev = capRows.fold(ev0)(ev0.limit(_))
      .withColumn("n", VectorExprs.l2(col("v")))
      .persist()
    def score(cand: DataFrame): DataFrame = cand
      .join(ev.select(col("vec_id").as("src"), col("v").as("pv"), col("n").as("pn")), "src")
      .join(ev.select(col("vec_id").as("dst"), col("v").as("qv"), col("n").as("qn")), "dst")
      .select(col("src"), col("dst"),
        (VectorExprs.dot(col("pv"), col("qv")) / (col("pn") * col("qn"))).as("cos"))
    // Score each UNDIRECTED pair once, emit both directions (round-8):
    // both candidate generators are direction-symmetric — the bucket
    // join produces (a,b) and (b,a), and the neighbor-of-neighbor join
    // over the symmetrized adjacency produces each pair via the same
    // middles in both orders with identical new/old flag profiles — so
    // filtering to src < dst before the embedding joins and mirroring
    // AFTER scoring with a narrow in-row explode feeds topKFlag the
    // bit-identical (src, dst, cos) set at HALF the join volume
    // (cos(a,b) = cos(b,a); a plan-level union of score(cand) with its
    // transpose would instead duplicate the join subtree and recompute
    // it — the explode is one pass). KnnDescentSpec locks equivalence.
    def scoreBoth(candCanonical: DataFrame): DataFrame = score(candCanonical)
      .select(explode(array(
          struct(col("src").as("s"), col("dst").as("d")),
          struct(col("dst").as("s"), col("src").as("d")))).as("p"), col("cos"))
      .select(col("p.s").as("src"), col("p.d").as("dst"), col("cos"))
    // Init must MIX: a single bucketing's components are closed under
    // neighbor-of-neighbor (each bucket's out-edges stay in-bucket, so
    // descent can never leave its seed component — measured: recall
    // collapsed to ~1%). The union of SIX independent md5 bucketings
    // is an expander — the deterministic analog of the paper's random
    // init — and two hops already cross bucketings. The bucket COUNT
    // scales with n so bucket size stays ~12 constant: a fixed fan-out
    // makes init volume O(n), where a fixed bucket count would make it
    // O(n²/B) — the same quadratic class the simhash 8-bit bands had.
    // Size 12 beat 16 on BOTH axes in the round-7 ladder (KnnProbe,
    // rounds=4): recall 0.91/0.93/0.73 vs 0.90/0.93/0.71 at 27% less
    // init volume — more, smaller buckets mix the expander better per
    // scored pair. 8 and 10 were probed too (0.67/0.68 at sf0.1) —
    // the knee is at 12.
    // Bucketing COUNT re-laddered in r14 (VERDICT r13 ask #4, KnnProbe
    // at rounds=4 over sf0.001/0.01/0.1 + the x1/x10 rehearsal
    // corpora): B=6 recalls 0.91/0.95/0.75 (x10 0.94) — at or above
    // B=8's 0.91/0.93/0.73 (x10 0.98) everywhere native — while B=5
    // (0.66) and B=4 (0.62) thin out at sf0.1, and at rounds=3 NO
    // init (B up to 12, size to 16) clears 0.66; k=10 fails the gate
    // outright (0.57). So B=6 is the knee: 25% less init join+score
    // volume (the corpus-proportional stage) at equal-or-better
    // recall, and rounds stay at 4.
    // (The one count() is the same driver-scalar the iterative
    // trainers use for loop control — not per-row collection.) Round 7
    // folded the eight per-seed self-joins into ONE join on the
    // (seed, bucket) pair column — identical candidate set (the seed
    // lives in the key, so cross-seed rows never meet), 1 shuffle join
    // instead of 8.
    val nBuckets = math.max(1L, ev.count() / bucketSize)
    val withB = ev.select(col("vec_id"), explode(expr(
      s"transform(sequence(1, $bucketings), s -> named_struct(" +
        s"'s', s, 'b', pmod(cast(conv(substring(md5(concat(" +
        s"cast(100 + s as string), ':', vec_id)), 1, 8), 16, 10) as bigint), $nBuckets)))"))
      .as("sb"))
    val initCand = withB.select(col("vec_id").as("src"), col("sb"))
      .join(withB.select(col("vec_id").as("dst"), col("sb")), "sb")
      .filter(col("src") < col("dst")) // canonical: scoreBoth mirrors
      .select(col("src"), col("dst")) // dups (pair in 2+ bucketings) are
      // rescored identically and collapsed by topKFlag's groupBy
    // Incremental refinement (the paper's new/old rule): a neighbor pair
    // only needs scoring in the round after one of its endpoints ENTERED
    // a neighbor list — pairs of co-resident neighbors were generated in
    // the round the later one arrived (at init every edge is new), and
    // an edge that leaves and re-enters re-enters as new. Restricting
    // candidate generation to ≥1-new pairs drops the dominant old-old
    // share of the O(n·k²) per-round volume once lists stabilize,
    // without changing which pairs are ever examined.
    //
    // Round-7 round-body restatement (same graph per round, fewer
    // shuffles — KnnDescentSpec still locks exact equivalence to the
    // naive full-rejoin loop): the candidate `distinct`, the carried∪
    // scored `distinct`, and the old/new anti-join were three separate
    // wide ops over the round's largest relation. Now candidates flow
    // to scoring WITHOUT pre-dedup (a re-scored duplicate reproduces
    // the identical cos, and the broadcast-sized embedding join makes
    // re-scoring cheaper than a dedicated shuffle), and ONE
    // groupBy(src, dst) both dedups and computes the old flag
    // (max(cos) over identical values; an old edge contributes its
    // carried old=true row, so max(old) is "was already a neighbor").
    // Per round: 2 wide ops (groupBy + top-k window) instead of 4.
    // Scale note: a pair's duplicate multiplicity equals its endpoints'
    // shared-neighbor count (≤ 2k by construction, near 1 in practice —
    // two nodes sharing many neighbors are already each other's
    // neighbors and the new/old rule stops regenerating them). On a
    // corpus slice too big to broadcast the embedding join becomes a
    // shuffle join and pre-score dedup trades one extra shuffle for a
    // δ× smaller join volume — reinstate `cand.distinct()` there; the
    // groupBy stays either way (it carries the old flag).
    // ONE exchange per round, not two (round-8): hash-partitioning by
    // `src` alone satisfies BOTH downstream distribution requirements —
    // the (src, dst) groupBy (a subset of the grouping keys co-locates
    // every group) and the src-partitioned top-k window — so the
    // explicit repartition is the round's only shuffle of the candidate
    // stream; groupBy(src, dst) straight off the join output would
    // exchange on (src, dst) and the window would then re-exchange the
    // deduped stream on (src). Same rows, same semantics, one wide op.
    def topKFlag(merged: DataFrame): DataFrame = merged
      .repartition(col("src"))
      .groupBy(col("src"), col("dst"))
      .agg(max(col("cos")).as("cos"), max(col("old")).as("old"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")
          .orderBy(col("cos").desc, col("dst"))))
      .filter(col("rk") <= k)
      .select(col("src"), col("dst"), col("cos"), (!col("old")).as("isnew"))
    // Fused probe (the round-8 restatement shared with the other
    // iterative loops): each round's checkpoint is LAZY and the
    // convergence probe — `agg(max(isnew))` over it, O(n·k) scan, no
    // shuffle — doubles as the checkpoint's final-stage
    // materialization, so the eager checkpoint's dedicated count pass
    // and the separate `filter(isnew).isEmpty` scan are gone from
    // every round (under AQE the round's exchange stages still
    // materialize inside the checkpoint call; the fusion removes the
    // extra sequential scans, each charged full scheduling latency on
    // a contended host). The inputs a round reads are always the
    // previous round's already-materialized blocks, so the double
    // reference (adj's union reads `edges` twice) never recomputes.
    def probeNew(df: DataFrame): Boolean =
      df.agg(coalesce(max(col("isnew")), lit(false))).first().getBoolean(0)
    var edges = topKFlag(scoreBoth(initCand).withColumn("old", lit(false)))
      .localCheckpoint(false)
    // Convergence early-exit, bit-identical by construction: with zero
    // new edges the next round's candidate set is empty (every pair is
    // old-old), so merged == edges for all remaining rounds — skip
    // them. On clustered real embeddings descent converges in a few
    // rounds and the fixed round budget stops being the cost driver.
    // (At init every edge is new, but the probe still runs — it is the
    // init checkpoint's materialization.)
    var converged = !probeNew(edges)
    for (_ <- 1 to rounds if !converged) {
      val adj = edges.select(col("src"), col("dst"), col("isnew")).unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst"), col("isnew")))
      // canonical src < dst: every neighbor-of-neighbor pair arrives
      // via the same middles in BOTH orders with identical flag
      // profiles (adj is symmetrized), so keeping one order halves the
      // scoring joins and scoreBoth's mirror restores the full set
      val cand = adj.as("a").join(adj.as("b"), col("a.dst") === col("b.src"))
        .filter(col("a.isnew") || col("b.isnew"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"))
        .filter(col("src") < col("dst"))
      val next = topKFlag(
        edges.select(col("src"), col("dst"), col("cos"), lit(true).as("old"))
          .unionByName(scoreBoth(cand).withColumn("old", lit(false))))
        .localCheckpoint(false)
      // probe (= materialize next, which reads edges' blocks) BEFORE
      // freeing them: a lazy checkpoint's lineage is truncated once
      // materialized, so blocks freed too early are unrecoverable
      converged = !probeNew(next)
      GraphOps.freeCheckpoint(edges)
      edges = next
    }
    // the returned graph is already-materialized checkpoint blocks, so
    // the embedding cache is dead weight from here — free it now rather
    // than leaning on the caller's clearCache
    ev.unpersist(blocking = false)
    edges.select(col("src"), col("dst"), col("cos"))
  }

  /** Beam search over the built k-NN graph — the HNSW-style QUERY phase
    * (greedy best-first with a width-b beam, batched: all queries walk
    * the graph simultaneously as one DataFrame per hop, so serving a
    * query batch is H keyed joins, not per-query graph walks). Start
    * from a fixed entry node, expand the beam's out-neighbors each hop,
    * keep the top-b by exact cosine to each query. Returns (qid, cid,
    * cos) — the beam's final top-b per query. LlmPipelineSpec asserts
    * recall ≥ 0.85 of the exact top-5 (k=12/rounds=4/beam=48/hops=8
    * measured 1.00/1.00/0.95 at sf0.001/0.01/0.1 via graft.RecallProbe
    * on the r14 B=6 size-12-init graph, up from 1.00/0.99/0.93 on the
    * r7 B=8 graph and 0.98/0.98/0.91 on the
    * size-16 graph — uniform-random fixtures, the descent-graph worst
    * case); a
    * capability method rather than a qid so the bench doesn't pay a
    * second graph build (the build itself is the sim_knn_graph qid). */
  private[graft] def knnGraphSearch(spark: SparkSession, dir: String,
      k: Int, rounds: Int, beam: Int, hops: Int, nQ: Int): DataFrame = {
    val edges = knnGraphEdges(spark, dir, k, rounds)
      .select(col("src"), col("dst")).localCheckpoint()
    val ev = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("n", VectorExprs.l2(col("v")))
      .persist()
    val queries = ev.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n").as("qn"))
    val entry = ev.agg(min(col("vec_id")).as("cid"))
    def scoreBeam(cand: DataFrame): DataFrame = cand
      .join(ev.select(col("vec_id").as("cid"), col("v"), col("n")), "cid")
      .join(broadcast(queries), "qid")
      .select(col("qid"), col("cid"),
        (VectorExprs.dot(col("qv"), col("v")) / (col("qn") * col("n"))).as("cos"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("cid"))))
      .filter(col("rk") <= beam).select(col("qid"), col("cid"), col("cos"))
    var frontier = scoreBeam(
      queries.select(col("qid")).crossJoin(broadcast(entry))).localCheckpoint()
    for (_ <- 1 to hops) {
      val expanded = frontier.select(col("qid"), col("cid"))
        .join(edges.select(col("src").as("exp_src"), col("dst")),
          col("cid") === col("exp_src"))
        .select(col("qid"), col("dst").as("cid"))
        .unionByName(frontier.select(col("qid"), col("cid")))
        .distinct()
      val next = scoreBeam(expanded).localCheckpoint()
      GraphOps.freeCheckpoint(frontier)
      frontier = next
    }
    // frontier is materialized checkpoint blocks; neither the graph nor
    // the embedding cache feeds the returned plan — free both here
    GraphOps.freeCheckpoint(edges)
    ev.unpersist(blocking = false)
    frontier.filter(col("qid") =!= col("cid"))
  }

  def simKnnGraph(spark: SparkSession, dir: String): DataFrame = {
    val nQ = AnnQueryBand
    val topQ = 5
    // rounds=4: measured recall 0.91/0.95/0.75 at the three SFs with
    // the size-12 B=6 init (r14 ladder; the r7 B=8 figures were
    // 0.91/0.93/0.73; rounds=5 at the old size-16 init measured
    // 0.90/0.93/0.73 for a full extra round of wall time; rounds=3 is
    // 0.63–0.66 at EVERY init probed up to B=12/size 16 — too thin).
    // 4 keeps a 23-hit margin and was the r7 round's single biggest
    // bench cut together with the 2-wide-ops round body (KnnProbe
    // ladder, docs/DESIGN.md "Round-7"; r14 B ladder in OPTIMIZATION_r15.md)
    val edges = knnGraphEdges(spark, dir, k = 12, rounds = 4)
    // The exact top-5 twin is the SAME relation the IVF family already
    // materializes: the full-probe (nprobe = nCells) candidate set is
    // every (qid < 30, cid ≠ qid) pair with the identical
    // round(dot/(|q||c|), 6) expression, so ranking it IS brute force.
    // sim_ann_ivf / _sweep / sim_knn_graph share one bench family, so
    // in a sweep this is a memo hit instead of a second 30×n scan; in
    // isolation it builds once at the same cost as the scan it
    // replaces (the quantizer never affects the full-probe set).
    val exact = annFullProbe(spark, dir)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("cid"))))
      .filter(col("rk") <= topQ)
    val hits = exact.join(
        edges.select(col("src").as("qid"), col("dst").as("cid")),
        Seq("qid", "cid"), "leftsemi")
      .agg(count(lit(1)).as("nhits"))
      .select((col("nhits") >= lit((nQ * topQ * 6L) / 10L)).as("recall_ok"))
    exact.select(col("qid"), col("rk"), col("cid"), col("cos"))
      .crossJoin(broadcast(hits)) // 1-row audit flag
      .orderBy(col("qid"), col("rk"))
  }

  private val simKnnGraphOracle =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |           FROM embeddings),
      |n AS (SELECT vec_id, v,
      |        sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
      |                         (a, x) -> a + x)) AS n
      |      FROM v),
      |scored AS (
      |  SELECT q.vec_id qid, c.vec_id cid,
      |         ROUND(list_reduce(list_prepend(0.0,
      |                 list_transform(generate_series(1, 64), i -> q.v[i] * c.v[i])),
      |               (a, x) -> a + x) / (q.n * c.n), 6) AS cos
      |  FROM n q JOIN n c ON q.vec_id < 30 AND c.vec_id != q.vec_id)
      |SELECT qid, rk, cid, cos, TRUE AS recall_ok FROM (
      |  SELECT qid, cid, cos,
      |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
      |  FROM scored)
      |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin

  // -------------------------------------------------------------- dedup_clusters
  /** Connected components over a near-dup graph — the step every dedup
    * pipeline needs AFTER pair generation: near-dup is not transitive,
    * so pairs (A,B),(B,C) must collapse to one canonical doc for the
    * whole chain, not two independent keep-one choices. Edges here are
    * doc pairs sharing a df=2 shingle from the family's SHARED basket
    * relation [[shingleBaskets]] (rare-shingle evidence yielding real
    * transitive chains, not planted 2-cliques) — round 5 re-exploded a
    * private 4-gram relation here, which made the family pay the
    * document scan + explode + df-count twice back to back; now the
    * edge set is a filter + projection of the one cached basket
    * relation, with no pair join at all. Labels
    * converge via [[GraphOps.connectedComponents]] (alternating
    * large-star/small-star contraction on owner blocks, O(log² n)
    * rounds worst case with per-round edge volume that never grows,
    * one job per round — scale contract documented there). Output:
    * (doc_id, cluster_id = min doc in component, cluster_size) —
    * engine-independent, so the DuckDB recursive-CTE closure oracles
    * the whole fixpoint exactly.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    // a df=2 shingle's basket IS its edge: [[shingleBaskets]] sorts the
    // doc array, so a 2-doc basket is already a canonical (src, dst)
    // pair — no rare-postings subset, no self-join, just a filter +
    // projection of the family's shared basket relation. (df=2 ≤ DfCap,
    // so the capped universe contains every rare shingle.)
    // NO distinct here: connectedComponents skips repeated edges where
    // it reads its sorted arcs (two shingles sharing the same 2-doc
    // basket collapse there), so a pre-dedup is one extra exchange of
    // the edge relation for an identical result.
    val edges = shingleBaskets(spark, dir)
      .filter(size(col("docs")) === 2)
      .select(col("docs").getItem(0).as("src"),
        col("docs").getItem(1).as("dst"))
    val labels = GraphOps.connectedComponents(edges)
    val sizes = labels.groupBy(col("lab"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lab")
      .select(col("id").as("doc_id"), col("lab").as("cluster_id"),
        col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  private val dedupClustersOracle =
    """WITH RECURSIVE sh AS (
      |  SELECT DISTINCT doc_id, unnest(list_transform(
      |      generate_series(1, greatest(length(string_split(text, ' ')) - 2, 1)),
      |      i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS shingle
      |  FROM documents),
      |rare AS (
      |  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) = 2),
      |edges AS (
      |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  WHERE a.shingle IN (SELECT shingle FROM rare)),
      |und AS (
      |  SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
      |nodes AS (
      |  SELECT DISTINCT src AS id FROM und),
      |r AS (
      |  SELECT id, id AS lab FROM nodes
      |  UNION
      |  SELECT und.dst AS id, r.lab
      |  FROM r JOIN und ON und.src = r.id
      |  WHERE r.lab < und.dst),
      |lm AS (
      |  SELECT id, min(lab) AS lab FROM r GROUP BY id),
      |sz AS (
      |  SELECT lab, count(*) AS cluster_size FROM lm GROUP BY lab)
      |SELECT lm.id AS doc_id, lm.lab AS cluster_id,
      |       CAST(sz.cluster_size AS BIGINT) AS cluster_size
      |FROM lm JOIN sz ON lm.lab = sz.lab
      |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- sample_stratified
  /** Balanced per-domain cap sampling — the C4/Pile-style mixing
    * primitive: keep at most 50 docs per language, chosen by a portable
    * md5 hash rank (NOT random()), so the sample is reproducible across
    * runs, engines, repartitioning, and backfills, and any doc's
    * membership is decidable from its id alone. The rank filter rides
    * `InferWindowGroupLimit` exactly like topk_per_group: each partition
    * keeps its local top-50 per lang before the shuffle, so the full
    * sort of each (potentially billion-doc) language group never
    * happens. */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        expr(h32("cast(doc_id as string)", 77)).as("h"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("lang")
          .orderBy(col("h"), col("doc_id"))))
      .filter(col("rnk") <= 50)
      .select(col("lang"), col("rnk"), col("doc_id"))
      .orderBy(col("lang"), col("rnk"))

  private val sampleStratifiedOracle =
    s"""SELECT lang, rnk, doc_id FROM (
       |  SELECT lang, doc_id,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY ${oH32("cast(doc_id as varchar)", 77)}, doc_id) AS rnk
       |  FROM documents)
       |WHERE rnk <= 50 ORDER BY lang, rnk""".stripMargin

  // ----------------------------------------------------------- sample_importance
  /** Quality-proportional (importance) sampling — the Common-Crawl-era
    * mixing verb: keep each document with probability equal to its
    * quality weight, HERE the unique-token ratio, so repetitive/
    * templated docs are downweighted smoothly rather than cut at a
    * threshold. The coin is the doc's md5 hash, so membership is
    * deterministic, engine-portable, reproducible under repartitioning,
    * and decidable from the doc alone (a backfill keeps the same docs).
    * The keep predicate is ALL-INTEGER — h·n_tok < n_uniq·10⁶ avoids
    * any float boundary an engine could round differently. Shuffle-free
    * until the per-language audit aggregate. */
  def sampleImportance(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_uniq"),
        expr(s"pmod(${h32("cast(doc_id as string)", 31)}, 1000000)").as("h"))
      .withColumn("keep", col("h") * col("n_tok") < col("n_uniq") * lit(1000000L))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("lang"))

  private val sampleImportanceOracle =
    s"""SELECT lang, COUNT(*) AS n_total,
       |  CAST(SUM(CASE WHEN ${oH32("cast(doc_id as varchar)", 31)} % 1000000
       |                      * length(string_split(text, ' '))
       |                   < length(list_distinct(string_split(text, ' '))) * 1000000
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ----------------------------------------------------------------- text_bm25
  /** BM25 relevance ranking (Robertson–Spärck Jones) of the corpus for
    * the query {spark, hash, join} — the retrieval scorer every
    * RAG/dedup-adjacent pipeline needs next to tf-idf. k1=1.2, b=0.75,
    * idf = ln(1 + (N − df + ½)/(df + ½)) (the "plus one" form, always
    * positive). For a FIXED query, tf per term is a per-row array
    * expression — size(filter(w, x -> x = term)) over one split
    * projection — so the scoring pass needs no explode, no tf groupBy,
    * and no join at all: the only data movement before the top-10 is
    * the broadcast of the 1-row stats aggregate (N, Σdl, and per-term
    * df as conditional counts, all from the SAME projection).
    * ScanAudit (r9) showed the old explode-join phrasing reading
    * documents four times (dl, stats, tf, df); this form reads it
    * twice — once for the stats row, once for scoring — which is the
    * floor without caching the corpus (the stats must be complete
    * before any row can be scored). Determinism: every input to the
    * float math is an integer (tf, df, dl, N, Σdl); both engines
    * evaluate the same expression tree, and each per-term weight is
    * fixed to e6 integer units BEFORE the per-doc sum — an integer sum
    * is order-independent where a float sum is not (ln is the one libm
    * call, same margin contract as text_entropy). A zero tf yields w
    * EXACTLY 0 (the numerator is tf·2.2), so summing all terms
    * unconditionally equals the old join form that only saw tf>0 rows;
    * docs with no query term are filtered to keep membership
    * identical. */
  def textBm25(spark: SparkSession, dir: String): DataFrame = {
    val qterms = Seq("spark", "hash", "join")
    val d = Tables.documents(spark, dir)
    val perDoc = d.select(
      col("doc_id") +: size(split(col("text"), " ")).cast("long").as("dl") +:
        qterms.map(t =>
          expr(s"size(filter(split(text, ' '), x -> x = '$t'))")
            .cast("long").as(s"tf_$t")): _*)
    val statCols = count(lit(1)).as("n_docs") +: sum(col("dl")).as("sum_dl") +:
      qterms.map(t =>
        sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    def wE6(t: String) = {
      val tf = col(s"tf_$t").cast("double")
      val idf = log(lit(1.0) +
        (col("n_docs").cast("double") - col(s"df_$t").cast("double") + 0.5) /
          (col(s"df_$t").cast("double") + 0.5))
      val w = idf * (tf * 2.2) /
        (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl")))
      round(w * 1e6).cast("long")
    }
    val scored = perDoc
      .filter(qterms.map(t => col(s"tf_$t") > 0).reduce(_ || _))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("score_e6", qterms.map(wE6).reduce(_ + _))
    // global top-10 as orderBy+limit — physical TakeOrderedAndProject
    // (per-partition top-10, driver merge), never a single-task global
    // sort; the rank window then runs over the 10 SURVIVORS only, so
    // its unpartitioned stage is O(k) by construction (allowlisted in
    // PlanLockSpec's window sweep with exactly this bound argument)
    scored.orderBy(col("score_e6").desc, col("doc_id")).limit(10)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score_e6").desc, col("doc_id"))))
      .select(col("rk"), col("doc_id"), col("score_e6"))
      .orderBy(col("rk"))
  }

  private val textBm25Oracle =
    """WITH dl AS (
      |  SELECT doc_id, length(string_split(text, ' ')) AS dl FROM documents),
      |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
      |toks AS (
      |  SELECT doc_id, term FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |  WHERE term IN ('spark', 'hash', 'join')),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(*) AS df
      |       FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term),
      |scored AS (
      |  SELECT tf.doc_id,
      |         CAST(SUM(CAST(ROUND(
      |           ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
      |                    / (CAST(df AS DOUBLE) + 0.5))
      |           * (CAST(tf AS DOUBLE) * 2.2)
      |           / (CAST(tf AS DOUBLE)
      |              + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE)
      |                              / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
      |           * 1e6) AS BIGINT)) AS BIGINT) AS score_e6
      |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
      |  GROUP BY tf.doc_id)
      |SELECT rk, doc_id, score_e6 FROM (
      |  SELECT doc_id, score_e6,
      |         row_number() OVER (ORDER BY score_e6 DESC, doc_id) AS rk
      |  FROM scored)
      |WHERE rk <= 10 ORDER BY rk""".stripMargin

  // ------------------------------------------------------------- sample_bottomk
  /** Fixed-size uniform sample WITHOUT replacement via bottom-k hashing
    * — the distributed replacement for reservoir sampling: the k docs
    * with the smallest md5 hashes ARE a uniform k-sample, membership is
    * deterministic and engine-portable, and (unlike a reservoir) the
    * sample is stable under repartitioning, restarts, and corpus
    * appends-at-the-end (a doc's hash never changes, so growing the
    * corpus only ever evicts by hash rank). Physically this is Spark's
    * TakeOrderedAndProject: a size-k heap per partition, then a k-way
    * driver merge — O(n) scan, O(k) memory, NO global sort shuffle,
    * which is the whole point at 100 TB (a sort-based LIMIT would
    * shuffle everything). Ties are impossible to matter: the order key
    * is (hash, doc_id) and doc_id is unique. */
  def sampleBottomK(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        expr(h32("cast(doc_id as string)", 47)).as("h"))
      .orderBy(col("h"), col("doc_id"))
      .limit(100)

  private val sampleBottomKOracle =
    s"""SELECT doc_id, lang,
       |       ${oH32("cast(doc_id as varchar)", 47)} AS h
       |FROM documents ORDER BY h, doc_id LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- pipeline_e2e
  /** The whole training-data pipeline as ONE composed query — the
    * "switch to this library" proof that the operators chain: exact
    * dedup (keep-one by normalized-text hash) → quality gate (unique-
    * token ratio > 0.4 AND length band) → per-language cap-40 by md5
    * hash rank → deterministic 90/10 train/valid split → per (lang,
    * split) audit counts. Everything is one Catalyst plan: the dedup
    * groupBy, the window cap, and the final aggregate share the
    * pipeline's shuffles, and nothing materializes in between — which
    * is the actual operational advantage of an engine over a script
    * chain at 100 TB (no intermediate landings, full pushdown through
    * every stage).
    */
  def pipelineE2e(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val kept = docs
      .select(col("doc_id"), col("lang"), col("text"),
        md5(lower(trim(col("text")))).as("text_hash"))
      .withColumn("rk_dup", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("text_hash")
          .orderBy(col("doc_id"))))
      .filter(col("rk_dup") === 1)
    val quality = kept
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      .withColumn("n_uniq", size(array_distinct(split(col("text"), " "))).cast("long"))
      .filter(col("n_uniq") * 10L > col("n_tok") * 4L && col("n_tok") >= 20L)
    val capped = quality
      .withColumn("h", expr(h32("cast(doc_id as string)", 93)))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("lang")
          .orderBy(col("h"), col("doc_id"))))
      .filter(col("rk") <= 40)
    capped
      .withColumn("split",
        when(expr(s"pmod(${h32("cast(doc_id as string)", 94)}, 10)") < 9, lit("train"))
          .otherwise(lit("valid")))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n"), sum(col("n_tok")).as("tokens"))
      .orderBy(col("lang"), col("split"))
  }

  private val pipelineE2eOracle =
    s"""WITH kept AS (
       |  SELECT doc_id, lang, text,
       |         row_number() OVER (PARTITION BY md5(lower(trim(text)))
       |                            ORDER BY doc_id) AS rk_dup
       |  FROM documents),
       |quality AS (
       |  SELECT doc_id, lang,
       |         length(string_split(text, ' ')) AS n_tok,
       |         length(list_distinct(string_split(text, ' '))) AS n_uniq
       |  FROM kept WHERE rk_dup = 1),
       |gated AS (
       |  SELECT * FROM quality
       |  WHERE n_uniq * 10 > n_tok * 4 AND n_tok >= 20),
       |capped AS (
       |  SELECT doc_id, lang, n_tok,
       |         row_number() OVER (PARTITION BY lang
       |           ORDER BY ${oH32("cast(doc_id as varchar)", 93)}, doc_id) AS rk
       |  FROM gated)
       |SELECT lang,
       |       CASE WHEN ${oH32("cast(doc_id as varchar)", 94)} % 10 < 9
       |            THEN 'train' ELSE 'valid' END AS split,
       |       COUNT(*) AS n, CAST(SUM(n_tok) AS BIGINT) AS tokens
       |FROM capped WHERE rk <= 40
       |GROUP BY 1, 2 ORDER BY lang, split""".stripMargin

  // --------------------------------------------------------------- text_entropy
  /** Per-doc token Shannon entropy — the token-distribution
    * corpus-quality signal (low entropy ⇒ repetitive/templated text).
    * Single-pass form H = ln n − (Σ c·ln c)/n, so one explode and two
    * hash aggregations, no per-doc join; emitted in the repo's e6
    * integer units, rounded ONCE at the end. ln() is the one
    * transcendental in the engine's oracle surface: cross-engine libm
    * drift is ~1e-13 while the nearest rounding boundary across all
    * fixture SFs sits 1.3e-10 away (measured in this round's pre-check),
    * a ~1000x margin. At 100 TB: (doc,token) partial aggregation is
    * map-side combinable and the final per-doc agg shuffles on doc_id
    * only.
    */
  def textEntropy(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tok"),
        count(lit(1)).as("n_uniq_tok"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("sclc"))
      .select(col("doc_id"), col("n_tok"), col("n_uniq_tok"),
        round((log(col("n_tok").cast("double")) -
          col("sclc") / col("n_tok").cast("double")) * 1000000).cast("long")
          .as("entropy_e6"))
      .orderBy(col("doc_id"))

  private val textEntropyOracle =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |             FROM documents),
      |cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok),
      |agg AS (SELECT doc_id, SUM(c) AS n_tok, COUNT(*) AS n_uniq_tok,
      |               SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS sclc
      |        FROM cnt GROUP BY doc_id)
      |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
      |  CAST(n_uniq_tok AS BIGINT) AS n_uniq_tok,
      |  CAST(ROUND((ln(CAST(n_tok AS DOUBLE)) - sclc / CAST(n_tok AS DOUBLE))
      |       * 1000000) AS BIGINT) AS entropy_e6
      |FROM agg ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- text_repetition
  /** Per-doc duplicated word-3-gram fraction — the Gopher/MassiveText
    * INTRA-document repetition gate (templated boilerplate, scraper
    * loops, keyword stuffing repeat their own n-grams; natural prose
    * almost never does). Complements the family's other signals:
    * dedup_lines finds text repeated ACROSS docs, text_entropy scores
    * the token distribution — this one scores n-gram self-repetition,
    * the specific quality rule the public Gopher pipeline gates on.
    * Fraction = (grams occurring ≥2 times, counted with multiplicity)
    * / total grams, in e6 integer floor-div units, with the 10% gate
    * emitted as a flag. One explode + two hash aggregations, both
    * map-side combinable; at 100 TB the only shuffle is on
    * (doc_id-keyed) partial aggregates, same profile as text_entropy.
    */
  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      // split once, slice per i (the shingles() lesson: re-splitting
      // inside the lambda is O(tokens²) character work per doc)
      .select(col("doc_id"),
        expr("explode(transform(sequence(1, greatest(size(w) - 2, 1)), " +
          "i -> concat_ws(' ', slice(w, i, 3))))").as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"),
        sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("n_dup"))
      .select(col("doc_id"), col("n_grams"),
        expr("(n_dup * 1000000L) div n_grams").as("dup_e6"))
      .withColumn("repetitive", col("dup_e6") >= 100000L)
      .orderBy(col("doc_id"))

  private val textRepetitionOracle =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT doc_id, unnest(list_transform(
      |         generate_series(1, greatest(length(w) - 2, 1)),
      |         i -> array_to_string(w[i:i+2], ' '))) AS g
      |      FROM w),
      |c AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY doc_id, g),
      |d AS (SELECT doc_id, SUM(c) AS n_grams,
      |             SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS n_dup
      |      FROM c GROUP BY doc_id)
      |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
      |       CAST(n_dup * 1000000 // n_grams AS BIGINT) AS dup_e6,
      |       (n_dup * 1000000 // n_grams) >= 100000 AS repetitive
      |FROM d ORDER BY doc_id""".stripMargin

  def queries: Seq[GQuery] = Seq(
    GQuery("dedup_exact", dedupExact, Some(dedupExactOracle),
      "exact dedup by normalized-text hash over a re-crawled corpus"),
    GQuery("dedup_near", dedupNear, Some(dedupNearOracle),
      "near-dup via 3-gram Jaccard with rare-shingle block join"),
    GQuery("dedup_containment", dedupContainment, Some(dedupContainmentOracle),
      "asymmetric containment dedup (doc-in-doc), integer floor-div score"),
    GQuery("dedup_minhash", dedupMinhash, Some(dedupMinhashOracle),
      "MinHash(16) + LSH 4x4 banding candidates, exact-Jaccard verify"),
    GQuery("dedup_simhash", dedupSimhash, Some(dedupSimhashOracle),
      "63-bit tf-weighted SimHash, 4x16-bit band blocking, hamming<=3"),
    GQuery("dedup_simhash_recall", dedupSimhashRecall, Some(dedupSimhashRecallOracle),
      "band-blocking recall contract vs exact hamming pairs (pigeonhole)"),
    GQuery("dedup_embed", dedupEmbed, Some(dedupEmbedOracle),
      "embedding-cosine near-dup via sign-bit LSH candidates"),
    GQuery("sim_cosine", simCosine, Some(simCosineOracle),
      "brute-force cosine top-5 (broadcast query side)"),
    GQuery("sim_ann_lsh", simAnnLsh, Some(simAnnLshOracle),
      "sign-bit LSH bucketed approximate NN, top-3 in-bucket"),
    GQuery("sim_ann_ivf", simAnnIvf, Some(simAnnIvfOracle),
      "IVF ANN (sampled-anchor cells, nprobe=3): exact top-5 + recall>=0.5 audit"),
    GQuery("sim_ann_ivf_sweep", simAnnIvfSweep, Some(simAnnIvfSweepOracle),
      "IVF nprobe sweep 1/2/4/8: recall monotone, exhaustive at nCells"),
    GQuery("sim_knn_graph", simKnnGraph, Some(simKnnGraphOracle),
      "NN-Descent k-NN graph (graph-index ANN), recall>=0.6 audit"),
    GQuery("sim_pq", simPq, Some(simPqOracle),
      "product quantization ANN: 8x16 sampled codebooks, integer ADC top-5"),
    GQuery("text_entropy", textEntropy, Some(textEntropyOracle),
      "per-doc token Shannon entropy in e6 units (ln-parity pre-checked)"),
    GQuery("text_repetition", textRepetition, Some(textRepetitionOracle),
      "Gopher-style intra-doc duplicated-3-gram fraction, e6 + 10% gate"),
    GQuery("sim_knn_class", simKnnClass, Some(simKnnClassOracle),
      "k-NN(10) cosine label vote classifier"),
    GQuery("text_stats", textStats, Some(textStatsOracle),
      "corpus profiling: per-lang doc/token/char stats"),
    GQuery("text_tfidf", textTfidf, Some(textTfidfOracle),
      "tf-idf top-3 terms per doc, corpus idf"),
    GQuery("text_langid", textLangid, Some(textLangidOracle),
      "lexicon-vote language-ID (argmax over marker lexicons)"),
    GQuery("text_quality", textQuality, Some(textQualityOracle),
      "quality scoring: stopword/uniq ratios + length band composite"),
    GQuery("text_tokens", textTokens, Some(textTokensOracle),
      "token counting: whitespace vs BPE-ish regex"),
    GQuery("text_fingerprint", textFingerprint, Some(textFingerprintOracle),
      "order-sensitive rolling polynomial fingerprint"),
    GQuery("text_pii_scrub", textPiiScrub, Some(textPiiScrubOracle),
      "PII redaction: planted emails/digit runs scrubbed, counts audited"),
    GQuery("dedup_lines", dedupLines, Some(dedupLinesOracle),
      "line-level dedup audit: per-doc duplicated-sentence fraction"),
    GQuery("dedup_decontam", dedupDecontam, Some(dedupDecontamOracle),
      "eval-set decontamination: 5-gram overlap vs a broadcast eval set"),
    GQuery("sim_centroid", simCentroid, Some(simCentroidOracle),
      "per-label centroid + integer dispersion cluster diagnostics"),
    GQuery("sim_quantize", simQuantize, Some(simQuantizeOracle),
      "int8 scalar quantization of embeddings with exact error audit"),
    GQuery("text_ngram_profile", textNgramProfile, Some(textNgramProfileOracle),
      "per-language top-5 character-bigram frequency profile"),
    GQuery("sample_split", sampleSplit, Some(sampleSplitOracle),
      "deterministic hash-bucketed 80/10/10 train/valid/test split"),
    GQuery("sample_stratified", sampleStratified, Some(sampleStratifiedOracle),
      "balanced per-language cap sample by portable md5 hash rank"),
    GQuery("text_bm25", textBm25, Some(textBm25Oracle),
      "BM25 top-10 retrieval ranking, query-term-pruned postings"),
    GQuery("sample_bottomk", sampleBottomK, Some(sampleBottomKOracle),
      "bottom-k-hash uniform sample (distributed reservoir equivalent)"),
    GQuery("sample_importance", sampleImportance, Some(sampleImportanceOracle),
      "quality-proportional sampling, all-integer md5 coin"),
    GQuery("pipeline_e2e", pipelineE2e, Some(pipelineE2eOracle),
      "composed pipeline: dedup -> quality gate -> cap -> split, one plan"),
    GQuery("dedup_clusters", dedupClusters, Some(dedupClustersOracle),
      "connected components over rare-shingle pairs (min-label to fixpoint)"),
    GQuery("multimodal_join", multimodalJoin, Some(multimodalJoinOracle),
      "documents x embeddings feature-store join, mixed measures"),
    GQuery("multimodal_binary", multimodalBinary, Some(multimodalBinaryOracle),
      "opaque binary column + mapPartitions decode-stub batch path"),
    GQuery("multimodal_frames", multimodalFrames, Some(multimodalFramesOracle),
      "frame explode + stride sampling + decode-stub feature aggregation")
  )
}
