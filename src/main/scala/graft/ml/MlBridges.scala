package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF approximate nearest neighbour over the embeddings: one
  * sampled-anchor quantization and the candidate relations the sim ANN
  * qids read (`sim_ann_ivf`, `sim_ann_ivf_sweep`, `sim_knn_graph`'s
  * exact twin), plus [[ivfTopK]], the ranked form `IvfSpec` holds to the
  * IVF recall contract.
  */
object MlBridges {

  /** IVF (inverted-file) approximate nearest neighbor: a deterministic
    * sampled-anchor coarse quantizer (round 7 — was an MLlib KMeans
    * fit) assigns every vector to its nearest anchor's cell; each query
    * probes its `nprobe` nearest cells (the standard IVF recall knob:
    * nprobe=1 → only the query's own cell, nprobe=nCells → exact).
    * Probe assignment ranks the tiny broadcast anchor table by squared
    * L2 distance (only the `|c|² − 2 q·c` terms — `|q|²` is constant
    * per query). At 100 TB the corpus partitions BY CELL, so a query
    * touches nprobe partition groups instead of the whole corpus — the
    * complementary design to the sign-bit LSH qid (`sim_ann_lsh`).
    * Returns per-query top-k probed neighbors by exact cosine.
    */
  def ivfTopK(spark: SparkSession, dir: String, nCells: Int = 8, k: Int = 5,
      nprobe: Int = 1): DataFrame =
    ivfCandidates(spark, dir, nCells, nprobe)
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("cid"))))
      .filter(col("rk") <= k)

  /** IVF candidate generation: one sampled-anchor quantization, every
    * (query, candidate) pair inside the query's `nprobeMax` nearest
    * cells, tagged with `pr` — the probe rank of the CANDIDATE's cell
    * in the query's cell order (1 = the query's own/nearest cell).
    * Filtering `pr <= np` for any `np <= nprobeMax` yields exactly the
    * nprobe=np candidate set, so one plan serves a whole nprobe sweep.
    * `qidBound` restricts the query side BEFORE the probe window (only
    * vec_id < bound become queries); the corpus side always stays full.
    * `cos` is the exact cosine rounded to 6 — identical expression shape
    * to the brute-force baseline so the nprobe=nCells candidate top-k is
    * bitwise equal to exhaustive search.
    *
    * Round-7 quantizer: the coarse centroids are the `nCells`
    * smallest-md5 corpus vectors (the sim_pq sampled-codebook pattern —
    * at 100 TB nobody fits a clusterer on the full corpus; IVF/PQ
    * codebooks train on a bounded sample). This replaced an MLlib
    * KMeans fit that cost more than the whole candidate join
    * (IvfPhaseProbe: fit 1.4–3.5 s of sim_ann_ivf's 4.5 s driver
    * seconds — per-job overhead of ~14 scheduler rounds on a corpus
    * whose quantizer only GATES candidates; the declared rows are the
    * exact twin and the cells just need recall ≥ 0.5 at nprobe 3/8).
    * Anchor selection is a sort+limit (TakeOrderedAndProject) and the
    * collect is `nCells` rows — the broadcast-model scalar class the
    * trainers use, not a data collect. Cell assignment is then a pure
    * PROJECTION (least() over nCells (d², cell) structs of literal
    * anchors — same `|c|² − 2 v·c` ranking and (d², cell) tie-break as
    * the probe window), so the whole build is one narrow pass.
    * Deterministic across engines, partitionings, and runs — no solver
    * floats anywhere in the path.
    */
  def ivfCandidates(spark: SparkSession, dir: String, nCells: Int = 8,
      nprobeMax: Int = 1, qidBound: Option[Int] = None): DataFrame = {
    import spark.implicits._
    // persist: feeds the anchor sample plus the two cells subtrees
    // (query + corpus side) of the candidate join below. Released by
    // the harness's family-boundary clearCache.
    val base = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .persist()
    val anchors = base
      .withColumn("h", expr("cast(conv(substring(md5(concat('9001:', " +
        "cast(vec_id as string))), 1, 8), 16, 10) as bigint)"))
      .orderBy(col("h"), col("vec_id")).limit(nCells)
      .select(col("vec_id"), col("v"))
      .collect()
      .map(r => r.getSeq[Double](1).toArray)
    // cell id of v's nearest center — least() needs ≥ 2 children, so a
    // degenerate single-cell quantizer (nCells = 1, or a corpus with
    // one vector) assigns the constant cell directly
    def cellOf(cs: Array[Array[Double]]) = {
      val assign = cs.zipWithIndex.map { case (a, i) =>
        val cvec = array(a.map(lit).toIndexedSeq: _*)
        val d2 = lit(a.map(x => x * x).sum) -
          lit(2.0) * graft.functions.VectorExprs.dot(col("v"), cvec)
        struct(d2.as("d2"), lit(i).as("cell"))
      }.toIndexedSeq
      if (assign.length == 1) lit(0)
      else least(assign: _*).getField("cell")
    }
    // ONE Lloyd refinement of the sampled anchors (random anchors carve
    // uneven Voronoi cells on uniform data; one mean step rebalances —
    // measured +12/+6/−1 recall hits at sf0.001/0.01/0.1, lifting the
    // thinnest margin from 8 to 20 hits, IvfPhaseProbe). The per-cell
    // mean is
    // computed over e6-INTEGER coordinates: a bigint sum is exactly
    // associative, so the refined centroids — unlike a float-summing
    // KMeans — are bitwise identical under any partitioning. One
    // groupBy job; the nCells-row collect is the same broadcast-model
    // scalar class as the anchor sample. An emptied cell keeps its
    // original anchor.
    // loud empty-corpus failure (the MLlib fit used to throw its own;
    // anchors.head would be an opaque NoSuchElementException). Fewer
    // distinct vectors than nCells is fine — the sample just yields
    // fewer anchors and every downstream step sizes off anchors.length.
    require(anchors.nonEmpty,
      s"ivfCandidates: no embeddings found under $dir — cannot quantize an empty corpus")
    val dim = anchors.head.length
    val sums = (1 to dim).map(i => sum(expr(
      s"cast(round(element_at(v, $i) * 1000000) as bigint)")).as(s"s$i"))
    val refinedRows = base
      .withColumn("cell", cellOf(anchors))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("cnt"), sums: _*)
      .collect()
      .map(r => r.getInt(0) ->
        (1 to dim).map(i => r.getLong(i + 1).toDouble / r.getLong(1) / 1e6).toArray)
      .toMap
    val centers = anchors.zipWithIndex.map { case (a, i) =>
      refinedRows.getOrElse(i, a)
    }
    val cells = base
      .withColumn("cell", cellOf(centers))
      .withColumn("n", graft.functions.VectorExprs.l2(col("v")))
    val centroids = centers.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq
      .toDF("cell", "cvec")
      .withColumn("cc", graft.functions.VectorExprs.dot(col("cvec"), col("cvec")))
    val qside = qidBound.fold(cells)(b => cells.filter(col("vec_id") < b))
    val probes = qside
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n").as("qn"))
      .crossJoin(broadcast(centroids))
      .withColumn("d2", col("cc") -
        lit(2.0) * graft.functions.VectorExprs.dot(col("qv"), col("cvec")))
      .withColumn("pr", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("d2"), col("cell"))))
      .filter(col("pr") <= nprobeMax)
      .select(col("qid"), col("qv"), col("qn"), col("cell"), col("pr"))
    probes.join(cells.as("c"),
        probes("cell") === col("c.cell") && probes("qid") =!= col("c.vec_id"))
      .select(col("qid"), col("pr"), col("c.vec_id").as("cid"),
        round(graft.functions.VectorExprs.dot(col("qv"), col("c.v")) /
          (col("qn") * col("c.n")), 6).as("cos"))
  }

  /** FAMILY-SHARED full IVF candidate relation: [[ivfCandidates]] at
    * nprobeMax = nCells — every (query, candidate≠query) pair tagged
    * with its probe rank `pr` and exact rounded cosine. One
    * quantization + one candidate join serves the whole sim ANN
    * family: sim_ann_ivf filters pr ≤ 3 for its answer and ranks the
    * unfiltered relation for its exact brute-force twin (at nprobe =
    * nCells the candidate set IS the exhaustive scored set, identical
    * expression shape), sim_ann_ivf_sweep filters pr ≤ nprobe per
    * sweep point, and sim_knn_graph ranks the same relation for ITS
    * exact twin. Memoized per (application, dir, nCells, qidBound)
    * with the live-storage contract of the other family memos;
    * persisted SER (build-once, read-per-qid). */
  def ivfCandidatesShared(spark: SparkSession, dir: String, nCells: Int,
      qidBound: Option[Int]): DataFrame =
    graft.Memo(spark, ("ivfCandidatesShared", dir, nCells, qidBound), s"ivfCandidatesShared ($dir, nCells=$nCells, band=$qidBound)") {
      ivfCandidates(spark, dir, nCells, nCells, qidBound)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    }
}
