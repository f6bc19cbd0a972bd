package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck properties (SURVEY §5.2): algebraic laws the engine's
  * operators must satisfy on arbitrary inputs, plus closed-form checks
  * of the update algebra and the determinism helpers.
  */
object GraftProperties extends Properties("graft") {

  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  private val smallLongs = Gen.listOfN(30, Gen.chooseNum(-50L, 50L))

  property("Det.cents is exact for 2-decimal money") =
    forAll(Gen.chooseNum(-999999L, 999999L)) { c =>
      val v = c.toDouble / 100.0
      val back = math.round(v * 100)
      back == c
    }

  property("union-all count additivity") = forAll(smallLongs, smallLongs) { (a, b) =>
    import spark.implicits._
    val da = a.toDF("v")
    val db = b.toDF("v")
    da.unionAll(db).count() == da.count() + db.count()
  }

  property("inner join row count bounded by |A|*|B|, semi by |A|") =
    forAll(Gen.listOfN(15, Gen.chooseNum(0L, 5L)), Gen.listOfN(15, Gen.chooseNum(0L, 5L))) {
      (a, b) =>
        import spark.implicits._
        val da = a.toDF("k")
        val db = b.toDF("k")
        val inner = da.join(db, "k").count()
        val semi = da.join(db, Seq("k"), "left_semi").count()
        inner <= a.size.toLong * b.size && semi <= a.size.toLong
    }

  property("row_number is a dense 1..n permutation per partition") =
    forAll(Gen.listOfN(20, Gen.zip(Gen.chooseNum(0, 2), Gen.chooseNum(0L, 100L)))) { xs =>
      import spark.implicits._
      xs.isEmpty || {
        val df = xs.toDF("g", "v")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy(col("v"), monotonically_increasing_id())
        val rks = df.withColumn("rk", row_number().over(w))
          .groupBy("g").agg(collect_list("rk").as("rks"), count(lit(1)).as("n"))
          .collect()
        rks.forall { r =>
          val got = r.getAs[scala.collection.Seq[Int]]("rks").toList.sorted
          got == (1 to r.getAs[Long]("n").toInt).toList
        }
      }
    }

  property("CMS point estimate never underestimates (sketch_cms algebra)") =
    forAll(Gen.listOfN(60, Gen.chooseNum(0L, 20L))) { keys =>
      // same md5 scheme as sketch_cms (seed 300+row, first 8 hex chars),
      // tiny width to force collisions
      def h(seed: Int, s: String): Long = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(s"$seed:$s".getBytes("UTF-8"))
          .take(4).map(b => f"$b%02x").mkString
        java.lang.Long.parseLong(hex, 16)
      }
      val d = 4; val w = 16
      val grid = Array.fill(d, w)(0L)
      keys.foreach { k =>
        (0 until d).foreach(r => grid(r)((h(300 + r, k.toString) % w).toInt) += 1)
      }
      keys.distinct.forall { k =>
        val exact = keys.count(_ == k).toLong
        val est = (0 until d).map(r => grid(r)((h(300 + r, k.toString) % w).toInt)).min
        est >= exact && est <= keys.size.toLong
      }
    }

  property("PA-I tau bounded by C and zero iff margin >= 1") =
    forAll(Gen.chooseNum(-3.0, 3.0), Gen.chooseNum(0.1, 4.0)) { (margin, xx) =>
      val C = 0.5
      val loss = math.max(0.0, 1.0 - margin)
      val tau = math.min(C, loss / xx)
      (tau >= 0.0 && tau <= C) && ((margin >= 1.0) == (tau == 0.0))
    }

  property("ToW sketch inner product is symmetric and self-product >= 0") =
    forAll(Gen.listOfN(20, Gen.chooseNum(0L, 30L))) { keys =>
      val agg = sketch.SketchQueries.TowAgg
      val sk = keys.foldLeft(agg.zero)(agg.reduce)
      val self = sk.zip(sk).map { case (x, y) => x * y }.sum
      self >= 0L
    }

  property("minhash of a superset is <= elementwise (monotone min)") =
    forAll(Gen.nonEmptyListOf(Gen.alphaStr.suchThat(_.nonEmpty))) { toks =>
      def h(s: String, seed: Int): Long = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(s"$seed:$s".getBytes("UTF-8"))
          .take(4).map(b => f"$b%02x").mkString
        java.lang.Long.parseLong(hex, 16)
      }
      val half = toks.take(math.max(1, toks.size / 2))
      (0 until 4).forall { seed =>
        toks.map(h(_, seed)).min <= half.map(h(_, seed)).min
      }
    }

  property("bloom merge is an upper set of both inputs") =
    forAll(Gen.listOfN(50, Gen.chooseNum(0L, 10000L)),
      Gen.listOfN(50, Gen.chooseNum(0L, 10000L))) { (a, b) =>
      val agg = sketch.BloomAgg
      val ba = a.foldLeft(agg.zero)(agg.reduce)
      val bb = b.foldLeft(agg.zero)(agg.reduce)
      val m = agg.merge(ba, bb)
      (a ++ b).forall(m.mightContainLong)
    }

  private val hashTfRows = Gen.listOfN(40,
    Gen.zip(Gen.chooseNum(0L, Long.MaxValue), Gen.chooseNum(1L, 20L)))

  property("SimHashAgg is partition-invariant (split+merge == serial fold)") =
    forAll(hashTfRows, Gen.chooseNum(0, 40)) { (rows, cut) =>
      val agg = operators.LlmPipeline.SimHashAgg
      val serial = rows.foldLeft(agg.zero)(agg.reduce)
      val k = math.min(cut, rows.size)
      val (l, r) = rows.splitAt(k)
      val merged = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      agg.finish(serial) == agg.finish(merged) &&
        serial.sameElements(merged)
    }

  property("SimHashAgg.finish sets bit i iff the signed tf-sum is positive") =
    forAll(hashTfRows.suchThat(_.nonEmpty)) { rows =>
      val agg = operators.LlmPipeline.SimHashAgg
      val sim = agg.finish(rows.foldLeft(agg.zero)(agg.reduce))
      (0 until 63).forall { i =>
        val s = rows.map { case (h, tf) =>
          if (((h >> i) & 1L) == 1L) tf else -tf }.sum
        (((sim >> i) & 1L) == 1L) == (s > 0)
      }
    }

  // Streams drawn from a small alphabet with a planted heavy token so
  // the n/(k+1) bound actually bites at list sizes ScalaCheck explores.
  private val tokenStream = Gen.listOfN(400,
    Gen.frequency(5 -> Gen.const("hot"),
      3 -> Gen.oneOf("warm1", "warm2"),
      2 -> Gen.chooseNum(0, 200).map(i => s"t$i")))

  property("MgAgg containment: freq > n/(k+1) tokens survive any split point") =
    forAll(tokenStream, Gen.chooseNum(0, 400)) { (toks, cut) =>
      val agg = sketch.SketchQueries.MgAgg
      val kk = agg.k
      val split = math.min(cut, toks.size)
      val (l, r) = toks.splitAt(split)
      val m = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      val n = toks.size.toLong
      val exact = toks.groupBy(identity).view.mapValues(_.size.toLong)
      exact.forall { case (t, f) =>
        f * (kk + 1L) <= n || m.contains(t)
      }
    }

  property("MgWeightedAgg containment: the fold over (tok, freq) pairs keeps heavy tokens") =
    forAll(tokenStream, Gen.chooseNum(0, 400)) { (toks, cut) =>
      val agg = sketch.SketchQueries.MgWeightedAgg
      val kk = sketch.SketchQueries.MgAgg.k
      val exact = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      // feed the PRE-AGGREGATED pairs (the sketch_heavy_hitters shape),
      // split at an arbitrary point to exercise the partial-agg merge
      val pairs = exact.toList.sortBy(_._1)
      val split = math.min(cut, pairs.size)
      val (l, r) = pairs.splitAt(split)
      val m = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      val n = toks.size.toLong
      exact.forall { case (t, f) =>
        f * (kk + 1L) <= n || m.contains(t)
      }
    }

  property("MgAgg estimate error bounded by n/(k+1) on both sides") =
    forAll(tokenStream) { toks =>
      val agg = sketch.SketchQueries.MgAgg
      val m = toks.foldLeft(agg.zero)(agg.reduce)
      val n = toks.size.toLong
      val bound = n / (agg.k + 1L)
      val exact = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      m.forall { case (t, est) =>
        val f = exact.getOrElse(t, 0L)
        est <= f && est >= f - bound
      }
    }

  /** Reference connected components by union-find, for the GraphOps law. */
  private def ufLabels(edges: List[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      if (a != b) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    val nodes = edges.filter(e => e._1 != e._2).flatMap(e => List(e._1, e._2)).distinct
    nodes.map(x => x -> find(x)).toMap
  }

  property("GraphOps star rounds == union-find labels on random graphs") =
    forAll(Gen.listOfN(25,
        Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(0L, 30L)))) { edges =>
      import spark.implicits._
      val expected = ufLabels(edges)
      val got =
        if (edges.forall(e => e._1 == e._2)) Map.empty[Long, Long]
        else operators.GraphOps.connectedComponents(edges.toDF("src", "dst"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == expected
    }

  /** Reference bounded BFS: hop distances within `hops` of `source`, or
    * of the node of most distinct neighbours (ties to the smallest id),
    * none if there is no edge. */
  private def bfsDist(edges: List[(Long, Long)], source: Option[Long], hops: Int): Map[Long, Long] = {
    val adj = edges.filter(e => e._1 != e._2).flatMap { case (a, b) => List(a -> b, b -> a) }
      .distinct.groupMap(_._1)(_._2)
    source.orElse(adj.toSeq.map { case (x, ns) => (-ns.size, x) }.minOption.map(_._2)).fold(Map.empty[Long, Long]) { s =>
      (1 to hops).foldLeft((Map(s -> 0L), Set(s))) { case ((dist, frontier), h) =>
        val next = frontier.flatMap(adj.getOrElse(_, Nil)).filterNot(dist.contains)
        (dist ++ next.map(_ -> h.toLong), next)
      }._1
    }
  }

  property("GraphOps.boundedBfs == sequential BFS on random graphs") =
    // nodes 0..9 (10 and 11 never have an edge), 0..3 hops, sometimes no
    // edge at all, sometimes the max-degree source
    forAll(Gen.frequency(1 -> Gen.const(Nil), 9 -> Gen.chooseNum(1, 15).flatMap(m =>
          Gen.listOfN(m, Gen.zip(Gen.chooseNum(0L, 9L), Gen.chooseNum(0L, 9L))))),
        Gen.option(Gen.chooseNum(0L, 11L)), Gen.chooseNum(0, 3)) { (edges, source, hops) =>
      import spark.implicits._
      val dist = operators.GraphOps.boundedBfs(edges.toDF("src", "dst"), hops, source)
      val got = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      operators.GraphOps.freeCheckpoint(dist)
      got == bfsDist(edges, source, hops)
    }

  property("GraphOps.rootedDepth == sequential walk on random forests") =
    // parent(i) uniform below i (node 0 is the root): the same random
    // recursive tree family hier_depth derives from md5 — here against
    // a direct in-memory walk
    forAll(Gen.chooseNum(1, 24).flatMap(n =>
        Gen.sequence[List[Long], Long]((1 to n).map(i =>
          Gen.chooseNum(0L, i - 1L))))) { ps =>
      import spark.implicits._
      val parentOf = (0L :: Nil ++ ps).zipWithIndex
        .map { case (p, i) => i.toLong -> p }.toMap
      def walk(x: Long): Long = if (x == 0L) 0L else 1L + walk(parentOf(x))
      val expected = parentOf.keys.map(x => x -> walk(x)).toMap
      val got = operators.GraphOps.rootedDepth(
          parentOf.toSeq.toDF("node", "parent"))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      got == expected
    }
}
