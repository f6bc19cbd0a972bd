package graft

import org.scalatest.funsuite.AnyFunSuite

/** Units for the bench's self-regime machinery (round 11). The
  * end-to-end behavior (re-exec under bare java / spark-submit, the
  * jvm artifact object, the recursion guard) is exercised manually per
  * docs/TODO_r11.md §3; these pin the pure logic so a refactor can't
  * silently invert a sentinel or mis-parse the heap target.
  */
class BenchRegimeSpec extends AnyFunSuite {

  test("gcDelta keeps the -1 unavailability sentinel coherent") {
    // r10 ADVICE: one failed endpoint must yield -1, never a raw
    // difference that reads as a plausible (even negative) gc figure
    assert(Bench.gcDelta(-1.0, 5.0) == -1.0)
    assert(Bench.gcDelta(5.0, -1.0) == -1.0)
    assert(Bench.gcDelta(-1.0, -1.0) == -1.0)
    assert(Bench.gcDelta(2.0, 5.5) == 3.5)
    assert(Bench.gcDelta(0.0, 0.0) == 0.0)
  }

  test("parseMemBytes: fixed pairs, and malformed input falls back to 8g") {
    // fixed input/output pairs, NOT a re-implementation of the parse
    // (a shared bug would cancel out); the graded crash class is the
    // malformed row — an exported-but-empty SPARK_DRIVER_MEM reaches
    // this parse on the first line of Bench.main
    val g8 = 8L << 30
    assert(Bench.parseMemBytes("8g") == g8)
    assert(Bench.parseMemBytes("8192m") == g8)
    assert(Bench.parseMemBytes("8388608k") == g8)
    assert(Bench.parseMemBytes("100g") == 100L << 30)
    assert(Bench.parseMemBytes("1t") == 1L << 40)
    assert(Bench.parseMemBytes(" 8G ") == g8)
    assert(Bench.parseMemBytes(s"$g8") == g8) // plain byte count
    assert(Bench.parseMemBytes("") == g8)     // exported-but-empty env
    assert(Bench.parseMemBytes("   ") == g8)
    assert(Bench.parseMemBytes("8 gb") == g8)
    assert(Bench.parseMemBytes("lots") == g8)
    assert(Bench.parseMemBytes("-8g") == g8)   // non-positive sizes too
    assert(Bench.parseMemBytes("0") == g8)
    assert(Bench.targetHeapBytes > 0L)
  }

  test("this forked test JVM passes the bench's own regime detector") {
    // JvmRegimeSpec asserts the build.sbt flags and the beans; this
    // closes the loop through the EXACT predicate Bench.main gates
    // re-exec on — if the detector and the flags ever drift apart,
    // the graded run would re-exec even on a correctly-flagged launch
    val (parallel, presized, sized) = Bench.regime()
    assert(parallel, "detector says ParallelGC beans did not win")
    assert(presized, "detector says heap is not pre-sized")
    assert(sized, "detector says heap is under the SPARK_DRIVER_MEM target")
  }

  test("young-gen geometry: this forked JVM is in-band, the cap mirrors it") {
    // r12: the r11 graded run passed the detector at an 88 GiB heap
    // whose default ~22g eden burst for seconds per minor GC. The
    // detector now also checks eden. r14: build.sbt pins
    // -XX:MaxNewSize=min(heap/3, 8g/3) on EVERY forked JVM, so this
    // test JVM runs the proven geometry (eden ≈ 2.2g) at ANY exported
    // SPARK_DRIVER_MEM — r13's driver run exported ~88g and the
    // then-uncapped test JVM's ~22g eden failed these asserts. The
    // re-exec young cap must equal that proven geometry (8g/3),
    // never scale past it with a larger SPARK_DRIVER_MEM.
    val eden = Bench.edenMaxBytes
    assert(eden > 0, "eden pool not found on ParallelGC — detection broken")
    assert(eden <= (3L << 30), f"this JVM's eden (${eden / 1e9}%.1f GB) out of band — MaxNewSize pin missing?")
    assert(Bench.youngOk(), "the proven 8g geometry must pass youngOk")
    assert(Bench.youngCapBytes <= (8L << 30) / 3, "young cap exceeds the proven geometry")
    assert(Bench.youngCapBytes > 0)
  }

  test("childClasspath carries Bench's own code source and no empties") {
    val sep = java.io.File.pathSeparator
    val parts = Bench.childClasspath.split(sep).toSeq
    assert(parts.nonEmpty && parts.forall(_.nonEmpty))
    assert(parts.distinct == parts, "duplicate classpath entries")
    val selfDir = java.nio.file.Paths.get(
      Bench.getClass.getProtectionDomain.getCodeSource.getLocation.toURI).toString
    assert(parts.contains(selfDir),
      s"child classpath misses the classes dir that loaded Bench ($selfDir)")
    // r11 ADVICE: the wildcard is appended UNCONDITIONALLY now — the
    // old base.contains("spark") substring gate passed on any path
    // component containing 'spark' even with zero spark jars present
    assert(parts.contains("/opt/spark/jars/*"),
      "child classpath misses the unconditional spark-jars wildcard")
  }

  test("parseMinFile: round-trips the writer's format, degrades total") {
    // the minima floor is load-bearing for regression-vs-weather
    // attribution: a silent parse failure would reset the floor every
    // sweep and sweeps could never reach the >=2 the contract needs.
    // Fixed strings in the EXACT writer format (head, sweeps, queries
    // with %.3f values), plus the malformed classes.
    val (h, n, q) = Bench.parseMinFile(
      """{"head":"91c0f0c87be0","sweeps":3,"queries":{"agg_hash":0.247,"q1_pricing":0.290,"hier_depth":1.811}}""")
    assert(h == "91c0f0c87be0" && n == 3)
    assert(q == Map("agg_hash" -> 0.247, "q1_pricing" -> 0.290, "hier_depth" -> 1.811))
    // the "queries" KEY itself must never appear as a floor entry, and
    // head/sweeps live before the queries object so they never leak in
    assert(!q.contains("queries") && !q.contains("head") && !q.contains("sweeps"))
    // malformed inputs: empty, truncated, not-JSON — empty floor, no throw
    assert(Bench.parseMinFile("") == (("unknown", 0, Map.empty[String, Double])))
    assert(Bench.parseMinFile("""{"head":"abc","sweeps":2,"queri""")._3.isEmpty)
    val garbage = Bench.parseMinFile("not json at all")
    assert(garbage._1 == "unknown" && garbage._2 == 0 && garbage._3.isEmpty)
  }

  test("hostDelta: steal/busy-other arithmetic and every degradation path") {
    // r13 (VERDICT r12 ask #1): this function now also runs PER QUERY,
    // inside each timing window — the channel that makes an in-query
    // contention burst attributable from the artifact alone. Fixed
    // tick arrays in /proc/stat's layout after the "cpu" label is
    // dropped: user nice system idle iowait irq softirq steal ...
    // (100 Hz ticks summed over cores).
    def ticks(user: Long, idle: Long, iowait: Long, steal: Long) =
      Some(Array(user, 0L, 0L, idle, iowait, 0L, 0L, steal, 0L, 0L))
    val z = ticks(0, 0, 0, 0)
    // 10 s user + 20 s idle + 0.5 s steal over the window, 5 s of it
    // mine: steal=0.5, busy_other = 30.5 total - 20 idle - 5 mine = 5.5
    assert(Bench.hostDelta(z, ticks(1000, 2000, 0, 50), 5.0) == ((0.5, 5.5)))
    // iowait counts as idle, never as a competing process
    assert(Bench.hostDelta(z, ticks(1000, 1500, 500, 0), 5.0) == ((0.0, 5.0)))
    // my cpu exceeding the busy ticks (tick-resolution skew on a short
    // window) clamps to 0, never negative
    assert(Bench.hostDelta(z, ticks(100, 0, 0, 0), 99.0) == ((0.0, 0.0)))
    // a -1 process-cpu sentinel must not INFLATE busy_other by +1 s
    assert(Bench.hostDelta(z, ticks(1000, 0, 0, 0), -1.0) == ((0.0, 10.0)))
    // pre-steal-era kernel (short array): steal is -1, busy still real
    val short0 = Some(Array(0L, 0L, 0L, 0L))
    val short1 = Some(Array(1000L, 0L, 0L, 2000L))
    assert(Bench.hostDelta(short0, short1, 5.0) == ((-1.0, 5.0)))
    // unreadable /proc/stat at either endpoint: the (-1,-1) sentinel
    assert(Bench.hostDelta(None, ticks(1, 1, 1, 1), 0.0) == ((-1.0, -1.0)))
    assert(Bench.hostDelta(z, None, 0.0) == ((-1.0, -1.0)))
  }

  test("forwardedJvmArgs strips heap/GC/graft-control/agent flags, keeps the rest") {
    // this forked test JVM runs under build.sbt's -Xms/-Xmx/ParallelGC
    // javaOptions — exactly the flags the re-exec replaces, so none may
    // leak through to the child where they'd fight the pinned ones
    val fwd = Bench.forwardedJvmArgs
    assert(!fwd.exists(_.startsWith("-Xms")), s"-Xms leaked: $fwd")
    assert(!fwd.exists(_.startsWith("-Xmx")), s"-Xmx leaked: $fwd")
    assert(!fwd.exists(a => a.startsWith("-XX:+Use") && a.endsWith("GC")),
      s"collector flag leaked: $fwd")
    assert(!fwd.exists(_.startsWith("-Dgraft.bench.")),
      s"graft control property leaked: $fwd")
    assert(!fwd.exists(a => a.startsWith("-agentlib") ||
      a.startsWith("-agentpath") || a.startsWith("-javaagent")),
      s"agent flag leaked: $fwd")
    // and it FORWARDS: build.sbt passes --add-opens + -D properties to
    // forked JVMs; at least one non-filtered argument must survive
    // (r11 dropped every parent -D except two hardcoded ones)
    assert(fwd.nonEmpty, "expected this forked JVM's launch args to forward")
  }

  test("chunkQueryLines: lossless, cheapest-first, tail-sized lines") {
    // r14 (r13 VERDICT ask #2): the per-query map re-emitted in small
    // chunks so the driver's 2000-char stdout tail recovers the
    // expensive suffix instead of nothing. Lossless union, every line
    // independently parseable and short, cheap qids first.
    val entries = (1 to 189).map(i => (f"qid_$i%03d", i / 100.0))
    val shuffled = scala.util.Random.shuffle(entries)
    val lines = Bench.chunkQueryLines(shuffled)
    assert(lines.size == 12, s"expected ceil(189/16)=12 chunks, got ${lines.size}")
    // every line is well under the tail budget and self-describing
    lines.zipWithIndex.foreach { case (l, i) =>
      assert(l.length < 600, s"chunk $i too long (${l.length}): $l")
      assert(l.startsWith(s"""{"metric":"queries_${i + 1}of12","unit":"sec","queries":{"""))
      assert(l.endsWith("}}"))
    }
    // lossless: parse entries back out of all chunks, compare to input
    val entryRe = """"([^"]+)":([0-9.]+)""".r
    val recovered = lines.flatMap { l =>
      val body = l.substring(l.indexOf(""""queries":{""") + 11, l.length - 2)
      entryRe.findAllMatchIn(body).map(m => m.group(1) -> m.group(2).toDouble)
    }
    assert(recovered.toMap == entries.toMap, "chunk union != input map")
    // cheapest-first: the LAST chunk (nearest EOF, always recovered)
    // carries the most expensive qids
    assert(recovered == recovered.sortBy { case (n, s) => (s, n) },
      "entries not in ascending-cost order across chunks")
    assert(recovered.last._1 == "qid_189")
    // degenerate inputs don't throw
    assert(Bench.chunkQueryLines(Nil).isEmpty)
    assert(Bench.chunkQueryLines(Seq("a" -> 1.0)).size == 1)
  }

  /** Runs `body` under Locale.GERMANY (comma decimals), then restores
    * every default locale category. */
  private def underGermanLocale(body: => Unit): Unit = {
    import java.util.Locale
    import java.util.Locale.Category.{DISPLAY, FORMAT}
    val saved = (Locale.getDefault, Locale.getDefault(DISPLAY), Locale.getDefault(FORMAT))
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(String.format("%.3f", Double.box(1.5)) == "1,500", "the locale did not take")
      body
    } finally {
      Locale.setDefault(saved._1)
      Locale.setDefault(DISPLAY, saved._2)
      Locale.setDefault(FORMAT, saved._3)
    }
  }

  test("chunkQueryLines: '.' decimals under a comma-decimal default locale") {
    underGermanLocale {
      assert(Bench.chunkQueryLines(Seq("a" -> 1.5, "b" -> 0.25)) ==
        Seq("""{"metric":"queries_1of1","unit":"sec","queries":{"b":0.250,"a":1.500}}"""))
    }
  }

  test("num and numMap: '.' decimals under a comma-decimal default locale") {
    val saved = java.util.Locale.getDefault(java.util.Locale.Category.FORMAT)
    underGermanLocale {
      assert(Bench.num(1234.5678, 3) == "1234.568")
      assert(Bench.num(-0.5, 1) == "-0.5")
      assert(Bench.num(2.0, 2) == "2.00")
      assert(Bench.numMap(Seq("q1" -> 0.5, "q2" -> 12.25), 2) == """{"q1":0.50,"q2":12.25}""")
      assert(Bench.numMap(Nil, 3) == "{}")
    }
    assert(java.util.Locale.getDefault(java.util.Locale.Category.FORMAT) == saved,
      "the default locale must be restored")
  }
}
