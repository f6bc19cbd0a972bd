package graft

import org.scalatest.funsuite.AnyFunSuite

/** Tripwire for the forked-JVM GC regime (docs/DESIGN.md "Bench
  * calibration").
  *
  * The graded bench runs through build.sbt's javaOptions, where the
  * 8g default heap with stock flags (G1, 1/64-of-RAM initial heap)
  * paid a measured +24% wall / +23% process CPU across the whole
  * suite — real CPU the host-weather channels can never flag. The fix
  * is two flags: a pre-sized heap (-Xms = -Xmx) and the throughput
  * collector (-XX:+UseParallelGC). This spec runs in the same forked
  * JVM those javaOptions configure, so if the flags are ever dropped
  * or overridden the suite goes red instead of the tax silently
  * returning in the next round's graded artifact.
  */
class JvmRegimeSpec extends AnyFunSuite {

  private val jvmArgs: Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
  }

  test("heap is pre-sized: -Xms present and equal to -Xmx") {
    val xms = jvmArgs.filter(_.startsWith("-Xms")).map(_.stripPrefix("-Xms"))
    val xmx = jvmArgs.filter(_.startsWith("-Xmx")).map(_.stripPrefix("-Xmx"))
    assert(xms.nonEmpty, s"no -Xms flag in $jvmArgs — heap-growth stalls return")
    assert(xmx.nonEmpty, s"no -Xmx flag in $jvmArgs")
    assert(xms.last == xmx.last,
      s"-Xms (${xms.last}) != -Xmx (${xmx.last}) — heap re-sizes through the sweep")
  }

  test("heap is pre-sized at RUNTIME: MemoryMXBean init ≈ max") {
    // unit-independent cross-check of the flag-string test above (r10
    // ADVICE: -Xms8192m vs -Xmx8g would pass string-equality checks
    // only by luck, and flags prove intent, not what the JVM honored).
    // With -Xms = -Xmx the committed initial heap equals the max; a
    // stock launch on these hosts shows init = 1/64 of RAM ≈ 2g vs
    // max 8g — an order-of-magnitude miss, so a 10% tolerance is safe
    // against collector-reserved slack.
    val h = java.lang.management.ManagementFactory
      .getMemoryMXBean.getHeapMemoryUsage
    assert(h.getInit > 0 && h.getMax > 0,
      s"heap bean unavailable (init=${h.getInit}, max=${h.getMax})")
    assert(h.getInit >= h.getMax - h.getMax / 10,
      s"initial heap ${h.getInit} < 90% of max ${h.getMax} — " +
        "the JVM did not honor a pre-sized heap; growth stalls return")
  }

  test("throughput collector selected: ParallelGC beans active") {
    assert(jvmArgs.contains("-XX:+UseParallelGC"),
      s"-XX:+UseParallelGC missing from $jvmArgs")
    // and the JVM actually honored it (a later -XX:+UseG1GC would win)
    import scala.jdk.CollectionConverters._
    val gcNames = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getName).toSet
    assert(gcNames.exists(_.startsWith("PS ")),
      s"no ParallelGC collector beans (got $gcNames) — another GC won the flag order")
  }
}
