package kgbench

import java.nio.file.Paths

import graft.operators.GraphSink

import scala.collection.mutable

/** `bulk_build`: a closed loop of fresh builds, each into an empty sink
  * directory, until the measuring time is used up (and at least three). */
final class BatchRun(r: Run) {
  import Main._
  import r.{a, spark}

  private val sink = r.dir("sink")
  private val WarmUpBuilds = 2

  /** One build from a clean slate; returns (buckets committed, seconds).
    * Only the build itself is timed. */
  private def build(id: String): (Long, Double) = {
    deleteTree(Paths.get(sink))
    r.clearCaches()
    r.timed(r.spans(id, "build") { _ => r.dag(r.dir("input")).build(sink, id) })
  }

  /** The manifest of a finished sink as (bucket, count, checksum) triples:
    * equal manifests mean an equal graph, without re-reading it. */
  private def manifest(): Seq[(Long, Long, Long)] =
    GraphSink.readManifest(spark, sink).select("bucket", "triple_count", "checksum")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq.sorted

  def run(): Unit = if (a.trace) traced() else timedLoop()

  /** Untimed builds of the real input before the measured ones: the JVM's
    * compiled code keeps speeding builds up for several builds after a
    * fresh start, and the measured builds should see the steady state. */
  private def warmUp(): Unit = {
    val ws = (1 to WarmUpBuilds).map(i => build(s"warm-up-$i")._2)
    r.info("warm_up_build_s") = ws
    r.log(s"warm-up builds: ${ws.map(x => f"$x%.3f").mkString(" ")}")
  }

  private def timedLoop(): Unit = {
    warmUp()
    val secs = mutable.ArrayBuffer.empty[Double]
    var first: Seq[(Long, Long, Long)] = null
    val t0 = System.nanoTime()
    while (secs.length < 3 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      r.attempted += 1
      val id = s"build-${secs.length}"
      val ok = try {
        val (buckets, sec) = build(id)
        secs += sec
        val m = manifest()
        if (first == null) first = m
        r.check(s"$id.buckets", buckets == m.length && buckets > 0, s"$buckets vs ${m.length}") &&
          r.check(s"$id.same_graph", m == first, "manifest differs from the first build")
      } catch { case e: Exception => e.printStackTrace(); secs += Double.NaN; false }
      if (!ok) r.failedOps += 1
    }
    val good = secs.filterNot(_.isNaN).toSeq
    r.info("build_s") = secs.toSeq
    r.log(s"builds: ${good.map(x => f"$x%.3f").mkString(" ")}")
    r.e2e("turns_per_s") = r.expected.turns / median(good)
    r.e2e("freshness_p50_ms") = median(good) * 1000
    r.e2e("freshness_p80_ms") = quantile(good, 0.8) * 1000
    r.info("turns") = r.expected.turns
    finalChecks()
  }

  /** Output checks on the sink of the last build. */
  private def finalChecks(): Unit = {
    val st = r.graphStats(GraphSink.readTriples(spark, sink))
    r.info("graph") = r.statsInfo(st)
    r.checkGraph("graph", st, r.expected)
    r.checkManifest("graph", sink, st.rows)
    r.checkResume("graph", sink)
  }

  // ---- traced pass -----------------------------------------------------------

  private def traced(): Unit = {
    Tracer.automatonBuild(r)
    warmUp()
    val t = new Tracer(r, () => spark.read.parquet(r.dir("input")))
    val t0 = System.nanoTime()
    var rep = 0
    // at least two repetitions, so that one slow build does not set a
    // layer's self time on its own
    while (rep < 2 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      r.attempted += 1
      t.rep(rep, untracedBuild = () => build(s"untraced-$rep")._2,
        tracedBuild = () => build(s"traced-$rep")._2)
      rep += 1
    }
    t.report()
    finalChecks()
    Tracer.zeroStreaming(r)
  }
}
