package kgbench

import java.nio.file.{Files, Paths}

import graft.operators.{GraphSink, MentionExtractor}
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The traced pass over one turns table: per repetition, every DAG prefix
  * into the `noop` sink and the real sink write, each in its own job group
  * so that a listener can sum its tasks' CPU, shuffle and spill, then an
  * untraced and a traced unit operation (tracing overhead). A layer's self
  * time is its prefix time minus the previous prefix's. */
final class Tracer(r: Run, turns: () => DataFrame) {
  import Main._
  import r.spark

  private val stats = new JobStats
  private val audit = new PlanAudit
  private val untraced = mutable.ArrayBuffer.empty[Double]
  private val tracedBuilds = mutable.ArrayBuffer.empty[Double]
  /** layer -> per-repetition (seconds, cpu ns, shuffle bytes, spill bytes) */
  private val prefix = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Array[Double]]]
  private val counts = mutable.LinkedHashMap.empty[String, Double]
  private val sinkDir = r.dir("trace-sink")

  val chain: Seq[String] = Seq("scan", "Segmentation", "MentionExtractor", "Linking",
    "Aggregation", "Triples", "GraphSink")

  private def attach(): Unit = {
    spark.sparkContext.addSparkListener(stats)
    spark.listenerManager.register(audit)
  }
  private def detach(): Unit = {
    stats.drain(spark)
    spark.sparkContext.removeSparkListener(stats)
    spark.listenerManager.unregister(audit)
  }

  /** Run `body` as job group `g` and record its wall time and task sums. */
  private def inGroup(g: String, layer: String, traceId: String, parent: Long)(body: => Unit): Unit = {
    r.clearCaches()
    spark.sparkContext.setJobGroup(g, layer)
    val (_, sec) = try r.timed(r.spans(traceId, layer, parent)(_ => body))
      finally spark.sparkContext.clearJobGroup()
    stats.drain(spark)
    val acc = stats.get(g)
    prefix.getOrElseUpdate(layer, mutable.ArrayBuffer.empty) +=
      Array(sec, acc.cpuNs.toDouble, acc.shuffleWrite.toDouble, acc.spill.toDouble)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Count rows of a prefix while it runs into the noop sink. */
  private def countInto(df: DataFrame, key: String, extra: (String, Column)*): Map[String, Long] = {
    val obs = Observation(s"$key-${System.nanoTime()}")
    val cols = count(lit(1)).as("n") +: extra.map { case (n, c) => c.as(n) }
    noop(df.observe(obs, cols.head, cols.tail: _*))
    obs.get.map { case (k, v) => k -> v.asInstanceOf[Number].longValue }
  }

  /** One repetition: the prefix chain, then an untraced and a traced unit
    * operation, back to back so that both see the same state of the JVM. */
  def rep(i: Int, untracedBuild: () => Double, tracedBuild: () => Double): Unit = {
    attach()
    try r.spans(s"prefix-$i", "prefix-chain")(prefixChain(i, _)) finally detach()
    untraced += untracedBuild()
    attach()
    try {
      spark.sparkContext.setJobGroup(s"r$i-build", "build")
      tracedBuilds += (try tracedBuild() finally spark.sparkContext.clearJobGroup())
    } finally detach()
  }

  private def prefixChain(i: Int, parent: Long): Unit = {
    val d = new Dag(turns(), r.gazDf, r.gazB)
    val tr = s"prefix-$i"
    def put(k: String, v: Long): Unit = counts(k) = v.toDouble
    inGroup(s"r$i-scan", "scan", tr, parent) {
      put("scan.rows_out", countInto(d.turns, "scan")("n"))
    }
    inGroup(s"r$i-seg", "Segmentation", tr, parent) {
      put("Segmentation.rows_out", countInto(d.segments, "seg")("n"))
    }
    inGroup(s"r$i-men", "MentionExtractor", tr, parent) {
      val m = countInto(d.mentions, "men",
        (0 to 2).map(t => s"try$t" -> sum(when(col("try_index") === t, 1L).otherwise(0L))): _*)
      put("MentionExtractor.rows_out", m("n"))
      (0 to 2).foreach(t => put(s"MentionExtractor.rows_out.try$t", m(s"try$t")))
    }
    // off the chain: the timed build bypasses Voting
    inGroup(s"r$i-vote", "Voting", tr, parent) {
      put("Voting.rows_out", countInto(d.voted, "vote")("n"))
    }
    inGroup(s"r$i-link", "Linking", tr, parent) {
      val m = countInto(d.linked, "link",
        "xwalk" -> sum(when(col("icd10_code").isNotNull, 1L).otherwise(0L)))
      put("Linking.rows_out", m("n"))
      put("Linking.xwalk_rows", m("xwalk"))
    }
    inGroup(s"r$i-agg", "Aggregation", tr, parent) {
      put("Aggregation.rows_out", countInto(d.turnAgg, "agg")("n"))
    }
    stats.drain(spark)
    audit.clear()
    inGroup(s"r$i-tri", "Triples", tr, parent) {
      val preds = Seq("mentions", "asserts", "uses_tool", "replies_to")
      val m = countInto(d.triples, "tri",
        preds.map(p => p -> sum(when(col("pred") === p, 1L).otherwise(0L))): _*)
      put("Triples.rows_out", m("n"))
      preds.foreach(p => put(s"Triples.rows_out.$p", m(p)))
    }
    counts("Triples.reused_exchanges") = audit.next().toDouble
    deleteTree(Paths.get(sinkDir))
    inGroup(s"r$i-sink", "GraphSink", tr, parent) {
      counts("GraphSink.buckets_committed") =
        GraphSink.writeResumable(d.triples, sinkDir, s"trace-$i").toDouble
    }
    put("GraphSink.rows_out", GraphSink.readManifest(spark, sinkDir)
      .agg(sum(col("triple_count"))).head().getLong(0))
    val files = Files.walk(Paths.get(sinkDir)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
    counts("GraphSink.files_written") = files.length.toDouble
    counts("GraphSink.bytes_written") = files.map(Files.size).sum.toDouble
  }

  /** Median of column `k` of a layer's prefix repetitions. */
  private def med(layer: String, k: Int): Double =
    prefix.get(layer).map(rs => median(rs.map(_(k)).toSeq)).getOrElse(0.0)

  def report(): Unit = {
    val prev = Map("Segmentation" -> "scan", "MentionExtractor" -> "Segmentation",
      "Voting" -> "MentionExtractor", "Linking" -> "MentionExtractor",
      "Aggregation" -> "Linking", "Triples" -> "Aggregation", "GraphSink" -> "Triples")
    val names = Seq("self_s", "cpu_s", "shuffle_write_bytes", "spill_bytes")
    val scale = Seq(1.0, 1e-9, 1.0, 1.0)
    val layers = Seq("scan", "Segmentation", "MentionExtractor", "Linking", "Voting",
      "Aggregation", "Triples", "GraphSink")
    layers.foreach { l =>
      names.indices.foreach { k =>
        val v = if (!prefix.contains(l)) 0.0
          else (med(l, k) - prev.get(l).map(med(_, k)).getOrElse(0.0)) * scale(k)
        r.layer(s"$l.${names(k)}") = v
      }
      r.layer(s"$l.rows_out") = counts.getOrElse(s"$l.rows_out", 0.0)
    }
    (0 to 2).foreach(t => r.layer(s"MentionExtractor.rows_out.try$t") =
      counts.getOrElse(s"MentionExtractor.rows_out.try$t", 0.0))
    def ratio(n: String, d: String) = {
      val den = counts.getOrElse(d, 0.0)
      if (den == 0) 0.0 else counts.getOrElse(n, 0.0) / den
    }
    r.layer("Linking.xwalk_hit_ratio") = ratio("Linking.xwalk_rows", "Linking.rows_out")
    r.layer("Voting.kept_ratio") = ratio("Voting.rows_out", "MentionExtractor.rows_out")
    r.layer("Aggregation.fanin") = ratio("Linking.rows_out", "Aggregation.rows_out")
    Seq("mentions", "asserts", "uses_tool", "replies_to").foreach(p =>
      r.layer(s"Triples.rows_out.$p") = counts.getOrElse(s"Triples.rows_out.$p", 0.0))
    Seq("Triples.reused_exchanges", "GraphSink.bytes_written", "GraphSink.files_written",
      "GraphSink.buckets_committed").foreach(k => r.layer(k) = counts.getOrElse(k, 0.0))
    val tracedE2e = median(tracedBuilds.toSeq)
    val untracedE2e = median(untraced.toSeq)
    // the chain's self times telescope to the GraphSink prefix time, a
    // full sink write with the listeners on; against the untraced unit
    // operation the sum shows the cost of tracing and of the observe nodes
    val selfSum = chain.map(l => r.layer(s"$l.self_s")).sum
    r.layer("trace.overhead_frac") = tracedE2e / untracedE2e - 1.0
    r.layer("trace.e2e_s") = tracedE2e
    r.layer("trace.self_sum_ratio") = selfSum / untracedE2e
    r.info("prefix_runs") = prefix.map { case (l, rs) => l -> rs.map(_.toSeq).toSeq }
    r.info("untraced_s") = untraced.toSeq
    r.info("traced_s") = tracedBuilds.toSeq
  }
}

object Tracer {
  /** Seconds to build the two automatons extraction uses, called directly. */
  def automatonBuild(r: Run): Unit = {
    val arr = r.gazB.value
    val (_, ab0) = r.timed(MentionExtractor.buildVariant(arr, 0))
    val (_, ab2) = r.timed(MentionExtractor.buildVariant(arr, 2))
    r.layer("MentionExtractor.automaton_build_s") = ab0 + ab2
  }

  val streamingMetrics: Seq[String] =
    Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")
      .map(p => s"StreamingTriples.trigger.${p}_ms") ++
    Seq("batches_data", "batches_nodata", "files_per_batch", "jobs_per_batch",
      "commit_batch_ms", "backlog_files_max", "generator_late_ms")
      .map(n => s"StreamingTriples.$n")

  /** Batch workloads run no streaming machinery: its metrics read 0. */
  def zeroStreaming(r: Run): Unit = streamingMetrics.foreach(k => r.layer(k) = 0.0)
}
