package kgbench

import java.nio.file.{Files, Path, Paths}

import graft.model.GazRow
import graft.operators.{GraphSink, MentionExtractor}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Entry point of one benchmark run:
  *
  *   kgbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *
  * Generates the workload's inputs from the seed under DIR, sets the
  * engine up, measures for S seconds, checks the outputs and writes
  * DIR/result.json (metrics, checks, graph statistics) and DIR/spans.json.
  * Spark logs go to stderr; stdout carries one progress line per phase. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, cores: Int)

  /** A workload's shape: the turns generated, and whether they arrive as a
    * stream of files or as one table. Both use the engine's
    * `Gazetteer.rows(192)` (about 1.1k alias rows). */
  final case class Workload(name: String, turns: Int, stream: Boolean)

  val workloads: Map[String, Workload] = Seq(
    Workload("bulk_build", turns = 34000, stream = false),
    Workload("stream_ingest", turns = 32000, stream = true),
  ).map(w => w.name -> w).toMap

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    val run = new Run(a, w)
    val ok = try { run.execute(); true } catch {
      case t: Throwable =>
        t.printStackTrace()
        run.check("run_completed", ok = false, t.toString)
        false
    } finally run.stop()
    Files.writeString(Paths.get(a.work, "spans.json"), run.spans.json)
    Files.writeString(Paths.get(a.work, "result.json"), run.resultJson(ok))
    println(s"[kgbench] wrote ${a.work}/result.json")
    System.exit(0)
  }

  /** Per-predicate counts, an order-independent checksum over
    * (subj, pred, obj, confidence), and the qualifier-invariant violations. */
  final case class GraphStats(perPred: Map[String, Long], checksum: String,
      badConfidence: Long, badUnique: Long) {
    def rows: Long = perPred.values.sum
  }


  // ---- small numeric helpers ---------------------------------------------

  /** Linear-interpolated quantile (the "inclusive" definition). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of nothing")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
}

/** State of one run: session, inputs, metrics, checks and spans. */
final class Run(val a: Main.Args, val w: Main.Workload) {
  import Main._

  val spans = new Spans
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failedOps = 0L

  var spark: SparkSession = _
  var gazB: Broadcast[Array[GazRow]] = _
  var gazDf: DataFrame = _

  def dir(name: String): String = Paths.get(a.work, name).toString

  def check(name: String, ok: Boolean, detail: String = ""): Boolean = {
    checks += ((name, ok, detail))
    if (!ok) println(s"[kgbench] CHECK FAILED $name $detail")
    ok
  }

  def log(msg: String): Unit = println(f"[kgbench] ${spans.nowMs / 1000}%7.1fs $msg")

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("kgbench")
      .withExtensions(new graft.functions.GraftExtensions)
      // the engine's own bench session settings (graft.Bench), sized to
      // this host's cores
      .config("spark.sql.shuffle.partitions", a.cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.shuffle.file.buffer", "256k")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** Drop everything a previous operation left cached, like graft.Bench. */
  def clearCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  // ---- inputs --------------------------------------------------------------

  val surfaces: Vector[String] = graft.sources.Gazetteer.plantableSurfaces(192)

  val corpus: Corpus = Gen.corpus(a.seed, w.turns)
  lazy val expected: Gen.Counts = Gen.counts(corpus)
  private val warmCorpus = Gen.corpus(a.seed ^ 0x5eedL, 800)

  /** Write the gazetteer and warm-up tables (and, for batch workloads, the
    * turns table) as parquet. Not part of set-up or of any timed operation. */
  def generate(): Unit = {
    val s = spark
    import s.implicits._
    graft.sources.Gazetteer.rows(192).toDF().repartition(a.cores).write.mode(SaveMode.Overwrite).parquet(dir("gaz"))
    Gen.turns(s, warmCorpus, surfaces, a.cores)
      .write.mode(SaveMode.Overwrite).parquet(dir("warm"))
    if (!w.stream)
      Gen.turns(s, corpus, surfaces, a.cores * 4)
        .write.mode(SaveMode.Overwrite).parquet(dir("input"))
  }

  /** Set-up, repeated: a fresh session, the gazetteer read and broadcast,
    * the two automatons extraction builds, and a warm-up run of the DAG
    * over a small table into the `noop` sink. Returns the median seconds. */
  def setup(reps: Int): Double = {
    val parts = mutable.ArrayBuffer.empty[Seq[Double]]
    val times = (1 to reps).map { r =>
      stop()
      val (_, sec) = timed {
        spans(s"setup-$r", "setup") { sid =>
          def part[A](name: String)(body: => A): (A, Double) =
            timed(spans(s"setup-$r", name, sid)(_ => body))
          val (_, tSession) = part("session") { spark = session() }
          val s = spark
          import s.implicits._
          val (arr, tGaz) = part("gazetteer") {
            gazDf = spark.read.parquet(dir("gaz"))
            val arr = gazDf.as[GazRow].collect()
            gazB = spark.sparkContext.broadcast(arr)
            arr
          }
          val (_, tAutomaton) = part("automaton") {
            MentionExtractor.buildVariant(arr, 0)
            MentionExtractor.buildVariant(arr, 2)
          }
          val (_, tWarm) = part("warm-up") {
            dag(dir("warm")).triples.write.format("noop").mode("overwrite").save()
            clearCaches()
          }
          parts += Seq(tSession, tGaz, tAutomaton, tWarm)
        }
      }
      sec
    }
    info("setup_runs_s") = times
    info("setup_parts_s") = parts.toSeq
    log(s"setup runs ${times.map(x => f"$x%.2f").mkString(" ")}; session/gazetteer/automaton/warm-up " +
      parts.map(_.map(x => f"$x%.2f").mkString("/")).mkString(" "))
    median(times)
  }

  def dag(turnsPath: String): Dag = new Dag(spark.read.parquet(turnsPath), gazDf, gazB)

  // ---- result --------------------------------------------------------------

  def resultJson(ok: Boolean): String = {
    val failedChecks = checks.count(!_._2)
    val correct = ok && failedChecks == 0
    info("spark_version") = org.apache.spark.SPARK_VERSION
    info("nproc") = a.cores
    info("seed") = a.seed
    Json.obj(
      "correct" -> correct,
      "attempted" -> math.max(attempted, 1L),
      "failed" -> math.min(math.max(attempted, 1L), failedOps + failedChecks),
      "metrics" -> (if (a.trace) layer else e2e),
      "checks" -> checks.map { case (n, o, d) => Map("name" -> n, "ok" -> o, "detail" -> d) },
      "info" -> info)
  }

  def execute(): Unit = {
    val (_, sessionSec) = timed { spark = session() }
    val (_, genSec) = timed(generate())
    info("input_gen_s") = genSec
    log(f"first session in $sessionSec%.1f s, generated inputs in $genSec%.1f s")
    val setupSec = setup(3)
    e2e("setup_s") = setupSec
    log(f"setup_s=$setupSec%.3f")
    if (w.stream) new StreamRun(this).run() else new BatchRun(this).run()
    memory()
    layer("jvm.gc_s") = gcSeconds()
    layer("input.gen_s") = genSec
  }

  /** Memory the run used, not what the JVM reserved: the heap is fixed
    * and pre-touched, so the resident set always holds all of it. Heap
    * use is the peak used bytes of the heap pools (each pool's peak, so
    * the young pools count as the most they held between collections);
    * off-heap is the peak resident set minus the committed heap. */
  def memory(): Unit = {
    import java.lang.management.{ManagementFactory, MemoryType}
    import scala.jdk.CollectionConverters._
    val mb = 1024.0 * 1024.0
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    val peaks = pools.map(p => p.getName -> p.getPeakUsage.getUsed / mb).toMap
    val committed = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / mb
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    info("heap_pool_peak_mb") = peaks
    info("heap_committed_mb") = committed
    info("vm_hwm_mb") = hwm
    layer("jvm.heap_peak_mb") = peaks.values.sum
    layer("jvm.old_gen_peak_mb") = peaks.collect { case (n, v) if n.contains("Old") => v }.sum
    layer("jvm.offheap_peak_mb") = hwm - committed
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1000.0
  }

  // ---- shared output checks -----------------------------------------------

  def graphStats(triples: DataFrame): GraphStats = {
    val thirds = col("pred").isin("mentions", "asserts")
    val rows = triples.groupBy("pred").agg(
      count(lit(1)).as("n"),
      sum(xxhash64(col("subj"), col("pred"), col("obj"), col("confidence"))
        .cast("decimal(38,0)")).as("h"),
      sum(when(thirds && col("confidence") =!= col("unique_count") / lit(3.0), 1)
        .when(!thirds && col("confidence") =!= lit(1.0), 1).otherwise(0)).as("bad_conf"),
      sum(when(col("unique_count") > least(lit(3), col("total_count")) ||
        col("unique_count") < lit(1), 1).otherwise(0)).as("bad_unique"))
      .collect()
    GraphStats(
      rows.map(r => r.getString(0) -> r.getLong(1)).toMap,
      rows.map(_.getDecimal(2)).foldLeft(java.math.BigDecimal.ZERO)(_ add _).toPlainString,
      rows.map(_.getLong(3)).sum, rows.map(_.getLong(4)).sum)
  }

  /** Checks that hold for any seed, on a finished triples table of the
    * whole generated input. */
  def checkGraph(tag: String, st: GraphStats, exp: Gen.Counts): Unit = {
    def n(p: String) = st.perPred.getOrElse(p, 0L)
    check(s"$tag.uses_tool", n("uses_tool") == exp.withTool,
      s"got ${n("uses_tool")} want ${exp.withTool}")
    check(s"$tag.replies_to", n("replies_to") == exp.turns - exp.convs,
      s"got ${n("replies_to")} want ${exp.turns - exp.convs}")
    check(s"$tag.confidence", st.badConfidence == 0, s"${st.badConfidence} rows")
    check(s"$tag.unique_count", st.badUnique == 0, s"${st.badUnique} rows")
    check(s"$tag.mentions_nonempty", n("mentions") > 0 && n("asserts") > 0,
      s"mentions ${n("mentions")} asserts ${n("asserts")}")
  }

  /** Manifest Σ triple_count equals the rows read back. */
  def checkManifest(tag: String, sinkDir: String, rows: Long): Unit = {
    val m = GraphSink.readManifest(spark, sinkDir)
      .agg(coalesce(sum(col("triple_count")), lit(0L))).head().getLong(0)
    check(s"$tag.manifest_sum", m == rows, s"manifest $m rows $rows")
  }

  /** A second `writeResumable` on a finished sink commits no bucket. Its
    * input is the sink's own triples, so the check costs a read, not a
    * rebuild. */
  def checkResume(tag: String, sinkDir: String): Unit = {
    val again = GraphSink.writeResumable(GraphSink.readTriples(spark, sinkDir).drop("bucket"),
      sinkDir, "resume")
    check(s"$tag.resume_writes_nothing", again == 0L, s"$again buckets rewritten")
  }

  def statsInfo(st: GraphStats): Map[String, Any] =
    Map("per_pred" -> st.perPred, "checksum" -> st.checksum, "rows" -> st.rows)
}
