package kgbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant

import graft.model.Turn
import graft.streaming.StreamingTriples
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import scala.collection.mutable

/** `stream_ingest`: the generated conversations are cut, in conversation
  * (hence event-time) order, into JSON-lines files of whole conversations
  * of about 500 turns. One thread moves them into the source directory on
  * a fixed open-loop schedule spread over the measuring time; the query is
  * `StreamingTriples.start` with its default watermark and a file source
  * without `maxFilesPerTrigger`, so each micro-batch takes whatever has
  * arrived. A file's freshness runs from its scheduled arrival to the end
  * of the micro-batch whose sink commit holds it. */
object StreamRun {
  final case class Ingest(freshMs: Seq[Double], turnsPerS: Double, triggers: Seq[Trigger],
      dataBatches: Seq[Trigger], fileBatch: IndexedSeq[Long], sched: IndexedSeq[Long],
      actual: IndexedSeq[Long])
}

final class StreamRun(r: Run) {
  import Main._
  import StreamRun._
  import r.{a, spark}

  private val turnsPerFile = 500
  private val staging = r.dir("staging")
  private val src = r.dir("src")
  private val sink = r.dir("sink")

  val schema: StructType = StructType(Seq(
    StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
    StructField("role", StringType), StructField("text", StringType),
    StructField("tool", StringType), StructField("ts", TimestampType)))

  /** Conversation ranges [c0, c1) of each file, in order. */
  lazy val files: IndexedSeq[(Int, Int)] = {
    val out = mutable.ArrayBuffer.empty[(Int, Int)]
    var c0 = 0; var n = 0
    val nConvs = r.corpus.nConvs
    (0 until nConvs).foreach { c =>
      n += r.corpus.convSize(c.toLong)
      if (n >= turnsPerFile || c == nConvs - 1) { out += ((c0, c + 1)); c0 = c + 1; n = 0 }
    }
    out.toIndexedSeq
  }

  private def fileName(i: Int) = f"turns-$i%05d.json"

  private def jsonLine(t: Turn): String = Json.obj(
    "conv_id" -> t.conv_id, "turn_idx" -> t.turn_idx, "role" -> t.role, "text" -> t.text,
    "tool" -> t.tool, "ts" -> Instant.ofEpochMilli(t.ts.getTime).toString)

  /** Write every file into the staging directory (input generation). */
  def writeFiles(): Unit = {
    Files.createDirectories(Paths.get(staging))
    files.zipWithIndex.foreach { case ((c0, c1), i) =>
      val sb = new java.lang.StringBuilder
      (c0 until c1).foreach { c =>
        (0 until r.corpus.convSize(c.toLong)).foreach { t =>
          sb.append(jsonLine(Gen.turn(a.seed, c.toLong, t, r.surfaces))).append('\n')
        }
      }
      Files.write(Paths.get(staging, fileName(i)), sb.toString.getBytes(StandardCharsets.UTF_8))
    }
  }

  private def readJson(path: String): DataFrame = spark.read.schema(schema).json(path)

  private var commits = 0

  /** Seconds of one direct `commitBatch` of a static file into a fresh sink. */
  private def commitOne(file: String): Double = {
    commits += 1
    val d = r.dir(s"commit-$commits")
    r.clearCaches()
    val (_, sec) = r.timed(r.spans(s"commit-$commits", "StreamingTriples.commitBatch") { _ =>
      StreamingTriples.commitBatch(r.gazB.value, r.gazDf, d)(readJson(file), 0L)
    })
    deleteTree(Paths.get(d))
    sec
  }

  def run(): Unit = {
    val (_, genSec) = r.timed(writeFiles())
    r.info("stream_files_gen_s") = genSec
    // untimed direct commits of one file: the JVM's compiled code keeps
    // speeding the micro-batch path up for a while after a fresh start
    val ws = (1 to 2).map(_ => commitOne(Paths.get(staging, fileName(1)).toString))
    r.info("warm_up_commit_s") = ws
    val stats = if (a.trace) Some(new JobStats) else None
    stats.foreach(spark.sparkContext.addSparkListener)
    val res = try ingest() finally stats.foreach { s =>
      s.drain(spark); spark.sparkContext.removeSparkListener(s)
    }
    r.e2e("turns_per_s") = res.turnsPerS
    r.e2e("freshness_p50_ms") = median(res.freshMs)
    r.e2e("freshness_p80_ms") = quantile(res.freshMs, 0.8)
    r.info("freshness_ms") = res.freshMs
    r.info("triggers") = res.triggers.map(t => Map("batch" -> t.batchId, "start_ms" -> t.startMs,
      "rows" -> t.inputRows, "duration_ms" -> t.durationMs))
    r.info("files") = files.length
    r.info("turns") = r.expected.turns
    log(f"freshness p50 ${median(res.freshMs)}%.0f ms p80 ${quantile(res.freshMs, 0.8)}%.0f ms over ${files.length} files, ${res.dataBatches.length} data batches")
    if (a.trace) {
      val jobs = stats.get.jobsPerBatch
      streamingLayerMetrics(res, b => Option(jobs.get(b)).map(_.toDouble).getOrElse(0.0))
      tracedStatic()
    }
    checks()
  }

  private def log(s: String): Unit = r.log(s)

  private def ingest(): Ingest = {
    Files.createDirectories(Paths.get(src))
    val progress = new Progress
    spark.streams.addListener(progress)
    val n = files.length
    val intervalMs = a.seconds * 1000.0 / n
    val sched = new Array[Long](n)
    val actual = new Array[Long](n)
    val q = StreamingTriples.start(spark.readStream.schema(schema).json(src),
      r.gazB.value, r.gazDf, sink, r.dir("ckpt"))
    try {
      r.attempted += n
      // let the query finish its first (empty) trigger before the clock starts
      Thread.sleep(1000)
      val t0 = System.currentTimeMillis() + 200
      (0 until n).foreach(i => sched(i) = t0 + math.round(i * intervalMs))
      val mover = new Thread(() => {
        (0 until n).foreach { i =>
          val wait = sched(i) - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          Files.move(Paths.get(staging, fileName(i)), Paths.get(src, fileName(i)),
            StandardCopyOption.ATOMIC_MOVE)
          actual(i) = System.currentTimeMillis()
        }
      }, "kgbench-arrivals")
      mover.setDaemon(true)
      mover.start()
      mover.join()
      val deadline = System.currentTimeMillis() + 90000
      while (progress.inputRows < r.expected.turns && System.currentTimeMillis() < deadline &&
          q.exception.isEmpty)
        Thread.sleep(20)
      q.exception.foreach(e => throw e)
      r.check("stream.all_rows_ingested", progress.inputRows == r.expected.turns,
        s"${progress.inputRows} of ${r.expected.turns} rows")
    } finally {
      q.stop()
      spark.streams.removeListener(progress)
    }
    val byConv = StreamingTriples.readTriples(spark, sink).select("conv_id", "batch_id")
      .distinct().collect().map(x => x.getString(0) -> x.getAs[Number](1).longValue).toMap
    val fileBatch = files.map { case (c0, c1) =>
      val bs = (c0 until c1).map(c => byConv.getOrElse(Gen.convId(c.toLong), -1L)).distinct
      if (bs.length != 1 || bs.head < 0) -1L else bs.head
    }
    val bad = fileBatch.count(_ < 0)
    r.check("stream.files_committed_whole", bad == 0, s"$bad files not in exactly one batch")
    r.failedOps += bad
    val triggers = progress.triggers
    val batchEnd = triggers.filter(_.ranBatch).map(t => t.batchId -> t.endMs).toMap
    val fresh = fileBatch.indices.flatMap { i =>
      batchEnd.get(fileBatch(i)).map(e => (e - sched(i)).toDouble)
    }
    val lastEnd = fileBatch.flatMap(batchEnd.get).max
    val offset = System.currentTimeMillis() - r.spans.nowMs
    triggers.filter(_.ranBatch).foreach { t =>
      r.spans.add(s"batch-${t.batchId}", "StreamingTriples.trigger", 0L,
        t.startMs - offset, t.endMs - offset)
    }
    fileBatch.indices.foreach { i =>
      batchEnd.get(fileBatch(i)).foreach { e =>
        val f = r.spans.add(s"file-$i", "freshness", 0L, sched(i) - offset, e - offset)
        r.spans.add(s"file-$i", "arrival", f, sched(i) - offset, actual(i) - offset)
      }
    }
    Ingest(fresh, r.expected.turns / ((lastEnd - sched(0)) / 1000.0), triggers,
      triggers.filter(t => t.ranBatch && t.inputRows > 0), fileBatch, sched.toIndexedSeq,
      actual.toIndexedSeq)
  }

  private def streamingLayerMetrics(res: Ingest, jobs: Long => Double): Unit = {
    val data = res.dataBatches
    Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")
      .foreach { p =>
        r.layer(s"StreamingTriples.trigger.${p}_ms") =
          median(data.map(_.durationMs.getOrElse(p, 0L).toDouble))
      }
    r.layer("StreamingTriples.batches_data") = data.length
    r.layer("StreamingTriples.batches_nodata") =
      res.triggers.count(t => t.ranBatch && t.inputRows == 0)
    val perBatch = res.fileBatch.groupBy(identity).map { case (b, fs) => b -> fs.length }
    r.layer("StreamingTriples.files_per_batch") =
      median(data.map(t => perBatch.getOrElse(t.batchId, 0).toDouble))
    r.layer("StreamingTriples.jobs_per_batch") = median(data.map(t => jobs(t.batchId)))
    r.layer("StreamingTriples.backlog_files_max") = data.map { t =>
      val arrived = res.actual.count(_ <= t.startMs)
      val committed = res.fileBatch.count(b => b >= 0 && b < t.batchId)
      (arrived - committed).toDouble
    }.max
    r.layer("StreamingTriples.generator_late_ms") =
      res.actual.indices.map(i => (res.actual(i) - res.sched(i)).toDouble).max
  }

  /** Traced static pass over one file's turns: tracing overhead and the
    * layer prefixes measured on a single micro-batch worth of input, and a
    * direct `commitBatch` call timed untraced. */
  private def tracedStatic(): Unit = {
    Tracer.automatonBuild(r)
    val one = Paths.get(src, fileName(1)).toString
    def commit(): Double = commitOne(one)
    val t = new Tracer(r, () => readJson(one))
    val untraced = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var rep = 0
    while (rep < 3 || (System.nanoTime() - t0) / 1e9 < a.seconds / 2) {
      t.rep(rep, () => { val s = commit(); untraced += s; s }, () => commit())
      rep += 1
    }
    t.report()
    r.layer("StreamingTriples.commit_batch_ms") = median(untraced.toSeq) * 1000
  }

  private def checks(): Unit = {
    val streamed = StreamingTriples.readTriples(spark, sink)
    val st = r.graphStats(streamed)
    r.info("graph") = r.statsInfo(st)
    r.checkGraph("stream", st, r.expected)
    r.checkManifest("stream", sink, st.rows)
    // the same turns through the batch DAG
    r.clearCaches()
    val ref = r.graphStats(new Dag(readJson(src), r.gazDf, r.gazB).triples)
    r.check("stream.equals_batch.count", st.rows == ref.rows, s"stream ${st.rows} batch ${ref.rows}")
    r.check("stream.equals_batch.checksum", st.checksum == ref.checksum && st.perPred == ref.perPred,
      s"stream ${st.checksum} batch ${ref.checksum}")
  }
}
