package kgbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed interval. Spans of one build or one arrival share `trace`;
  * `parent` is the id of the enclosing span (0 for a root). */
final case class Span(id: Long, trace: String, name: String, parent: Long,
    startMs: Double, endMs: Double)

/** In-memory span recorder; written out once, when the run ends. */
final class Spans {
  private val t0 = System.nanoTime()
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L

  def nowMs: Double = (System.nanoTime() - t0) / 1e6

  def add(trace: String, name: String, parent: Long, startMs: Double, endMs: Double): Long =
    synchronized { nextId += 1; buf += Span(nextId, trace, name, parent, startMs, endMs); nextId }

  /** Run `body` inside a span; the span id is passed to the body so that
    * nested spans can name it as their parent. */
  def apply[A](trace: String, name: String, parent: Long = 0L)(body: Long => A): A = {
    val id = synchronized { nextId += 1; nextId }
    val s = nowMs
    try body(id)
    finally synchronized { buf += Span(id, trace, name, parent, s, nowMs) }
  }

  def all: Seq[Span] = synchronized(buf.sortBy(_.id).toSeq)

  def json: String = Json.arr(all.map { s =>
    Json.obj("id" -> s.id, "trace" -> s.trace, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs)
  })
}

/** Task CPU, shuffle write and spill summed per job group (the benchmark
  * tags each traced operation with its own group), and jobs counted per
  * streaming batch. */
final class JobStats extends SparkListener {
  final class Acc {
    var cpuNs = 0L; var shuffleWrite = 0L; var spill = 0L
    var jobsEnded = 0
  }
  private val byGroup = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  val jobsPerBatch = new ConcurrentHashMap[Long, Integer]()

  private def acc(g: String): Acc = byGroup.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).foreach { b =>
      jobsPerBatch.merge(b.toLong, 1, (a: Integer, x: Integer) => a + x)
    }
    props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      jobGroup.put(e.jobId, g)
      e.stageIds.foreach(s => stageGroup.put(s, g))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.get(e.jobId)).foreach { g => val a = acc(g); a.synchronized(a.jobsEnded += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (g <- Option(stageGroup.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val a = acc(g)
      a.synchronized {
        a.cpuNs += m.executorCpuTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  def get(g: String): Acc = acc(g)

  /** Block until every event posted before this call has been delivered:
    * a one-task job in a fresh group is the last event in the queue, so
    * seeing its end means everything earlier has been seen. */
  def drain(spark: SparkSession): Unit = {
    val g = s"drain-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(g, "drain")
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    while (acc(g).synchronized(acc(g).jobsEnded) < 1 && System.nanoTime() < deadline)
      Thread.sleep(5)
  }
}

/** Counts exchanges reused inside the executed plans of finished queries. */
final class PlanAudit extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val reused = new java.util.concurrent.LinkedBlockingQueue[Integer]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    reused.put(collectWithSubqueries(qe.executedPlan) { case r: ReusedExchangeExec => r }.size)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def clear(): Unit = reused.clear()

  /** Reused exchanges of the next finished query (waits up to 30 s). */
  def next(): Int = Option(reused.poll(30, java.util.concurrent.TimeUnit.SECONDS))
    .map(_.intValue).getOrElse(-1)
}

/** One finished streaming trigger, as reported by its progress event. */
final case class Trigger(batchId: Long, startMs: Long, durationMs: Map[String, Long],
    inputRows: Long) {
  def endMs: Long = startMs + durationMs.getOrElse("triggerExecution", 0L)
  /** true when the trigger ran a batch (data or watermark-only) */
  def ranBatch: Boolean = durationMs.contains("addBatch")
}

final class Progress extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[Trigger]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    synchronized {
      buf += Trigger(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli, d,
        p.numInputRows)
    }
  }
  def triggers: Seq[Trigger] = synchronized(buf.toSeq)
  def inputRows: Long = synchronized(buf.filter(_.ranBatch).map(_.inputRows).sum)
}
