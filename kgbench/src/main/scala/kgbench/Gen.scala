package kgbench

import java.sql.Timestamp

import graft.model.Turn
import graft.sources.SynthTranscripts.{roleOf, toolOf, turnText}
import graft.util.DetHash.{h, mix, pos}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generation. Every value is a pure function of
  * (seed, conversation, turn), so the same seed yields the same tables at
  * any parallelism. The engine only ever sees the generated tables.
  *
  * A corpus is sized by its number of turns, not of conversations, so that
  * every seed gives the same amount of work. Conversation 0 is a
  * mega-conversation of 5% of the turns; the others hold 2..39 turns.
  * Turns are one second apart and conversations one day apart, so a file
  * of whole conversations cut in conversation order is also in event-time
  * order.
  */
final case class Corpus(seed: Long, nConvs: Int, megaTurns: Int) {
  def convSize(c: Long): Int = if (c == 0L) megaTurns else Gen.minorSize(seed, c)
}

object Gen {

  private val baseEpochMs = 1700000000000L

  final case class Counts(turns: Long, convs: Long, withTool: Long)

  private def key(seed: Long, c: Long): Long = h(mix(seed), c)

  def minorSize(seed: Long, c: Long): Int = 2 + pos(h(key(seed, c), 9L), 38)

  /** The smallest corpus of at least `turns` turns for this seed. */
  def corpus(seed: Long, turns: Int): Corpus = {
    val mega = turns / 20
    var n = 1
    var total = mega.toLong
    while (total < turns) { total += minorSize(seed, n.toLong); n += 1 }
    Corpus(seed, n, mega)
  }

  def convId(c: Long): String = graft.sources.SynthTranscripts.convId(c)

  def turn(seed: Long, c: Long, t: Int, surfaces: Vector[String]): Turn = {
    val k = key(seed, c)
    val role = roleOf(k, t)
    Turn(convId(c), t, role, turnText(k, t, surfaces), toolOf(k, t, role),
      new Timestamp(baseEpochMs + c * 86400000L + t * 1000L))
  }

  /** Expected table totals, computed outside Spark from the generator's
    * own functions (the output checks' reference). */
  def counts(cp: Corpus): Counts = {
    var turns = 0L; var withTool = 0L
    (0 until cp.nConvs).foreach { c =>
      val k = key(cp.seed, c.toLong)
      val n = cp.convSize(c.toLong)
      turns += n
      var t = 0
      while (t < n) { if (toolOf(k, t, roleOf(k, t)).isDefined) withTool += 1; t += 1 }
    }
    Counts(turns, cp.nConvs.toLong, withTool)
  }

  /** The corpus's turns, synthesized in parallel: conversations are cut into
    * blocks of 256 turns that are spread over partitions, so the
    * mega-conversation does not pin one task. */
  def turns(spark: SparkSession, cp: Corpus, surfaces: Vector[String], parts: Int): DataFrame = {
    import spark.implicits._
    val blocks = (0 until cp.nConvs).flatMap { c =>
      val n = cp.convSize(c.toLong)
      (0 until n by 256).map(t0 => (c.toLong, t0, math.min(t0 + 256, n)))
    }
    val seed = cp.seed
    spark.sparkContext.parallelize(blocks, parts)
      .flatMap { case (c, t0, t1) => (t0 until t1).iterator.map(t => turn(seed, c, t, surfaces)) }
      .toDF()
  }
}
