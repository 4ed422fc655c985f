package kgbench

import graft.model.{GazRow, Mention}
import graft.operators._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame

/** The engine's KG DAG composed from its public layer functions, the same
  * composition as `graft.Pipeline.triples` but over a given turns table:
  * scan → Segmentation → MentionExtractor → Linking → Aggregation →
  * Triples → GraphSink, with Voting as a side branch off the mentions.
  * Every method builds a fresh lazy plan; nothing is cached. */
final class Dag(val turns: DataFrame, gazDf: DataFrame, gazB: Broadcast[Array[GazRow]]) {
  private val spark = turns.sparkSession
  import spark.implicits._

  def segments: DataFrame = Segmentation.segments(turns).toDF()
  def mentions: DataFrame = MentionExtractor.extract(Segmentation.segments(turns), gazB).toDF()
  def linked: DataFrame = Linking.link(mentions, gazDf)
  def turnAgg: DataFrame = Aggregation.perTurn(linked)
  def triples: DataFrame = Triples.all(turnAgg, turns).toDF()
  def voted: DataFrame = Voting.vote(mentions.as[Mention]).toDF()

  /** One build: the triples through the resumable sink into `dir`;
    * returns the buckets committed. */
  def build(dir: String, runId: String): Long = GraphSink.writeResumable(triples, dir, runId)
}
