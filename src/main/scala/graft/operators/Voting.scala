package graft.operators

import graft.model.{Mention, VotedMention}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Ensemble voting by span-overlap clustering (SURVEY.md §2.3 J3 + §2.11 C1;
  * reference `src/algorithms/voting.py:11-133`): mentions from the 3 ensemble
  * rounds whose spans overlap with IoU ≥ `iouThreshold` form clusters
  * (connected components of the IoU relation); a cluster survives when
  * ≥ `voteThreshold` of the rounds support it; the winning concept is the
  * acc-weighted mode; the emitted span is the cluster extent.
  *
  * Two physical strategies, identical semantics (cross-checked in tests):
  *
  *  - [[vote]] (default): spans only ever overlap WITHIN one turn, so the
  *    cluster graphs are millions of independent, tiny (≤ turn mention
  *    count) components. One shuffle by (conv_id, turn_idx) + a local
  *    sweep-line union-find per group is the cheapest possible plan —
  *    the reference's `bisect` window (`voting.py:55-57`) is the same
  *    pruning, single-node.
  *  - [[voteDistributed]]: generic IoU self-join + iterative-DataFrame
  *    connected components — the shape that also handles cross-row edge
  *    relations (used by alias canonicalization, see [[Canonicalize]]).
  */
object Voting {

  /** F4 IoU as a pure column expression (`voting.py:1-9`). */
  def iouExpr(aS: String, aE: String, bS: String, bE: String) = {
    val inter = greatest(lit(0), least(col(aE), col(bE)) - greatest(col(aS), col(bS)))
    val uni = greatest(col(aE), col(bE)) - least(col(aS), col(bS))
    when(uni > 0, inter.cast("double") / uni.cast("double")).otherwise(lit(0.0))
  }

  private def conceptKey(source: String, code: String) = source + ":" + code

  /** Local per-turn clustering + voting (sweep-line over start-sorted spans,
    * union-find, then in-cluster vote). Deterministic: input sorted by all
    * fields before any tie can matter. */
  def vote(mentions: Dataset[Mention], iouThreshold: Double = 0.3,
      voteThreshold: Double = 0.5): Dataset[VotedMention] = {
    import mentions.sparkSession.implicits._
    mentions
      .groupByKey(m => (m.conv_id, m.turn_idx))
      .flatMapGroups { (key: (String, Int), it: Iterator[Mention]) =>
        val (conv, turn) = key
        val ms = it.toArray.sortBy(m => (m.start, m.end, m.try_index, m.source, m.code))
        val n = ms.length
        val parent = Array.tabulate(n)(identity)
        def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); var c = x; while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }; r }
        def union(a: Int, b: Int): Unit = { val ra = find(a); val rb = find(b); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
        var i = 0
        while (i < n) {
          var j = i + 1
          while (j < n && ms(j).start <= ms(i).end) {
            val inter = math.max(0, math.min(ms(i).end, ms(j).end) - math.max(ms(i).start, ms(j).start))
            val uni = math.max(ms(i).end, ms(j).end) - math.min(ms(i).start, ms(j).start)
            if (uni > 0 && inter.toDouble / uni >= iouThreshold) union(i, j)
            j += 1
          }
          i += 1
        }
        val clusters = (0 until n).groupBy(find)
        clusters.toSeq.sortBy(_._1).iterator.flatMap { case (_, idxs) =>
          val cm = idxs.map(ms)
          val support = cm.map(_.try_index).distinct.size.toDouble / Aggregation.TotalRetry
          if (support >= voteThreshold) {
            val votes = mutable.LinkedHashMap.empty[String, Double]
            cm.foreach { m => val k = conceptKey(m.source, m.code); votes.update(k, votes.getOrElse(k, 0.0) + m.acc) }
            // round vote sums so float association order can never flip a
            // winner between the local and distributed strategies
            val winner = votes.toSeq
              .minBy { case (k, v) => (-math.rint(v * 1e6), k) }._1
            val rep = cm.filter(m => conceptKey(m.source, m.code) == winner)
              .minBy(m => (m.try_index, m.start, m.cui))
            Some(VotedMention(conv, turn, cm.map(_.start).min, cm.map(_.end).max,
              rep.cui, rep.source, rep.code, rep.concept_name, support))
          } else None
        }
      }
  }

  /** Mention key column (deterministic; F3 — never uuid4). */
  private def keyCols(df: DataFrame) =
    xxhash64(col("conv_id"), col("turn_idx"), col("try_index"),
      col("start"), col("end"), col("source"), col("code"))

  /** IoU edge table for the generic path (J3 range self-join, pruned by the
    * (conv_id, turn_idx) equi-key so AQE/partitioning bound the blowup). */
  def iouEdges(mentions: DataFrame, iouThreshold: Double): DataFrame = {
    val a = mentions.withColumn("k", keyCols(mentions))
      .select(col("conv_id"), col("turn_idx"),
        col("start").as("aS"), col("end").as("aE"), col("k").as("src"))
    val b = mentions.withColumn("k", keyCols(mentions))
      .select(col("conv_id"), col("turn_idx"),
        col("start").as("bS"), col("end").as("bE"), col("k").as("dst"))
    a.join(b, Seq("conv_id", "turn_idx"))
      .filter(col("src") < col("dst"))
      .filter(col("aS") <= col("bE") && col("bS") <= col("aE"))
      .filter(iouExpr("aS", "aE", "bS", "bE") >= lit(iouThreshold))
      .select(col("src"), col("dst"))
  }

  /** Generic path: IoU edges (+ self-loops for isolated mentions) ->
    * iterative-DataFrame connected components -> DataFrame cluster vote. */
  def voteDistributed(mentions: Dataset[Mention], iouThreshold: Double = 0.3,
      voteThreshold: Double = 0.5): DataFrame = {
    val df = mentions.toDF()
    val withK = df.withColumn("k", keyCols(df))
    val edges = iouEdges(df, iouThreshold)
      .union(withK.select(col("k").as("src"), col("k").as("dst")))
    val comp = ConnectedComponents.run(edges)
    val m = withK.join(comp, withK("k") === comp("id")).drop("id")

    val support = m.groupBy("conv_id", "turn_idx", "comp")
      .agg((Aggregation.distinctRounds(col("try_index")) /
          lit(Aggregation.TotalRetry.toDouble)).as("support"),
        min(col("start")).as("c_start"), max(col("end")).as("c_end"))
      .filter(col("support") >= lit(voteThreshold))

    val votes = m.groupBy(col("conv_id"), col("turn_idx"), col("comp"),
        col("source"), col("code"))
      .agg(round(sum(col("acc")), 6).as("vote"),
        min(struct(col("try_index"), col("start"), col("cui"),
          col("concept_name"))).as("rep"))
    val wWin = Window.partitionBy("conv_id", "turn_idx", "comp")
      .orderBy(col("vote").desc, concat_ws(":", col("source"), col("code")).asc)
    val winners = votes.withColumn("rn", row_number().over(wWin))
      .filter(col("rn") === 1)
      .select(col("conv_id"), col("turn_idx"), col("comp"), col("source"),
        col("code"), col("rep.cui").as("cui"),
        col("rep.concept_name").as("concept_name"))

    support.join(winners, Seq("conv_id", "turn_idx", "comp"))
      .select(col("conv_id"), col("turn_idx"),
        col("c_start").as("start"), col("c_end").as("end"),
        col("cui"), col("source"), col("code"), col("concept_name"),
        col("support"))
  }
}
