package graft

import graft.model.{GazRow, Triple}
import graft.sources.{Gazetteer, SynthTranscripts}

/** Golden end-to-end gate (SURVEY.md §5): an INDEPENDENT driver-side oracle
  * recomputes the whole triple set (naive matcher -> naive linking -> naive
  * aggregation -> triples) and the pipeline must hit P/R >= 0.95 (north
  * rule) — in practice exactly 1.0 since both sides are deterministic. */
object NaiveTripleOracle {

  def rank(tty: String): Int = tty match { case "PT" => 0; case "FN" => 1; case _ => 2 }
  private def rankP(r: GazRow): Int =
    if (r.ispref == "Y" && r.tty == "PT") 0
    else if (r.ispref == "Y" && r.tty == "FN") 1
    else if (r.ispref == "Y") 2 else 3

  def triples(nConvs: Int, nBase: Int): Set[Triple] = {
    val gaz = Gazetteer.rows(nBase)
    val preferred: Map[(String, String), String] = gaz.groupBy(r => (r.cui, r.sab))
      .map { case (k, rs) =>
        val best = rs.minBy(r => (rankP(r), r.code, r.str)); k -> best.str
      }
    val xwalk: Map[String, (String, String)] = gaz.filter(_.sab == "ICD10CM")
      .groupBy(_.cui)
      .map { case (cui, rs) =>
        val best = rs.minBy(r => (rankP(r), r.code, r.str))
        cui -> (best.code, best.str)
      }
    val surfaces = Gazetteer.plantableSurfaces(nBase)

    val out = Set.newBuilder[Triple]
    for (c <- 0L until nConvs.toLong) {
      val size = SynthTranscripts.convSize(c, nConvs)
      val conv = SynthTranscripts.convId(c)
      val turns = (0 until size).map(t => SynthTranscripts.mkTurn(c, t, surfaces))
      val mentions = turns.flatMap(t =>
        NaiveMatcher.mentions(t.conv_id, t.turn_idx, t.text, gaz))
      // linking: preferred name + crosswalk
      val linked = mentions.map { m =>
        m.copy(concept_name = preferred.getOrElse((m.cui, m.source), m.concept_name))
      }
      // A1 per turn
      val turnAgg = linked.groupBy(m => (m.turn_idx, m.source, m.code)).map {
        case ((turn, source, code), ms) =>
          val rep = ms.minBy(m => (m.try_index, m.start, m.cui))
          val unique = ms.map(_.try_index).distinct.size
          val icd = xwalk.get(rep.cui)
          (conv, turn, source, code, rep.cui, rep.concept_name, rep.surface,
            ms.size, unique, unique / 3.0, icd)
      }.toSeq
      turnAgg.foreach { case (cv, turn, source, code, _, _, _, count, uniq, conf, icd) =>
        out += Triple(s"$cv#$turn", "mentions", s"$source:$code", cv, conf,
          uniq, count, icd.map(_._1), icd.map(_._2))
      }
      // asserts: assistant turns, merged per conv
      val roleOf = turns.map(t => t.turn_idx -> t.role).toMap
      turnAgg.filter(x => roleOf(x._2) == "assistant")
        .groupBy(x => (x._3, x._4)).foreach { case ((source, code), xs) =>
          val total = xs.map(_._8).sum
          val uniq = xs.map(_._9).max
          val icd = xs.head._11
          out += Triple(conv, "asserts", s"$source:$code", conv, uniq / 3.0,
            uniq, total, icd.map(_._1), icd.map(_._2))
        }
      // uses_tool + replies_to
      turns.foreach { t =>
        t.tool.foreach(tool =>
          out += Triple(s"$conv#${t.turn_idx}", "uses_tool", tool, conv, 1.0, 1, 1, None, None))
        if (t.turn_idx > 0)
          out += Triple(s"$conv#${t.turn_idx}", "replies_to",
            s"$conv#${t.turn_idx - 1}", conv, 1.0, 1, 1, None, None)
      }
    }
    out.result()
  }
}

class PipelineSpec extends GraftSuite
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  test("end-to-end triples match the independent oracle with P/R >= 0.95") {
    import spark.implicits._
    val cfg = Pipeline.Config(nConvs = 30, nBase = 48)
    val got = Pipeline.triples(spark, cfg).collect().toSet
    val expected = NaiveTripleOracle.triples(cfg.nConvs, cfg.nBase)
    assert(got.nonEmpty && expected.nonEmpty)
    val tp = (got intersect expected).size.toDouble
    val precision = tp / got.size
    val recall = tp / expected.size
    withClue(s"P=$precision R=$recall missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}") {
      assert(precision >= 0.95 && recall >= 0.95)
      // deterministic engine: must actually be exact
      assert(precision === 1.0 && recall === 1.0)
    }
  }

  test("triple output is invariant under input repartitioning") {
    val cfg = Pipeline.Config(nConvs = 15, nBase = 48)
    val t1 = Pipeline.triples(spark, cfg).collect().toSet
    val spark2 = spark
    import spark2.implicits._
    val t = Pipeline.turns(spark, cfg).toDF().repartition(17)
    val m = Pipeline.mentions(spark, cfg, t)
    val l = Pipeline.linked(spark, cfg, m)
    val t2 = graft.operators.Triples.all(graft.operators.Aggregation.perTurn(l), t)
      .collect().toSet
    assert(t1 === t2)
  }

  test("staged (stage-table) pipeline emits exactly the recompute pipeline's triples") {
    val cfg = Pipeline.Config(nConvs = 15, nBase = 48)
    val stage = java.nio.file.Files.createTempDirectory("graft_stage_test")
    val staged = Pipeline.triplesStaged(spark, cfg, stage.toString).collect().toSet
    val recompute = Pipeline.triples(spark, cfg).collect().toSet
    assert(staged === recompute)
    // the stage tables really are the split point: both exist and are read back
    assert(new java.io.File(stage.toFile, "linked").exists())
    assert(new java.io.File(stage.toFile, "turn_agg").exists())
    org.apache.commons.io.FileUtils.deleteQuietly(stage.toFile)
  }

  test("bucketed stage tables delete the read-back shuffle: per-turn agg over " +
      "linked and per-conv merge over turn_agg plan ZERO exchanges") {
    // the SAME traversal the bench artifact ships (graft.util.PlanOps —
    // one definition, so the test assert and staged_readback_exchanges
    // cannot drift)
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      graft.util.PlanOps.executedShuffleExchanges(df)
    val cfg = Pipeline.Config(nConvs = 15, nBase = 48)
    val stage = java.nio.file.Files.createTempDirectory("graft_stage_plan")
    Pipeline.writeLinkedStage(spark, cfg, stage.toString)
    Pipeline.writeTurnAggStage(spark, cfg, stage.toString)
    // phase 2's agg: keys (conv,turn,source,code) ⊇ bucket key conv_id —
    // the bucketed scan's HashPartitioning satisfies the clustering, so
    // the r5 read-back Exchange (a full-data shuffle at 100 TB) is GONE
    val agg = graft.operators.Aggregation.perTurn(
      spark.table(Pipeline.stageTable(stage.toString, "linked")))
    assert(shuffles(agg) === 0)
    // phase 3's per-conv merge over the bucketed turn_agg: same mechanism
    val conv = graft.operators.Aggregation.perConv(
      spark.table(Pipeline.stageTable(stage.toString, "turn_agg")))
    assert(shuffles(conv) === 0)
    org.apache.commons.io.FileUtils.deleteQuietly(stage.toFile)
  }

  test("entry(): staged pipeline through the resumable sink, read back, rows > 0") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.contains("subj") && df.columns.contains("pred"))
  }

  test("confidence semantics: unique/3 with values in {1/3, 2/3, 1}") {
    val cfg = Pipeline.Config(nConvs = 20, nBase = 48)
    val confs = Pipeline.triples(spark, cfg)
      .filter(_.pred == "mentions").collect().map(_.confidence).distinct.sorted
    assert(confs.forall(c => Set(1.0 / 3, 2.0 / 3, 1.0).exists(e => math.abs(c - e) < 1e-9)))
    assert(confs.length >= 2, "expected ensemble disagreement in the corpus")
  }

  test("Triples.all's null filter is a no-op: turnAgg keys are never null and " +
      "the mentions rows are unchanged") {
    import org.apache.spark.sql.functions.col
    val cfg = Pipeline.Config(nConvs = 15, nBase = 48)
    val l = Pipeline.linked(spark, cfg,
      Pipeline.mentions(spark, cfg, Pipeline.turns(spark, cfg).toDF()))
    val turnAgg = graft.operators.Aggregation.perTurn(l)
    assert(turnAgg.filter(col("conv_id").isNull || col("turn_idx").isNull).count() === 0)
    val unfiltered = graft.operators.Triples.mentionsTriples(turnAgg).count()
    val viaAll = graft.operators.Triples
      .all(turnAgg, SynthTranscripts.turnsMeta(spark, cfg.nConvs))
      .filter(_.pred == "mentions").count()
    assert(unfiltered > 0 && viaAll === unfiltered)
  }

  test("Triples.all reuses the extraction→perTurn exchange: the executed plan " +
      "holds a ReusedExchange") {
    val ds = Pipeline.triples(spark, Pipeline.Config(nConvs = 15, nBase = 48))
    ds.collect() // resolve the AQE final plan
    val reused = collectWithSubqueries(ds.queryExecution.executedPlan) {
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
    }
    assert(reused.nonEmpty, ds.queryExecution.executedPlan.toString)
  }
}
