package graft

import graft.operators.Aggregation
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.ExpandExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

import scala.jdk.CollectionConverters._

/** The round-set support aggregation: `Aggregation.perTurn` against the
  * `countDistinct` formulation it replaced (kept here as the reference),
  * its [0, 63] domain guard, and the one-exchange plan it buys. */
class AggregationSpec extends GraftSuite with AdaptiveSparkPlanHelper {

  /** The replaced formulation of A1+A2, verbatim but for the round count. */
  private def perTurnCountDistinct(mentions: DataFrame): DataFrame =
    mentions.groupBy(col("conv_id"), col("turn_idx"), col("source"), col("code"))
      .agg(
        count(lit(1)).as("total_count"),
        countDistinct(col("try_index")).as("unique_count"),
        min(struct(col("try_index"), col("start"), col("cui"),
          col("concept_name"), col("surface"))).as("rep"),
        min(col("icd10_code")).as("icd10_code"),
        min(col("icd10_name")).as("icd10_name"))
      .select(col("conv_id"), col("turn_idx"), col("source"), col("code"),
        col("rep.cui").as("cui"),
        col("rep.concept_name").as("concept_name"),
        col("rep.surface").as("text"),
        col("total_count"), col("unique_count"),
        (col("unique_count") / lit(Aggregation.TotalRetry.toDouble)).as("confidence"),
        col("icd10_code"), col("icd10_name"))

  /** The linked-mention columns `perTurn` reads. */
  private val schema = StructType(Seq(
    StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
    StructField("source", StringType), StructField("code", StringType),
    StructField("try_index", IntegerType), StructField("start", IntegerType),
    StructField("cui", StringType), StructField("concept_name", StringType),
    StructField("surface", StringType), StructField("icd10_code", StringType),
    StructField("icd10_name", StringType)))

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def optOf[T](g: Gen[T]): Gen[Option[T]] =
    Gen.frequency(5 -> g.map(Some(_)), 1 -> Gen.const(None))

  /** One mention of group (conv, turn, source, code) in round `round`
    * (None = null try_index), with random payload columns. */
  private def mentionGen(conv: String, turn: Int, source: String, code: String,
      round: Option[Int]): Gen[Row] =
    for {
      start <- Gen.choose(0, 40)
      cui <- Gen.oneOf("C1", "C2", "C3")
      name <- optOf(Gen.oneOf("alpha", "beta"))
      surface <- Gen.oneOf("a", "b", "c")
      icd <- optOf(Gen.oneOf("A1", "B2"))
      icdName <- optOf(Gen.oneOf("icd a", "icd b"))
    } yield Row(conv, turn, source, code, round.map(Int.box).orNull, start, cui,
      name.orNull, surface, icd.orNull, icdName.orNull)

  /** A group holding every round of `rounds` 1-3 times (duplicates) plus
    * 0-2 null-round rows (at least one when `rounds` is empty). */
  private def groupGen(conv: String, turn: Int, source: String, code: String,
      rounds: Seq[Int]): Gen[Seq[Row]] =
    for {
      copies <- Gen.listOfN(rounds.size, Gen.choose(1, 3))
      nNull <- Gen.choose(if (rounds.isEmpty) 1 else 0, 2)
      keyed = rounds.zip(copies).flatMap { case (r, k) => Seq.fill(k)(Option(r)) } ++
        Seq.fill(nNull)(None)
      rows <- Gen.sequence[Seq[Row], Row](keyed.map(mentionGen(conv, turn, source, code, _)))
    } yield rows

  private val roundGen: Gen[Int] =
    Gen.frequency(8 -> Gen.choose(0, 2), 1 -> Gen.const(63), 1 -> Gen.choose(3, 62))

  /** Every frame holds one "fixed" group per subset of rounds {0, 1, 2}
    * (mask 0 = only null rounds, so all 7 non-empty subsets occur) plus
    * random groups over a small key space, whose rows collide into shared
    * groups. */
  private val frameGen: Gen[Seq[Row]] =
    for {
      fixed <- Gen.sequence[Seq[Seq[Row]], Seq[Row]]((0 until 8).map(m =>
        groupGen("fixed", m, "SRC", "X", (0 until 3).filter(b => (m >> b & 1) == 1))))
      nRandom <- Gen.choose(0, 12)
      random <- Gen.listOfN(nRandom, for {
        conv <- Gen.oneOf("c0", "c1")
        turn <- Gen.choose(0, 2)
        source <- Gen.oneOf("SNOMED", "RXNORM")
        code <- Gen.oneOf("k0", "k1", "k2")
        rounds <- Gen.choose(0, 4).flatMap(Gen.listOfN(_, roundGen)).map(_.distinct)
        rows <- groupGen(conv, turn, source, code, rounds)
      } yield rows)
    } yield (fixed ++ random).flatten

  test("round-set perTurn == countDistinct perTurn on random frames (duplicates, " +
      "null rounds, all 7 non-empty round subsets): same schema, both ways with exceptAll") {
    val prop = Prop.forAll(frameGen) { rows =>
      val df = frame(rows)
      val got = Aggregation.perTurn(df)
      val want = perTurnCountDistinct(df)
      val fixedUnique = got.filter(col("conv_id") === "fixed")
        .select("turn_idx", "unique_count").collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      ((got.schema == want.schema) :| s"schema ${got.schema} vs ${want.schema}") &&
        (got.exceptAll(want).isEmpty :| "rows only in round-set result") &&
        (want.exceptAll(got).isEmpty :| "rows only in countDistinct result") &&
        ((fixedUnique == (0 until 8).map(m => m -> Integer.bitCount(m).toLong).toMap) :|
          s"per-subset unique_count $fixedUnique")
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15)
      .withInitialSeed(Seed(42L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("a try_index outside [0, 63] raises an error that names the value") {
    Seq(64, -1).foreach { bad =>
      val df = frame(Seq(
        Row("c", 0, "S", "X", 0, 1, "C1", "n", "s", null, null),
        Row("c", 0, "S", "X", bad, 2, "C1", "n", "s", null, null)))
      val e = intercept[Exception](Aggregation.perTurn(df).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString("\n")
      assert(msgs.contains(s"try_index outside the round-set domain [0, 63]: $bad"), msgs)
    }
  }

  test("perTurn over an unbucketed linked frame plans one shuffle exchange " +
      "and no distinct-aggregate Expand") {
    val cfg = Pipeline.Config(nConvs = 15, nBase = 48)
    val dir = java.nio.file.Files.createTempDirectory("graft_linked_plain")
    try {
      Pipeline.linked(spark, cfg,
        Pipeline.mentions(spark, cfg, Pipeline.turns(spark, cfg).toDF()))
        .write.mode("overwrite").parquet(dir.toString)
      val agg = Aggregation.perTurn(spark.read.parquet(dir.toString))
      assert(graft.util.PlanOps.executedShuffleExchanges(agg) === 1)
      val expands = collectWithSubqueries(agg.queryExecution.executedPlan) {
        case e: ExpandExec => e
      }
      assert(expands.isEmpty, agg.queryExecution.executedPlan.toString)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }
}
