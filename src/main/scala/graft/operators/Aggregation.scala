package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Support aggregation (SURVEY.md §2.4 A1-A3; reference `app.py:972-1004`,
  * `app.py:1570-1586`):
  *
  *   A1 per (turn, source, code): count = occurrences across all rounds,
  *      unique = distinct rounds that found it, "first" fields = the
  *      earliest (try_index, start) occurrence — pinned ordering where the
  *      reference relied on dict insertion order;
  *   A2 confidence = unique / 3 (`app.py:1004`);
  *   A3 per (conv, source, code): counts summed across turns, unique/
  *      confidence merged by max (deviation from the reference's
  *      "keep first paragraph's confidence", pinned here as the monotone
  *      merge — documented + tested).
  *
  * Each is ONE partial/final aggregate pair over one exchange (none over a
  * stage table bucketed by `conv_id`) — Spark's map-side partial agg IS
  * the reference's two-level dict merge. Both are
  * planned as SortAggregates, not HashAggregates: the `min(struct)` and
  * `min(string)` buffers are not fixed-width.
  *
  * "Distinct rounds" is [[distinctRounds]], a fixed-domain set: each group
  * ORs one bit per round (`1L << try_index`) and counts the set bits. A
  * `countDistinct` would make Spark plan an `Expand` plus a second full
  * shuffle keyed on `try_index` (4 aggregates, 2 exchanges); the bitmask
  * is an ordinary mergeable buffer. Its domain is `try_index` ∈ [0, 63],
  * one bit of a bigint per round; a value outside it raises an error
  * rather than wrapping (the JVM masks shift counts to 6 bits).
  */
object Aggregation {

  /** Ensemble rounds per turn (the reference's `total_retry`). */
  val TotalRetry = 3

  private val MaxRound = 63

  /** Aggregate: the number of distinct non-null `tryIndex` values in the
    * group, as a non-null bigint (0 when every value is null) — the same
    * result as `countDistinct(tryIndex)`. */
  def distinctRounds(tryIndex: Column): Column = {
    val bit = when(tryIndex.between(0, MaxRound),
        call_function("shiftleft", lit(1L), tryIndex))
      .when(tryIndex.isNotNull, raise_error(concat(
        lit(s"try_index outside the round-set domain [0, $MaxRound]: "),
        tryIndex.cast("string"))))
    coalesce(bit_count(bit_or(bit)), lit(0)).cast("long")
  }

  /** linked mentions -> per-turn concept support (A1+A2). */
  def perTurn(mentions: DataFrame): DataFrame = {
    mentions.groupBy(col("conv_id"), col("turn_idx"), col("source"), col("code"))
      .agg(
        count(lit(1)).as("total_count"),
        distinctRounds(col("try_index")).as("unique_count"),
        min(struct(col("try_index"), col("start"), col("cui"),
          col("concept_name"), col("surface"))).as("rep"),
        min(col("icd10_code")).as("icd10_code"),
        min(col("icd10_name")).as("icd10_name"))
      .select(col("conv_id"), col("turn_idx"), col("source"), col("code"),
        col("rep.cui").as("cui"),
        col("rep.concept_name").as("concept_name"),
        col("rep.surface").as("text"),
        col("total_count"), col("unique_count"),
        (col("unique_count") / lit(TotalRetry.toDouble)).as("confidence"),
        col("icd10_code"), col("icd10_name"))
  }

  /** per-turn -> per-conversation merge (A3). */
  def perConv(turnAgg: DataFrame): DataFrame = {
    turnAgg.groupBy(col("conv_id"), col("source"), col("code"))
      .agg(
        sum(col("total_count")).as("total_count"),
        max(col("unique_count")).as("unique_count"),
        min(struct(col("turn_idx"), col("cui"), col("concept_name"),
          col("text"))).as("rep"),
        min(col("icd10_code")).as("icd10_code"),
        min(col("icd10_name")).as("icd10_name"))
      .select(col("conv_id"), col("source"), col("code"),
        col("rep.cui").as("cui"),
        col("rep.concept_name").as("concept_name"),
        col("rep.text").as("text"),
        col("total_count"), col("unique_count"),
        (col("unique_count") / lit(TotalRetry.toDouble)).as("confidence"),
        col("icd10_code"), col("icd10_name"))
  }
}
