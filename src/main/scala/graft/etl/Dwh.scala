package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DWH phase — DWH.sql semantics (staging → star schema), SURVEY.md §3.2:
  * dedup-copy dims and fact (A2) → orphan deletes in FK order (M6: patients
  * unconditional, the rest guarded) → pre-aggregation CTAS (A1).
  *
  * Scale notes: every orphan filter is a semi-join against a
  * broadcast-sized dim (no shuffle of the fact); the guarded form unions
  * the NULL-FK slice back in, preserving DWH.sql:157's `fk IS NOT NULL
  * AND no-match` delete predicate. The final aggregate is a single
  * hash-agg shuffle on admission_id.
  */
object Dwh {

  /** Dedup + orphan-clean fact (DWH.sql:98-118 + 150-177). The surrogate
    * event_key is dropped before dedup (DWH re-keys on load; the key is
    * not part of row identity).
    *
    * All six FK guards are applied in ONE pass: a left join per dim adds a
    * match flag, then a single conjunctive filter keeps survivors. A naive
    * filter∪semi-join chain would reference the fact twice per guard and
    * blow the plan up 2^6-fold (measured 61 s → ~6 s at sf0.1). Dim keys
    * are unique (QA family 4), so the flag joins add no rows, and every
    * dim is broadcast — the fact never shuffles.
    */
  def factDwh(stage: Map[String, DataFrame]): DataFrame = {
    val deduped = stage("fact").drop("event_key").distinct()
    // (fact FK, dim, dim key, guarded: NULL FK survives — DWH.sql:157)
    val guards = Seq(
      ("patient_id", stage("dim_patients"), "patient_id", false),
      ("admission_id", stage("dim_admissions"), "admission_id", true),
      ("concept_code", stage("dim_concepts"), "code", true),
      ("event_datetime", stage("dim_date"), "date_id", true),
      ("junk_id", stage("dim_junk"), "junk_id", true),
      ("provider_id", stage("dim_provider"), "provider_id", true))
    // No broadcast hint: AQE broadcasts each dim-key side while it fits
    // (always true at bench scale) but may fall back to shuffle joins with
    // injected runtime bloom filters at 100 TB, where dim_date's key side
    // is fact-sized and a forced broadcast would OOM the executors.
    val withFlags = guards.zipWithIndex.foldLeft(deduped) {
      case (f, ((key, dim, dimKey, _), i)) =>
        f.join(
          dim.select(col(dimKey).as(key)).distinct()
            .withColumn(s"_m$i", lit(true)),
          Seq(key), "left")
    }
    val pred = guards.zipWithIndex.map { case ((key, _, _, guarded), i) =>
      if (guarded) col(key).isNull || col(s"_m$i").isNotNull
      else col(s"_m$i").isNotNull
    }.reduce(_ && _)
    withFlags.filter(pred).drop(guards.indices.map(i => s"_m$i"): _*)
  }

  /** agg_disorders_per_admission (DWH.sql:203-210). The NULL admission
    * group (OMR rows) aggregates as its own group — same in DuckDB.
    */
  def aggPerAdmission(fact: DataFrame): DataFrame =
    fact.groupBy(col("admission_id"))
      .agg(count(lit(1)).as("total_events"),
        countDistinct(col("concept_code")).as("unique_concepts"),
        countDistinct(col("source_type")).as("different_sources"))

  /** The DWH tables that do not read the guarded fact (dedup copies of
    * the stage dims, DWH.sql:23-93), plus the fact itself. Given the
    * MATERIALIZED stage layer — the reference's own layered architecture
    * — the DWH plan is file scans + broadcast guards, not a
    * re-derivation of the whole stage build.
    */
  private[graft] def tables(stage: Map[String, DataFrame])
      : Map[String, DataFrame] =
    Seq("dim_patients", "dim_admissions", "dim_provider", "dim_concepts",
      "dim_junk", "dim_date").map(n => n -> stage(n).distinct()).toMap +
      ("fact" -> factDwh(stage))

  /** The DWH tables derived from the guarded fact. */
  private[graft] def derivedTables(fact: DataFrame): Map[String, DataFrame] =
    Map("agg_disorders_per_admission" -> aggPerAdmission(fact))

  /** Full DWH layer as a named map: the uncached in-memory definition
    * ([[materialized]] is the file-backed one).
    */
  def build(s: SparkSession, dir: String): Map[String, DataFrame] = {
    val t = tables(Stage.materialized(s, dir))
    t ++ derivedTables(t("fact"))
  }

  /** DWH layer MATERIALIZED at the DWH→consumer boundary, like the
    * reference's DWH.sql tables: the guarded fact, dedup dims, and the
    * pre-aggregation land in parquet once per (session, dir), and QA /
    * the SQL-view surface / repeated analytics read the files instead of
    * re-running the dedup + six orphan guards per consumer. The fact
    * lands first; the pre-aggregation is then built from its file.
    */
  def materialized(s: SparkSession, dir: String): Map[String, DataFrame] =
    graft.sources.Warehouse.materializedLayer(s, dir, "dwh", derivedTables)(
      tables(Stage.materialized(s, dir)))
}
