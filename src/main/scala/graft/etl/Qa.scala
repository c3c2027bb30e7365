package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** QA phase — QA.sql's four reconciliation families (SURVEY.md §5) as one
  * report DataFrame with schema (check_name, lhs, rhs, diff):
  *  1. row-count parity stage vs DWH ×7 (QA.sql:13-59)
  *  2. fact COUNT(*) vs SUM(agg.total_events) (QA.sql:67-71)
  *  3. orphan counts ×5 on the DWH fact (QA.sql:79-116), expected 0
  *  4. duplicate-PK counts ×5 on DWH dims (QA.sql:124-176), expected 0
  *
  * Scale design: the naive shape — 18 scalar-subquery branches crossed
  * and unioned into one plan (QA.sql's literal structure) — optimizes
  * and schedules ~40 tiny stages per run (measured ~10 s at sf0.1 even
  * with hot caches). Instead each table is scanned ONCE:
  *  - per dim, a single two-level aggregation yields (stage rows,
  *    distinct rows, duplicate keys) — families 1 and 4 in one job;
  *  - the fact gets one pass with 5 broadcast flag-joins (dim keys are
  *    deduped, so no row multiplication) yielding its count and all 5
  *    orphan counts — families 1 and 3 in one job, no fact shuffle;
  *  - family 2 sums the written pre-aggregation table, as QA.sql:67-71
  *    does, so a bad aggregate write shows as a nonzero diff.
  * The 18 scalars then form a local 18-row DataFrame. At 100 TB the
  * cost is a few passes over columnar files instead of ~20.
  */
object Qa {

  /** The report is EAGER (fused scalars collected and assembled locally),
    * so memoize per (session, dir): a caller that merely registers the
    * qa_report view must not re-run the 18 reconciliation jobs. Every
    * family reads the materialized layers (the reference's QA.sql reads
    * the MariaDB tables), so this also end-to-end-verifies the
    * write→read roundtrip.
    */
  def report(s: SparkSession, dir: String): DataFrame =
    graft.ops.Memo.of(s, dir, "qaReport")(
      reportOf(Stage.materialized(s, dir), Dwh.materialized(s, dir)))

  /** The report over a stage and a DWH layer. */
  private[graft] def reportOf(stage: Map[String, DataFrame],
      dwh: Map[String, DataFrame]): DataFrame = {
    val s = stage("fact").sparkSession
    val fact = dwh("fact")

    // Per-dim fused scalars: stage row count (family 1 lhs), distinct row
    // count (family 1 rhs — DWH dims are dedup copies), duplicate-PK-key
    // count over the deduped dim (family 4).
    def dimStats(dim: DataFrame, key: String): (Long, Long, Long) = {
      val byRow = dim.groupBy(dim.columns.map(col): _*)
        .agg(count(lit(1)).as("_rows"))
      val byKey = byRow.groupBy(col(key))
        .agg(sum("_rows").as("_rows"), count(lit(1)).as("_distinct"))
      val r = byKey.agg(
        sum("_rows"), sum("_distinct"),
        sum(when(col("_distinct") > 1, 1L).otherwise(0L))).head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    val dimSpecs = Seq(
      ("dim_patients", "patient_id"),
      ("dim_admissions", "admission_id"),
      ("dim_provider", "provider_id"),
      ("dim_concepts", "code"),
      ("dim_junk", "junk_id"),
      ("dim_date", "date_id"))
    // The per-table scalar jobs run concurrently — Spark's scheduler
    // interleaves small jobs, so wall time ≈ the slowest scalar, not the
    // sum.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration

    val statsF = dimSpecs.map { case (t, key) =>
      Future(t -> dimStats(stage(t), key))
    }
    val factStageCntF = Future(stage("fact").count())
    val factDwhCntF = Future(fact.count())

    // Fact fused pass: COUNT(*) + the 5 orphan counts (J7 anti-join
    // semantics: FK not null and no dim match) via broadcast flag-joins.
    val orphanSpecs = Seq(
      ("orphans_patients", "patient_id", "dim_patients", "patient_id"),
      ("orphans_admissions", "admission_id", "dim_admissions", "admission_id"),
      ("orphans_concepts", "concept_code", "dim_concepts", "code"),
      ("orphans_dates", "event_datetime", "dim_date", "date_id"),
      ("orphans_junk", "junk_id", "dim_junk", "junk_id"))
    // dim_date/dim_junk are distinct-built (and QA's own dup checks assert
    // key uniqueness), so their key sides skip the extra dedup shuffle.
    val preDeduped = Set("dim_date", "dim_junk")
    val flagged = orphanSpecs.zipWithIndex.foldLeft(fact) {
      case (f, ((_, key, dim, dimKey), i)) =>
        // No broadcast hint — AQE decides (see Dwh.factDwh's guard note).
        val keys = stage(dim).select(col(dimKey).as(key))
        f.join(
          (if (preDeduped(dim)) keys else keys.distinct())
            .withColumn(s"_f$i", lit(true)),
          Seq(key), "left")
    }
    val factRow = flagged.agg(
      count(lit(1)),
      orphanSpecs.zipWithIndex.map { case ((_, key, _, _), i) =>
        sum(when(col(key).isNotNull && col(s"_f$i").isNull, 1L).otherwise(0L))
      }: _*)
    val factRowF = Future(factRow.head)
    val aggSumF = Future(dwh("agg_disorders_per_admission")
      .agg(sum(col("total_events"))).head.getLong(0))

    def await[T](f: Future[T]): T = Await.result(f, Duration.Inf)
    val (stats, factStageCnt, factDwhCnt, factRow2, aggSum) =
      try (await(Future.sequence(statsF)).toMap, await(factStageCntF),
        await(factDwhCntF), await(factRowF), await(aggSumF))
      finally pool.shutdown()
    require(factRow2.getLong(0) == factDwhCnt,
      s"fused fact count ${factRow2.getLong(0)} != plain count $factDwhCnt")
    val orphanCnts = orphanSpecs.indices.map(i => factRow2.getLong(i + 1))

    // Assemble the 18-row report (U1 union order preserved from QA.sql).
    val rows =
      dimSpecs.map { case (t, _) =>
        (s"parity_$t", stats(t)._1, stats(t)._2)
      } ++
      Seq(("parity_fact", factStageCnt, factDwhCnt),
          ("fact_vs_agg", factDwhCnt, aggSum)) ++
      orphanSpecs.zipWithIndex.map { case ((name, _, _, _), i) =>
        (name, orphanCnts(i), 0L)
      } ++
      Seq("dups_patients" -> "dim_patients", "dups_admissions" -> "dim_admissions",
          "dups_provider" -> "dim_provider", "dups_concepts" -> "dim_concepts",
          "dups_date" -> "dim_date").map { case (name, t) =>
        (name, stats(t)._3, 0L)
      }

    import s.implicits._
    rows.toDF("check_name", "lhs", "rhs")
      .withColumn("diff", col("lhs") - col("rhs"))
  }
}
