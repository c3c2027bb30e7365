package graft.etl

import graft.ops.{Op, OpGroup, Relational}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pipeline operators: the composed three-phase ETL (stage → DWH → QA)
  * registered as oracle-checked queries. The DuckDB oracle mirrors the
  * whole pipeline as one shared CTE chain ([[PipelineSql.prefix]]), so
  * every registered query is `prefix + SELECT … FROM <cte>`.
  */
object Pipeline extends OpGroup {

  override val ops: Seq[Op] = Seq(
    Op("pipe_stage_concepts",
      (s, dir) => Stage.materialized(s, dir)("dim_concepts"),
      Some(PipelineSql.q("SELECT * FROM dim_concepts")),
      "Stage_area.sql:76-113 concept dim: 3-source union + Unknown member"),
    Op("pipe_stage_provider",
      (s, dir) => Stage.materialized(s, dir)("dim_provider"),
      Some(PipelineSql.q("SELECT * FROM dim_provider")),
      "Stage_area.sql:56-70 provider dim with ROW_NUMBER surrogate"),
    Op("pipe_stage_fact",
      (s, dir) => Stage.factEnriched(s, dir),
      Some(PipelineSql.q("SELECT * FROM fact_stage")),
      "Stage_area.sql:153-283 fact: 3-source union + M2-M5 enrichment"),
    Op("pipe_stage_dim_date",
      (s, dir) => Stage.dimDate(s, dir),
      Some(PipelineSql.q("SELECT * FROM dim_date")),
      "Stage_area.sql:119-127,289-301 dim_date fill from fact"),
    Op("pipe_dwh_fact",
      (s, dir) => Dwh.materialized(s, dir)("fact"),
      Some(PipelineSql.q("SELECT * FROM fact_dwh")),
      "DWH.sql:98-118,150-177 fact dedup + orphan deletes in FK order"),
    Op("s_layer_roundtrip",
      (s, dir) => {
        // Write stage layer → read the files back → aggregate over them;
        // the oracle recomputes from raw tables, so a green hash proves
        // the materialization path end-to-end (S3/S4/S5 + S1).
        val fact = Stage.materialized(s, dir)("fact")
        import org.apache.spark.sql.functions._
        fact.groupBy(col("source_type"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("event_key")).as("min_key"),
            max(col("event_key")).as("max_key"),
            countDistinct(col("patient_id")).as("n_patients"))
      },
      Some(PipelineSql.q(
        """SELECT source_type, COUNT(*) AS n_rows, MIN(event_key) AS min_key,
          |       MAX(event_key) AS max_key,
          |       COUNT(DISTINCT patient_id) AS n_patients
          |FROM fact_stage GROUP BY source_type""".stripMargin)),
      "stage layer write -> file read -> aggregate: materialization roundtrip"),
    Op("pipe_dwh_agg",
      (s, dir) => Dwh.materialized(s, dir)("agg_disorders_per_admission"),
      Some(PipelineSql.q("SELECT * FROM dwh_agg")),
      "DWH.sql:203-210 pre-aggregation over the cleaned fact"),
    Op("pipe_qa_report",
      (s, dir) => Qa.report(s, dir),
      Some(PipelineSql.qaReportSql),
      "QA.sql four reconciliation families as one report"),
    Op("s_warehouse_sql",
      (s, dir) => {
        // The switch path, end-to-end: register every layer as views and
        // run a reference-style cross-layer analytic through spark.sql —
        // no programmatic API. COUNT(CASE …) not SUM: DuckDB widens
        // SUM(int) to HUGEINT, COUNT is BIGINT in both engines.
        graft.sources.Warehouse.registerWarehouse(s, dir)
        s.sql(
          """SELECT d.year, f.source_type,
            |       COUNT(*) AS n_events,
            |       COUNT(DISTINCT f.patient_id) AS n_patients,
            |       COUNT(CASE WHEN d.is_weekend THEN 1 END) AS weekend_events
            |FROM dwh_fact f
            |JOIN dwh_dim_date d ON f.event_datetime = d.date_id
            |GROUP BY d.year, f.source_type""".stripMargin)
      },
      // plain q, NOT qMat (measured at sf0.1: 2.6 s plain vs 5.2 s
      // materialized — this select's two end-of-chain references are
      // cheaper recomputed than the full chain is forced)
      Some(PipelineSql.q(
        """SELECT d.year, f.source_type,
          |       COUNT(*) AS n_events,
          |       COUNT(DISTINCT f.patient_id) AS n_patients,
          |       COUNT(CASE WHEN d.is_weekend THEN 1 END) AS weekend_events
          |FROM fact_dwh f
          |JOIN dim_date d ON f.event_datetime = d.date_id
          |GROUP BY d.year, f.source_type""".stripMargin)),
      "registerWarehouse views: cross-layer SQL (dwh fact x date dim rollup)"))
}

/** DuckDB mirror of the full pipeline. Window orderings carry explicit
  * NULLS LAST (Spark defaults NULLS FIRST, DuckDB NULLS LAST); surrogate
  * row_numbers are cast to INT to match Spark's IntegerType.
  */
object PipelineSql {

  private val lo = Stage.loTs
  private val hi = Stage.hiTs

  private val omrLike = Stage.omrTerms
    .map(t => s"lower(event_type) LIKE '%$t%'").mkString(" OR ")

  val prefix: String =
    s"""WITH
       |concepts_lab AS (${Relational.conceptSubquerySql}),
       |concepts_dx AS (
       |  SELECT DISTINCT o_orderpriority AS code, o_orderpriority AS concept_name,
       |         'Diagnosis' AS concept_type FROM orders),
       |omr_filtered AS (
       |  SELECT *,
       |    CASE WHEN regexp_matches(regexp_extract(props, '"k": ([0-9]+(\\.[0-9]+)?)', 1), '^[0-9]+(\\.[0-9]+)?$$')
       |         THEN CAST(regexp_extract(props, '"k": ([0-9]+(\\.[0-9]+)?)', 1) AS DECIMAL(10,2)) END AS result_value_numeric
       |  FROM events WHERE $omrLike),
       |concepts_omr AS (
       |  SELECT DISTINCT upper(event_type) AS code, upper(event_type) AS concept_name,
       |         'OMR' AS concept_type FROM omr_filtered),
       |concepts_all3 AS (
       |  SELECT * FROM concepts_lab UNION ALL SELECT * FROM concepts_dx
       |  UNION ALL SELECT * FROM concepts_omr),
       |dim_concepts AS (
       |  SELECT * FROM concepts_all3
       |  UNION ALL
       |  SELECT 'UNK' AS code, 'Unknown concept' AS concept_name, 'NA' AS concept_type
       |  WHERE NOT EXISTS (SELECT 1 FROM concepts_all3 WHERE code = 'UNK')),
       |dim_patients AS (${Relational.projectRenameSql}),
       |dim_admissions AS (${Relational.sentinelConformSql}),
       |dim_provider AS (
       |  SELECT event_id AS provider_id, user_id AS patient_id, ts AS intime,
       |         ts + INTERVAL 2 DAY AS outtime,
       |         CAST(ROW_NUMBER() OVER (ORDER BY event_id ASC) AS INT) AS provider_key
       |  FROM events WHERE event_type = 'purchase'),
       |fact_lab AS (
       |  SELECT o.o_custkey AS patient_id, l.l_orderkey AS admission_id,
       |         c.code AS concept_code, l.l_shipdate AS event_datetime,
       |         CAST(CAST(l.l_quantity AS DECIMAL(12,2)) AS VARCHAR) AS measurement_value,
       |         'qty' AS measurement_unit, 'lab' AS source_type
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  LEFT JOIN concepts_lab c
       |    ON CAST(l.l_partkey AS VARCHAR) = c.code AND c.concept_type = 'Lab'
       |  WHERE o.o_custkey IS NOT NULL AND l.l_orderkey IS NOT NULL),
       |fact_dx AS (
       |  SELECT o.o_custkey AS patient_id, o.o_orderkey AS admission_id,
       |         d.code AS concept_code,
       |         COALESCE(o.o_orderdate, TIMESTAMP '$lo') AS event_datetime,
       |         CAST(NULL AS VARCHAR) AS measurement_value,
       |         CAST(NULL AS VARCHAR) AS measurement_unit,
       |         'diagnosis' AS source_type
       |  FROM orders o LEFT JOIN concepts_dx d ON o.o_orderpriority = d.code
       |  WHERE o.o_custkey IS NOT NULL AND o.o_orderkey IS NOT NULL),
       |fact_omr AS (
       |  SELECT m.user_id AS patient_id, CAST(NULL AS BIGINT) AS admission_id,
       |         c.code AS concept_code, m.ts AS event_datetime,
       |         CAST(m.result_value_numeric AS VARCHAR) AS measurement_value,
       |         CAST(NULL AS VARCHAR) AS measurement_unit, 'omr' AS source_type
       |  FROM omr_filtered m
       |  LEFT JOIN dim_concepts c
       |    ON trim(lower(m.event_type)) = trim(lower(c.concept_name))
       |  WHERE m.user_id IS NOT NULL),
       |fact_raw AS (
       |  SELECT *, CAST(patient_id * 1000000000 + ROW_NUMBER() OVER (
       |    PARTITION BY patient_id ORDER BY
       |    source_type ASC NULLS LAST, admission_id ASC NULLS LAST,
       |    event_datetime ASC NULLS LAST, concept_code ASC NULLS LAST,
       |    measurement_value ASC NULLS LAST) AS BIGINT) AS event_key
       |  FROM (SELECT * FROM fact_lab UNION ALL SELECT * FROM fact_dx
       |        UNION ALL SELECT * FROM fact_omr) u),
       |fact_m2 AS (
       |  SELECT event_key, patient_id, admission_id,
       |         COALESCE(concept_code, 'UNK') AS concept_code, event_datetime,
       |         measurement_value, measurement_unit, source_type
       |  FROM fact_raw),
       |cu_windows AS (
       |  SELECT user_id AS w_user, ts AS intime, ts + INTERVAL 3 DAY AS outtime,
       |         CAST(event_id % 4 AS VARCHAR) AS w_careunit, event_id AS w_id
       |  FROM events WHERE event_type = 'signup'),
       |fact_m3 AS (
       |  SELECT event_key, patient_id, admission_id, concept_code, event_datetime,
       |         measurement_value, measurement_unit, source_type,
       |         w_careunit AS careunit
       |  FROM (SELECT f.*, w.w_careunit,
       |          ROW_NUMBER() OVER (PARTITION BY f.event_key
       |            ORDER BY w.intime ASC NULLS LAST, w.w_id ASC NULLS LAST) AS rn
       |        FROM fact_m2 f LEFT JOIN cu_windows w
       |          ON f.patient_id = w.w_user
       |         AND f.event_datetime BETWEEN w.intime AND w.outtime) t
       |  WHERE rn = 1),
       |pv_windows AS (
       |  SELECT user_id AS w_user, ts AS intime, ts + INTERVAL 2 DAY AS outtime,
       |         event_id AS w_provider
       |  FROM events WHERE event_type = 'purchase'),
       |fact_m4 AS (
       |  SELECT event_key, patient_id, admission_id, concept_code, event_datetime,
       |         measurement_value, measurement_unit, source_type, careunit,
       |         w_provider AS provider_id
       |  FROM (SELECT f.*, w.w_provider,
       |          ROW_NUMBER() OVER (PARTITION BY f.event_key
       |            ORDER BY w.intime ASC NULLS LAST, w.w_provider ASC NULLS LAST) AS rn
       |        FROM fact_m3 f LEFT JOIN pv_windows w
       |          ON f.patient_id = w.w_user
       |         AND f.event_datetime BETWEEN w.intime AND w.outtime) t
       |  WHERE rn = 1),
       |dim_junk AS (
       |  SELECT source_type AS j_source_type, measurement_unit AS j_unit,
       |         careunit AS j_careunit,
       |         CAST(ROW_NUMBER() OVER (ORDER BY source_type ASC NULLS LAST,
       |           measurement_unit ASC NULLS LAST, careunit ASC NULLS LAST) AS INT) AS junk_id
       |  FROM (SELECT DISTINCT source_type, measurement_unit, careunit FROM fact_m4) d),
       |fact_stage AS (
       |  SELECT f.event_key, f.patient_id, f.admission_id, f.concept_code,
       |         f.event_datetime, f.measurement_value, f.measurement_unit,
       |         f.source_type, f.careunit, f.provider_id, j.junk_id
       |  FROM fact_m4 f LEFT JOIN dim_junk j
       |    ON f.source_type IS NOT DISTINCT FROM j.j_source_type
       |   AND f.measurement_unit IS NOT DISTINCT FROM j.j_unit
       |   AND f.careunit IS NOT DISTINCT FROM j.j_careunit),
       |dim_junk_named AS (
       |  SELECT j_source_type AS source_type, j_unit AS measurement_unit,
       |         j_careunit AS careunit, junk_id FROM dim_junk),
       |dim_date AS (
       |  SELECT date_id, CAST(year(date_id) AS INT) AS year,
       |         CAST(month(date_id) AS INT) AS month,
       |         CAST(isodow(date_id) AS INT) AS day_of_week,
       |         dayname(date_id) AS day_name, monthname(date_id) AS month_name,
       |         dayofweek(date_id) IN (0, 6) AS is_weekend
       |  FROM (SELECT DISTINCT event_datetime AS date_id FROM fact_stage) d),
       |fact_dwh AS (
       |  SELECT * FROM (
       |    SELECT DISTINCT patient_id, admission_id, concept_code, event_datetime,
       |           measurement_value, measurement_unit, source_type, careunit,
       |           provider_id, junk_id
       |    FROM fact_stage) f
       |  WHERE EXISTS (SELECT 1 FROM dim_patients p WHERE p.patient_id = f.patient_id)
       |    AND (admission_id IS NULL OR EXISTS
       |          (SELECT 1 FROM dim_admissions a WHERE a.admission_id = f.admission_id))
       |    AND (concept_code IS NULL OR EXISTS
       |          (SELECT 1 FROM dim_concepts c WHERE c.code = f.concept_code))
       |    AND (event_datetime IS NULL OR EXISTS
       |          (SELECT 1 FROM dim_date d WHERE d.date_id = f.event_datetime))
       |    AND (junk_id IS NULL OR EXISTS
       |          (SELECT 1 FROM dim_junk_named j WHERE j.junk_id = f.junk_id))
       |    AND (provider_id IS NULL OR EXISTS
       |          (SELECT 1 FROM dim_provider pv WHERE pv.provider_id = f.provider_id))),
       |dwh_agg AS (
       |  SELECT admission_id, COUNT(*) AS total_events,
       |         COUNT(DISTINCT concept_code) AS unique_concepts,
       |         COUNT(DISTINCT source_type) AS different_sources
       |  FROM fact_dwh GROUP BY admission_id)
       |""".stripMargin

  def q(select: String): String = prefix + select

  /** [[prefix]] with every CTE pinned MATERIALIZED — for consumers that
    * reference (nearly) the whole chain MANY times, like the QA report
    * (fact_dwh ×8, fact_stage ×3, each dim 4-6×): DuckDB inlines plain
    * CTEs per reference, so the un-pinned QA oracle recomputed the
    * entire staged pipeline per check row (measured at sf0.1: 84-212 s
    * plain — the dominant cost of the whole oracle pass — vs 7.8 s
    * pinned, identical rows). NOT the default: DuckDB evaluates even
    * UNREFERENCED materialized CTEs (measured), so a cheap consumer
    * that reads one dim would pay the whole chain under this prefix.
    */
  val prefixMat: String = {
    // Anchored on line-start CTE heads only (every CTE in [[prefix]]
    // opens at column 0 after stripMargin): a nested " AS (" inside a
    // body — a future WINDOW clause ("w AS ("), a string literal —
    // must stay untouched or the SQL silently breaks at oracle time.
    // Full identifier alphabet (not just lowercase): a mixed-case CTE
    // head must be rewritten — or fail the residual require below —
    // rather than silently staying lazy and re-paying the chain per
    // reference (the measured 84 s QA-oracle regression).
    val head = "(?m)^([A-Za-z_][A-Za-z_0-9]* AS) \\(".r
    val out = head.replaceAllIn(prefix, "$1 MATERIALIZED (")
    require(out.contains("concepts_lab AS MATERIALIZED (") &&
      out.contains("dwh_agg AS MATERIALIZED ("),
      "prefixMat: CTE-head anchor no longer matches prefix layout")
    // every head must have been rewritten: a residual match means a
    // CTE dodged the anchor and would quietly re-pay the whole chain
    // per reference in the QA oracle (the measured 84 s regression)
    require(head.findFirstIn(out).isEmpty,
      "prefixMat: a CTE head escaped the MATERIALIZED rewrite")
    out
  }

  val qaReportSql: String = {
    val parityTables = Seq("dim_patients", "dim_admissions", "dim_provider",
      "dim_concepts", "dim_junk_named", "dim_date")
    val parity = parityTables.map { t =>
      val name = if (t == "dim_junk_named") "parity_dim_junk" else s"parity_$t"
      s"""SELECT '$name' AS check_name,
         |  (SELECT COUNT(*) FROM $t) AS lhs,
         |  (SELECT COUNT(*) FROM (SELECT DISTINCT * FROM $t) d) AS rhs""".stripMargin
    } :+
      s"""SELECT 'parity_fact' AS check_name,
         |  (SELECT COUNT(*) FROM fact_stage) AS lhs,
         |  (SELECT COUNT(*) FROM fact_dwh) AS rhs""".stripMargin
    val factVsAgg =
      s"""SELECT 'fact_vs_agg' AS check_name,
         |  (SELECT COUNT(*) FROM fact_dwh) AS lhs,
         |  (SELECT CAST(SUM(total_events) AS BIGINT) FROM dwh_agg) AS rhs""".stripMargin
    val orphanChecks = Seq(
      ("orphans_patients", "patient_id", "dim_patients", "patient_id"),
      ("orphans_admissions", "admission_id", "dim_admissions", "admission_id"),
      ("orphans_concepts", "concept_code", "dim_concepts", "code"),
      ("orphans_dates", "event_datetime", "dim_date", "date_id"),
      ("orphans_junk", "junk_id", "dim_junk_named", "junk_id"))
    val orphans = orphanChecks.map { case (name, key, dim, dimKey) =>
      s"""SELECT '$name' AS check_name,
         |  (SELECT COUNT(*) FROM fact_dwh f WHERE f.$key IS NOT NULL
         |     AND NOT EXISTS (SELECT 1 FROM $dim d WHERE d.$dimKey = f.$key)) AS lhs,
         |  CAST(0 AS BIGINT) AS rhs""".stripMargin
    }
    val dupChecks = Seq(
      ("dups_patients", "dim_patients", "patient_id"),
      ("dups_admissions", "dim_admissions", "admission_id"),
      ("dups_provider", "dim_provider", "provider_id"),
      ("dups_concepts", "dim_concepts", "code"),
      ("dups_date", "dim_date", "date_id"))
    // Family 4 counts dup keys over the DEDUPED dim (the DWH dims are
    // dedup copies, DWH.sql:23-93) — mirror Qa.dimStats, which computes
    // "> 1 DISTINCT rows per key", not "> 1 raw rows per key".
    val dups = dupChecks.map { case (name, dim, key) =>
      s"""SELECT '$name' AS check_name,
         |  (SELECT COUNT(*) FROM (SELECT $key FROM (SELECT DISTINCT * FROM $dim) dd
         |     GROUP BY $key HAVING COUNT(*) > 1) g) AS lhs,
         |  CAST(0 AS BIGINT) AS rhs""".stripMargin
    }
    val body = (parity :+ factVsAgg) ++ orphans ++ dups
    // prefixMat: the QA body references every chain member 4-8 times —
    // see the prefixMat scaladoc for the measured 84 s → 7.8 s pin
    prefixMat +
      "SELECT check_name, lhs, rhs, lhs - rhs AS diff FROM (\n" +
      body.mkString("\nUNION ALL\n") + "\n) checks"
  }
}
