package graft.pipeline

import graft.operators.{Analytics, MarketView, Quality, Stars}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's 9-task Airflow DAG as one driver-side runner
  * (reference `dags/financial_pipeline.py:227`, task chain
  * setup_staging → locate_csv → load_staging → quality_checks → dims →
  * fact → volatility_view → report → log_summary).
  *
  * Airflow-isms map to engine primitives: XCom strings become plain return
  * values, PostgresOperator stages become DataFrame writes, TRUNCATE-reload
  * becomes SaveMode.Overwrite, the materialized view becomes a parquet-backed
  * derived table whose "REFRESH" is recomputation, and SQLCheckOperator is a
  * fail-fast `require` on a one-row boolean frame. The fact table is written
  * `partitionBy(ano)` so time-ranged reads prune partitions — the 100 TB
  * layout lever the reference's Postgres heap tables don't have.
  */
final case class PipelineResult(
    stagingRows: Long, factRows: Long, weeklyRows: Long, report: String)

object Pipeline {

  /** End-to-end run: CSV in, warehouse parquet out, executive report back. */
  def run(spark: SparkSession, csvPath: String, warehouse: String,
          expectedRows: Option[Long] = None): PipelineResult = {

    // 1-2. setup_staging + locate_csv: fail fast before touching anything
    Tables.requireExists(csvPath)

    // 3. load_staging: declared schema, truncate-and-reload
    val staging = Tables.readStagingCsv(spark, csvPath)
    Tables.overwrite(staging, s"$warehouse/staging")
    val stagingDf = spark.read.parquet(s"$warehouse/staging")

    // 4. run_data_quality_checks: SQLCheckOperator twin — one row, fail-fast
    val gate = Analytics.qualityGate(stagingDf).head()
    require(gate.getLong(2) == 1L,
      s"quality gate failed: rows=${gate.getLong(0)} null_criticals=${gate.getLong(1)}")
    val stagingRows = gate.getLong(0)
    expectedRows.foreach(n => require(stagingRows == n,
      s"row-count gate failed: expected $n, got $stagingRows"))
    // expectation suite: one extra scan covering the row-level invariants
    // the gate does not (it already fails on null close/date)
    Quality.enforce(Quality.checkAll(stagingDf, Seq(
      "ohlc_bounds" -> (col("low") <= col("high") &&
        col("close") >= col("low") && col("close") <= col("high")))))

    // 5. create_dim_tables: distinct projections + insert-if-absent upsert
    val dimInstrument = upsertDim(spark, s"$warehouse/dim_instrumento",
      Analytics.dimInstrument(stagingDf), "ticker")
    val dimTempo = upsertDim(spark, s"$warehouse/dim_tempo",
      Analytics.dimTempo(stagingDf), "data_id")

    // 6. load_fact_table: LAG pct-change fact, partitioned by year
    val fact = MarketView.withPctChange(stagingDf)
      .withColumn("ano", year(col("date")))
    Tables.overwrite(fact, s"$warehouse/fact_movimentacao_diaria", Seq("ano"))
    val factDf = spark.read.parquet(s"$warehouse/fact_movimentacao_diaria")

    // 7. calculate_volatility_view: materialized view = recompute + overwrite
    Tables.overwrite(Analytics.weeklyVolatility(factDf), s"$warehouse/volatility_weekly")
    val weekly = spark.read.parquet(s"$warehouse/volatility_weekly")

    // 8. report_top_volatility: top-1 result collected (XCom analog)
    val top = Analytics.avgVolatilityPerTicker(factDf).head()
    val report =
      f"Ticker mais volátil: ${top.getString(0)} (volatilidade média semanal ${top.getDouble(1)}%.4f%%)"

    // 9. log_execution_summary
    org.apache.log4j.Logger.getLogger(getClass).info(report)

    PipelineResult(stagingRows, factRows = factDf.count(), weeklyRows = weekly.count(), report)
  }

  /** A14 upsert against the persisted dimension: first run creates, later
    * runs add only absent keys (ON CONFLICT DO NOTHING semantics).
    */
  private def upsertDim(spark: SparkSession, path: String, incoming: DataFrame,
                        key: String): DataFrame = {
    val merged =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
        Stars.upsertIfAbsent(spark.read.parquet(path), incoming, key)
      else incoming
    // localCheckpoint cuts the lineage back to the file we are about to
    // overwrite — otherwise the write would read from the path it truncates
    val materialized = merged.localCheckpoint(true)
    Tables.overwrite(materialized, path)
    spark.read.parquet(path)
  }
}
