package graft

import graft.operators.MarketView
import graft.pipeline.Pipeline
import org.apache.spark.sql.functions._
import java.nio.file.Files

class PipelineSpec extends SparkSpecBase {

  private def tempDir(): String =
    Files.createTempDirectory("graft_pipeline").toString

  // source CSV derived from the sf0.001 bars (staging-schema columns)
  private lazy val csvPath: String = {
    val dir = tempDir()
    MarketView.dailyBars(spark, sf)
      .select(col("date"), col("symbol"), col("open"), col("high"),
        col("low"), col("close"), col("volume"))
      .coalesce(1).write.option("header", "true").mode("overwrite").csv(s"$dir/quotes")
    s"$dir/quotes"
  }

  test("end-to-end: CSV -> staging -> dims -> fact -> weekly view -> report") {
    val wh = tempDir()
    val res = Pipeline.run(spark, csvPath, wh)
    assert(res.stagingRows == 150)
    assert(res.factRows == 150)
    assert(res.weeklyRows > 0)
    assert(res.report.contains("Ticker mais volátil"))
    // warehouse artifacts exist and round-trip
    val fact = spark.read.parquet(s"$wh/fact_movimentacao_diaria")
    assert(fact.columns.contains("variacao_diaria"))
    assert(fact.count() == 150)
    // fact is partitioned by year (partition pruning path)
    assert(Files.list(java.nio.file.Paths.get(s"$wh/fact_movimentacao_diaria"))
      .iterator().hasNext)
  }

  test("re-run is idempotent (truncate-and-reload + upsert dims)") {
    val wh = tempDir()
    val first = Pipeline.run(spark, csvPath, wh)
    val second = Pipeline.run(spark, csvPath, wh)
    assert(first.stagingRows == second.stagingRows)
    assert(first.factRows == second.factRows)
    assert(first.report == second.report)
    // dims did not grow on re-run (ON CONFLICT DO NOTHING semantics)
    assert(spark.read.parquet(s"$wh/dim_instrumento").count() == 5)
  }

  test("missing CSV fails fast before any write") {
    val wh = tempDir()
    intercept[IllegalArgumentException] {
      Pipeline.run(spark, "/nonexistent/quotes.csv", wh)
    }
    assert(!Files.exists(java.nio.file.Paths.get(s"$wh/staging")))
  }

  test("row-count gate mismatch aborts the run") {
    val wh = tempDir()
    intercept[IllegalArgumentException] {
      Pipeline.run(spark, csvPath, wh, expectedRows = Some(999999L))
    }
  }

  // a two-row staging CSV whose second row is `bad`
  private def csvWith(bad: String): String = {
    val dir = tempDir()
    Files.writeString(java.nio.file.Paths.get(dir, "quotes.csv"),
      "date,symbol,open,high,low,close,volume\n" +
        "2024-01-02,AAA,10.0,11.0,9.0,10.5,100\n" + bad + "\n")
    dir
  }

  test("a null close aborts at the quality gate") {
    val e = intercept[IllegalArgumentException] {
      Pipeline.run(spark, csvWith("2024-01-03,AAA,10.0,11.0,9.0,,100"), tempDir())
    }
    assert(e.getMessage.contains("quality gate failed"), e.getMessage)
  }

  test("close above high aborts on the ohlc_bounds expectation") {
    val e = intercept[IllegalArgumentException] {
      Pipeline.run(spark, csvWith("2024-01-03,AAA,10.0,11.0,9.0,12.0,100"), tempDir())
    }
    assert(e.getMessage.contains("ohlc_bounds"), e.getMessage)
  }
}
