package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private def csvBytes(seed: Long): Array[Byte] = {
    val f = Files.createTempFile("perfbench", ".csv")
    try { Gen.writeCsv(Gen.bars(seed, 5, 60), f); Files.readAllBytes(f) }
    finally Files.delete(f)
  }

  test("the OHLCV CSV is byte-identical for a seed and differs across seeds") {
    assert(csvBytes(7).sameElements(csvBytes(7)))
    assert(!csvBytes(7).sameElements(csvBytes(8)))
  }

  test("generated bars respect the quality gate's OHLC bounds and key uniqueness") {
    val bars = Gen.bars(3, 10, 300)
    assert(bars.forall(b => b.low <= b.open && b.open <= b.high && b.low <= b.close && b.close <= b.high))
    assert(bars.map(b => (b.symbol, b.date)).distinct.length == bars.length)
  }

  test("the corpus is identical for a seed, differs across seeds, and plants its shares") {
    val a = Gen.corpus(11, 600)
    val again = Gen.corpus(11, 600)
    assert(a.docs.toSeq == again.docs.toSeq && a.exactGroups == again.exactGroups)
    assert(a.docs.toSeq != Gen.corpus(12, 600).docs.toSeq)
    assert(a.docs.length == 600)
    assert(a.exactGroups.length == (600 * Gen.ExactDupShare / Gen.ExactGroupSize).toInt)
    val text = a.docs.map(d => d.docId -> d.text).toMap
    assert(a.exactGroups.forall(g => g.map(text).distinct.length == 1))
    assert(a.docs.map(_.text).distinct.length < a.docs.length)
    assert(a.docs.exists(_.text.contains("@example.com")))
  }

  test("the analyst request sequence is seeded and repeats earlier parameter sets") {
    val r = Main.AnalystMix.requests(5, 200)
    assert(r == Main.AnalystMix.requests(5, 200))
    assert(r != Main.AnalystMix.requests(6, 200))
    assert(r.distinct.length < r.length)
  }

  test("tail: the highest percentile with at least ten samples beyond it") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    val (v11, p11) = Stats.tail((1 to 11).map(_.toDouble)).get
    assert(v11 == 1.0 && math.abs(p11 - 100.0 / 11) < 1e-9)
    val xs = scala.util.Random.shuffle((1 to 100).map(_.toDouble))
    val (v, p) = Stats.tail(xs).get
    assert(v == 90.0 && p == 90.0)
    assert(xs.count(_ > v) == 10)
  }

  test("median") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("attribution picks the innermost graft module frame of a call site") {
    val details =
      """org.apache.spark.sql.Dataset.head(Dataset.scala:3362)
        |graft.operators.Quality$.checkAll(Quality.scala:27)
        |graft.pipeline.Pipeline$.run(Pipeline.scala:46)
        |perfbench.Main$EtlDaily.op(Main.scala:190)""".stripMargin
    assert(Attribution.module(details).contains("operators.Quality"))
    assert(Attribution.module(
      """org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:100)
        |graft.sources.Tables$.overwrite(Tables.scala:225)
        |graft.pipeline.Pipeline$.run(Pipeline.scala:36)""".stripMargin).contains("sources"))
    assert(Attribution.module(
      "org.apache.spark.sql.Dataset.count(Dataset.scala:1)\ngraft.pipeline.CorpusPipeline$.runFrom(CorpusPipeline.scala:54)")
      .contains("pipeline"))
    // the benchmark's own frames and graft's top-level objects are not modules
    assert(Attribution.module(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\ngraft.SparkEntry$.entry(SparkEntry.scala:9)\nperfbench.Main$.rows(Main.scala:1)")
      .isEmpty)
  }

  test("span self time excludes the union of its child executions") {
    val s = new Span("op", "pipeline", 0L)
    s.endMs = 100L
    Seq((10L, 30L), (20L, 40L), (60L, 70L), (95L, 120L)).zipWithIndex.foreach { case ((a, b), i) =>
      val e = new Exec(i.toLong, i.toLong, a, "sources"); e.endMs = b; s.execs += e
    }
    // covered: [10,40] + [60,70] + [95,100] = 45
    assert(s.selfMs == 55.0)
  }

  test("oracle matching tolerates float noise but not wrong values or order") {
    val e = Oracle.Expect(Seq(Vector("A", 1.2345), Vector("B", 1.0)), ordered = true, 1.01e-4)
    assert(Oracle.matches(Seq(Vector("A", 1.2346), Vector("B", 1.0)), e))
    assert(!Oracle.matches(Seq(Vector("A", 1.2400), Vector("B", 1.0)), e))
    assert(!Oracle.matches(Seq(Vector("B", 1.0), Vector("A", 1.2345)), e))
    assert(Oracle.matches(Seq(Vector("B", 1.0), Vector("A", 1.2345)), e.copy(ordered = false)))
  }
}
