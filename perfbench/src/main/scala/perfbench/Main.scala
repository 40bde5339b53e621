package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import graft.operators.Analytics
import graft.pipeline.{CorpusPipeline, Pipeline}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.col

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One benchmark run: `perfbench.Main <workload> <seed> <seconds> <trace> <workdir>`.
  *
  * Set-up, then one first operation in the fresh session, then untimed
  * warm-up operations for `seconds`, then a closed loop (one client, the
  * next operation starts when the previous returns) timed for `seconds`. Every
  * operation is checked against `Oracle` or against the planted structure
  * of its input. The last stdout line is the result
  * JSON; earlier lines are informational.
  */
object Main {

  /** Sizes, scaled to fit a 4-core host; see perfbench/README.md. */
  val EtlTickers = 50
  val EtlDays = 1500
  val CorpusDocs = 1000
  val RepeatShare = 0.3
  val SetupPasses = 3

  final case class Outcome(ok: Boolean, resultRows: Long, note: String = "")

  /** A workload: input preparation (repeatable, identical each pass), and
    * the operation the loop runs. `op` is timed and returns the check of
    * its result, which runs untimed and outside the span. `module` names
    * the entry point's module.
    */
  trait Workload {
    def module: String
    def prepare(): Unit
    def afterSetup(): Unit = ()
    def inputBytes: Long
    /** How many operations the workload can issue; the loop stops there. */
    def capacity: Int = Int.MaxValue
    def summary(issued: Int): Option[String] = None
    def op(i: Int): () => Outcome
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val work = Paths.get(workS).toAbsolutePath
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val heap = new HeapWatch

    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()

    val w: Workload = workload match {
      case "etl_daily" => new EtlDaily(spark, seed, work)
      case "analyst_mix" => new AnalystMix(spark, seed, work)
      case "corpus_prep" => new CorpusPrep(spark, seed, work)
      case other => sys.error(s"unknown workload $other")
    }
    // set-up is repeated and its median taken; the inputs are byte-identical each pass
    val passes = (1 to SetupPasses).map { _ =>
      val t = System.nanoTime(); w.prepare(); (System.nanoTime() - t) / 1e9
    }
    val t = System.nanoTime(); w.afterSetup(); val after = (System.nanoTime() - t) / 1e9
    val setupS = (sessionReadyMs - jvmStart) / 1e3 + Stats.median(passes) + after
    println(f"info: set-up passes ${passes.map(p => f"$p%.3f").mkString(" ")} s, session ${(sessionReadyMs - jvmStart) / 1e3}%.3f s")

    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum.toDouble

    var attempted = 0
    var failed = 0
    val times = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)] // (ms, traced)
    var firstOpS = 0.0
    var warmUpMs = Seq.empty[Double]
    var warmingUp = true
    var storageMb = 0.0
    def runOp(i: Int, traced: Boolean): Unit = {
      attempted += 1
      val tr = tracer.filter(_ => traced)
      if (tracer.isDefined && !traced) tracer.get.detach()
      val span = tr.map(_.begin(s"${w.module}#$i", w.module))
      val gc0 = gcMs
      val cg0 = CodeGenerator.compileTime
      val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val check = try w.op(i) catch { case NonFatal(e) => () => Outcome(ok = false, 0, e.toString) }
      val ms = (System.nanoTime() - t0) / 1e6
      for (s <- span; x <- tr) {
        s.c.add("gc_ms", gcMs - gc0)
        s.c.add("codegen_ms", (CodeGenerator.compileTime - cg0) / 1e6)
        s.c.add("codegen_compiles", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0).toDouble)
        x.end(s)
      }
      val out = try check() catch { case NonFatal(e) => Outcome(ok = false, 0, e.toString) }
      span.foreach(_.c.add("result_rows", out.resultRows.toDouble))
      if (tracer.isDefined && !traced) tracer.get.attach()
      storageMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
      span.foreach(_.c.add("storage_mb", storageMb))
      if (!out.ok) { failed += 1; System.err.println(s"op $i failed: ${out.note}") }
      if (i == 0) firstOpS = ms / 1e3
      else if (warmingUp) warmUpMs :+= ms
      else times += ((ms, traced))
    }

    runOp(0, traced = true)
    // Warm operations keep getting faster for several operations while the
    // JIT compiles (the first one 25-50 % slower than the settled ones).
    // Timed from the start, the median would follow how many operations fit
    // in a run, which follows the host's speed; so the run warms up, checked
    // but untimed, for as long as it then measures (at least one operation).
    var i = 1
    // a program that fails every operation would otherwise spin for the whole run
    def canRun = i < w.capacity && failed < 10
    val warmStart = System.nanoTime()
    while (canRun && (i == 1 || (System.nanoTime() - warmStart) / 1e9 < seconds)) { runOp(i, traced = true); i += 1 }
    warmingUp = false
    // At least two timed operations, so a median exists even when one
    // operation outlasts the run. A traced run measures the tracing overhead
    // by tracing timed operations in the order untraced, traced, traced,
    // untraced, ..., which cancels a linear trend, over at least four.
    val loopStart = System.nanoTime()
    val firstTimed = i
    def more = (System.nanoTime() - loopStart) / 1e9 < seconds || i - firstTimed < (if (trace) 4 else 2)
    def tracedOp(i: Int) = !trace || (i - firstTimed) % 4 == 1 || (i - firstTimed) % 4 == 2
    while (more && canRun) { runOp(i, tracedOp(i)); i += 1 }
    w.summary(attempted).foreach(l => println(s"info: $l"))

    val warm = times.map(_._1).toSeq
    println(f"info: first op ${firstOpS}%.3f s, ${warmUpMs.length} warm-up, ${warm.length} timed ops, ${failed} failed of ${attempted}")
    if (warm.length <= 20) println(s"info: warm-up op ms ${warmUpMs.map(m => f"$m%.0f").mkString(" ")}, timed op ms ${warm.map(m => f"$m%.0f").mkString(" ")}")
    Stats.tail(warm).foreach { case (v, p) =>
      println(f"info: op_ms_tail p$p%.1f = $v%.3f ms over ${warm.length} samples")
    }

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Seq(
        ("setup_s", setupS, "s"),
        ("first_op_s", firstOpS, "s"),
        ("op_ms_p50", Stats.median(warm), "ms"))
      case Some(tr) =>
        tr.dump(work.resolve(s"trace-$workload-$seed.jsonl"))
        val traced = times.filter(_._2).map(_._1).toSeq
        val untraced = times.filterNot(_._2).map(_._1).toSeq
        val overhead = if (traced.nonEmpty && untraced.nonEmpty)
          (Stats.median(traced) - Stats.median(untraced)) / Stats.median(untraced) * 100 else 0.0
        Layers.metrics(tr.spans.toSeq, w.inputBytes) ++ Seq(
          ("tracing_overhead_pct", overhead, "%"),
          ("failed_ratio", failed.toDouble / attempted, "ratio"),
          ("cache.storage_mb", storageMb, "MB"),
          ("spark.heap_peak_mb", heap.peakMb, "MB"),
          // one full collection after the last operation: the heap the run retains
          ("spark.heap_retained_mb", heap.afterFullGcMb(), "MB"))
    }
    heap.stop()
    spark.stop()
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": $v, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
  }

  def rows(df: DataFrame): Seq[Vector[Any]] = df.collect().toSeq.map { r: Row =>
    r.toSeq.toVector.map {
      case d: java.sql.Date => d.toLocalDate.toString
      case x => x
    }
  }

  // ---------------------------------------------------------------------------

  /** The reference DAG: each operation is one `Pipeline.run` over the seeded
    * CSV into a warehouse that persists across operations.
    */
  final class EtlDaily(spark: SparkSession, seed: Long, work: Path) extends Workload {
    val module = "pipeline"
    private val csv = work.resolve("etl/input/prices.csv")
    private val warehouse = work.resolve("etl/warehouse")
    private var expect: Oracle.EtlExpect = _
    var inputBytes = 0L

    def prepare(): Unit = inputBytes = Gen.writeCsv(Gen.bars(seed, EtlTickers, EtlDays), csv)

    override def afterSetup(): Unit = {
      expect = Oracle.etl(Gen.bars(seed, EtlTickers, EtlDays))
      rmrf(warehouse)
    }

    def op(i: Int): () => Outcome = {
      val r = Pipeline.run(spark, csv.toString, warehouse.toString, Some(expect.rows))
      () => {
        val errs = Oracle.checkEtl(expect, r.stagingRows, r.factRows, r.weeklyRows, r.report)
        Outcome(errs.isEmpty, r.factRows, errs.mkString("; "))
      }
    }
  }

  /** Notebook and README rankings over a warehouse built in set-up. */
  final class AnalystMix(spark: SparkSession, seed: Long, work: Path) extends Workload {
    val module = "operators.Analytics"
    private val csv = work.resolve("analyst/input/prices.csv")
    private val warehouse = work.resolve("analyst/warehouse")
    private var requests: IndexedSeq[Oracle.Query] = _
    private var expected: Map[Oracle.Query, Oracle.Expect] = _
    private var fact: DataFrame = _
    var inputBytes = 0L

    def prepare(): Unit = Gen.writeCsv(Gen.bars(seed, EtlTickers, EtlDays), csv)

    /** The warehouse build is one cold `Pipeline.run`; it runs once. */
    override def afterSetup(): Unit = {
      rmrf(warehouse)
      Pipeline.run(spark, csv.toString, warehouse.toString)
      val factPath = warehouse.resolve("fact_movimentacao_diaria")
      inputBytes = Files.walk(factPath).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet")).map(Files.size(_)).sum
      fact = spark.read.parquet(factPath.toString)
      fact.createOrReplaceTempView("fact_movimentacao_diaria")
      spark.read.parquet(warehouse.resolve("dim_instrumento").toString).createOrReplaceTempView("dim_instrumento")
      requests = AnalystMix.requests(seed, AnalystMix.MaxRequests)
      val rowsOracle = Oracle.fact(Gen.bars(seed, EtlTickers, EtlDays))
      expected = requests.distinct.map(q => q -> Oracle.expect(q, rowsOracle)).toMap
    }

    override def capacity: Int = requests.length

    override def summary(issued: Int): Option[String] = {
      val repeats = issued - requests.take(issued).distinct.length
      Some(f"$issued requests, $repeats repeat an earlier parameter set (${100.0 * repeats / issued}%.1f %%)")
    }

    def op(i: Int): () => Outcome = {
      val q = requests(i)
      val got = rows(AnalystMix.query(spark, fact, q))
      () => Outcome(Oracle.matches(got, expected(q)), got.length, s"$q mismatch")
    }
  }

  object AnalystMix {
    /** Length of the seeded request sequence; the loop ends early if it runs out. */
    val MaxRequests = 400
    val Years: Range = 2019 to Gen.tradingDays(EtlDays).last.getYear

    /** Seeded request sequence. The first request is always the flagship
      * report over all years, so the cold first query is the same query on
      * every seed. Then a uniform kind mix with seeded parameters; with
      * probability RepeatShare a request repeats an earlier one.
      */
    def requests(seed: Long, n: Int): IndexedSeq[Oracle.Query] = {
      val r = new java.util.SplittableRandom(seed * 31 + 7)
      val out = scala.collection.mutable.ArrayBuffer(
        Oracle.Query("avgVolatilityPerTicker", Years.head, Years.last))
      while (out.length < n) {
        if (r.nextDouble() < RepeatShare) out += out(r.nextInt(out.length))
        else {
          val y0 = Years(r.nextInt(Years.length))
          val y1 = y0 + r.nextInt(Years.last - y0 + 1)
          val kind = Oracle.Kinds(r.nextInt(Oracle.Kinds.length))
          out += (kind match {
            case "topPerformance" | "readmeLiquiditySql" =>
              Oracle.Query(kind, y0, y1, k = Seq(3, 5, 10, 20)(r.nextInt(4)))
            case "weeklyVolatility" =>
              Oracle.Query(kind, y0, y1, tickers =
                Seq.fill(1 + r.nextInt(5))(Gen.ticker(r.nextInt(EtlTickers))).distinct.sorted)
            case _ => Oracle.Query(kind, y0, y1)
          })
        }
      }
      out.toIndexedSeq
    }

    def query(spark: SparkSession, fact: DataFrame, q: Oracle.Query): DataFrame = {
      val f = fact.where(col("ano").between(q.y0, q.y1))
      q.kind match {
        case "riskProfile" => Analytics.riskProfile(f)
        case "topPerformance" => Analytics.topPerformance(f, q.k)
        case "liquidity" => Analytics.liquidity(f)
        case "investorScores" => Analytics.investorScores(f)
        case "globalStats" => Analytics.globalStats(f)
        case "avgVolatilityPerTicker" => Analytics.avgVolatilityPerTicker(f)
        case "weeklyVolatility" => Analytics.weeklyVolatility(f.where(col("symbol").isin(q.tickers: _*)))
        case "monthlySummary" => Analytics.monthlySummary(f)
        case "readmeLiquiditySql" => spark.sql(
          s"""SELECT d.ticker, d.nome, ROUND(AVG(f.volume), 2) AS volume_medio, SUM(f.volume) AS volume_total
             |FROM fact_movimentacao_diaria f JOIN dim_instrumento d ON f.symbol = d.ticker
             |WHERE f.ano BETWEEN ${q.y0} AND ${q.y1}
             |GROUP BY d.ticker, d.nome
             |ORDER BY volume_total DESC, d.ticker LIMIT ${q.k}""".stripMargin)
      }
    }
  }

  /** Training-corpus preparation over a seeded corpus with planted duplicates and PII. */
  final class CorpusPrep(spark: SparkSession, seed: Long, work: Path) extends Workload {
    val module = "pipeline"
    private val in = work.resolve("corpus/input")
    private val out = work.resolve("corpus/out")
    private var corpus: Gen.Corpus = _
    private var firstCounts: Option[Seq[Long]] = None
    var inputBytes = 0L

    def prepare(): Unit = {
      corpus = Gen.corpus(seed, CorpusDocs)
      import spark.implicits._
      corpus.docs.toSeq.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(in.resolve("documents.parquet").toString)
    }

    override def afterSetup(): Unit =
      inputBytes = Files.walk(in).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p)).map(Files.size(_)).sum

    def op(i: Int): () => Outcome = {
      val r = CorpusPipeline.run(spark, in.toString, Some(out.toString))
      val profile = r.profile.collect()
      () => check(r, profile)
    }

    private def check(r: graft.pipeline.CorpusResult, profile: Array[Row]): Outcome = {
      val counts = Seq(r.nRaw, r.nQuality, r.nExactDeduped, r.nFinal)
      val kept = spark.read.parquet(out.toString).select("doc_id").collect().map(_.getLong(0)).toSet
      val errs = Seq.newBuilder[String]
      if (r.nRaw != corpus.docs.length) errs += s"nRaw ${r.nRaw} != ${corpus.docs.length}"
      if (kept.size != r.nFinal) errs += s"written ${kept.size} != nFinal ${r.nFinal}"
      if (profile.map(_.getAs[Long]("n_docs")).sum != r.nFinal) errs += "profile does not sum to nFinal"
      val bad = corpus.exactGroups.count(g => g.count(kept) != 1)
      if (bad > 0) errs += s"$bad planted exact-duplicate groups without exactly one survivor"
      firstCounts match {
        case None => firstCounts = Some(counts)
        case Some(c) => if (c != counts) errs += s"counts $counts != first $c"
      }
      val e = errs.result()
      Outcome(e.isEmpty, r.nFinal, e.mkString("; "))
    }
  }
}
