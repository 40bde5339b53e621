package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{DayOfWeek, LocalDate}
import java.util.SplittableRandom

/** Seeded input generators. Everything here is plain JVM code: the OHLCV
  * CSV must exist before the SparkSession runs its first query, so that the
  * first `Pipeline.run` of the etl workload is really cold.
  *
  * `SplittableRandom` is specified bit-for-bit, so a seed yields the same
  * inputs on every JVM.
  */
object Gen {

  /** One daily bar. Prices are integers in units of 1e-4, so the CSV text
    * and the oracle see exactly the same decimal values.
    */
  final case class Bar(symbol: String, date: LocalDate, open: Long, high: Long,
                       low: Long, close: Long, volume: Long) {
    def closeD: Double = close / 1e4
  }

  val FirstDay: LocalDate = LocalDate.of(2019, 1, 1)

  def ticker(i: Int): String = f"TK$i%03d"

  /** Trading days: `n` weekdays from `FirstDay`. */
  def tradingDays(n: Int): Array[LocalDate] = {
    val out = new Array[LocalDate](n)
    var d = FirstDay
    var i = 0
    while (i < n) {
      if (d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY) {
        out(i) = d; i += 1
      }
      d = d.plusDays(1)
    }
    out
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller on the generator's own doubles: no JDK-version dependence
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** A geometric random walk per ticker with a per-ticker daily volatility,
    * so the most volatile ticker is a clear winner rather than a near-tie.
    */
  def bars(seed: Long, tickers: Int, days: Int): Array[Bar] = {
    val r = new SplittableRandom(seed)
    val calendar = tradingDays(days)
    val out = new Array[Bar](tickers * days)
    var k = 0
    for (t <- 0 until tickers) {
      val sym = ticker(t)
      val sigma = 0.004 + 0.03 * r.nextDouble()
      var close = (200000L + r.nextLong(1800000L)).toDouble
      for (d <- 0 until days) {
        val open = math.max(10000L, math.round(close * (1 + 0.2 * sigma * gaussian(r))))
        close = math.max(10000.0, close * math.exp(sigma * gaussian(r)))
        val c = math.round(close)
        val high = math.max(open, c) + math.round(math.max(open, c) * 0.5 * sigma * math.abs(gaussian(r)))
        val low = math.max(5000L,
          math.min(open, c) - math.round(math.min(open, c) * 0.5 * sigma * math.abs(gaussian(r))))
        out(k) = Bar(sym, calendar(d), open, high, low, c, 100000L + r.nextLong(9900000L))
        k += 1
      }
    }
    out
  }

  private def price(p: Long): String = f"${p / 10000}%d.${p % 10000}%04d"

  /** Writes the staging CSV (header + one line per bar) and returns its size. */
  def writeCsv(rows: Array[Bar], path: java.nio.file.Path): Long = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path.toFile), StandardCharsets.UTF_8), 1 << 16)
    try {
      w.write("date,symbol,open,high,low,close,volume\n")
      rows.foreach { b =>
        w.write(s"${b.date},${b.symbol},${price(b.open)},${price(b.high)},${price(b.low)},${price(b.close)},${b.volume}\n")
      }
    } finally w.close()
    java.nio.file.Files.size(path)
  }

  // ---------------------------------------------------------------------------
  // Document corpus

  /** The 30-word vocabulary and the language mix of the driver's
    * `documents.parquet` (word counts uniform on 10..100, en 41 %, the four
    * other languages about 15 % each, 20 sources).
    */
  val Vocab: Array[String] = ("spark window merge table column vector stream value data small " +
    "join filter big group hash customer sort order slow line part fast row the agg key query " +
    "a scan batch").split(' ')
  val Langs: Array[String] = Array("en", "zh", "de", "fr", "es")
  private val LangCum = Array(0.41, 0.56, 0.70, 0.85, 1.0)

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  /** Shares of the corpus that are planted, stated in BENCHMARK.json. */
  val ExactDupShare = 0.10
  val NearDupShare = 0.10
  val PiiShare = 0.05
  /** Copies per planted exact-duplicate group (the base document included). */
  val ExactGroupSize = 3

  final case class Corpus(docs: Array[Doc], exactGroups: Seq[Seq[Long]])

  /** `n` documents: unique random texts plus planted exact-duplicate groups
    * (ExactGroupSize identical copies of a long base text), near duplicates
    * (a unique document with its last word replaced) and PII (an email or a
    * phone number inserted). Exact-dup bases have at least 80 words and no
    * punctuation, so their quality score is at least 0.62, above the
    * pipeline's 0.5 gate, and each group must end with one survivor.
    */
  def corpus(seed: Long, n: Int): Corpus = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    def words(lo: Int, hi: Int): Array[String] =
      Array.fill(lo + r.nextInt(hi - lo + 1))(Vocab(r.nextInt(Vocab.length)))
    def lang(): String = { val u = r.nextDouble(); Langs(LangCum.indexWhere(u < _)) }
    def source(): String = s"src${r.nextInt(20)}"

    val nGroups = (n * ExactDupShare / ExactGroupSize).toInt
    val nNear = (n * NearDupShare).toInt
    val nUnique = n - nGroups * ExactGroupSize - nNear
    val docs = Array.newBuilder[Doc]
    val uniques = new Array[Array[String]](nUnique)
    var id = 0L
    for (i <- 0 until nUnique) {
      val w = words(10, 100)
      if (r.nextDouble() < PiiShare) {
        val pii = if (r.nextBoolean()) s"user${r.nextInt(100000)}@example.com"
                  else f"+1 555 ${r.nextInt(1000)}%03d ${r.nextInt(10000)}%04d"
        w(r.nextInt(w.length)) = pii
      }
      uniques(i) = w
      docs += Doc(id, w.mkString(" "), lang(), source()); id += 1
    }
    for (_ <- 0 until nNear) {
      val base = uniques(r.nextInt(nUnique)).clone()
      base(base.length - 1) = Vocab(r.nextInt(Vocab.length))
      docs += Doc(id, base.mkString(" "), lang(), source()); id += 1
    }
    val groups = (0 until nGroups).map { _ =>
      val text = words(80, 100).mkString(" ")
      val l = lang(); val s = source()
      (0 until ExactGroupSize).map { _ => docs += Doc(id, text, l, s); id += 1; id - 1 }
    }
    // shuffle so planted copies do not sit in one input split
    val all = docs.result()
    for (i <- all.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = all(i); all(i) = all(j); all(j) = t
    }
    Corpus(all, groups)
  }
}
