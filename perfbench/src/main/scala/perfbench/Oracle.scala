package perfbench

import java.time.{DayOfWeek, LocalDate}
import scala.collection.mutable

/** Expected results computed in plain Scala over the generated rows — no
  * Spark and no program code — for the etl report and every analyst query.
  */
object Oracle {

  final case class FactRow(symbol: String, date: LocalDate, close: Double, volume: Long,
                           pct: Option[Double]) {
    def year: Int = date.getYear
  }

  /** Running moments in the update order Spark's central-moment aggregate uses. */
  final class Moments {
    var n = 0L; var mean = 0.0; var m2 = 0.0
    def add(x: Double): Unit = { n += 1; val d = x - mean; mean += d / n; m2 += d * (x - mean) }
    def stddevSamp: Option[Double] = if (n < 2) None else Some(math.sqrt(m2 / (n - 1)))
  }

  def monday(d: LocalDate): LocalDate = d.minusDays(d.getDayOfWeek.getValue - DayOfWeek.MONDAY.getValue)

  /** HALF_UP rounding of the decimal form, as Spark's `round` does for doubles. */
  def rd(x: Double, d: Int): Double =
    BigDecimal(x).setScale(d, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The LAG fact: `(close - prev_close) / prev_close * 100` per ticker by date. */
  def fact(bars: Array[Gen.Bar]): Array[FactRow] =
    bars.groupBy(_.symbol).toArray.sortBy(_._1).flatMap { case (_, bs) =>
      var prev: Option[Double] = None
      bs.sortBy(_.date.toEpochDay).map { b =>
        val c = b.closeD
        val pct = prev.map(p => (c - p) / p * 100)
        prev = Some(c)
        FactRow(b.symbol, b.date, c, b.volume, pct)
      }
    }

  /** (symbol, week) -> weekly STDDEV_SAMP of the daily change, over rows with a change. */
  def weekly(rows: Iterable[FactRow]): Map[(String, LocalDate), Option[Double]] = {
    val m = mutable.LinkedHashMap.empty[(String, LocalDate), Moments]
    rows.foreach(r => r.pct.foreach(p => m.getOrElseUpdate((r.symbol, monday(r.date)), new Moments).add(p)))
    m.map { case (k, v) => k -> v.stddevSamp }.toMap
  }

  /** Mean weekly volatility per ticker, unrounded. */
  def avgWeeklyVol(rows: Iterable[FactRow]): Map[String, Double] =
    weekly(rows).toSeq.collect { case ((s, _), Some(v)) => s -> v }
      .groupBy(_._1).map { case (s, vs) => s -> vs.map(_._2).sum / vs.size }

  final case class EtlExpect(rows: Long, weeklyRows: Long, avgVol: Map[String, Double]) {
    /** The report names the ticker first by rounded mean volatility, then by name. */
    val ranked: Seq[(String, Double)] =
      avgVol.toSeq.map { case (s, v) => s -> rd(v, 4) }.sortBy { case (s, v) => (-v, s) }
  }

  def etl(bars: Array[Gen.Bar]): EtlExpect = {
    val f = fact(bars)
    EtlExpect(bars.length, weekly(f).size, avgWeeklyVol(f))
  }

  /** Checks a `PipelineResult` against the oracle; returns the mismatches. */
  def checkEtl(e: EtlExpect, stagingRows: Long, factRows: Long, weeklyRows: Long,
               report: String): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (stagingRows != e.rows) errs += s"staging rows $stagingRows != ${e.rows}"
    if (factRows != e.rows) errs += s"fact rows $factRows != ${e.rows}"
    if (weeklyRows != e.weeklyRows) errs += s"weekly rows $weeklyRows != ${e.weeklyRows}"
    val Report = """Ticker mais volátil: (\S+) \(volatilidade média semanal ([0-9.]+)%\)""".r
    report match {
      case Report(t, v) =>
        val (topT, topV) = e.ranked.head
        // a different name is only acceptable in a tie at the reported precision
        if (t != topT && e.avgVol.get(t).forall(x => math.abs(rd(x, 4) - topV) > 1.01e-4))
          errs += s"top ticker $t != $topT"
        if (math.abs(v.toDouble - topV) > 1.01e-4) errs += s"top volatility $v != $topV"
      case _ => errs += s"unparsable report: $report"
    }
    errs.result()
  }

  // ---------------------------------------------------------------------------
  // Analyst queries

  /** A parameter set. Fields a kind does not use are left at their defaults,
    * so equal requests compare equal and repeats are real repeats.
    */
  final case class Query(kind: String, y0: Int = 0, y1: Int = 0, k: Int = 0,
                         tickers: Seq[String] = Nil)

  val Kinds: Seq[String] = Seq("riskProfile", "topPerformance", "liquidity", "investorScores",
    "globalStats", "avgVolatilityPerTicker", "weeklyVolatility", "monthlySummary", "readmeLiquiditySql")

  /** Expected rows, and whether their order is part of the answer. */
  final case class Expect(rows: Seq[Vector[Any]], ordered: Boolean, tol: Double)

  def expect(q: Query, all: Array[FactRow]): Expect = {
    val w = all.filter(r => r.year >= q.y0 && r.year <= q.y1)
    val withPct = w.filter(_.pct.isDefined)
    def bySym[A](rows: Array[FactRow]) = rows.groupBy(_.symbol).toSeq.sortBy(_._1)
    q.kind match {
      case "riskProfile" =>
        val rows = bySym(withPct).map { case (s, rs) =>
          val m = new Moments; rs.foreach(r => m.add(r.pct.get))
          val ps = rs.map(_.pct.get)
          Vector[Any](s, m.stddevSamp.map(rd(_, 6)).getOrElse(null), rd(ps.sum / ps.length, 6),
            rd(ps.max, 6), rd(ps.min, 6))
        }.sortBy(r => (-(Option(r(1)).map(_.asInstanceOf[Double]).getOrElse(Double.NegativeInfinity)),
          r(0).asInstanceOf[String]))
        Expect(rows, ordered = true, 1.01e-6)
      case "topPerformance" =>
        val rows = bySym(withPct).map { case (s, rs) =>
          Vector[Any](s, rd(rs.map(_.pct.get).sum / rs.length, 4))
        }.sortBy(r => (-r(1).asInstanceOf[Double], r(0).asInstanceOf[String])).take(q.k)
        Expect(rows, ordered = true, 1.01e-4)
      case "liquidity" =>
        val rows = bySym(w).map { case (s, rs) =>
          val tot = rs.map(_.volume).sum
          Vector[Any](s, rd(tot.toDouble / rs.length, 4), tot)
        }.sortBy(r => (-r(2).asInstanceOf[Long], r(0).asInstanceOf[String]))
        Expect(rows, ordered = true, 1.01e-4)
      case "investorScores" =>
        val metrics = bySym(withPct).map { case (s, rs) =>
          val m = new Moments; rs.foreach(r => m.add(r.pct.get))
          (s, m.stddevSamp.getOrElse(Double.NaN), rs.map(_.pct.get).sum / rs.length,
            rs.map(_.volume).sum.toDouble)
        }
        val volMax = metrics.map(_._2).max
        val (vmMin, vmMax) = (metrics.map(_._3).min, metrics.map(_._3).max)
        val (vtMin, vtMax) = (metrics.map(_._4).min, metrics.map(_._4).max)
        val rows = metrics.map { case (s, vol, vm, vt) =>
          val seg = 100.0 - vol / volMax * 100
          val perf = (vm - vmMin) / (vmMax - vmMin) * 100
          val liq = (vt - vtMin) / (vtMax - vtMin) * 100
          Vector[Any](s, rd(seg, 4), rd(perf, 4), rd(liq, 4),
            rd(seg * 0.5 + perf * 0.3 + liq * 0.2, 4),
            rd(seg * 0.35 + perf * 0.35 + liq * 0.3, 4),
            rd(seg * 0.2 + perf * 0.5 + liq * 0.3, 4))
        }
        Expect(rows, ordered = true, 1.01e-4)
      case "globalStats" =>
        val m = new Moments; withPct.foreach(r => m.add(r.pct.get))
        val dates = w.map(_.date)
        Expect(Seq(Vector[Any](w.length.toLong, w.map(_.symbol).distinct.length.toLong,
          dates.distinct.length.toLong, dates.minBy(_.toEpochDay).toString,
          dates.maxBy(_.toEpochDay).toString, rd(w.map(_.close).sum / w.length, 4),
          m.stddevSamp.map(rd(_, 4)).getOrElse(null), rd(w.map(_.volume.toDouble).sum / w.length, 4))),
          ordered = true, 1.01e-4)
      case "avgVolatilityPerTicker" =>
        val rows = avgWeeklyVol(w).toSeq.map { case (s, v) => Vector[Any](s, rd(v, 4)) }
          .sortBy(r => (-r(1).asInstanceOf[Double], r(0).asInstanceOf[String]))
        Expect(rows, ordered = true, 1.01e-4)
      case "weeklyVolatility" =>
        val sel = w.filter(r => q.tickers.contains(r.symbol))
        val rows = weekly(sel).toSeq.map { case ((s, wk), v) => Vector[Any](s, wk.toString, v.getOrElse(null)) }
        Expect(sortRows(rows), ordered = false, 1e-9)
      case "monthlySummary" =>
        val rows = w.groupBy(r => (r.year, r.date.getMonthValue)).toSeq.sortBy(_._1).map {
          case ((y, mo), rs) => Vector[Any](y.toLong, mo.toLong, rs.length.toLong,
            rd(rs.map(_.close).sum / rs.length, 4), rs.map(_.volume).sum)
        }
        Expect(rows, ordered = true, 1.01e-4)
      case "readmeLiquiditySql" =>
        val rows = bySym(w).map { case (s, rs) =>
          val tot = rs.map(_.volume).sum
          Vector[Any](s, s"Ativo $s", rd(tot.toDouble / rs.length, 2), tot)
        }.sortBy(r => (-r(3).asInstanceOf[Long], r(0).asInstanceOf[String])).take(q.k)
        Expect(rows, ordered = true, 1.01e-2)
    }
  }

  def sortRows(rows: Seq[Vector[Any]]): Seq[Vector[Any]] = rows.sortBy(_.map(String.valueOf).mkString("\u0000"))

  /** Row-by-row comparison; doubles agree within `tol` plus a relative 1e-9. */
  def matches(got: Seq[Vector[Any]], e: Expect): Boolean = {
    val g = if (e.ordered) got else sortRows(got)
    g.length == e.rows.length && g.zip(e.rows).forall { case (a, b) =>
      a.length == b.length && a.zip(b).forall {
        case (x: Double, y: Double) => math.abs(x - y) <= e.tol + 1e-9 * math.abs(y)
        case (x: Number, y: Number) => x.longValue == y.longValue
        case (x, y) => x == y
      }
    }
  }
}
