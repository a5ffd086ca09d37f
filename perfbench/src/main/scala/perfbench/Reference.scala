package perfbench

import scala.math.BigDecimal.RoundingMode

/** Plain-Scala re-derivations of the DeFi pipeline's outputs from the
  * chain fixture, written from the reference semantics the program
  * documents (`ops.Finance`, `ops.Risk.riskFromSeries`). They check the
  * seeded `defi_daily` outputs, which no recorded digest can cover. */
object Reference {

  val Spy = 31536000.0

  def bround(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(scale, RoundingMode.HALF_EVEN).toDouble

  /** raw_supply row in the order `Finance.extractRawSupply` selects. */
  final case class Raw(date: java.time.LocalDate, name: String, stakeApy: Option[Double],
      aaveApy: Option[Double], totalApy: Option[Double], liquidityIndex: Option[Double],
      atokenSupply: Option[Double], assetPrice: Option[Double], aavePrice: Option[Double])

  /** Extract for strategy `k` over days [from, until), with the incentive
    * window open strictly inside (incStart, incEnd). */
  def extract(f: Gen.ChainFixture, k: Int, from: Int, until: Int,
      incStart: java.time.LocalDate, incEnd: java.time.LocalDate): Seq[Raw] =
    (from until until).map { i =>
      val d = f.date(i)
      val obs = !f.missing(k, i)
      val stake = if (obs) Some(bround(math.pow(1.0 + f.liquidityRate(k, i) / 1e27 / Spy, Spy) - 1.0, 5) * 100) else None
      val asset = f.assetPrice(k, i)
      val aave = f.aavePrice(i)
      val aaveApy =
        if (d.isAfter(incStart) && d.isBefore(incEnd)) {
          if (!obs) None
          else {
            val apr = f.emission(k, i) / 1e18 * Spy * aave * 100.0 / (f.supply(k, i) * asset)
            Some(bround(math.pow(1.0 + apr / Spy, Spy) - 1.0, 3))
          }
        } else Some(0.0)
      val total = bround(stake.getOrElse(0.0) + aaveApy.getOrElse(0.0), 3)
      Raw(d, f.strats(k).name, stake, aaveApy, Some(total),
        if (obs) Some(f.liquidityIndex(k, i)) else None,
        if (obs) Some(f.supply(k, i)) else None, Some(asset), Some(aave))
    }

  /** `Finance.fillAndInterpolate` over one strategy's rows in date order:
    * aave_apy/liquidity_index null→0, the rest linearly interpolated
    * between the nearest non-null neighbours (carried forward past the
    * last one, left null before the first). */
  def fill(rows: Seq[Raw]): Seq[Raw] = {
    def interp(v: IndexedSeq[Option[Double]]): IndexedSeq[Option[Double]] = v.indices.map { i =>
      v(i).orElse {
        val p = (i to 0 by -1).find(v(_).isDefined)
        val n = (i until v.size).find(v(_).isDefined)
        (p, n) match {
          case (None, _) => None
          case (Some(pi), None) => v(pi)
          case (Some(pi), Some(ni)) =>
            Some(v(pi).get + (v(ni).get - v(pi).get) * (i - pi).toDouble / (ni - pi).toDouble)
        }
      }
    }
    val r = rows.toIndexedSeq
    val stake = interp(r.map(_.stakeApy))
    val total = interp(r.map(_.totalApy))
    val supply = interp(r.map(_.atokenSupply))
    val asset = interp(r.map(_.assetPrice))
    val aave = interp(r.map(_.aavePrice))
    r.indices.map { i =>
      r(i).copy(stakeApy = stake(i), aaveApy = r(i).aaveApy.orElse(Some(0.0)), totalApy = total(i),
        liquidityIndex = r(i).liquidityIndex.orElse(Some(0.0)), atokenSupply = supply(i),
        assetPrice = asset(i), aavePrice = aave(i))
    }
  }

  final case class RiskRow(date: java.time.LocalDate, sd: Double, return1y: Double, sharpe: Double,
      alpha: Double, beta: Double, rSquare: Double, maxDrawdown: Double,
      peak: java.time.LocalDate, valley: java.time.LocalDate, duration: Long)

  /** `Risk.riskFromSeries` over (date, tvl) and (date, bench), both
    * given in ascending date order with one row per date (a None tvl is
    * a NULL, whose returns drop out). */
  def risk(strat: Seq[(java.time.LocalDate, Option[Double])], bench: Seq[(java.time.LocalDate, Double)]): RiskRow = {
    def pct(s: Seq[(java.time.LocalDate, Option[Double])]) = s.indices.map { i =>
      s(i)._1 -> (if (i == 0) None else for (a <- s(i)._2; b <- s(i - 1)._2) yield (a - b) / b)
    }
    val sp = pct(strat)
    val bp = pct(bench.map { case (d, v) => d -> Some(v) }).toMap
    val ds = strat.map(_._1).max
    val start = ds.minusMonths(12)
    val joined = sp.filter { case (d, s) => d.isAfter(start) && !d.isAfter(ds) && s.isDefined &&
      bp.get(d).exists(_.isDefined) }.map { case (d, s) => (d, s.get, bp(d).get) }
    val xs = joined.map(_._2)
    val n = xs.size.toDouble
    val mean = xs.sum / n
    val sdRaw = math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / (n - 1))
    val bs = joined.map(_._3)
    val bMean = bs.sum / n
    val sxy = joined.map(j => (j._3 - bMean) * (j._2 - mean)).sum
    val sxx = bs.map(b => (b - bMean) * (b - bMean)).sum
    val syy = xs.map(x => (x - mean) * (x - mean)).sum
    val beta = sxy / sxx
    val alpha = mean - beta * bMean
    val r2 = sxy * sxy / (sxx * syy)
    val ret = math.pow(1.0 + mean, 365.0) - 1.0
    val yStart = ds.withDayOfYear(1)
    val ytd = math.exp(sp.filter { case (d, _) => d.isAfter(yStart) && !d.isAfter(ds) }
      .map { case (_, s) => math.log(1.0 + s.getOrElse(0.0)) }.sum) - 1.0
    var cum = 0.0
    var cummax = Double.NegativeInfinity
    val dd = joined.map { case (d, s, _) =>
      cum += s; cummax = math.max(cummax, cum); (d, cum, cummax, cum - cummax)
    }
    val minDd = dd.map(_._4).min
    val valley = dd.filter(_._4 == minDd).map(_._1).min
    val peakCum = dd.filter(_._4 == minDd).map(_._3).min
    val peak = dd.filter(x => !x._1.isAfter(valley) && x._2 == peakCum).map(_._1).min
    val r1 = bround(ret, 6)
    RiskRow(ds, bround(sdRaw * math.sqrt(365.0), 6), if (r1 == 0.0) bround(ytd, 6) else r1,
      bround(ret / (sdRaw * math.sqrt(365.0)), 6), bround(alpha, 6), bround(beta, 6), bround(r2, 6),
      bround(minDd, 6), peak, valley, java.time.temporal.ChronoUnit.DAYS.between(peak, valley))
  }

  /** Equal within `tol` relative to max(1, |a|, |b|); both None is equal. */
  def close(a: Option[Double], b: Option[Double], tol: Double = 2e-5): Boolean = (a, b) match {
    case (None, None) => true
    case (Some(x), Some(y)) => math.abs(x - y) <= tol * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case _ => false
  }
}
