package graft.kernels

import scala.collection.mutable.LinkedHashMap

/** tsfresh-compatible feature extraction — the reference's 117-feature
  * catalog (features.rs list_features:327-447: 62 named features +
  * autocorrelation lags 1-10, partial autocorrelation lags 1-5,
  * ratio_beyond_r_sigma r∈1..3, time_reversal_asymmetry lags 1-3, c3 lags
  * 1-3, fft_coefficient_{0..9}_{real,imag,abs}). Formulas follow tsfresh's
  * published definitions (SURVEY.md §7.5 item 7).
  */
object Features {

  val allNames: Seq[String] = {
    val base = Seq(
      "length", "sum", "mean", "minimum", "maximum", "range", "variance",
      "standard_deviation", "variation_coefficient", "large_standard_deviation",
      "median", "quantile_0.1", "quantile_0.25", "quantile_0.75", "quantile_0.9",
      "skewness", "kurtosis",
      "count_above_mean", "count_below_mean", "percentage_above_mean",
      "zero_crossing_rate", "mean_change", "mean_abs_change",
      "first_value", "last_value",
      "first_location_of_maximum", "last_location_of_maximum",
      "first_location_of_minimum", "last_location_of_minimum",
      "abs_energy", "root_mean_square",
      "mean_second_derivative_central", "cid_ce", "absolute_sum_of_changes",
      "lempel_ziv_complexity",
      "longest_strike_above_mean", "longest_strike_below_mean",
      "number_peaks", "number_peaks_threshold_1", "number_peaks_threshold_2",
      "benford_correlation", "linear_trend_slope", "linear_trend_intercept",
      "linear_trend_r_squared",
      "binned_entropy", "sample_entropy", "approximate_entropy", "permutation_entropy",
      "count_unique", "ratio_value_number_to_length", "has_duplicate",
      "has_duplicate_max", "has_duplicate_min",
      "percentage_of_reoccurring_datapoints_to_all_datapoints",
      "percentage_of_reoccurring_values_to_all_values",
      "sum_of_reoccurring_values", "sum_of_reoccurring_datapoints",
      "spectral_centroid", "spectral_variance",
      "agg_linear_trend_slope", "agg_linear_trend_intercept",
      "agg_linear_trend_rvalue", "agg_linear_trend_stderr")
    base ++
      (1 to 10).map(l => s"autocorrelation_lag$l") ++
      (1 to 5).map(l => s"partial_autocorrelation_lag$l") ++
      (1 to 3).map(r => s"ratio_beyond_r_sigma_$r") ++
      (1 to 3).map(l => s"time_reversal_asymmetry_stat_$l") ++
      (1 to 3).map(l => s"c3_lag$l") ++
      (0 until 10).flatMap(i => Seq(s"fft_coefficient_${i}_real",
        s"fft_coefficient_${i}_imag", s"fft_coefficient_${i}_abs"))
  }

  /** Extract every feature for one series (nulls already removed/interpolated). */
  def extract(values: Array[Double]): LinkedHashMap[String, Double] = {
    val out = LinkedHashMap[String, Double]()
    val n = values.length
    if (n == 0) { allNames.foreach(out(_) = Double.NaN); return out }
    val mean = values.sum / n
    val devs = values.map(_ - mean)
    val varPop = devs.map(d => d * d).sum / n
    val std = math.sqrt(varPop)
    val sorted = values.sorted
    val min = sorted.head
    val max = sorted.last
    val diffs = if (n > 1) Array.tabulate(n - 1)(i => values(i + 1) - values(i)) else Array.empty[Double]

    out("length") = n.toDouble
    out("sum") = values.sum
    out("mean") = mean
    out("minimum") = min
    out("maximum") = max
    out("range") = max - min
    out("variance") = varPop
    out("standard_deviation") = std
    out("variation_coefficient") = if (mean != 0) std / math.abs(mean) else Double.NaN
    out("large_standard_deviation") = if (std > 0.25 * (max - min)) 1.0 else 0.0
    out("median") = Stats.percentile(sorted, 0.5)
    out("quantile_0.1") = Stats.percentile(sorted, 0.1)
    out("quantile_0.25") = Stats.percentile(sorted, 0.25)
    out("quantile_0.75") = Stats.percentile(sorted, 0.75)
    out("quantile_0.9") = Stats.percentile(sorted, 0.9)
    out("skewness") =
      if (n > 2 && std > 0) {
        val m3 = devs.map(d => d * d * d).sum / n
        val sVar = devs.map(d => d * d).sum / (n - 1)
        (m3 / math.pow(math.sqrt(sVar), 3)) * math.sqrt(n * (n - 1.0)) / (n - 2.0)
      } else Double.NaN
    out("kurtosis") =
      if (n > 3 && std > 0) {
        val sVar = devs.map(d => d * d).sum / (n - 1)
        val m4 = devs.map(d => d * d * d * d).sum / n
        val g2 = m4 / (sVar * sVar) - 3.0
        (n - 1.0) / ((n - 2.0) * (n - 3.0)) * ((n + 1.0) * g2 + 6.0)
      } else Double.NaN
    out("count_above_mean") = values.count(_ > mean).toDouble
    out("count_below_mean") = values.count(_ < mean).toDouble
    out("percentage_above_mean") = values.count(_ > mean).toDouble / n
    out("zero_crossing_rate") =
      if (n > 1) (1 until n).count(i => values(i) * values(i - 1) < 0).toDouble / (n - 1) else 0.0
    out("mean_change") = if (n > 1) (values(n - 1) - values(0)) / (n - 1) else Double.NaN
    out("mean_abs_change") = if (diffs.nonEmpty) diffs.map(math.abs).sum / diffs.length else Double.NaN
    out("first_value") = values(0)
    out("last_value") = values(n - 1)
    out("first_location_of_maximum") = values.indexOf(max).toDouble / n
    out("last_location_of_maximum") = values.lastIndexOf(max).toDouble / n
    out("first_location_of_minimum") = values.indexOf(min).toDouble / n
    out("last_location_of_minimum") = values.lastIndexOf(min).toDouble / n
    val energy = values.map(v => v * v).sum
    out("abs_energy") = energy
    out("root_mean_square") = math.sqrt(energy / n)
    out("mean_second_derivative_central") =
      if (n > 2) (0 until n - 2).map(i => (values(i + 2) - 2 * values(i + 1) + values(i)) / 2.0)
        .sum / (n - 2) else Double.NaN
    out("cid_ce") = math.sqrt(diffs.map(d => d * d).sum)
    out("absolute_sum_of_changes") = diffs.map(math.abs).sum
    out("lempel_ziv_complexity") = lempelZiv(values)
    out("longest_strike_above_mean") = longestStrike(values, _ > mean)
    out("longest_strike_below_mean") = longestStrike(values, _ < mean)
    out("number_peaks") = countPeaks(values, 0.0)
    out("number_peaks_threshold_1") = countPeaks(values, std)
    out("number_peaks_threshold_2") = countPeaks(values, 2 * std)
    out("benford_correlation") = benford(values)
    val (slope, intercept, r2, _) = linReg(values)
    out("linear_trend_slope") = slope
    out("linear_trend_intercept") = intercept
    out("linear_trend_r_squared") = r2
    out("binned_entropy") = binnedEntropy(values, 10)
    out("sample_entropy") = sampleEntropy(values, 2, 0.2 * std)
    out("approximate_entropy") = approximateEntropy(values, 2, 0.2 * std)
    out("permutation_entropy") = permutationEntropy(values, 3)
    val counts = values.groupBy(identity).map { case (k, v) => k -> v.length }
    out("count_unique") = counts.size.toDouble
    out("ratio_value_number_to_length") = counts.size.toDouble / n
    out("has_duplicate") = if (counts.valuesIterator.exists(_ > 1)) 1.0 else 0.0
    out("has_duplicate_max") = if (counts.getOrElse(max, 0) > 1) 1.0 else 0.0
    out("has_duplicate_min") = if (counts.getOrElse(min, 0) > 1) 1.0 else 0.0
    val reoccurring = counts.filter(_._2 > 1)
    out("percentage_of_reoccurring_datapoints_to_all_datapoints") =
      reoccurring.values.sum.toDouble / n
    out("percentage_of_reoccurring_values_to_all_values") =
      if (counts.nonEmpty) reoccurring.size.toDouble / counts.size else Double.NaN
    out("sum_of_reoccurring_values") = reoccurring.keys.sum
    out("sum_of_reoccurring_datapoints") = reoccurring.map { case (k, c) => k * c }.sum
    val (centroid, specVar) = spectral(values)
    out("spectral_centroid") = centroid
    out("spectral_variance") = specVar
    val (aSlope, aInt, aR, aSe) = aggLinearTrend(values, 5)
    out("agg_linear_trend_slope") = aSlope
    out("agg_linear_trend_intercept") = aInt
    out("agg_linear_trend_rvalue") = aR
    out("agg_linear_trend_stderr") = aSe
    (1 to 10).foreach(l => out(s"autocorrelation_lag$l") = Stats.autocorrelation(values, l))
    val pacf = partialAutocorrelation(values, 5)
    (1 to 5).foreach(l => out(s"partial_autocorrelation_lag$l") =
      if (l <= pacf.length) pacf(l - 1) else Double.NaN)
    (1 to 3).foreach { r =>
      out(s"ratio_beyond_r_sigma_$r") =
        if (std > 0) values.count(v => math.abs(v - mean) > r * std).toDouble / n else 0.0
    }
    (1 to 3).foreach(l => out(s"time_reversal_asymmetry_stat_$l") = timeReversalAsymmetry(values, l))
    (1 to 3).foreach(l => out(s"c3_lag$l") = c3(values, l))
    val (re, im) = fftCoefficients(values)
    (0 until 10).foreach { i =>
      val r = if (i < re.length) re(i) else Double.NaN
      val m = if (i < im.length) im(i) else Double.NaN
      out(s"fft_coefficient_${i}_real") = r
      out(s"fft_coefficient_${i}_imag") = m
      out(s"fft_coefficient_${i}_abs") = if (r.isNaN) Double.NaN else math.sqrt(r * r + m * m)
    }
    out
  }

  // ------------------------------------------------------------ helpers

  private def longestStrike(values: Array[Double], pred: Double => Boolean): Double = {
    var maxRun = 0
    var cur = 0
    values.foreach { v =>
      if (pred(v)) { cur += 1; if (cur > maxRun) maxRun = cur } else cur = 0
    }
    maxRun.toDouble
  }

  private def countPeaks(values: Array[Double], minProm: Double): Double =
    if (values.length < 3) 0.0
    else Peaks.detectPeaks(values, None, Some(minProm)).length.toDouble

  /** Pearson correlation of the observed first-digit distribution with
    * Benford's law. Zeros and ±Inf have no first digit and are skipped. */
  private def benford(values: Array[Double]): Double = {
    val digits = values.flatMap { v =>
      val a = math.abs(v)
      if (a < 1e-300 || a.isInfinite) None
      else {
        var x = a
        while (x >= 10) x /= 10
        while (x < 1) x *= 10
        Some(x.toInt)
      }
    }
    if (digits.isEmpty) return Double.NaN
    val obs = Array.tabulate(9)(d => digits.count(_ == d + 1).toDouble / digits.length)
    val ben = Array.tabulate(9)(d => math.log10(1.0 + 1.0 / (d + 1)))
    correlation(obs, ben)
  }

  private def correlation(a: Array[Double], b: Array[Double]): Double = {
    val n = a.length
    val ma = a.sum / n
    val mb = b.sum / n
    var num = 0.0; var da = 0.0; var db = 0.0
    var i = 0
    while (i < n) {
      num += (a(i) - ma) * (b(i) - mb)
      da += (a(i) - ma) * (a(i) - ma)
      db += (b(i) - mb) * (b(i) - mb)
      i += 1
    }
    if (da <= 0 || db <= 0) Double.NaN else num / math.sqrt(da * db)
  }

  /** OLS on t=0..n-1: (slope, intercept, r², stderr of slope). */
  private def linReg(values: Array[Double]): (Double, Double, Double, Double) = {
    val n = values.length
    if (n < 2) return (Double.NaN, Double.NaN, Double.NaN, Double.NaN)
    val xm = (n - 1) / 2.0
    val ym = values.sum / n
    var sxy = 0.0; var sxx = 0.0; var syy = 0.0
    var i = 0
    while (i < n) {
      sxy += (i - xm) * (values(i) - ym)
      sxx += (i - xm) * (i - xm)
      syy += (values(i) - ym) * (values(i) - ym)
      i += 1
    }
    val slope = if (sxx > 0) sxy / sxx else 0.0
    val intercept = ym - slope * xm
    val r2 = if (syy > 0 && sxx > 0) sxy * sxy / (sxx * syy) else Double.NaN
    val sse = syy - slope * sxy
    val se = if (n > 2 && sxx > 0) math.sqrt(math.max(sse, 0.0) / (n - 2) / sxx) else Double.NaN
    (slope, intercept, r2, se)
  }

  private def binnedEntropy(values: Array[Double], bins: Int): Double = {
    val min = values.min
    val max = values.max
    if (max == min) return 0.0
    val counts = new Array[Int](bins)
    values.foreach { v =>
      val b = math.min(bins - 1, ((v - min) / (max - min) * bins).toInt)
      counts(b) += 1
    }
    val n = values.length.toDouble
    -counts.filter(_ > 0).map { c => val p = c / n; p * math.log(p) }.sum
  }

  private def phiCounts(values: Array[Double], m: Int, r: Double, selfMatch: Boolean): Double = {
    val n = values.length
    val nm = n - m + 1
    if (nm <= 1 || r <= 0) return Double.NaN
    var logSum = 0.0
    var i = 0
    while (i < nm) {
      var cnt = 0
      var j = 0
      while (j < nm) {
        if (selfMatch || i != j) {
          var k = 0
          var ok = true
          while (ok && k < m) {
            if (math.abs(values(i + k) - values(j + k)) > r) ok = false
            k += 1
          }
          if (ok) cnt += 1
        }
        j += 1
      }
      logSum += math.log(math.max(cnt.toDouble, 1e-300) / (if (selfMatch) nm else nm - 1))
      i += 1
    }
    logSum / nm
  }

  /** ApEn(m, r) = Φ_m − Φ_{m+1} (with self-matches, Pincus 1991). */
  def approximateEntropy(values: Array[Double], m: Int, r: Double): Double = {
    if (values.length < m + 2 || r <= 0) return Double.NaN
    phiCounts(values, m, r, selfMatch = true) - phiCounts(values, m + 1, r, selfMatch = true)
  }

  /** SampEn(m, r) = −ln(A/B) without self-matches (Richman & Moorman 2000). */
  def sampleEntropy(values: Array[Double], m: Int, r: Double): Double = {
    val n = values.length
    if (n < m + 2 || r <= 0) return Double.NaN
    def matches(mm: Int): Long = {
      val nm = n - mm + 1
      var cnt = 0L
      var i = 0
      while (i < nm) {
        var j = i + 1
        while (j < nm) {
          var k = 0
          var ok = true
          while (ok && k < mm) {
            if (math.abs(values(i + k) - values(j + k)) > r) ok = false
            k += 1
          }
          if (ok) cnt += 1
          j += 1
        }
        i += 1
      }
      cnt
    }
    val b = matches(m)
    val a = matches(m + 1)
    if (b == 0 || a == 0) Double.NaN else -math.log(a.toDouble / b)
  }

  /** Permutation entropy of ordinal patterns of the given order (delay 1),
    * normalized by log(order!). */
  def permutationEntropy(values: Array[Double], order: Int): Double = {
    val n = values.length
    if (n < order + 1) return Double.NaN
    val counts = scala.collection.mutable.Map[Seq[Int], Int]()
    var i = 0
    while (i + order <= n) {
      val window = values.slice(i, i + order)
      val pattern = window.zipWithIndex.sortBy(_._1).map(_._2).toSeq
      counts(pattern) = counts.getOrElse(pattern, 0) + 1
      i += 1
    }
    val total = counts.values.sum.toDouble
    val h = -counts.values.map { c => val p = c / total; p * math.log(p) }.sum
    var fact = 1.0
    (2 to order).foreach(fact *= _)
    h / math.log(fact)
  }

  /** LZ76 phrase count over a median-binarized sequence, normalized by n. */
  def lempelZiv(values: Array[Double]): Double = {
    val n = values.length
    if (n < 2) return Double.NaN
    val med = Stats.percentile(values.sorted, 0.5)
    val bits = values.map(v => if (v > med) '1' else '0')
    val s = new String(bits)
    var complexity = 1
    var prefixLen = 1
    var pos = 1
    while (pos < n) {
      // longest substring starting at pos that appears in s[0, pos+len-1)
      var len = 1
      while (pos + len <= n && s.substring(0, pos + len - 1).contains(s.substring(pos, pos + len)))
        len += 1
      complexity += 1
      pos += len
      prefixLen = pos
    }
    complexity.toDouble / n
  }

  private def timeReversalAsymmetry(values: Array[Double], lag: Int): Double = {
    val n = values.length
    if (n <= 2 * lag) return Double.NaN
    var s = 0.0
    var i = 0
    while (i < n - 2 * lag) {
      val a = values(i + 2 * lag)
      val b = values(i + lag)
      val c = values(i)
      s += a * a * b - b * c * c
      i += 1
    }
    s / (n - 2 * lag)
  }

  private def c3(values: Array[Double], lag: Int): Double = {
    val n = values.length
    if (n <= 2 * lag) return Double.NaN
    var s = 0.0
    var i = 0
    while (i < n - 2 * lag) {
      s += values(i + 2 * lag) * values(i + lag) * values(i)
      i += 1
    }
    s / (n - 2 * lag)
  }

  /** Durbin-Levinson PACF at lags 1..maxLag. */
  def partialAutocorrelation(values: Array[Double], maxLag: Int): Array[Double] = {
    val n = values.length
    val cap = math.min(maxLag, n - 2)
    if (cap < 1) return Array.empty
    val rho = (1 to cap).map(l => Stats.autocorrelation(values, l)).toArray
    val pacf = new Array[Double](cap)
    val phi = Array.ofDim[Double](cap + 1, cap + 1)
    pacf(0) = rho(0)
    phi(1)(1) = rho(0)
    var k = 2
    while (k <= cap) {
      var num = rho(k - 1)
      var den = 1.0
      var j = 1
      while (j < k) {
        num -= phi(k - 1)(j) * rho(k - 1 - j)
        den -= phi(k - 1)(j) * rho(j - 1)
        j += 1
      }
      val pk = if (math.abs(den) > 1e-12) num / den else 0.0
      phi(k)(k) = pk
      j = 1
      while (j < k) { phi(k)(j) = phi(k - 1)(j) - pk * phi(k - 1)(k - j); j += 1 }
      pacf(k - 1) = pk
      k += 1
    }
    pacf
  }

  private def spectral(values: Array[Double]): (Double, Double) = {
    if (values.length < 4) return (Double.NaN, Double.NaN)
    val (freqs, power) = Fft.periodogram(values)
    val total = power.sum
    if (total <= 0) return (Double.NaN, Double.NaN)
    var centroid = 0.0
    var i = 0
    while (i < freqs.length) { centroid += freqs(i) * power(i); i += 1 }
    centroid /= total
    var v = 0.0
    i = 0
    while (i < freqs.length) {
      v += (freqs(i) - centroid) * (freqs(i) - centroid) * power(i)
      i += 1
    }
    (centroid, v / total)
  }

  /** Chunked means → linear regression over chunk index (tsfresh
    * agg_linear_trend with chunk_len, f_agg=mean). */
  private def aggLinearTrend(values: Array[Double], chunkLen: Int): (Double, Double, Double, Double) = {
    val chunks = values.grouped(chunkLen).filter(_.nonEmpty).map(c => c.sum / c.length).toArray
    if (chunks.length < 2) return (Double.NaN, Double.NaN, Double.NaN, Double.NaN)
    val (slope, intercept, r2, se) = linReg(chunks)
    (slope, intercept, if (r2.isNaN) Double.NaN else math.sqrt(r2) * math.signum(slope), se)
  }

  /** First 10 FFT coefficients of the raw (unpadded→zero-padded) series. */
  private def fftCoefficients(values: Array[Double]): (Array[Double], Array[Double]) = {
    val n = values.length
    var padded = 1
    while (padded < n) padded <<= 1
    val re = new Array[Double](padded)
    val im = new Array[Double](padded)
    Array.copy(values, 0, re, 0, n)
    Fft.fft(re, im)
    (re.take(10), im.take(10))
  }
}
