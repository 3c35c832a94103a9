package graft.kernels

import scala.collection.mutable.ArrayBuffer

/** Changepoint detection kernels.
  * PELT (Killick et al. 2012) with L1/L2/Normal segment costs and BIC-style
  * default penalty 2·ln(n); Bayesian Online CPD (Adams & MacKay 2007) with a
  * Normal-Gamma conjugate prior. Behavioral contract from reference
  * changepoint.rs (:26-81 costs, :102-178 PELT, :198-358 BOCPD — weak prior
  * μ0=0, κ0=α0=β0=0.01, hazard 1/λ, signal = P(run length = 1), threshold
  * 0.5, max 500 tracked run lengths).
  */
object Changepoint {

  sealed trait Cost
  object Cost {
    case object L1 extends Cost
    case object L2 extends Cost
    case object Normal extends Cost
    def parse(s: String): Cost = s.toLowerCase match {
      case "l1" => L1
      case "l2" => L2
      case "normal" => Normal
      case other => throw new IllegalArgumentException(s"Unknown cost function '$other' (l1|l2|normal)")
    }
  }

  private val Eps = 2.220446049250313e-16

  private def segCost(values: Array[Double], start: Int, end: Int, cost: Cost): Double = {
    if (end <= start) return 0.0
    val n = end - start
    var sum = 0.0
    var i = start
    while (i < end) { sum += values(i); i += 1 }
    val mean = sum / n
    cost match {
      case Cost.L2 =>
        var s = 0.0
        i = start
        while (i < end) { val d = values(i) - mean; s += d * d; i += 1 }
        s
      case Cost.L1 =>
        var s = 0.0
        i = start
        while (i < end) { s += math.abs(values(i) - mean); i += 1 }
        s
      case Cost.Normal =>
        if (n < 2) return 0.0
        var s = 0.0
        i = start
        while (i < end) { val d = values(i) - mean; s += d * d; i += 1 }
        val variance = s / n
        if (variance <= Eps) 0.0 else n * (1.0 + math.log(variance))
    }
  }

  /** PELT segmentation; returns changepoint indices (segment starts).
    * `minSize < 1` is rejected with an IllegalArgumentException: 0 never
    * ends the backtrack (`cp(n) == n`) and a negative value indexes below 0. */
  def pelt(values: Array[Double], minSize: Int = 2, penalty: Option[Double] = None,
           cost: Cost = Cost.L2): Array[Int] = {
    require(minSize >= 1, s"minSize must be >= 1, got $minSize")
    val n = values.length
    if (n < 2 * minSize) return Array.empty
    val pen = penalty.getOrElse(math.log(n.toDouble) * 2.0)

    val f = Array.fill(n + 1)(Double.NegativeInfinity)
    val cp = new Array[Int](n + 1)
    f(0) = -pen

    var tauStar = minSize
    while (tauStar <= n) {
      var bestF = Double.PositiveInfinity
      var bestTau = 0
      var tau = 0
      while (tau + minSize <= tauStar) {
        if (tau == 0 || tau >= minSize) {
          val c = f(tau) + segCost(values, tau, tauStar, cost) + pen
          if (c < bestF) { bestF = c; bestTau = tau }
        }
        tau += 1
      }
      f(tauStar) = bestF
      cp(tauStar) = bestTau
      tauStar += 1
    }

    val out = ArrayBuffer[Int]()
    var idx = n
    while (idx > 0) {
      val tau = cp(idx)
      if (tau > 0) out += tau
      idx = tau
    }
    out.reverse.toArray
  }

  final case class BocpdResult(isChangepoint: Array[Boolean], probability: Array[Double],
                               changepoints: Array[Int])

  /** Bayesian online changepoint detection. */
  def bocpd(values: Array[Double], hazardLambda: Double = 250.0,
            includeProbabilities: Boolean = true): BocpdResult = {
    val n = values.length
    if (n < 3) throw new Forecast.InsufficientData(3, n)
    val hazard = 1.0 / math.max(hazardLambda, 1.0)
    val mu0 = 0.0
    val kappa0 = 0.01
    val alpha0 = 0.01
    val beta0 = 0.01
    val cpThreshold = 0.5
    val maxKeep = 500

    var runProb = ArrayBuffer(1.0)
    var sumX = ArrayBuffer(0.0)
    var sumX2 = ArrayBuffer(0.0)
    var counts = ArrayBuffer(0)

    val isCp = new Array[Boolean](n)
    val prob = new Array[Double](n)
    val cps = ArrayBuffer[Int]()

    var t = 0
    while (t < n) {
      val x = values(t)
      val maxRun = runProb.length
      val pred = new Array[Double](maxRun)
      var r = 0
      while (r < maxRun) {
        val kappaN = kappa0 + counts(r)
        val alphaN = alpha0 + counts(r) / 2.0
        val muN = if (counts(r) > 0) (kappa0 * mu0 + sumX(r)) / kappaN else mu0
        val ss = if (counts(r) > 0) math.max(0.0, sumX2(r) - sumX(r) * sumX(r) / math.max(counts(r), 1)) else 0.0
        val betaN = beta0 + 0.5 * ss + kappa0 * counts(r) * (mu0 - muN) * (mu0 - muN) / (2.0 * kappaN)
        val scale = math.sqrt(betaN * (kappaN + 1.0) / (alphaN * kappaN))
        val z = (x - muN) / math.max(scale, 1e-10)
        val nu = 2.0 * alphaN
        pred(r) = math.pow(1.0 + z * z / nu, -(nu + 1.0) / 2.0)
        r += 1
      }

      val newProb = ArrayBuffer.fill(maxRun + 1)(0.0)
      r = 0
      while (r < maxRun) {
        newProb(r + 1) += runProb(r) * pred(r) * (1.0 - hazard)
        newProb(0) += runProb(r) * pred(r) * hazard
        r += 1
      }
      val total = newProb.sum
      if (total > 1e-300) {
        r = 0
        while (r < newProb.length) { newProb(r) /= total; r += 1 }
      }

      val cpSignal = if (newProb.length > 1) newProb(1) else 0.0
      prob(t) = cpSignal
      isCp(t) = cpSignal > cpThreshold && t > 0
      if (isCp(t)) cps += t

      // shift sufficient statistics: run r-1 at t → run r at t+1
      val newSumX = ArrayBuffer.fill(newProb.length)(0.0)
      val newSumX2 = ArrayBuffer.fill(newProb.length)(0.0)
      val newCounts = ArrayBuffer.fill(newProb.length)(0)
      r = 1
      while (r < newProb.length) {
        newSumX(r) = sumX(r - 1) + x
        newSumX2(r) = sumX2(r - 1) + x * x
        newCounts(r) = counts(r - 1) + 1
        r += 1
      }
      runProb = newProb
      sumX = newSumX
      sumX2 = newSumX2
      counts = newCounts

      if (runProb.length > maxKeep) {
        runProb = runProb.take(maxKeep)
        sumX = sumX.take(maxKeep)
        sumX2 = sumX2.take(maxKeep)
        counts = counts.take(maxKeep)
      }
      t += 1
    }

    BocpdResult(isCp, if (includeProbabilities) prob else new Array[Double](n), cps.toArray)
  }
}
