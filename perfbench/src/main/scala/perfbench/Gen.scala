package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generators. Every table a workload feeds the program is
  * built here, on the driver, from `(workload, seed)` alone: the same pair
  * yields bit-identical arrays and therefore the same [[digest]].
  *
  * Planted properties (each one is what an output check relies on):
  *  - too-short series (1-2 points, below the forecast kernel's 3-point
  *    minimum) so the per-series skip path runs and the skip count is known;
  *  - intermittent series (mostly zeros) next to smooth weekly-seasonal ones;
  *  - near-duplicate document clusters of known sizes, whose keys are within
  *    edit distance 2 of each other, so the exact planted pair count is known.
  */
object Gen {

  /** One univariate daily series: `values(i)` is day `start + i`. `holdout`
    * are the next `holdout.length` true values, never shown to the program. */
  final case class Series(id: Int, startDay: Int, values: Array[Double], holdout: Array[Double])

  final case class SeriesSet(series: Array[Series], horizon: Int, tooShort: Int, intermittent: Int) {
    def rows: Long = series.map(_.values.length.toLong).sum
  }

  final case class Doc(id: Long, text: String, key: String)

  /** `centroids` is the IVF coarse quantizer over `vectors` (see [[kMeans]]). */
  final case class Corpus(docs: Array[Doc], plantedPairs: Long,
                          vectors: Array[(Long, Array[Double])], centroids: Array[Array[Double]])

  val PlantBase = 1000000000L
  val ClusterStride = 16L
  def sameCluster(a: Long, b: Long): Boolean =
    a >= PlantBase && b >= PlantBase && (a - PlantBase) / ClusterStride == (b - PlantBase) / ClusterStride

  /** Day number (days since 1970-01-01) every generated series ends on. */
  val EndDay = 19904 // 2024-07-01

  private def rng(seed: Long, stream: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream)

  /** Short daily series (M5-like): weekly profile, level, noise; about
    * `intermittentShare` mostly-zero series and `tooShort` 1-2 point ones. */
  def shortSeries(seed: Long, n: Int, minLen: Int, maxLen: Int, horizon: Int,
                  tooShort: Int, intermittentShare: Double): SeriesSet = {
    val r = rng(seed, 1)
    var inter = 0
    val out = Array.tabulate(n) { i =>
      val id = 1000000 + i
      if (i < tooShort) {
        val len = 1 + r.nextInt(2)
        Series(id, EndDay - len + 1, Array.fill(len)(math.rint(5 + 10 * r.nextDouble())), Array.empty)
      } else {
        val len = minLen + r.nextInt(maxLen - minLen + 1)
        val total = len + horizon
        val isInter = r.nextDouble() < intermittentShare
        if (isInter) inter += 1
        val level = 5 + 45 * r.nextDouble()
        val weekly = Array.fill(7)(0.6 + 0.8 * r.nextDouble())
        val all = Array.tabulate(total) { t =>
          if (isInter) { if (r.nextDouble() < 0.15) math.rint(1 + 4 * r.nextDouble()) else 0.0 }
          else math.max(0.0, math.rint(level * weekly(t % 7) + r.nextGaussian() * math.sqrt(level)))
        }
        Series(id, EndDay - len + 1, all.take(len), all.drop(len))
      }
    }
    SeriesSet(out, horizon, tooShort, inter)
  }

  /** Long M4-Daily-shaped series: random-walk trend, weekly season, noise. */
  def longSeries(seed: Long, n: Int, minLen: Int, maxLen: Int, horizon: Int): SeriesSet = {
    val r = rng(seed, 2)
    val out = Array.tabulate(n) { i =>
      val len = minLen + r.nextInt(maxLen - minLen + 1)
      val total = len + horizon
      var level = 1000 + 9000 * r.nextDouble()
      val drift = (r.nextDouble() - 0.45) * level * 2e-4
      val amp = level * (0.02 + 0.08 * r.nextDouble())
      val phase = r.nextInt(7)
      val all = Array.tabulate(total) { t =>
        level += drift + r.nextGaussian() * level * 4e-3
        level + amp * math.sin(2 * math.Pi * ((t + phase) % 7) / 7.0) + r.nextGaussian() * amp * 0.3
      }
      Series(2000000 + i, EndDay - len + 1, all.take(len), all.drop(len))
    }
    SeriesSet(out, horizon, 0, 0)
  }

  /** Short docs drawn from a seeded vocabulary, plus planted clusters: each
    * cluster is a base doc and `size - 1` copies with one character
    * substituted inside the first `keyLen` chars (so every member pair has
    * key edit distance <= 2 and shingle Jaccard ~0.9). `keyLen`-char keys
    * are the doc prefixes. Embeddings are a seeded Gaussian mixture. */
  def corpus(seed: Long, nDocs: Int, clusterSizes: Seq[Int], keyLen: Int,
             nVectors: Int, dim: Int, mixture: Int, nLists: Int): Corpus = {
    val r = rng(seed, 3)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val vocab = Array.fill(4000)(Array.fill(3 + r.nextInt(6))(letters(r.nextInt(26))).mkString)
    def text(): String = {
      val sb = new StringBuilder
      while (sb.length < 160 + r.nextInt(80)) {
        if (sb.nonEmpty) sb += ' '
        sb ++= vocab(r.nextInt(vocab.length))
      }
      sb.toString
    }
    val planted = clusterSizes.iterator.zipWithIndex.flatMap { case (size, c) =>
      require(size >= 2 && size <= ClusterStride, s"cluster size $size")
      val base = text()
      (0 until size).map { m =>
        val t = if (m == 0) base else {
          val chars = base.toCharArray
          val pos = r.nextInt(keyLen)
          var ch = letters(r.nextInt(26))
          while (ch == chars(pos)) ch = letters(r.nextInt(26))
          chars(pos) = ch
          new String(chars)
        }
        Doc(PlantBase + c * ClusterStride + m, t, t.take(keyLen))
      }
    }.toArray
    val background = Array.tabulate(nDocs - planted.length) { i =>
      val t = text(); Doc(3000000L + i, t, t.take(keyLen))
    }
    val centers = Array.fill(mixture)(Array.fill(dim)(r.nextGaussian()))
    val vectors = Array.tabulate(nVectors) { i =>
      val c = centers(r.nextInt(mixture))
      (4000000L + i, Array.tabulate(dim)(j => c(j) + 0.35 * r.nextGaussian()))
    }
    Corpus(background ++ planted, clusterSizes.map(s => s.toLong * (s - 1) / 2).sum, vectors,
      kMeans(vectors.map(_._2), nLists))
  }

  /** IVF centroids the way a trained index holds them: cosine k-means,
    * seeded with the first `k` vectors, two Lloyd iterations; an empty list
    * keeps its previous centroid. */
  def kMeans(vectors: Array[Array[Double]], k: Int, iters: Int = 2): Array[Array[Double]] = {
    def unit(v: Array[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    var cents = vectors.take(k).map(_.clone)
    for (_ <- 0 until iters) {
      val units = cents.map(unit)
      val sums = Array.fill(k)(new Array[Double](vectors(0).length))
      val counts = new Array[Int](k)
      vectors.foreach { v =>
        val best = units.indices.maxBy(c => units(c).indices.map(i => units(c)(i) * v(i)).sum)
        counts(best) += 1
        v.indices.foreach(i => sums(best)(i) += v(i))
      }
      cents = Array.tabulate(k)(c => if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c)))
    }
    cents
  }

  /** SHA-256 over every generated value, in generation order (hex, 16 chars). */
  def digest(parts: Iterator[Any]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    def put(x: Any): Unit = x match {
      case d: Double => buf.clear(); buf.putDouble(d); md.update(buf.array())
      case l: Long => buf.clear(); buf.putLong(l); md.update(buf.array())
      case i: Int => put(i.toLong)
      case s: String => md.update(s.getBytes("UTF-8")); put(s.length)
      case a: Array[Double] => a.foreach(put); put(a.length)
      case other => throw new IllegalArgumentException(s"digest: ${other.getClass}")
    }
    parts.foreach(put)
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  def digest(s: SeriesSet): String =
    digest(s.series.iterator.flatMap(x => Iterator(x.id, x.startDay, x.values, x.holdout)))

  def digest(c: Corpus): String =
    digest(c.docs.iterator.flatMap(d => Iterator(d.id, d.text, d.key)) ++
      c.vectors.iterator.flatMap { case (id, v) => Iterator(id, v) } ++ c.centroids.iterator)
}
