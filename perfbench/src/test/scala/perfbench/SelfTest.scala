package perfbench

import scala.collection.mutable

/** Tests of the benchmark's own logic (no Spark session needed):
  *
  * {{{
  * python3 perfbench/run.py --self-test
  * }}}
  *
  * The optional argument is the path of BENCHMARK.json, whose metric names
  * and units must be the ones `Main` prints. Exits non-zero when any
  * check fails. */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]
  private var passed = 0

  private def check(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failures += name; println(s"FAIL $name: $e") }

  private def eq[T](got: T, want: T, what: String = ""): Unit =
    if (got != want) throw new AssertionError(s"$what got $got, want $want")

  private def near(got: Double, want: Double, what: String = ""): Unit =
    if (math.abs(got - want) > 1e-9) throw new AssertionError(s"$what got $got, want $want")

  private def levenshtein(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = Seq(d(i - 1)(j) + 1, d(i)(j - 1) + 1, d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)).min
    d(a.length)(b.length)
  }

  def main(args: Array[String]): Unit = {
    check("tail: highest order statistic with at least ten samples beyond it") {
      val xs = (1 to 30).map(_.toDouble).reverse
      val t = Stats.tail(xs).get
      eq(t.value, 20.0, "value")
      near(t.percentile, 100.0 * 20 / 30, "percentile")
      eq(t.samples, 30, "samples")
      eq(xs.count(_ > t.value), 10, "samples beyond")
    }
    check("tail: eleven samples give the minimum; ten or fewer give none") {
      eq(Stats.tail((1 to 11).map(_.toDouble)).map(_.value), Some(1.0))
      eq(Stats.tail((1 to 10).map(_.toDouble)), None)
    }
    check("tail: ties keep ten samples at or beyond the reported value") {
      val xs = Seq.fill(20)(1.0) ++ Seq.fill(10)(5.0)
      eq(Stats.tail(xs).map(_.value), Some(1.0))
    }
    check("median of odd and even counts") {
      eq(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
      eq(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)), 2.5)
    }

    check("self time: nested and overlapping children are counted once") {
      val parent = Span(1, 0, 1, "op", 0, 100)
      val kids = Seq(Span(2, 1, 1, "a", 10, 30), Span(3, 1, 1, "b", 20, 50), Span(4, 1, 1, "c", 25, 40))
      near(Span.selfMs(parent, kids), 60.0)
    }
    check("self time: children are clipped to the parent interval") {
      val parent = Span(1, 0, 1, "op", 0, 100)
      near(Span.selfMs(parent, Seq(Span(2, 1, 1, "a", -10, 10), Span(3, 1, 1, "b", 90, 130))), 80.0)
      near(Span.selfMs(parent, Seq(Span(2, 1, 1, "a", 0, 100), Span(3, 1, 1, "b", 10, 20))), 0.0)
      near(Span.selfMs(parent, Nil), 100.0)
    }
    check("self time: only direct children count; grandchildren fall inside them") {
      val t = new Tracer
      val op = t.add(0, 7, "op", 0, 100)
      val q = t.add(op, 7, "query", 10, 90)
      t.add(q, 7, "exec", 20, 80)
      val rendered = t.render().toList
      eq(rendered.length, 3, "spans")
      val self = rendered.map(l => "\"self_ms\":([0-9.]+)".r.findFirstMatchIn(l).get.group(1).toDouble)
      eq(self, List(20.0, 20.0, 60.0), "self times")
      eq(t.all.map(_.op).distinct, Seq(7), "shared op id")
    }

    check("generator: the same seed gives the same inputs and digest") {
      val a = Gen.shortSeries(42, 300, 60, 120, 14, 3, 0.1)
      val b = Gen.shortSeries(42, 300, 60, 120, 14, 3, 0.1)
      eq(Gen.digest(a), Gen.digest(b))
      eq(Gen.digest(Gen.longSeries(42, 3, 100, 120, 14)), Gen.digest(Gen.longSeries(42, 3, 100, 120, 14)))
      val c1 = Gen.corpus(42, 400, Seq(2, 3, 6), 24, 50, 8, 4, 3)
      val c2 = Gen.corpus(42, 400, Seq(2, 3, 6), 24, 50, 8, 4, 3)
      eq(Gen.digest(c1), Gen.digest(c2))
    }
    check("generator: another seed gives other inputs") {
      val a = Gen.shortSeries(42, 300, 60, 120, 14, 3, 0.1)
      val b = Gen.shortSeries(43, 300, 60, 120, 14, 3, 0.1)
      if (Gen.digest(a) == Gen.digest(b)) throw new AssertionError("digests collide")
    }
    check("generator: planted short and intermittent series") {
      val s = Gen.shortSeries(5, 1000, 60, 120, 14, 10, 0.1)
      eq(s.series.count(_.values.length < 3), 10, "too-short series")
      eq(s.tooShort, 10)
      if (s.intermittent < 50 || s.intermittent > 150) throw new AssertionError(s"intermittent ${s.intermittent}")
    }
    check("generator: planted clusters have the stated pair count and keys within distance 2") {
      val c = Gen.corpus(9, 500, Seq(2, 3, 4, 5, 6), 24, 10, 4, 2, 2)
      eq(c.plantedPairs, 1L + 3 + 6 + 10 + 15)
      val planted = c.docs.filter(_.id >= Gen.PlantBase)
      val pairs = for (a <- planted; b <- planted if a.id < b.id && Gen.sameCluster(a.id, b.id)) yield (a, b)
      eq(pairs.length.toLong, c.plantedPairs, "pairs")
      pairs.foreach { case (a, b) =>
        if (levenshtein(a.key, b.key) > 2) throw new AssertionError(s"keys ${a.key} / ${b.key}")
        if (levenshtein(a.text, b.text) > 2) throw new AssertionError("docs differ by more than two edits")
      }
      eq(c.docs.map(_.id).distinct.length, c.docs.length, "distinct ids")
    }

    check("metric names and units fit the result format") {
      val name = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r
      val unit = "[A-Za-z0-9_/%.-]{1,16}".r
      val all = Main.EndToEnd ++ Layers.names
      all.foreach { case (n, u) =>
        if (!name.matches(n)) throw new AssertionError(s"name $n")
        if (!unit.matches(u)) throw new AssertionError(s"unit $u of $n")
      }
      eq(all.map(_._1).distinct.length, all.length, "unique names")
      if (Layers.names.length > 128) throw new AssertionError("too many per-layer metrics")
    }

    args.headOption.foreach { path =>
      check("BENCHMARK.json lists exactly the metrics and workloads Main prints") {
        val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
        def pairs(key: String) = (0 until json.get(key).size).map { i =>
          val m = json.get(key).get(i)
          m.get("name").asText -> m.get("unit").asText
        }
        eq(pairs("end_to_end"), Main.EndToEnd, "end_to_end")
        eq(pairs("per_layer"), Layers.names, "per_layer")
        val workloads = (0 until json.get("workloads").size).map(i => json.get("workloads").get(i).get("name").asText)
        eq(workloads, Workload.names.take(workloads.length), "workloads")
      }
    }

    check("a failed output check raises the failed ratio") {
      val clean = OpLoop.run(0.05, trace = false)((_, _) => Nil)
      eq(clean.failed, 0)
      val r = OpLoop.run(0.05, trace = false)((id, _) => if (id % 4 == 0) Seq("rows differ") else Nil)
      eq(r.failed, r.attempted / 4, "failed")
      near(r.failedRatio, (r.attempted / 4).toDouble / r.attempted, "ratio")
      if (r.failedRatio <= clean.failedRatio) throw new AssertionError("ratio did not rise")
      if (!r.failures.forall(_.contains("rows differ"))) throw new AssertionError("failure text lost")
    }
    check("an op that throws counts as attempted and failed") {
      val r = OpLoop.run(0.05, trace = false)((id, _) => if (id == 2) throw new IllegalStateException("boom") else Nil)
      eq(r.failed, 1)
      if (r.attempted < OpLoop.MinOps) throw new AssertionError(s"only ${r.attempted} ops")
    }
    check("a forecast output with missing rows fails its check") {
      val w = new ManyShort
      w.generate(3)
      val want = (w.units - w.expectedSkips) * 14
      def out(rows: Long = want, bad: Long = 0L, digest: Long = 1L, err: Double = 0.5): Map[String, Any] =
        Map("rows" -> rows, "bad_yhat" -> bad, "digest" -> digest, "err_sum" -> err * 100, "err_n" -> 100L)
      eq(w.checkForecast("forecast", out()), Nil)
      eq(w.checkForecast("forecast", out(rows = want - 14)).length, 1, "missing rows")
      eq(w.checkForecast("forecast", out(bad = 2)).length, 1, "non-finite yhat")
      eq(w.checkForecast("forecast", out(digest = 5)).length, 1, "digest differing from the first op")
      eq(w.checkForecast("forecast", out(err = 0.6)).length, 1, "error differing from the first op")
    }
    check("traced loop alternates traced and untraced ops") {
      val r = OpLoop.run(0.05, trace = true)((_, _) => Nil)
      if (r.traced.isEmpty || r.walls.isEmpty) throw new AssertionError("one kind missing")
      if (!r.traced.forall(_._2 % 2 == 0)) throw new AssertionError("odd op traced")
    }

    println(s"$passed passed, ${failures.length} failed")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
