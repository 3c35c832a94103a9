package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.CpuBound

/** Approximate string joins under an EDIT-DISTANCE bound — the record-
  * linkage / entity-resolution primitive ("which titles, names, URLs are
  * within k typos of each other?"), complementing the set-similarity
  * family (MinHash/Jaccard works on token SETS; edit distance respects
  * ORDER and catches the typos and transpositions set overlap misses).
  *
  * Algorithm — positional q-gram blocking with the count+position+length
  * filters of Gravano et al. 2001 (VLDB, "Approximate string joins in a
  * database (almost) for free"), then an exact banded-Levenshtein verify:
  *
  *  1. every string of length L emits its L-q+1 positional q-grams
  *     (hashed; candidate generation is engine-internal, so the hash
  *     never needs cross-engine replay — only the verified pairs leave);
  *  2. one edit destroys at most q grams and shifts positions by at most
  *     1, so `dist(s1,s2) <= d` leaves at most `d*q` of either side's
  *     grams without a positional match (`|pos1 - pos2| <= d`). By the
  *     prefix-filter principle specialized to edit distance (Ed-Join,
  *     Xiao-Wang-Lin 2008): order gram VALUES by a global canonical key
  *     (document frequency asc, hash asc) — the smallest-ordered matched
  *     value must rank within the first `d*q + 1` distinct values on
  *     BOTH sides (every value below it is wholly unmatched, and there
  *     are at most `d*q` unmatched copies). So each string indexes only
  *     the positional copies of its `d*q + 1` rarest gram values, and
  *     the candidate join runs prefix-against-prefix — hot grams
  *     ("the ", template boilerplate) rank last and never join unless a
  *     string consists of nothing else, in which case the colliding
  *     pairs are near-duplicates the output owes anyway;
  *  3. pairs where BOTH lengths are below `q*(d+1)` (T <= 0 —
  *     un-prunable by grams) fall back to a bounded length-bucket pool
  *     joined on exploded length keys `len+delta, |delta| <= d` — an
  *     equi-join, never a nested loop;
  *  4. surviving candidates verify with Spark's threshold Levenshtein
  *     (`levenshtein(s1, s2, d)` — banded, O(d·min(L)), early exit).
  *
  * Scale design — the gram join is keyed on `(gramHash, pos/(d+1))`: the
  * position band both enforces the position filter through an EQUI-key
  * (one side explodes into its 3 adjacent bands) and splits hot grams
  * ("the", "ing") across bands — the classic key salt, for free and
  * without losing exactness. This is the SHORT-string op (names, titles,
  * URLs, product keys; fixtures run 7-64 chars) — for document-scale
  * near-duplication use the MinHash LSH family, whose shuffle is
  * signature-bounded. The strings DO ride the prefix exchange (a few
  * dozen bytes per gram row next to its three longs) because verification
  * runs INSIDE the band join: on natural-language prefixes the candidate
  * blowup is orders of magnitude larger than the verified output
  * (measured 22.5M candidates → 189k matches at 10× bench scale), so
  * shuffling candidate-pair ids to a distinct + two verify joins — the
  * previous shape — moved far more bytes than the strings themselves.
  * Only verified, output-owed pairs reach the final dedup exchange. No
  * cartesian or nested-loop join anywhere (PlanGuardSpec pins this).
  *
  * Parallelism: the gram-frequency window, the rank window and both sides
  * of the band join read [[graft.ops.CpuBound]] exchanges
  * (`repartition(n, keys)`, n = spark.sql.shuffle.partitions). Each takes
  * the place of the exchange the window or join would have added anyway,
  * so the plan keeps its exchange count, but AQE can no longer coalesce
  * these few-MB, CPU-heavy stages (window sorts, candidate verification)
  * onto one task. The trade-off: REPARTITION_BY_NUM exchanges also opt the
  * band join out of AQE's skew-join split, so per-key fan-out stays
  * bounded by the operator itself — the rarest-first prefix keeps hot grams
  * out of the join, and the position band salts what remains. */
object FuzzyJoinOps {

  /** Spark's 3-arg `levenshtein` semantics through the fast
    * [[graft.functions.BoundedLevenshtein]] (same integer for every input —
    * LevenshteinParitySpec fuzzes the equality). */
  private def boundedLev(a: Column, b: Column, d: Int): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      graft.functions.BoundedLevenshtein(
        org.apache.spark.sql.GraftExpressionBridge.expression(a),
        org.apache.spark.sql.GraftExpressionBridge.expression(b), d))


  /** All unordered pairs `(id1 < id2, dist)` with
    * `levenshtein(s1, s2) <= maxDist`. Null/empty strings never pair;
    * duplicate ids must not occur (standard id contract). Output:
    * `(id1, id2, dist)`. */
  def fuzzySelfJoin(df: DataFrame, idCol: String, strCol: String,
                    maxDist: Int, q: Int = 3): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(q >= 2, s"q must be >= 2, got $q")
    val d = maxDist
    val w = d + 1 // band width: |p1-p2| <= d implies band diff in {-1,0,1}
    val minLong = q * (d + 1) // strings below this have T <= 0

    val slim = df
      .filter(col(strCol).isNotNull && length(col(strCol)) > 0)
      .select(col(idCol).cast("long").as("id"), col(strCol).as("s"),
        length(col(strCol)).as("len"))

    // --- branch A: positional q-gram candidates --------------------------
    // 0-based gram position i -> hash of substr(s, i+1, q); the sequence is
    // guarded (it DESCENDS when len < q — the house pitfall). The string
    // rides on every gram row, so nothing is joined back on id below.
    val grams = slim.select(col("id"), col("len"), col("s"),
      posexplode(
        when(col("len") >= q,
          transform(sequence(lit(0), col("len") - lit(q)),
            i => xxhash64(col("s").substr(i + lit(1), lit(q)))))
          .otherwise(array().cast("array<bigint>"))).as(Seq("pos", "gh")))

    // global canonical gram order: document frequency asc, hash asc —
    // rarest values first, so hot grams fall out of every prefix. The
    // frequency is a window count over gh, so the gram stream is read once.
    val byGram = org.apache.spark.sql.expressions.Window.partitionBy("gh")
    // prefix = ALL positional copies of the d*q+1 rarest gram VALUES
    // (value-granularity keeps the repeated-gram case exact: the matched
    // copy's twins share its value, so they enter the prefix with it).
    // The STRING rides along: verification happens INSIDE the band join
    // (below) instead of re-joining a candidate-pair table against the
    // strings — measured at 10× bench scale the old shape materialized
    // 22.5M distinct candidate pairs (0.84% verify selectivity) and then
    // paid a distinct exchange plus TWO id-keyed joins over them. PINNED
    // (lshNearPairs discipline) because both band-join sides read it. The
    // pin is lazy: the first band-join map stage materializes it, so the
    // rank window runs inside those tasks instead of in a job of its own.
    // (A groupBy(id)+collect_list array-expression variant of this
    // selection measured equal in isolation but 2× slower inside the
    // long-lived bench JVM — the object-hash aggregate falls back to
    // sort-based under memory pressure — so the WindowGroupLimit form
    // stays.)
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("__df").asc, col("gh").asc)
    val withDf = CpuBound.repartition(grams, col("gh"))
      .withColumn("__df", count(lit(1)).over(byGram))
    val prefix = Pin(CpuBound.repartition(withDf, col("id"))
      .withColumn("__vr", dense_rank().over(wRank))
      .filter(col("__vr") <= d * q + 1)
      .select(col("id"), col("len"), col("pos"), col("gh"), col("s")), eager = false).df

    // each side aliases the gram hash and band: both read the one pinned
    // relation, so an unaliased `gh` resolves to the same attribute on both
    // sides. Each side is hash-partitioned on its join keys, in join-key
    // order, so the join adds no exchange of its own.
    val left = CpuBound.repartition(
      prefix.select(col("id").as("id1"), col("len").as("len1"),
        col("s").as("__s1"), col("pos").as("p1"), col("gh").as("gh1"),
        (col("pos") / w).cast("int").as("band1")),
      col("gh1"), col("band1"))
    // the right side explodes into its 3 adjacent bands so the position
    // filter rides the equi-key; a qualifying (p1, p2) pair matches on
    // exactly one emitted band (= p1's own band)
    val right = CpuBound.repartition(
      prefix.select(col("id").as("id2"), col("len").as("len2"),
        col("s").as("__s2"), col("pos").as("p2"), col("gh").as("gh2"),
        explode(array((-1 to 1).map(delta => (col("pos") / w).cast("int") + delta): _*))
          .as("band2")),
      col("gh2"), col("band2"))

    // candidate generation + banded verify in ONE stage: the join's
    // residual filters prune by position/length, then the threshold
    // levenshtein verifies in place — only VERIFIED pairs (output-sized)
    // reach the dedup exchange, never the candidate blowup. The join is
    // pinned to sort-merge: the pin's size estimate is the window plan's,
    // small enough that Spark would otherwise broadcast one side, building
    // the whole prefix into every task's hash table — measured 2× slower at
    // 10× bench scale (with the pin then on one partition), and unbounded at
    // corpus scale.
    val pairsA = left.hint("merge").join(right,
        col("gh1") === col("gh2") && col("band1") === col("band2") &&
          col("id1") < col("id2") &&
          abs(col("p1") - col("p2")) <= d &&
          abs(col("len1") - col("len2")) <= d,
        "inner")
      .filter(greatest(col("len1"), col("len2")) >= minLong)
      .withColumn("dist", boundedLev(col("__s1"), col("__s2"), d))
      .filter(col("dist") >= 0)
      .select("id1", "id2", "dist")

    // --- branch B: the short pool (both lengths < q*(d+1)) ---------------
    val shortL = slim.filter(col("len") < minLong)
    val shortKeys = shortL.select(col("id").as("id2"), col("len").as("len2"),
      col("s").as("__s2"),
      explode(array((-d to d).map(delta => col("len") + delta): _*)).as("lk"))
    val pairsB = shortL
      .select(col("id").as("id1"), col("len").as("len1"),
        col("s").as("__s1"), col("len").as("lk"))
      .join(shortKeys, Seq("lk"))
      .filter(col("id1") < col("id2") && abs(col("len1") - col("len2")) <= d)
      .withColumn("dist", boundedLev(col("__s1"), col("__s2"), d))
      .filter(col("dist") >= 0)
      .select("id1", "id2", "dist")

    // branches are disjoint by the length rule; a pair can still verify in
    // several gram buckets, so dedup the (deterministic) verified rows
    pairsA.unionByName(pairsB).distinct()
  }

  /** Two-table variant: `(leftId, rightId, dist)` for every cross pair
    * within `maxDist` — the "match incoming records against a reference
    * catalog" shape. Same blocking machinery via a disjoint id embedding
    * (left ids even, right ids odd), so both sides share one gram pass. */
  def fuzzyJoin(left: DataFrame, right: DataFrame,
                leftId: String, leftStr: String,
                rightId: String, rightStr: String,
                maxDist: Int, q: Int = 3): DataFrame = {
    // The 2·id / 2·id+1 embedding needs non-negative ids below 2^62:
    // Spark's % keeps the dividend's sign, so a negative embedded id would
    // misfire the parity unmix (id % 2 == −1, not 1), and ids ≥ 2^62
    // silently overflow the ×2. The guard rides the scan the op already
    // pays (a raise_error branch, codegen'd, no extra job — not an
    // upfront validation pass over a 100 TB side) and pmod makes the
    // parity tests sign-safe regardless.
    def embeddable(idc: String, side: String): Column = {
      val id = col(idc).cast("long")
      when(id < 0L || id >= lit(1L << 62),
        raise_error(concat(lit(s"fuzzyJoin: $side id '$idc' must be in " +
          "[0, 2^62) for the even/odd id embedding, got "), id.cast("string")))
          .cast("long"))
        .otherwise(id)
    }
    val l = left.select((embeddable(leftId, "left") * 2).as("id"),
      col(leftStr).as("s"))
    val r = right.select((embeddable(rightId, "right") * 2 + 1).as("id"),
      col(rightStr).as("s"))
    val pairs = fuzzySelfJoin(l.unionByName(r), "id", "s", maxDist, q)
    // keep only cross-side pairs and undo the embedding; the even (left)
    // id may land in either pair slot
    pairs.filter(pmod(col("id1"), lit(2L)) =!= pmod(col("id2"), lit(2L)))
      .select(
        when(pmod(col("id1"), lit(2L)) === 0L, col("id1")).otherwise(col("id2"))
          .divide(2).cast("long").as(leftId),
        when(pmod(col("id1"), lit(2L)) === 1L, col("id1")).otherwise(col("id2"))
          .minus(1).divide(2).cast("long").as(rightId),
        col("dist"))
  }
}
