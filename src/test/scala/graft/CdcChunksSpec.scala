package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.CdcChunks
import graft.llm.TextOps

/** Content-defined chunking: bit-parity between the incremental one-pass
  * rolling hash and the re-walked-window executable spec, the contract
  * invariants (coverage, bounds, determinism), and the property CDC
  * exists for — boundary/hash stability downstream of an insertion. */
class CdcChunksSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .appName("graft-cdc")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def cps(s: String): Array[Int] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i); out += cp; i += Character.charCount(cp)
    }
    out.toArray
  }

  private def viaOp(texts: Seq[String], window: Int, avgBits: Int,
                    minLen: Int, maxLen: Int,
                    seed: Long): Map[Long, Seq[(Int, Int, Long)]] = {
    val sp = spark; import sp.implicits._
    TextOps.chunkContentDefined(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text"),
        "id", "text", window, avgBits, minLen, maxLen, seed)
      .collect()
      .map(r => (r.getLong(0), (r.getInt(2), r.getInt(3), r.getLong(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1).toSeq).toMap
  }

  test("incremental rolling pass == re-walked-window reference on random multi-byte inputs") {
    val rnd = new scala.util.Random(83)
    val alphabet = "abcdefgh \n\tüß素晴🙂xyz0123"
    // sample by CODEPOINT so surrogate pairs stay intact
    val cpPool = cps(alphabet)
    for (trial <- 0 until 40) {
      val n = rnd.nextInt(600)
      val sb = new java.lang.StringBuilder
      (0 until n).foreach(_ => sb.appendCodePoint(cpPool(rnd.nextInt(cpPool.length))))
      val s = sb.toString
      val (w, ab, mn, mx) = (1 + rnd.nextInt(12), 3 + rnd.nextInt(6),
        1 + rnd.nextInt(20), 21 + rnd.nextInt(200))
      val ref = CdcChunks.chunksRef(cps(s), w, ab, mn, mx, 7L)
      val got = viaOp(Seq(s), w, ab, mn, mx, 7L)
        .getOrElse(0L, Seq.empty)
      assert(got === ref, s"trial $trial (w=$w ab=$ab mn=$mn mx=$mx, n=$n)")
    }
  }

  test("contract: chunks tile the document; every non-final chunk within [minLen, maxLen]") {
    val rnd = new scala.util.Random(91)
    val s = Seq.fill(3000)(('a' + rnd.nextInt(26)).toChar).mkString
    val chunks = CdcChunks.chunksRef(cps(s), 8, 6, 16, 128, 7L)
    assert(chunks.head._1 == 1)
    chunks.sliding(2).foreach {
      case Seq((s1, l1, _), (s2, _, _)) => assert(s2 == s1 + l1)
      case _ =>
    }
    assert(chunks.map(_._2).sum == s.length)
    chunks.dropRight(1).foreach { case (_, len, _) =>
      assert(len >= 16 && len <= 128, s"non-final chunk len $len out of bounds")
    }
    // empty and sub-window inputs
    assert(CdcChunks.chunksRef(Array.empty, 8, 6, 16, 128, 7L).isEmpty)
    assert(CdcChunks.chunksRef(cps("abc"), 8, 6, 16, 128, 7L) ===
      Seq((1, 3, CdcChunks.chunksRef(cps("abc"), 8, 6, 16, 128, 7L).head._3)))
  }

  test("shift resilience: a prefix insertion leaves downstream chunk hashes intact") {
    val rnd = new scala.util.Random(97)
    val body = Seq.fill(2000)(('a' + rnd.nextInt(26)).toChar).mkString
    val shifted = "INSERTED PREFIX >> " + body
    val h1 = CdcChunks.chunksRef(cps(body), 8, 6, 16, 128, 7L).map(_._3)
    val h2 = CdcChunks.chunksRef(cps(shifted), 8, 6, 16, 128, 7L).map(_._3)
    val shared = h1.toSet.intersect(h2.toSet)
    // all but the first O(1) chunks re-synchronize on content boundaries
    assert(shared.size >= h1.size - 3,
      s"only ${shared.size}/${h1.size} chunk hashes survived the shift")
    // a FIXED-window scheme shares nothing: sanity-check the premise by
    // comparing fixed 64-char slabs
    val fixed1 = body.grouped(64).toSeq
    val fixed2 = shifted.grouped(64).toSeq
    assert(fixed1.toSet.intersect(fixed2.toSet).isEmpty)
  }

  test("cdcSharedChunks finds planted cross-document shared content; text never shuffles") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(101)
    val core = Seq.fill(800)(('a' + rnd.nextInt(26)).toChar).mkString
    val docs = Seq(
      (1L, core),
      (2L, "totally different document body " * 30),
      (3L, "wrapper head >> " + core + " << wrapper tail"))
      .toDF("id", "text")
    val shared = TextOps.cdcSharedChunks(docs, "id", "text",
      minDocs = 2, window = 8, avgBits = 6, minLen = 16, maxLen = 128)
    assert(shared.count() >= 5, "the shared core must surface several chunks")
    // plan: text must not cross the aggregation exchange (AQE disabled in
    // this session so the exchanges are visible to collect — the
    // PlanGuardSpec discipline)
    val plan = shared.queryExecution.executedPlan
    val shuffles = plan.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }
    assert(shuffles.nonEmpty &&
      shuffles.forall(_.child.output.forall(_.name != "text")),
      s"text must die map-side:\n$plan")
  }
}
