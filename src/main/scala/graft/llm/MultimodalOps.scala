package graft.llm

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for training-data pipelines: image/audio/video
  * payloads travel as opaque `binary` columns with typed metadata structs;
  * decode / feature-extract / resize / frame-sample run as batched
  * per-partition transforms (the JVM analogue of `mapInPandas` — one
  * iterator pass per partition, bounded memory, no driver collection).
  *
  * The actual codecs are NOT available in this container, so the decode step
  * is a clearly-marked deterministic stub ([[StubCodec]]) — the Spark-side
  * contract (schemas, partition sizing, batch shape, null/corrupt handling)
  * is real and tested, and a production build swaps `StubCodec` for a JNI or
  * process-isolated codec without touching the plumbing.
  */
object MultimodalOps {

  /** Typed metadata carried next to every binary payload. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("media_type", StringType), // image | audio | video
    StructField("format", StringType), // png, wav, mp4, ...
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType),
    StructField("size_bytes", LongType)))

  /** STUB: deterministic stand-in for the real decoder. Derives pixel/sample
    * statistics from the payload bytes so the pipeline shape is exercised
    * end-to-end with reproducible values. A real deployment replaces exactly
    * this object. */
  object StubCodec {
    /** "Decode" an image payload to (width, height, meanLuma) — fake but
      * deterministic in the payload bytes. */
    def decodeImage(payload: Array[Byte]): (Int, Int, Double) = {
      if (payload == null || payload.isEmpty) return (0, 0, Double.NaN)
      val w = 16 + (math.abs(scala.util.hashing.MurmurHash3.bytesHash(payload, 1)) % 1024)
      val h = 16 + (math.abs(scala.util.hashing.MurmurHash3.bytesHash(payload, 2)) % 1024)
      var s = 0L
      var i = 0
      while (i < payload.length) { s += payload(i) & 0xff; i += 1 }
      (w, h, s.toDouble / payload.length / 255.0)
    }

    /** "Extract" an embedding from a payload: payload-deterministic unit
      * vector from pure integer hash arithmetic — component j accumulates
      * `(byte_i + 1) · W(i, j)` with integer weights
      * `W(i, j) = ((i+1)·(j+7)) mod 97 − 48`, then float32-normalizes.
      * Every step (int64 sums, double norm, float32 rounding) is exactly
      * replayable in ANSI SQL, so the full embed→ANN pipeline is
      * oracle-checkable; a real encoder slots in behind the signature. */
    def embed(payload: Array[Byte], dim: Int): Array[Float] = {
      if (payload == null || payload.isEmpty) return Array.fill(dim)(0f)
      val raw = new Array[Long](dim)
      var j = 0
      while (j < dim) {
        var s = 0L
        var i = 0
        while (i < payload.length) {
          s += ((payload(i) & 0xff) + 1).toLong * (((i + 1) * (j + 7)) % 97 - 48)
          i += 1
        }
        raw(j) = s
        j += 1
      }
      val norm = math.sqrt(raw.map(x => x.toDouble * x.toDouble).sum)
      if (norm == 0) Array.fill(dim)(0f) else raw.map(x => (x / norm).toFloat)
    }

    /** 56-bit difference hash (dHash) of an image payload over the stubbed
      * decode: the payload partitions into an 8×8 block grid (cell t covers
      * bytes [⌊tL/64⌋, ⌊(t+1)L/64⌋), integer-mean "luma" per cell — the
      * deterministic stand-in for the real resize-to-8×8-grayscale step; a
      * production build computes the same grid from decoded pixels), then
      * bit (r·7+c) is set iff cell(r, c+1) > cell(r, c) — 7 row-wise
      * gradient bits × 8 rows = 56 bits, all below the BIGINT sign bit so
      * the hash and its band slices replay exactly in any SQL engine.
      * Every arithmetic step is integer (block bounds by floor division,
      * cell mean by integer division), so the DuckDB oracle replays the
      * hash bit-for-bit on ASCII payloads. Empty/null payloads hash to 0. */
    def dHash56(payload: Array[Byte]): Long = {
      if (payload == null || payload.isEmpty) return 0L
      val L = payload.length
      val cells = new Array[Long](64)
      var t = 0
      while (t < 64) {
        val lo = (t.toLong * L / 64).toInt
        val hi = ((t + 1).toLong * L / 64).toInt
        if (hi > lo) {
          var s = 0L
          var i = lo
          while (i < hi) { s += payload(i) & 0xff; i += 1 }
          cells(t) = s / (hi - lo)
        }
        t += 1
      }
      var h = 0L
      var r = 0
      while (r < 8) {
        var c = 0
        while (c < 7) {
          if (cells(r * 8 + c + 1) > cells(r * 8 + c)) h |= 1L << (r * 7 + c)
          c += 1
        }
        r += 1
      }
      h
    }

    /** "Sample" `n` frame offsets from a video payload (uniform grid). */
    def sampleFrames(durationMs: Long, n: Int): Array[Long] =
      if (durationMs <= 0 || n <= 0) Array.empty
      else Array.tabulate(n)(i => durationMs * (2L * i + 1) / (2L * n))

    /** "Resize" an image payload to (targetW, targetH): deterministic
      * byte-arithmetic stand-in — the output payload is a strided sample of
      * the input scaled to the pixel-count ratio, so output size is exactly
      * `max(1, len·(tw·th)/(w·h))` bytes (capped at the input length) and a
      * real bilinear resizer slots in behind the same signature. */
    def resizeImage(payload: Array[Byte], targetW: Int, targetH: Int): Array[Byte] = {
      if (payload == null || payload.isEmpty) return Array.emptyByteArray
      val (w, h, _) = decodeImage(payload)
      val ratio = (targetW.toLong * targetH).toDouble / (w.toLong * h).toDouble
      val outLen = math.max(1L, math.min(payload.length.toLong,
        math.round(payload.length * ratio))).toInt
      Array.tabulate(outLen)(i =>
        payload(((i.toLong * payload.length) / outLen).toInt))
    }
  }

  /** Wrap a raw binary column with typed metadata (size + caller-provided
    * type/format; dimensions filled by decode). */
  def withMediaMeta(df: DataFrame, binCol: String, mediaType: String,
                    format: String, out: String = "media_meta"): DataFrame =
    df.withColumn(out, struct(
      lit(mediaType).as("media_type"), lit(format).as("format"),
      lit(null).cast(IntegerType).as("width"), lit(null).cast(IntegerType).as("height"),
      lit(null).cast(LongType).as("duration_ms"),
      length(col(binCol)).cast(LongType).as("size_bytes")))

  /** Batched image decode per partition: adds (width, height, mean_luma).
    * Corrupt/null payloads yield null stats instead of failing the task. */
  def decodeImages(df: DataFrame, binCol: String): DataFrame = {
    val schema = StructType(df.schema.fields ++ Seq(
      StructField("width", IntegerType), StructField("height", IntegerType),
      StructField("mean_luma", DoubleType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val idx = df.schema.fieldIndex(binCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val payload = if (r.isNullAt(idx)) null else r.getAs[Array[Byte]](idx)
        val out: Seq[Any] =
          try {
            val (w, h, luma) = StubCodec.decodeImage(payload)
            Seq[Any](w, h, luma)
          } catch { case _: Throwable => Seq(null, null, null) }
        Row.fromSeq(r.toSeq ++ out)
      }
    }(enc)
  }

  /** Batched embedding extraction: one pass per partition, fixed dim. */
  def extractEmbeddings(df: DataFrame, binCol: String, dim: Int = 64,
                        out: String = "embedding"): DataFrame = {
    val embUdf = udf((payload: Array[Byte]) => StubCodec.embed(payload, dim))
    df.withColumn(out, embUdf(col(binCol)))
  }

  /** Batched resize per partition: replaces the payload with the resized
    * bytes and rewrites the metadata struct's dimensions/size. Same
    * partition-iterator shape as decodeImages — bounded memory, corrupt
    * payloads become empty outputs instead of failing the task. */
  def resizeImages(df: DataFrame, binCol: String, targetW: Int, targetH: Int,
                   metaCol: String = "media_meta"): DataFrame = {
    val schema = df.schema
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val binIdx = schema.fieldIndex(binCol)
    val metaIdx = if (schema.fieldNames.contains(metaCol)) schema.fieldIndex(metaCol) else -1
    df.mapPartitions { rows =>
      rows.map { r =>
        val payload = if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)
        val resized =
          try StubCodec.resizeImage(payload, targetW, targetH)
          catch { case _: Throwable => Array.emptyByteArray }
        val seq = r.toSeq.toArray
        seq(binIdx) = resized
        if (metaIdx >= 0 && !r.isNullAt(metaIdx)) {
          val m = r.getStruct(metaIdx)
          seq(metaIdx) = Row(m.get(0), m.get(1), targetW, targetH, m.get(4),
            resized.length.toLong)
        }
        Row.fromSeq(seq.toIndexedSeq)
      }
    }(enc)
  }

  /** Frame sampling for video payloads: explode n uniform frame offsets. */
  def sampleFrameOffsets(df: DataFrame, durationCol: String, n: Int,
                         out: String = "frame_offset_ms"): DataFrame = {
    val fUdf = udf((d: java.lang.Long) =>
      StubCodec.sampleFrames(if (d == null) 0L else d.longValue(), n))
    df.withColumn(out, explode(fUdf(col(durationCol))))
  }

  /** Build a demo media table from the documents corpus (payload = utf-8
    * bytes) — lets the pipeline run on the driver's testdata. */
  def demoMediaTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    withMediaMeta(
      docs.select(col(idCol), col(textCol).cast(BinaryType).as("payload")),
      "payload", "image", "png")

  /** Perceptual hash column via the native codegen
    * [[graft.functions.DHash56]] (bit-parity-pinned against the
    * [[StubCodec.dHash56]] executable spec); NULL payloads keep the
    * legacy hash-to-0 behavior. */
  def imageDHash(df: DataFrame, binCol: String, out: String = "dhash"): DataFrame = {
    val B = org.apache.spark.sql.GraftExpressionBridge
    df.withColumn(out, coalesce(
      B.column(graft.functions.DHash56(
        B.expression(col(binCol).cast(BinaryType)))), lit(0L)))
  }

  /** Image near-duplicate candidate pairs by perceptual hash: two images
    * are near-dups when their dHashes differ in at most `maxDist` of the
    * 56 gradient bits. Candidate generation is SimHash-style banding —
    * the hash splits into `bands` equal bit slices and candidates share at
    * least one (band, slice) bucket. Pigeonhole guarantee: with
    * `maxDist < bands`, at most maxDist bits differ, so at least one band
    * is IDENTICAL — banding finds every true near-dup pair (no recall
    * loss); verification then computes the exact Hamming distance.
    *
    * Scale shape (the LSH discipline): payload bytes die at the map-side
    * hash projection — only (id, band, slice, hash) crosses an exchange;
    * per-bucket population cap kills the skew bomb of boilerplate images
    * (blank thumbnails, tracking pixels) exactly like the text-LSH bucket
    * cap; verify is integer xor + bit_count on the paired hashes. Output:
    * (id_a, id_b, hamming), id_a < id_b. */
  def nearDupImages(df: DataFrame, idCol: String, binCol: String,
                    maxDist: Int = 3, bands: Int = 4,
                    maxBucketSize: Int = 1000): DataFrame = {
    require(bands >= 1 && 56 % bands == 0,
      s"bands must divide 56 (got $bands); 4 or 8 are the useful settings")
    require(maxDist >= 0 && maxDist < bands,
      s"the pigeonhole guarantee needs maxDist < bands, got $maxDist >= $bands")
    val bandBits = 56 / bands
    val mask = (1L << bandBits) - 1L
    val hashed = imageDHash(df, binCol).select(col(idCol).as("_id"), col("dhash"))
    val banded = hashed.select(col("_id"), col("dhash"),
        explode(array((0 until bands).map(lit): _*)).as("band"))
      .withColumn("slice",
        expr(s"shiftright(dhash, band * $bandBits)").bitwiseAND(mask))
    val okBuckets = banded.groupBy(col("band"), col("slice"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n").between(2, maxBucketSize))
      .select(col("band"), col("slice"))
    val capped = banded.join(okBuckets, Seq("band", "slice"))
    val pairs = capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.slice") === col("b.slice") &&
          col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"),
        col("a.dhash").as("_ha"), col("b.dhash").as("_hb"))
      .distinct()
    pairs
      .withColumn("hamming",
        bit_count(col("_ha").bitwiseXOR(col("_hb"))).cast(IntegerType))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }
}
