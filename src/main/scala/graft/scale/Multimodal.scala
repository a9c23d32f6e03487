package graft.scale

import graft.core.Ckpt

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (BASELINE.json extension): media as
  * opaque `binary` columns with typed metadata, processed by
  * partition-batched decoders (the Scala analog of `mapInPandas` — one
  * decoder instantiation per partition, streamed row batches, bounded
  * memory).
  *
  * The decode itself is a STUB — no image/audio codecs exist in this
  * container — implemented as a deterministic fake so the Spark-side
  * contract (schema, batching, partition sizing) is real and testable;
  * swap [[FakeCodec]] for a real JNI/FFI codec without touching the
  * plumbing.
  */
object Multimodal {

  val MediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false),
    StructField("media", BinaryType, nullable = true)))

  /** Pack a text column as a fake media blob (UTF-8 bytes). */
  def packText(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).as("media_id"),
      lit("image/fake").as("media_type"),
      col(textCol).cast("binary").as("media"))

  /** STUB codec: deterministic pseudo-features from the raw bytes.
    * A real implementation would decode pixels/samples here. */
  object FakeCodec {
    def features(bytes: Array[Byte]): (Int, Int, Int, Long) = {
      val n = if (bytes == null) 0 else bytes.length
      val width = n % 640 + 1
      val height = n % 480 + 1
      var checksum = 0L
      var i = 0
      while (i < n) { checksum += bytes(i) & 0xff; i += 1 }
      (n, width, height, checksum)
    }
  }

  /** Frame sampling: the first `maxFrames` fixed-size byte windows per
    * blob (the video-frame / audio-chunk extraction shape), with
    * per-frame checksums. Same partition-batched decoder contract as
    * [[decodeFeatures]]; output is one row per (media, frame) — emitted
    * lazily, so a 100 TB corpus streams frame rows without ever holding
    * a whole blob set in memory. */
  def frameSample(media: DataFrame, frameSize: Int, maxFrames: Int): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_no", IntegerType, nullable = false),
      StructField("frame_bytes", IntegerType, nullable = false),
      StructField("frame_checksum", LongType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    media.select("media_id", "media").mapPartitions { it =>
      it.flatMap { r =>
        val bytes = r.getAs[Array[Byte]]("media")
        val n = if (bytes == null) 0 else bytes.length
        val frames = math.min(maxFrames, (n + frameSize - 1) / frameSize)
        (0 until frames).iterator.map { f =>
          val start = f * frameSize
          val end = math.min(start + frameSize, n)
          var checksum = 0L
          var i = start
          while (i < end) { checksum += bytes(i) & 0xff; i += 1 }
          Row(r.getAs[Long]("media_id"), f, end - start, checksum)
        }
      }
    }(enc)
  }

  /** The "resize" step of a perceptual hash: each blob's byte plane
    * split into `regions` PROPORTIONAL windows (region k covers bytes
    * [k·n/R, (k+1)·n/R) — floor arithmetic, so any two engines agree
    * exactly), with the byte SUM and length of each window. This is
    * dHash's grayscale-downsample analog on the opaque media bytes: a
    * real codec would decode pixels and average grid cells here; the
    * deterministic byte-plane stand-in keeps every downstream stage
    * (gradient hash, banding, bucket join, Hamming verify) real and
    * SQL-replayable. Same partition-batched decoder contract as
    * [[decodeFeatures]]. Output: (media_id, sums array, lens array).
    */
  def regionProfile(media: DataFrame, regions: Int): DataFrame = {
    require(regions >= 2, "need at least two regions")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("sums", ArrayType(LongType, containsNull = false),
        nullable = false),
      StructField("lens", ArrayType(LongType, containsNull = false),
        nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    media.select("media_id", "media").mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]]("media")
        val n = if (bytes == null) 0 else bytes.length
        val sums = new Array[Long](regions)
        val lens = new Array[Long](regions)
        var k = 0
        while (k < regions) {
          val start = (k.toLong * n / regions).toInt
          val end = ((k + 1).toLong * n / regions).toInt
          var s = 0L
          var i = start
          while (i < end) { s += bytes(i) & 0xff; i += 1 }
          sums(k) = s; lens(k) = (end - start).toLong
          k += 1
        }
        Row(r.getAs[Long]("media_id"), sums.toSeq, lens.toSeq)
      }
    }(enc)
  }

  /** dHash-analog signature: bit k is 1 iff region k+1's AVERAGE byte
    * value exceeds region k's — compared as the cross-product
    * `sums[k+1]·lens[k] > sums[k]·lens[k+1]` so the arithmetic stays
    * exact-integer (no FP division to disagree on). `regions` R gives
    * an (R−1)-bit signature; near-duplicate blobs land within a few
    * Hamming bits because small edits barely move proportional region
    * averages. Output: (media_id, sig BIGINT). */
  def dHash(media: DataFrame, regions: Int = 64): DataFrame = {
    // ≤ 64 regions = ≤ 63 signature bits: the sign bit stays clear, so
    // neither engine ever sign-extends a shift or overflows a sum of
    // bit powers (DuckDB sums promote to HUGEINT; 2^63 would not cast
    // back)
    require(regions <= 64, "signature must fit 63 bits of a long")
    regionProfile(media, regions).select(
      col("media_id"),
      expr(s"aggregate(sequence(0, ${regions - 2}), 0L, (acc, k) -> " +
        "acc + IF(sums[k+1] * lens[k] > sums[k] * lens[k+1], " +
        "shiftleft(1L, k), 0L))").as("sig"))
  }

  /** Perceptual media near-duplicate pairs — the banded-signature
    * pipeline (the q117 embedding shape, re-keyed on [[dHash]] bits):
    *
    *  1. signature: one narrow mapPartitions decode + a projection —
    *     no corpus-sized exchange yet;
    *  2. banding: the (R−1)-bit signature splits into `bands` bit
    *     slices; blobs sharing ANY band value are candidates
    *     (signatures within Hamming distance d < bands are GUARANTEED
    *     to agree on some band — pigeonhole, same as SimHash/LSH);
    *  3. hot-bucket guard: a band value shared by more than
    *     `bucketCap` blobs (boilerplate/degenerate media) is dropped
    *     BEFORE the self-join, bounding the worst bucket at
    *     O(cap²) — the same guard the text near-dup kernels carry;
    *  4. verify: exact Hamming distance via `bit_count(sig XOR sig)`
    *     on the DISTINCT candidate pairs, keep ≤ `maxHamming`.
    *
    * Shuffle keys are (band, 8-to-16-bit value) ints and id pairs —
    * media bytes NEVER shuffle; the blobs are read once by the
    * decode. Every stage is exact-integer, so a SQL oracle replays
    * the whole pipeline bit-for-bit (q204). Output:
    * (media_id_a, media_id_b, hamming), a < b.
    *
    * Robustness honesty: with the byte-plane stub codec the signature
    * is stable under LENGTH-PRESERVING edits (a point edit moves only
    * the regions it touches — ScaleSpec pins recall ≥ 0.9 there, and
    * hamming < bands pairs are pigeonhole-guaranteed), but length
    * CHANGES shift every proportional boundary and text bytes are
    * noisy enough that many gradient bits flip. For insert/delete
    * edits use [[mediaNearDupCdc]] — content-defined chunk boundaries
    * re-synchronize past the edit, which is exactly the recall this
    * signature loses (ScaleSpec pins it). A real pixel/sample codec
    * plugged into [[regionProfile]] restores the smoothness dHash
    * relies on; the pipeline around it is unchanged.
    *
    * Band-width sizing (why the defaults are 64 regions / 3 bands):
    * a band of width w holds 2^w values, so buckets average
    * corpus/2^w blobs and the guard starts dropping EVERYTHING once
    * the corpus approaches 2^w·cap — 8-bit bands (the 33-region
    * default's natural split) saturate at mere ~16k blobs, silently
    * zeroing recall. The shipped 21-bit bands average one blob per
    * bucket to ~2M and keep honest recall past 10^8 with the cap;
    * past that, widen regions toward 64 or move to a multi-word
    * signature — the guard makes saturation VISIBLE (pairs vanish),
    * never quadratic. */
  def mediaNearDup(media: DataFrame, regions: Int = 64, bands: Int = 3,
      maxHamming: Int = 6, bucketCap: Int = 64): DataFrame = {
    require(bands >= 1 && (regions - 1) % bands == 0,
      s"bands=$bands must divide the ${regions - 1}-bit signature")
    val width = (regions - 1) / bands
    val sig = dHash(media, regions)
    val banded = sig.select(col("media_id"), col("sig"),
      explode(expr(s"transform(sequence(0, ${bands - 1}), b -> " +
        s"named_struct('band', b, 'val', " +
        s"shiftright(sig, b * $width) & ${(1L << width) - 1}))")).as("bv"))
      .select(col("media_id"), col("sig"),
        col("bv.band").as("band"), col("bv.val").as("val"))
    val guarded = banded.withColumn("__bn",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("band"), col("val"))))
      .filter(col("__bn") <= bucketCap)
      .drop("__bn")
    val a = guarded.select(col("band"), col("val"),
      col("media_id").as("media_id_a"), col("sig").as("__sa"))
    val b = guarded.select(col("band"), col("val"),
      col("media_id").as("media_id_b"), col("sig").as("__sb"))
    a.join(b, Seq("band", "val"))
      .filter(col("media_id_a") < col("media_id_b"))
      .select(col("media_id_a"), col("media_id_b"),
        col("__sa"), col("__sb"))
      .distinct()
      .withColumn("hamming",
        expr("bit_count(__sa ^ __sb)").cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("media_id_a"), col("media_id_b"), col("hamming"))
  }

  /** Content-defined chunk fingerprints — the SHIFT-RESISTANT media
    * signature [[mediaNearDup]]'s proportional regions cannot be (its
    * documented hole: one inserted/deleted byte moves EVERY
    * `k·n/R` boundary, flipping most gradient bits). Boundaries here
    * depend only on LOCAL content: position i ends a chunk when the
    * 8-byte windowed polynomial `Σ bytes[i-j]·131^j (j=0..7)` is
    * ≡ 0 mod `divisor` — after an edit, windows past the edited
    * region hash identically, so chunk boundaries RE-SYNCHRONIZE and
    * all untouched chunks keep their fingerprints (the gear/Rabin CDC
    * idea used by dedup stores, exact-integer so SQL replays it).
    * Each chunk fingerprints as a mod-poly hash; output is the
    * per-blob DISTINCT fingerprint set, one narrow (media_id, hash)
    * row each — bytes never leave the decode task. `divisor` D gives
    * ~D-byte average chunks: ~n/D fingerprints per blob. */
  def cdcChunkHashes(media: DataFrame, window: Int = 8,
      divisor: Long = 32L): DataFrame = {
    require(window >= 2 && window <= 8,
      "window must fit the 8-term exact-integer budget")
    require(divisor >= 2, "divisor < 2 makes every position a boundary")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("chunk_hash", LongType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val w = window
    val d = divisor
    media.select("media_id", "media").mapPartitions { it =>
      val pow = Array.iterate(1L, w)(_ * 131L)
      it.flatMap { r =>
        val bytes = r.getAs[Array[Byte]]("media")
        val id = r.getAs[Long]("media_id")
        val n = if (bytes == null) 0 else bytes.length
        val cuts = scala.collection.mutable.ArrayBuffer[Int]()
        var i = w - 1
        while (i < n) {
          var h = 0L
          var j = 0
          while (j < w) { h += (bytes(i - j) & 0xffL) * pow(j); j += 1 }
          if (h % d == 0L) cuts += (i + 1)
          i += 1
        }
        if (cuts.isEmpty || cuts.last != n) cuts += n
        val hashes = scala.collection.mutable.LinkedHashSet[Long]()
        var start = 0
        cuts.foreach { end =>
          if (end > start) {
            var h = 7L
            var k = start
            while (k < end) {
              h = (h * 131L + (bytes(k) & 0xffL)) % 1000000007L
              k += 1
            }
            hashes += h
          }
          start = end
        }
        hashes.iterator.map(h => Row(id, h))
      }
    }(enc)
  }

  /** Shift-resistant media near-duplicates over [[cdcChunkHashes]]
    * fingerprint sets: blobs sharing any (population-guarded) chunk
    * fingerprint are candidates; the verify is exact Jaccard over the
    * guarded fingerprint sets — `|A∩B| / (|A|+|B|−|A∩B|)`. An
    * insertion or deletion edit disturbs only the chunks overlapping
    * the edit window, so edited copies keep Jaccard ≈ (k−1)/(k+1) of
    * a k-chunk original — exactly the recall [[mediaNearDup]]'s
    * proportional-region signature loses (Multimodal.scala's
    * documented hole; that pipeline remains for length-PRESERVING
    * re-encodes, this one covers length changes).
    *
    * Scale shape: one decode pass emits narrow fingerprint rows; the
    * self-join shuffles (hash, id) ints keyed by fingerprint with the
    * same hot-bucket guard as every band join here (`chunkCap` bounds
    * any bucket at O(cap²) pairs — boilerplate chunks drop BEFORE the
    * join and out of the verified sets, oracle-replayed); the verify
    * is a pair-keyed count aggregation. Blob bytes never shuffle.
    * Output: (media_id_a, media_id_b, jaccard), a < b. */
  def mediaNearDupCdc(media: DataFrame, minJaccard: Double = 0.5,
      chunkCap: Int = 64, window: Int = 8,
      divisor: Long = 32L): DataFrame = {
    val h = cdcChunkHashes(media, window, divisor)
    // the guarded fingerprint frame feeds THREE consumers (both join
    // sides + the size agg); localCheckpoint at this narrow point (two
    // longs per row) or the blob decode re-runs once per consumer
    val guarded = Ckpt.local(h.withColumn("__n",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("chunk_hash"))))
      .filter(col("__n") <= chunkCap)
      .drop("__n"))
    val sizes = guarded.groupBy("media_id")
      .agg(count(lit(1)).as("sz"))
    val a = guarded.select(col("chunk_hash"),
      col("media_id").as("media_id_a"))
    val b = guarded.select(col("chunk_hash"),
      col("media_id").as("media_id_b"))
    val inter = a.join(b, Seq("chunk_hash"))
      .filter(col("media_id_a") < col("media_id_b"))
      .groupBy("media_id_a", "media_id_b")
      .agg(count(lit(1)).as("ints"))
    val sa = sizes.select(col("media_id").as("media_id_a"),
      col("sz").as("__sa"))
    val sb = sizes.select(col("media_id").as("media_id_b"),
      col("sz").as("__sb"))
    inter.join(sa, Seq("media_id_a")).join(sb, Seq("media_id_b"))
      .withColumn("__j",
        col("ints") / (col("__sa") + col("__sb") - col("ints")))
      .filter(col("__j") >= minJaccard)
      .select(col("media_id_a"), col("media_id_b"),
        round(col("__j"), 6).as("jaccard"))
  }

  /** Partition-batched "decode": binary blobs → feature columns.
    * mapPartitions keeps one codec per partition (real codecs are
    * expensive to construct) and never materializes more than an
    * iterator page of rows. */
  def decodeFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_bytes", IntegerType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("checksum", LongType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    media.select("media_id", "media").mapPartitions { it =>
      // per-partition codec instantiation happens here in a real impl
      it.map { r =>
        val (n, w, h, c) = FakeCodec.features(r.getAs[Array[Byte]]("media"))
        Row(r.getAs[Long]("media_id"), n, w, h, c)
      }
    }(enc)
  }

}
