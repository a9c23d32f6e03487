package graft.ingest

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files
import java.util.zip.CRC32
import org.roaringbitmap.RoaringBitmap

/** Delta Lake deletion-vector decoding, built from the PUBLIC protocol
  * documents only: the Delta transaction-log protocol
  * (https://github.com/delta-io/delta/blob/master/PROTOCOL.md, §
  * "Deletion Vectors") and the Roaring bitmap portable serialization
  * spec (https://github.com/RoaringBitmap/RoaringFormatSpec). No
  * delta jar: the `.bin` framing, Z85 and the 64-bit bitmap array are
  * implemented here from the protocol; each 32-bit bitmap in that
  * array is `org.roaringbitmap.RoaringBitmap`'s portable form (the
  * RoaringBitmap jar ships with Spark).
  *
  * A deletion vector marks row POSITIONS of one data file as deleted;
  * an `add` action carrying one means "this parquet file, minus these
  * row indexes". The descriptor (in the `add` JSON / checkpoint
  * struct):
  *
  *  - `storageType`: `"u"` — the DV lives in a `.bin` file under the
  *    table root whose name derives from a Z85-encoded UUID;
  *    `"p"` — an absolute path to such a file; `"i"` — the DV bytes
  *    are INLINE in the descriptor, Z85-encoded.
  *  - `pathOrInlineDv`: for `"u"`, `<randomPrefix?><20-char Z85
  *    UUID>`; for `"p"`, the path; for `"i"`, the encoded bytes.
  *  - `offset`: byte position of this DV's length-prefixed block
  *    inside the file (absent for inline).
  *  - `sizeInBytes`: size of the serialized bitmap data.
  *  - `cardinality`: number of deleted rows.
  *
  * On-disk `.bin` layout (protocol "Deletion Vector File Storage
  * Format"): one format-version byte (= 1), then per stored DV a
  * 4-byte BIG-endian data size, the data bytes, and a 4-byte
  * BIG-endian CRC-32 of the data. The data itself is a
  * RoaringBitmapArray in "portable" form: 4-byte LITTLE-endian magic
  * 1681511377, an 8-byte little-endian bitmap count, then that many
  * standard 32-bit Roaring bitmaps (portable spec), where bitmap i
  * holds the low 32 bits of the 64-bit positions whose high 32 bits
  * equal i.
  *
  * Z85 (https://rfc.zeromq.org/spec/32) maps 4 bytes → 5 chars;
  * inputs are zero-padded to a 4-byte multiple and the decoder
  * truncates back to the caller's known length — the same convention
  * delta-spark's Base85Codec documents. */
object DeletionVectors {

  // ---- Z85 ----------------------------------------------------------------

  private val Z85Alphabet =
    ("0123456789abcdefghijklmnopqrstuvwxyz" +
     "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#").toCharArray
  private val Z85Decode: Array[Int] = {
    val d = Array.fill(128)(-1)
    Z85Alphabet.zipWithIndex.foreach { case (c, i) => d(c.toInt) = i }
    d
  }

  /** Z85-encode, zero-padding to a 4-byte multiple. */
  def z85Encode(bytes: Array[Byte]): String = {
    val padded =
      if (bytes.length % 4 == 0) bytes
      else bytes ++ Array.fill[Byte](4 - bytes.length % 4)(0)
    val sb = new StringBuilder(padded.length / 4 * 5)
    var i = 0
    while (i < padded.length) {
      var v = 0L
      var j = 0
      while (j < 4) { v = (v << 8) | (padded(i + j) & 0xffL); j += 1 }
      var k = 4
      val block = new Array[Char](5)
      while (k >= 0) { block(k) = Z85Alphabet((v % 85).toInt); v /= 85; k -= 1 }
      sb.appendAll(block)
      i += 4
    }
    sb.toString
  }

  /** Z85-decode to exactly `outLen` bytes (padding stripped). */
  def z85Decode(s: String, outLen: Int): Array[Byte] = {
    require(s.length % 5 == 0, s"Z85 input length ${s.length} not 5-aligned")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    while (i < s.length) {
      var v = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i + j).toInt
        val d = if (c < 128) Z85Decode(c) else -1
        require(d >= 0, s"invalid Z85 character '${s.charAt(i + j)}'")
        v = v * 85 + d
        j += 1
      }
      var k = 3
      while (k >= 0) { out(i / 5 * 4 + k) = (v & 0xff).toByte; v >>= 8; k -= 1 }
      i += 5
    }
    require(outLen <= out.length,
      s"requested $outLen bytes from ${out.length} decoded")
    java.util.Arrays.copyOfRange(out, 0, outLen)
  }

  // ---- Roaring bitmap array ----------------------------------------------

  private val BitmapArrayMagic = 1681511377

  /** Serialize 64-bit positions as RoaringBitmapArray data (magic +
    * count + per-high-word portable Roaring bitmaps). */
  def serialize(positions: Array[Long]): Array[Byte] = {
    val byHigh = positions.map { p =>
      require(p >= 0, s"negative row position $p"); p
    }.groupBy(_ >>> 32)
    val nBitmaps = byHigh.keySet.maxOption.map(_ + 1).getOrElse(0L)
    // one bitmap per high word 0..max — gaps serialize as EMPTY
    // bitmaps (the array is indexed positionally, not keyed)
    val parts = (0L until nBitmaps).map { i =>
      RoaringBitmap.bitmapOf(
        byHigh.getOrElse(i, Array.empty[Long]).map(_.toInt): _*)
    }
    val buf = ByteBuffer.allocate(12 + parts.map(_.serializedSizeInBytes).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(BitmapArrayMagic)
    buf.putLong(nBitmaps)
    parts.foreach(_.serialize(buf))
    buf.array()
  }

  /** Parse RoaringBitmapArray data into sorted 64-bit positions. */
  def deserialize(data: Array[Byte]): Array[Long] = {
    val buf = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val magic = buf.getInt()
    require(magic == BitmapArrayMagic,
      s"bad RoaringBitmapArray magic $magic (want $BitmapArrayMagic)")
    val n = buf.getLong()
    val out = Array.newBuilder[Long]
    var i = 0L
    while (i < n) {
      val bm = new RoaringBitmap()
      bm.deserialize(buf)
      buf.position(buf.position() + bm.serializedSizeInBytes)
      val high = i << 32
      bm.forEach((v: Int) => { out += (high | (v & 0xffffffffL)); () })
      i += 1
    }
    out.result()
  }

  // ---- descriptor + file IO -----------------------------------------------

  /** A parsed `deletionVector` descriptor. */
  final case class Descriptor(storageType: String, pathOrInlineDv: String,
      offset: Option[Int], sizeInBytes: Int, cardinality: Long)

  /** Absolute `.bin` path a `"u"`/`"p"` descriptor points at. */
  def resolvePath(tableRoot: File, d: Descriptor): File = d.storageType match {
    case "p" => new File(d.pathOrInlineDv)
    case "u" =>
      val enc = d.pathOrInlineDv
      require(enc.length >= 20,
        s"storageType=u pathOrInlineDv too short: '$enc'")
      val prefix = enc.substring(0, enc.length - 20)
      val uuidBytes = z85Decode(enc.substring(enc.length - 20), 16)
      val bb = ByteBuffer.wrap(uuidBytes)
      val uuid = new java.util.UUID(bb.getLong(), bb.getLong())
      val dir = if (prefix.isEmpty) tableRoot else new File(tableRoot, prefix)
      new File(dir, s"deletion_vector_$uuid.bin")
    case t => throw new IllegalArgumentException(
      s"deletion-vector storageType '$t' is not path-backed")
  }

  /** Deleted row positions of one descriptor (reads + CRC-checks the
    * `.bin` block, or decodes the inline payload). */
  def positions(tableRoot: File, d: Descriptor): Array[Long] = {
    val data = d.storageType match {
      case "i" => z85Decode(d.pathOrInlineDv, d.sizeInBytes)
      case _ =>
        val f = resolvePath(tableRoot, d)
        require(f.isFile, s"deletion-vector file $f does not exist")
        val all = Files.readAllBytes(f.toPath)
        val off = d.offset.getOrElse(1) // after the format-version byte
        val bb = ByteBuffer.wrap(all).order(ByteOrder.BIG_ENDIAN)
        bb.position(off)
        val size = bb.getInt()
        require(size == d.sizeInBytes,
          s"DV size prefix $size != descriptor sizeInBytes ${d.sizeInBytes}")
        val body = new Array[Byte](size)
        bb.get(body)
        val storedCrc = bb.getInt()
        val crc = new CRC32(); crc.update(body)
        require(crc.getValue.toInt == storedCrc,
          s"DV checksum mismatch in $f at offset $off")
        body
    }
    val pos = deserialize(data)
    require(pos.length.toLong == d.cardinality,
      s"DV cardinality ${d.cardinality} != decoded ${pos.length}")
    pos
  }

  /** Write one DV into a fresh `.bin` file directly under `tableRoot`
    * and return the `"u"`-style descriptor without a prefix —
    * [[DeltaLakeDml]] writes into its attempt's prefix directory and
    * prepends the prefix itself. */
  def writeFile(tableRoot: File, positionsArr: Array[Long]): Descriptor = {
    val data = serialize(positionsArr)
    val uuid = java.util.UUID.randomUUID()
    val bb = ByteBuffer.allocate(16)
    bb.putLong(uuid.getMostSignificantBits)
    bb.putLong(uuid.getLeastSignificantBits)
    val f = new File(tableRoot, s"deletion_vector_$uuid.bin")
    val crc = new CRC32(); crc.update(data)
    val out = ByteBuffer.allocate(1 + 4 + data.length + 4)
      .order(ByteOrder.BIG_ENDIAN)
    out.put(1.toByte) // format version
    out.putInt(data.length)
    out.put(data)
    out.putInt(crc.getValue.toInt)
    Files.write(f.toPath, out.array())
    Descriptor("u", z85Encode(bb.array()), Some(1), data.length,
      positionsArr.length.toLong)
  }
}
