package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.{Gunzip, Gzip}

import java.util.zip.{CRC32, Deflater, Inflater, ZipException}

/** Gzip compress/decompress of BINARY.
  *
  * The reference gunzips each Firehose record's `data` payload after
  * base64-decode (reference main.go:472–479) and the whole HTTP body when
  * `Content-Encoding: gzip` (reference gzipbinding/binding.go:38–45).
  * Spark has `unbase64` built in but no gzip codec as a scalar function,
  * so this is the one custom scalar the engine needs (SURVEY.md §4).
  *
  * The Catalyst expressions (`UnaryExpression` with `doGenCode`) live in
  * org.apache.spark.sql.graftshim (a legal subpackage for the
  * `private[sql]` types they touch); codegen calls the static methods
  * below, so evaluation stays inside whole-stage codegen.
  */
object GzipCodec {
  /** Per-record inflation cap: a crafted "zero bomb" (a few KB of gzip
    * expanding to GBs) would otherwise OOM an executor task mid-scan.
    * max(64 MiB, 4× input) mirrors the HTTP body layer's guard
    * (FirehoseEndpoint); past the cap strict `gunzip` throws IOException
    * (→ the batch fails loudly) and `try_gunzip` yields null (→ the
    * record dead-letters like any other corrupt payload). */
  val maxInflateBytes: Long = 64L << 20

  /** Thread-local codec state: GZIPInput/OutputStream construct a fresh
    * Inflater/Deflater (native zlib allocation) plus three stream
    * wrappers PER RECORD, which measures ~20–35% of per-op cost on the
    * small payloads an ingest pipeline sees. The RFC 1952 framing around
    * the raw DEFLATE body is ~30 lines each way, so the codec is
    * hand-rolled over `reset()`-reused zlib handles. Framing semantics
    * mirror java.util.zip.GZIPInput/OutputStream exactly: same header
    * bytes on compress (FLG/MTIME/XFL zero and OS = 0xff "unknown" —
    * byte-identical output, locked by GzipSpec), full
    * FEXTRA/FNAME/FCOMMENT/FHCRC handling, CRC32+ISIZE verification,
    * concatenated-member support, and silently-ignored trailing garbage
    * on decompress. */
  private val inflaters = new ThreadLocal[Inflater] {
    override def initialValue(): Inflater = new Inflater(true) // nowrap: raw deflate
  }
  private val deflaters = new ThreadLocal[Deflater] {
    override def initialValue(): Deflater = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
  }
  private val crcs = new ThreadLocal[CRC32] { override def initialValue(): CRC32 = new CRC32 }

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def u16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def u32(b: Array[Byte], i: Int): Long =
    (u16(b, i) | (u16(b, i + 2).toLong << 16)) & 0xffffffffL

  /** Parse one RFC 1952 member header starting at `off`; returns the
    * offset of the first DEFLATE byte. Throws ZipException (an
    * IOException) exactly where GZIPInputStream would. */
  private def readHeader(b: Array[Byte], off: Int): Int = {
    if (b.length - off < 10) throw new java.io.EOFException("truncated gzip header")
    if (u8(b, off) != 0x1f || u8(b, off + 1) != 0x8b) throw new ZipException("Not in GZIP format")
    if (u8(b, off + 2) != 8) throw new ZipException("Unsupported compression method")
    val flg = u8(b, off + 3)
    var p = off + 10
    if ((flg & 4) != 0) { // FEXTRA
      if (b.length - p < 2) throw new java.io.EOFException("truncated gzip header")
      p += 2 + u16(b, p)
    }
    if ((flg & 8) != 0) { // FNAME: zero-terminated
      while (p < b.length && b(p) != 0) p += 1
      p += 1
    }
    if ((flg & 16) != 0) { // FCOMMENT
      while (p < b.length && b(p) != 0) p += 1
      p += 1
    }
    if ((flg & 2) != 0) { // FHCRC: CRC16 of the header bytes so far
      if (b.length - p < 2) throw new java.io.EOFException("truncated gzip header")
      val crc = crcs.get(); crc.reset()
      crc.update(b, off, p - off)
      if ((crc.getValue & 0xffff).toInt != u16(b, p)) throw new ZipException("Corrupt GZIP header")
      p += 2
    }
    if (p > b.length) throw new java.io.EOFException("truncated gzip header")
    p
  }

  /** Largest array length the JVM reliably allocates (the JDK's own
    * soft maximum, ArraysSupport.SOFT_MAX_ARRAY_LENGTH). */
  private[graft] val maxArrayLength: Int = Int.MaxValue - 8

  /** A buffer length of `wanted` bytes, at least 64, clamped to the
    * inflation cap and the JVM array limit. Long arithmetic: past
    * ~512 MB of input, 4× input and doubled buffers exceed Int, and a
    * wrapped negative length would throw NegativeArraySizeException —
    * which escapes try_gunzip and fails the task instead of
    * dead-lettering the record. */
  private def clampedLength(wanted: Long, cap: Long): Int =
    math.min(math.max(wanted, 64L), math.min(cap, maxArrayLength.toLong)).toInt

  /** The output buffer's next length once `current` bytes are full:
    * double it, within `cap` and the array limit. A result equal to
    * `current` means the buffer cannot grow. */
  private[graft] def grownLength(current: Int, cap: Long): Int =
    clampedLength(current.toLong * 2L, cap)

  def gunzip(bytes: Array[Byte]): Array[Byte] = {
    val cap = math.max(maxInflateBytes, 4L * bytes.length)
    var out = new Array[Byte](clampedLength(4L * bytes.length, cap))
    var outLen = 0
    val inf = inflaters.get()
    val crc = crcs.get()
    var p = readHeader(bytes, 0)
    var done = false
    while (!done) {
      // one member: raw deflate from p, then CRC32 + ISIZE trailer
      inf.reset()
      inf.setInput(bytes, p, bytes.length - p)
      crc.reset()
      val memberStart = outLen
      while (!inf.finished()) {
        if (outLen == out.length) {
          val next = grownLength(outLen, cap)
          if (next <= outLen)
            throw new java.io.IOException(
              s"gunzip output exceeds inflation cap ($next bytes for ${bytes.length} compressed)")
          out = java.util.Arrays.copyOf(out, next)
        }
        val n = try inf.inflate(out, outLen, out.length - outLen)
        catch { case e: java.util.zip.DataFormatException =>
          throw new ZipException(if (e.getMessage != null) e.getMessage else "Invalid ZLIB data")
        }
        if (n == 0 && !inf.finished()) {
          if (inf.needsDictionary()) throw new ZipException("ZLIB dictionary not supported")
          if (inf.needsInput()) throw new java.io.EOFException("Unexpected end of ZLIB input stream")
        }
        outLen += n
        if (outLen.toLong > cap)
          throw new java.io.IOException(
            s"gunzip output exceeds inflation cap ($cap bytes for ${bytes.length} compressed)")
      }
      crc.update(out, memberStart, outLen - memberStart)
      val trailerAt = bytes.length - inf.getRemaining
      if (bytes.length - trailerAt < 8) throw new java.io.EOFException("truncated gzip trailer")
      if (u32(bytes, trailerAt) != crc.getValue) throw new ZipException("Corrupt GZIP trailer")
      if (u32(bytes, trailerAt + 4) != (inf.getBytesWritten & 0xffffffffL))
        throw new ZipException("Corrupt GZIP trailer")
      p = trailerAt + 8
      // concatenated members: continue if another valid header follows;
      // malformed/absent extra bytes are ignored, as GZIPInputStream does
      if (p >= bytes.length) done = true
      else {
        try p = readHeader(bytes, p)
        catch { case _: java.io.IOException => done = true }
      }
    }
    if (outLen == out.length) out else java.util.Arrays.copyOf(out, outLen)
  }

  def gzip(bytes: Array[Byte]): Array[Byte] = {
    val defl = deflaters.get()
    defl.reset()
    defl.setInput(bytes)
    defl.finish()
    var out = new Array[Byte](math.max(64, 18 + bytes.length / 2))
    // RFC 1952 member header, byte-identical to GZIPOutputStream's
    // (which on this JDK writes OS = 0xff "unknown", everything else 0)
    out(0) = 0x1f.toByte; out(1) = 0x8b.toByte; out(2) = Deflater.DEFLATED.toByte
    out(9) = 0xff.toByte
    var outLen = 10
    while (!defl.finished()) {
      if (outLen == out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
      outLen += defl.deflate(out, outLen, out.length - outLen)
    }
    if (out.length - outLen < 8) out = java.util.Arrays.copyOf(out, outLen + 8)
    val crc = crcs.get(); crc.reset(); crc.update(bytes, 0, bytes.length)
    var v = crc.getValue
    var i = outLen
    while (i < outLen + 4) { out(i) = (v & 0xff).toByte; v >>= 8; i += 1 }
    var sz = bytes.length.toLong & 0xffffffffL
    while (i < outLen + 8) { out(i) = (sz & 0xff).toByte; sz >>= 8; i += 1 }
    outLen += 8
    if (outLen == out.length) out else java.util.Arrays.copyOf(out, outLen)
  }

  /** gunzip that yields null on corrupt/non-gzip input instead of
    * throwing — the streaming dead-letter path (graftshim.TryGunzip). */
  def tryGunzip(bytes: Array[Byte]): Array[Byte] =
    try gunzip(bytes)
    catch { case _: java.io.IOException => null }
}

object GzipFunctions {
  import graft.Cols
  def gunzip(c: Column): Column = Cols.column(Gunzip(Cols.expr(c)))
  def gzip(c: Column): Column = Cols.column(Gzip(Cols.expr(c)))
  def try_gunzip(c: Column): Column =
    Cols.column(org.apache.spark.sql.graftshim.TryGunzip(Cols.expr(c)))
}
