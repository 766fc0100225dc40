package graft.cram

import java.io.IOException

/** CRAM record-layer entropy codecs (hts-specs CRAM v3.0 §12 "Encodings"):
  * the per-data-series value codecs that read from the slice's core
  * bit-stream or external byte blocks. The reference consumes these through
  * htsjdk inside its RDD readers (CramSource.java:57-151); here they are
  * plain Scala so record decode can run inside a DSv2 partition reader.
  *
  * Core bits are MSB-first. Canonical Huffman assigns codes in order of
  * (bit length, symbol value); a single zero-length symbol consumes no bits
  * (the constant-series form htsjdk emits for e.g. `RL` on uniform reads).
  */
final class BitReader(data: Array[Byte]) {
  private var pos = 0
  private var bit = 0

  def readBit(): Int = {
    if (pos >= data.length) throw new IOException("CRAM core bit-stream exhausted")
    val b = (data(pos) >> (7 - bit)) & 1
    bit += 1
    if (bit == 8) { bit = 0; pos += 1 }
    b
  }

  def readBits(n: Int): Int = {
    var v = 0
    var i = 0
    while (i < n) { v = (v << 1) | readBit(); i += 1 }
    v
  }
}

final class BitWriter {
  private val out = new java.io.ByteArrayOutputStream()
  private var cur = 0
  private var nbits = 0

  def writeBits(v: Int, n: Int): Unit = {
    var i = n - 1
    while (i >= 0) {
      cur = (cur << 1) | ((v >> i) & 1)
      nbits += 1
      if (nbits == 8) { out.write(cur); cur = 0; nbits = 0 }
      i -= 1
    }
  }

  def toByteArray: Array[Byte] = {
    if (nbits > 0) { out.write(cur << (8 - nbits)); cur = 0; nbits = 0 }
    out.toByteArray
  }
}

/** One external block's read cursor within a slice: the block's bytes and
  * the read position. The bytes are fetched from `resolve` on the first
  * read, so a block that is never read is never inflated. Every codec bound
  * to the same content id reads through the same cursor, which keeps values
  * interleaved in a shared block in step.
  */
final class ExtCursor private[cram] (val cid: Int, resolve: Int => Option[Array[Byte]]) {
  private var buf: Array[Byte] = null
  private var pos = 0

  private def bytes: Array[Byte] = {
    if (buf == null)
      buf = resolve(cid).getOrElse(throw new IOException(s"CRAM external block $cid missing"))
    buf
  }

  private def exhausted(): Nothing = throw new IOException(s"CRAM external block $cid exhausted")

  def readByte(): Int = {
    val b = bytes
    val p = pos
    if (p >= b.length) exhausted()
    pos = p + 1
    b(p) & 0xff
  }

  /** One ITF-8 int, bounds-checked against the block end (a value cut off
    * by the end of the block is a truncated block, not a short value).
    */
  def readItf8(): Int = {
    val b = bytes
    val p = pos
    if (p >= b.length) exhausted()
    val n = Itf8.size(b(p))
    if (p + n > b.length) exhausted()
    pos = p + n
    Itf8.value(b, p)
  }

  /** `n` raw bytes into `dst` at `off`: the bulk face of n×[[readByte]]
    * (so, like it, a zero-length read touches no block).
    */
  def readBytes(dst: Array[Byte], off: Int, n: Int): Unit = if (n != 0) {
    val b = bytes
    val p = pos
    if (n < 0 || p + n > b.length)
      throw new IOException(s"CRAM external block $cid exhausted (read $n at $p of ${b.length})")
    System.arraycopy(b, p, dst, off, n)
    pos = p + n
  }

  /** Advance `n` raw bytes (the skip face of n×[[readByte]]), bounds-checked. */
  def skipBytes(n: Int): Unit = {
    val b = bytes
    val p = pos
    if (n < 0 || p + n > b.length)
      throw new IOException(s"CRAM external block $cid exhausted (skip $n at $p of ${b.length})")
    pos = p + n
  }

  /** Index of the next `stop` byte. A BYTE_ARRAY_STOP value always ends
    * with it; reaching the block end first is a structural error (truncated
    * or corrupt block): returning the tail would hand one field the rest of
    * the block and surface only as an opaque failure on the NEXT record.
    */
  private def stopAt(stop: Int): Int = {
    val b = bytes
    var q = pos
    while (q < b.length && (b(q) & 0xff) != stop) q += 1
    if (q >= b.length)
      throw new IOException(
        f"CRAM external block $cid missing stop byte 0x$stop%02x (read from $pos, block length ${b.length})")
    q
  }

  def readUntil(stop: Int): Array[Byte] = {
    val q = stopAt(stop)
    val out = java.util.Arrays.copyOfRange(buf, pos, q)
    pos = q + 1 // consume the stop byte
    out
  }

  /** [[readUntil]]'s stream advancement without the copy: the consume path
    * for values that exist only to keep a shared stream in sync.
    */
  def skipUntil(stop: Int): Unit = pos = stopAt(stop) + 1
}

/** A slice's external streams: one [[ExtCursor]] per content id, handed out
  * when codecs are bound. The id lookup happens at bind time only; a bound
  * codec reads through its cursor.
  */
final class ExtStreams(resolve: Int => Option[Array[Byte]],
                       /** Test seam: observes every byte-array VALUE
                         * materialization (length) on the external-stream read
                         * paths, so a spec can prove consumed-but-unwanted
                         * values are position-skipped, never copied. Reader-
                         * local (one ExtStreams per slice decode): null in
                         * production, a plain field read in the hot loop.
                         */
                       private[cram] val probe: Int => Unit = null) {
  private val cursors = scala.collection.mutable.HashMap.empty[Int, ExtCursor]

  def cursor(cid: Int): ExtCursor = cursors.getOrElseUpdate(cid, new ExtCursor(cid, resolve))
}

/** A codec bound to one slice's core bit-stream and external cursors: the
  * form the record loop reads values through. Series types decide which
  * read is legal; mismatches are structural errors in the file.
  */
abstract class SeriesReader(codec: CCodec) {
  def readInt(): Int = throw new IOException(s"codec $codec cannot produce ints")
  def readByte(): Int = throw new IOException(s"codec $codec cannot produce bytes")
  def readArray(): Array[Byte] = throw new IOException(s"codec $codec cannot produce byte arrays")

  /** Advance every stream exactly as [[readArray]] would, materializing
    * nothing: the consume path for gated-but-unskippable values (kept only
    * to hold shared streams in sync). Default: read and discard; external
    * codecs override with a pure position skip.
    */
  def skipArray(): Unit = { readArray(); () }

  /** `n` successive [[readByte]] values into `dst` at `off`. */
  def readBytes(dst: Array[Byte], off: Int, n: Int): Unit = {
    var i = 0
    while (i < n) { dst(off + i) = readByte().toByte; i += 1 }
  }

  /** Advance as `n` successive [[readByte]] calls would. */
  def skipBytes(n: Int): Unit = {
    var i = 0
    while (i < n) { readByte(); i += 1 }
  }
}

object SeriesReader {
  /** Stands in for a series or tag the compression header does not declare:
    * binding succeeds, and the first value read raises `message`.
    */
  def missing(message: String): SeriesReader = new SeriesReader(null) {
    override def readInt(): Int = throw new IOException(message)
    override def readByte(): Int = throw new IOException(message)
    override def readArray(): Array[Byte] = throw new IOException(message)
  }
}

/** One parsed encoding = a value codec, shared by every slice of a
  * container; [[bind]] turns it into a [[SeriesReader]] over one slice's
  * streams.
  */
sealed trait CCodec {
  def bind(bits: BitReader, ext: ExtStreams): SeriesReader
  /** Which streams a read consumes: the skip-eligibility signal for field
    * projection. A series is skippable only if it never touches the shared
    * core bit-stream and its external blocks are exclusively its own.
    */
  def usesCore: Boolean
  def extIds: Set[Int]
}

/** EXTERNAL (id 1): ITF-8 ints / raw bytes from block `cid`. */
final case class CExternal(cid: Int) extends CCodec {
  override def bind(bits: BitReader, ext: ExtStreams): SeriesReader = {
    val cur = ext.cursor(cid)
    new SeriesReader(this) {
      override def readInt(): Int = cur.readItf8()
      override def readByte(): Int = cur.readByte()
      override def readBytes(dst: Array[Byte], off: Int, n: Int): Unit = cur.readBytes(dst, off, n)
      override def skipBytes(n: Int): Unit = cur.skipBytes(n)
    }
  }
  override def usesCore: Boolean = false
  override def extIds: Set[Int] = Set(cid)
}

/** HUFFMAN (id 3), canonical over (bit length, symbol). */
final case class CHuffman(syms: Array[Int], lens: Array[Int]) extends CCodec {
  private val single: Boolean = syms.length == 1 && lens(0) == 0
  // canonical code assignment
  private val (codeLens, codes, values) = {
    val order = syms.indices.sortBy(i => (lens(i), syms(i)))
    val cl = new Array[Int](order.length)
    val cd = new Array[Int](order.length)
    val vs = new Array[Int](order.length)
    var code = 0
    var prevLen = 0
    var k = 0
    order.foreach { i =>
      code <<= (lens(i) - prevLen)
      prevLen = lens(i)
      cl(k) = lens(i); cd(k) = code; vs(k) = syms(i)
      code += 1
      k += 1
    }
    (cl, cd, vs)
  }

  private def decode(bits: BitReader): Int = {
    if (single) return syms(0)
    var len = 0
    var code = 0
    var k = 0
    while (true) {
      code = (code << 1) | bits.readBit()
      len += 1
      while (k < codeLens.length && codeLens(k) == len) {
        if (codes(k) == code) return values(k)
        k += 1
      }
      if (len > 31) throw new IOException("bad canonical Huffman stream")
    }
    0 // unreachable
  }
  override def bind(bits: BitReader, ext: ExtStreams): SeriesReader = new SeriesReader(this) {
    override def readInt(): Int = decode(bits)
    override def readByte(): Int = decode(bits)
  }
  override def usesCore: Boolean = !single // a zero-length single consumes nothing
  override def extIds: Set[Int] = Set.empty
}

/** BETA (id 6): fixed-width `nbits` minus `offset`. */
final case class CBeta(offset: Int, nbits: Int) extends CCodec {
  override def bind(bits: BitReader, ext: ExtStreams): SeriesReader = new SeriesReader(this) {
    override def readInt(): Int = bits.readBits(nbits) - offset
    override def readByte(): Int = readInt()
  }
  override def usesCore: Boolean = nbits > 0
  override def extIds: Set[Int] = Set.empty
}

/** GAMMA (id 9): Elias gamma minus `offset`. */
final case class CGamma(offset: Int) extends CCodec {
  override def bind(bits: BitReader, ext: ExtStreams): SeriesReader = new SeriesReader(this) {
    override def readInt(): Int = {
      var n = 0
      while (bits.readBit() == 0) { n += 1; if (n > 31) throw new IOException("bad gamma code") }
      var v = 1
      var i = 0
      while (i < n) { v = (v << 1) | bits.readBit(); i += 1 }
      v - offset
    }
  }
  override def usesCore: Boolean = true
  override def extIds: Set[Int] = Set.empty
}

/** SUBEXP (id 7): sub-exponential with parameter `k`, minus `offset`. */
final case class CSubExp(offset: Int, k: Int) extends CCodec {
  override def bind(bits: BitReader, ext: ExtStreams): SeriesReader = new SeriesReader(this) {
    override def readInt(): Int = {
      var n = 0
      while (bits.readBit() == 1) { n += 1; if (n > 31) throw new IOException("bad subexp code") }
      val u =
        if (n == 0) bits.readBits(k)
        else (1 << (k + n - 1)) | bits.readBits(k + n - 1)
      u - offset
    }
  }
  override def usesCore: Boolean = true
  override def extIds: Set[Int] = Set.empty
}

/** BYTE_ARRAY_LEN (id 4): nested length codec + per-byte value codec. */
final case class CByteArrayLen(lenCodec: CCodec, valCodec: CCodec) extends CCodec {
  override def bind(bits: BitReader, ext: ExtStreams): SeriesReader = {
    val lenR = lenCodec.bind(bits, ext)
    val valR = valCodec.bind(bits, ext)
    val probe = ext.probe
    new SeriesReader(this) {
      private def length(): Int = {
        val n = lenR.readInt()
        if (n < 0) throw new IOException(s"negative byte array length $n")
        n
      }
      override def readArray(): Array[Byte] = {
        val n = length()
        if (probe != null) probe(n)
        val out = new Array[Byte](n)
        valR.readBytes(out, 0, n)
        out
      }
      // the length is still decoded (it drives the skip); an external value
      // stream is a pure position skip
      override def skipArray(): Unit = valR.skipBytes(length())
    }
  }
  override def usesCore: Boolean = lenCodec.usesCore || valCodec.usesCore
  override def extIds: Set[Int] = lenCodec.extIds ++ valCodec.extIds
}

/** BYTE_ARRAY_STOP (id 5): bytes from block `cid` until `stop`. */
final case class CByteArrayStop(stop: Int, cid: Int) extends CCodec {
  override def bind(bits: BitReader, ext: ExtStreams): SeriesReader = {
    val cur = ext.cursor(cid)
    val probe = ext.probe
    new SeriesReader(this) {
      override def readArray(): Array[Byte] = {
        val out = cur.readUntil(stop)
        if (probe != null) probe(out.length)
        out
      }
      override def skipArray(): Unit = cur.skipUntil(stop)
    }
  }
  override def usesCore: Boolean = false
  override def extIds: Set[Int] = Set(cid)
}

object Encoding {
  /** Parse one encoding descriptor `(codecId, paramLen, params)` at `off`;
    * returns the codec and the new offset.
    */
  def parse(buf: Array[Byte], off: Int): (CCodec, Int) = {
    val (codecId, n1) = Itf8.read(buf, off)
    val (plen, n2) = Itf8.read(buf, off + n1)
    val pOff = off + n1 + n2
    val end = pOff + plen
    val codec = codecId match {
      case 0 => null // NULL encoding: series absent
      case 1 =>
        val (cid, _) = Itf8.read(buf, pOff); CExternal(cid)
      case 3 =>
        var p = pOff
        val (nv, a) = Itf8.read(buf, p); p += a
        val syms = new Array[Int](nv)
        var i = 0
        while (i < nv) { val (v, n) = Itf8.read(buf, p); syms(i) = v; p += n; i += 1 }
        val (nl, b) = Itf8.read(buf, p); p += b
        require(nl == nv, s"Huffman symbol/length count mismatch $nv/$nl")
        val lens = new Array[Int](nl)
        i = 0
        while (i < nl) { val (v, n) = Itf8.read(buf, p); lens(i) = v; p += n; i += 1 }
        CHuffman(syms, lens)
      case 4 =>
        val (lenC, p1) = parse(buf, pOff)
        val (valC, _) = parse(buf, p1)
        CByteArrayLen(lenC, valC)
      case 5 =>
        val stop = buf(pOff) & 0xff
        val (cid, _) = Itf8.read(buf, pOff + 1)
        CByteArrayStop(stop, cid)
      case 6 =>
        val (o, a) = Itf8.read(buf, pOff)
        val (w, _) = Itf8.read(buf, pOff + a)
        CBeta(o, w)
      case 7 =>
        val (o, a) = Itf8.read(buf, pOff)
        val (k, _) = Itf8.read(buf, pOff + a)
        CSubExp(o, k)
      case 9 =>
        val (o, _) = Itf8.read(buf, pOff); CGamma(o)
      case other => throw new IOException(s"unsupported CRAM encoding id $other")
    }
    (codec, end)
  }

  // ---- descriptor serialization (writer side) ------------------------------

  private def withParams(codecId: Int, params: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(Itf8.write(codecId))
    bos.write(Itf8.write(params.length))
    bos.write(params, 0, params.length)
    bos.toByteArray
  }

  def external(cid: Int): Array[Byte] = withParams(1, Itf8.write(cid))

  def byteArrayStop(stop: Int, cid: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(stop)
    bos.write(Itf8.write(cid))
    withParams(5, bos.toByteArray)
  }

  /** BYTE_ARRAY_LEN with ITF-8 lengths and value bytes in ONE external
    * block — the htsjdk tag-value shape (length then payload, sequential).
    */
  def byteArrayLenExternal(cid: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ext = external(cid)
    bos.write(ext, 0, ext.length)
    bos.write(ext, 0, ext.length)
    withParams(4, bos.toByteArray)
  }
}
