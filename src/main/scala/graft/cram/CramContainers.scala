package graft.cram

import graft.bgzf.SeekableInput

/** CRAM 3.x container-boundary planning (reference CramSource.java:57-151):
  * walk container headers without decoding payloads, so splits snap to
  * container offsets and interval scans can prune whole containers via the
  * `.crai` index. This layer answers "where can a split start and which
  * byte ranges matter"; the record CODEC (decode/encode of the payloads)
  * lives in [[CramRecordCodec]]/[[CramRecordWriter]].
  *
  * Layout (CRAM 3.0 spec §6/§9, public hts-specs): 26-byte file definition
  * ("CRAM" major minor + 20-byte id), then containers: int32-LE data length,
  * ITF-8 refSeqId/startPos/alignmentSpan/nRecords, LTF-8 recordCounter/bases,
  * ITF-8 nBlocks + landmark array, CRC32, then `length` payload bytes. The
  * file ends with a special EOF container (refSeqId -1, zero records).
  */
object Itf8 {
  /** Read an ITF-8 signed 32-bit int; returns (value, bytesConsumed). */
  def read(buf: Array[Byte], off: Int): (Int, Int) = (value(buf, off), size(buf(off)))

  /** Byte length of the ITF-8 int whose first byte is `first`. */
  def size(first: Byte): Int = {
    val b1 = first & 0xff
    if ((b1 & 0x80) == 0) 1
    else if ((b1 & 0x40) == 0) 2
    else if ((b1 & 0x20) == 0) 3
    else if ((b1 & 0x10) == 0) 4
    else 5
  }

  /** The ITF-8 int at `off`, [[size]] bytes long. */
  def value(buf: Array[Byte], off: Int): Int = {
    val b1 = buf(off) & 0xff
    if ((b1 & 0x80) == 0) b1
    else if ((b1 & 0x40) == 0)
      ((b1 & 0x7f) << 8) | (buf(off + 1) & 0xff)
    else if ((b1 & 0x20) == 0)
      ((b1 & 0x3f) << 16) | ((buf(off + 1) & 0xff) << 8) | (buf(off + 2) & 0xff)
    else if ((b1 & 0x10) == 0)
      ((b1 & 0x1f) << 24) | ((buf(off + 1) & 0xff) << 16) | ((buf(off + 2) & 0xff) << 8) | (buf(off + 3) & 0xff)
    else
      ((b1 & 0x0f) << 28) | ((buf(off + 1) & 0xff) << 20) | ((buf(off + 2) & 0xff) << 12) |
        ((buf(off + 3) & 0xff) << 4) | (buf(off + 4) & 0x0f)
  }

  /** Encode an ITF-8 int (htsjdk-compatible byte shapes). */
  def write(v: Int): Array[Byte] = {
    val u = v.toLong & 0xffffffffL
    if (u < (1 << 7)) Array(u.toByte)
    else if (u < (1 << 14)) Array((0x80 | (u >> 8)).toByte, u.toByte)
    else if (u < (1 << 21)) Array((0xc0 | (u >> 16)).toByte, (u >> 8).toByte, u.toByte)
    else if (u < (1 << 28)) Array((0xe0 | (u >> 24)).toByte, (u >> 16).toByte, (u >> 8).toByte, u.toByte)
    else Array((0xf0 | (u >> 28)).toByte, (u >> 20).toByte, (u >> 12).toByte, (u >> 4).toByte, (u & 0x0f).toByte)
  }
}

object Ltf8 {
  /** Read an LTF-8 signed 64-bit int; returns (value, bytesConsumed). */
  def read(buf: Array[Byte], off: Int): (Long, Int) = {
    val b1 = buf(off) & 0xff
    var n = 0
    while (n < 8 && (b1 & (0x80 >> n)) != 0) n += 1
    if (n == 0) (b1.toLong, 1)
    else {
      var v: Long = if (n == 8) 0L else (b1 & (0x7f >> n)).toLong
      var i = 1
      while (i <= n) { v = (v << 8) | (buf(off + i) & 0xff); i += 1 }
      (v, n + 1)
    }
  }

  /** Encode an LTF-8 long (htsjdk-compatible): n extra bytes, n = smallest
    * count with v < 2^(7·(n+1)), 9-byte form for the full 64-bit range.
    */
  def write(v: Long): Array[Byte] = {
    var n = 0
    while (n < 8 && (v >>> (7 * (n + 1))) != 0) n += 1
    if (n == 0) Array(v.toByte)
    else if (n == 8) {
      val out = new Array[Byte](9)
      out(0) = 0xff.toByte
      var i = 0
      while (i < 8) { out(8 - i) = (v >>> (8 * i)).toByte; i += 1 }
      out
    } else {
      val out = new Array[Byte](n + 1)
      var prefix = 0
      var i = 0
      while (i < n) { prefix |= 0x80 >> i; i += 1 }
      out(0) = (prefix | ((v >>> (8 * n)) & (0x7f >> n))).toByte
      i = 0
      while (i < n) { out(n - i) = (v >>> (8 * i)).toByte; i += 1 }
      out
    }
  }
}

/** One container's header fields + file geometry. */
final case class CramContainer(offset: Long, totalLength: Long, dataLength: Int,
                               refSeqId: Int, startPos: Int, alignmentSpan: Int,
                               nRecords: Int, nBlocks: Int = 0) {
  def isEof: Boolean = refSeqId == -1 && nRecords == 0
  /** 1-based inclusive coordinate range (mapped containers only); long
    * arithmetic so startPos + span near Int.MaxValue cannot wrap negative
    * and silently drop an overlapping container. */
  def overlaps(r: Int, start1: Int, end1: Int): Boolean =
    refSeqId == r && startPos <= end1 &&
      startPos.toLong + math.max(0, alignmentSpan) - 1 >= start1
}

object CramContainers {
  val FileDefinitionLength = 26

  /** Validate the file definition; returns (major, minor). */
  def readFileDefinition(in: SeekableInput): (Int, Int) = {
    val hdr = new Array[Byte](FileDefinitionLength)
    require(in.preadFully(0, hdr, 0, hdr.length) == hdr.length, "truncated CRAM file definition")
    require(hdr(0) == 'C' && hdr(1) == 'R' && hdr(2) == 'A' && hdr(3) == 'M', "bad CRAM magic")
    (hdr(4) & 0xff, hdr(5) & 0xff)
  }

  /** Parse the container header at `off`. The buffer grows on demand —
    * each varint's length is declared by its first byte, so every read is
    * bounds-checked against what was actually fetched and a multi-landmark
    * header (many slices) can never run the cursor past the buffer or into
    * stale bytes from a previous iteration.
    */
  def readContainerHeader(in: SeekableInput, off: Long, size: Long): CramContainer =
    readContainerHeader(in, off, size, 3)

  /** Major-version-aware variant: CRAM 2.x stores the record counter as
    * ITF-8 and has no trailing header CRC32 (both changed in 3.0).
    */
  def readContainerHeader(in: SeekableInput, off: Long, size: Long, major: Int): CramContainer = {
    // fixed-field worst case: 4 + 4×5 (ITF-8) + 2×9 (LTF-8) + 2×5 + CRC 4 = 60
    var buf = new Array[Byte](96)
    var got = in.preadFully(off, buf, 0, math.min(buf.length.toLong, size - off).toInt)
    require(got >= 10, s"truncated CRAM container header at $off")
    // grow to exactly `need` bytes (must exist in the file)
    def ensure(need: Int): Unit = if (need > got) {
      require(off + need <= size, s"truncated CRAM container header at $off")
      val nb = new Array[Byte](need)
      require(in.preadFully(off, nb, 0, need) == need,
        s"truncated CRAM container header at $off")
      buf = nb; got = need
    }
    val dataLength = (buf(0) & 0xff) | ((buf(1) & 0xff) << 8) | ((buf(2) & 0xff) << 16) | ((buf(3) & 0xff) << 24)
    var p = 4
    def itf8(): Int = {
      ensure(p + 1)
      val b1 = buf(p) & 0xff
      val n = if ((b1 & 0x80) == 0) 1 else if ((b1 & 0x40) == 0) 2
        else if ((b1 & 0x20) == 0) 3 else if ((b1 & 0x10) == 0) 4 else 5
      ensure(p + n)
      val (v, nn) = Itf8.read(buf, p); p += nn; v
    }
    def ltf8(): Long = {
      ensure(p + 1)
      val b1 = buf(p) & 0xff
      var n = 0
      while (n < 8 && (b1 & (0x80 >> n)) != 0) n += 1
      ensure(p + n + 1)
      val (v, nn) = Ltf8.read(buf, p); p += nn; v
    }
    val refSeqId = itf8()
    val startPos = itf8()
    val span = itf8()
    val nRecords = itf8()
    if (major >= 3) ltf8() else itf8() // record counter (ITF-8 before 3.0)
    ltf8() // bases
    val nBlocks = itf8()
    require(nBlocks >= 0, s"negative block count at $off")
    val nLandmarks = itf8()
    require(nLandmarks >= 0 && nLandmarks <= MaxLandmarks, s"implausible landmark count $nLandmarks at $off")
    var l = 0
    while (l < nLandmarks) { itf8(); l += 1 }
    if (major >= 3) { ensure(p + 4); p += 4 } // CRC32 (3.0+)
    CramContainer(off, p + dataLength.toLong, dataLength, refSeqId, startPos, span, nRecords, nBlocks)
  }

  /** Parse + validate a container header from an in-memory window; `None`
    * when the bytes at `bufOff` are not a plausible CRAM v3 container header.
    * Validation: non-negative varint fields, bounded landmark count, the
    * container fitting inside the file — and the header's own CRC32 (v3
    * stores a CRC of the preceding header bytes), which makes a random-byte
    * false positive a ~2^-32 event. Used by the executor-side boundary
    * guesser; cheap checks run before the CRC so non-candidates die fast.
    */
  def tryParseValidated(buf: Array[Byte], bufOff: Int, limit: Int,
                        fileOff: Long, fileSize: Long): Option[CramContainer] = {
    if (bufOff + 10 > limit) return None
    val dataLength = (buf(bufOff) & 0xff) | ((buf(bufOff + 1) & 0xff) << 8) |
      ((buf(bufOff + 2) & 0xff) << 16) | ((buf(bufOff + 3) & 0xff) << 24)
    if (dataLength < 0) return None
    var p = bufOff + 4
    var bad = false
    def itf8(): Int = {
      if (bad || p >= limit) { bad = true; return 0 }
      val b1 = buf(p) & 0xff
      val n = if ((b1 & 0x80) == 0) 1 else if ((b1 & 0x40) == 0) 2
        else if ((b1 & 0x20) == 0) 3 else if ((b1 & 0x10) == 0) 4 else 5
      if (p + n > limit) { bad = true; return 0 }
      val (v, nn) = Itf8.read(buf, p); p += nn; v
    }
    def ltf8(): Long = {
      if (bad || p >= limit) { bad = true; return 0L }
      val b1 = buf(p) & 0xff
      var n = 0
      while (n < 8 && (b1 & (0x80 >> n)) != 0) n += 1
      if (p + n + 1 > limit) { bad = true; return 0L }
      val (v, nn) = Ltf8.read(buf, p); p += nn; v
    }
    val refSeqId = itf8()
    val startPos = itf8()
    val span = itf8()
    val nRecords = itf8()
    val recCounter = ltf8()
    val bases = ltf8()
    val nBlocks = itf8()
    val nLandmarks = itf8()
    if (bad || refSeqId < -2 || startPos < 0 || span < 0 || nRecords < 0 ||
      recCounter < 0 || bases < 0 || nBlocks < 0 ||
      nLandmarks < 0 || nLandmarks > MaxLandmarks) return None
    // Landmarks are slice byte offsets within the dataLength-sized payload
    // (spec §9), so they are non-decreasing and bounded by dataLength. For
    // the boundary SCAN this check is the hot-path guard: a garbage offset
    // whose random nLandmarks lands in [0, MaxLandmarks] would otherwise
    // spin a ~6k-iteration varint loop + a multi-KB CRC per candidate byte
    // (measured ~10 µs/offset → ~0.5 s per 256 KiB split, the whole CRAM
    // read-path regression); with the bound it exits in ~2 iterations.
    var l = 0
    var prevLm = -1
    while (l < nLandmarks && !bad) {
      val lm = itf8()
      if (!bad && (lm < prevLm || lm > dataLength)) return None
      prevLm = lm
      l += 1
    }
    if (bad || p + 4 > limit) return None
    val crc = new java.util.zip.CRC32()
    crc.update(buf, bufOff, p - bufOff)
    val stored = (buf(p) & 0xffL) | ((buf(p + 1) & 0xffL) << 8) |
      ((buf(p + 2) & 0xffL) << 16) | ((buf(p + 3) & 0xffL) << 24)
    if (crc.getValue != stored) return None
    p += 4
    val headerLen = p - bufOff
    if (fileOff + headerLen + dataLength > fileSize) return None
    Some(CramContainer(fileOff, headerLen + dataLength.toLong, dataLength,
      refSeqId, startPos, span, nRecords, nBlocks))
  }

  /** Header window every parse path gets per candidate: 64 KiB. The
    * validator's landmark bound [[MaxLandmarks]] is DERIVED from it (fixed
    * fields ≤64 B + ≤5 B per landmark + 4 B CRC must fit), so window size
    * can never reject a header the validator would accept — the two bounds
    * are one definition, and the old escalate-to-5-MiB retry ladder (which
    * [[findBoundary]]'s per-candidate margin could still undercut at a
    * range-split start, silently dropping that container) is gone rather
    * than patched. Real containers carry one landmark per slice — single
    * to low double digits; ~13k is far beyond any real encoder.
    */
  private val HeaderWindow = 1 << 16
  private[cram] val MaxLandmarks = (HeaderWindow - 64 - 4) / 5

  /** First container boundary at-or-after `from`, discovered by scanning —
    * the executor-side twin of the BAM record-boundary guesser
    * (reference BamRecordGuesser semantics, CramSource.java:121-151 does
    * this walk on the driver instead). A candidate offset must parse as a
    * CRC-valid header AND chain into `confirmDepth` further CRC-valid
    * headers (or end-of-file), so a payload byte that happens to look like
    * a header (≈2^-32 per offset) cannot survive (≈2^-64 for the chain).
    * Returns `size` when no boundary exists in `[from, size)`.
    */
  def findBoundary(in: SeekableInput, from: Long, size: Long, confirmDepth: Int = 2): Long = {
    val Window = 1 << 20
    var base = math.max(from, FileDefinitionLength.toLong)
    while (base < size) {
      // candidates live in the first Window bytes; the HeaderWindow tail is
      // parse margin so a header straddling the window edge isn't rejected
      val want = math.min((Window + HeaderWindow).toLong, size - base).toInt
      val buf = new Array[Byte](want)
      require(in.preadFully(base, buf, 0, want) == want, s"short read at $base")
      val scanEnd = if (base + want >= size) want else math.min(Window, want)
      var i = 0
      while (i < scanEnd) {
        tryParseValidated(buf, i, want, base + i, size) match {
          case Some(c) if confirmChain(in, c, size, confirmDepth) => return base + i
          case _ =>
        }
        i += 1
      }
      base += scanEnd
    }
    size
  }

  private def confirmChain(in: SeekableInput, c: CramContainer, size: Long, depth: Int): Boolean = {
    if (depth <= 0) return true
    val next = c.offset + c.totalLength
    if (next == size) return true
    if (next > size) return false
    readValidatedHeader(in, next, size) match {
      case Some(n) => confirmChain(in, n, size, depth - 1)
      case None => false
    }
  }

  /** CRC-validating variant of [[readContainerHeader]]: `None` on ANY
    * malformation (structural or CRC mismatch) instead of throwing or
    * returning partial garbage — what the scan readers use so stringency
    * tiers can decide skip-vs-fail. Reads a small window first; the 64 KiB
    * retry only fires for very-many-landmark headers (or real corruption).
    */
  def readValidatedHeader(in: SeekableInput, off: Long, size: Long): Option[CramContainer] = {
    def attempt(window: Int): Option[CramContainer] = {
      val want = math.min(window.toLong, size - off).toInt
      if (want < 10) return None
      val buf = new Array[Byte](want)
      if (in.preadFully(off, buf, 0, want) != want) return None
      tryParseValidated(buf, 0, want, off, size)
    }
    // ladder: tiny window (real headers are ~50–200 B) → [[HeaderWindow]],
    // which by construction holds ANY header the validator accepts
    // (nLandmarks ≤ [[MaxLandmarks]])
    attempt(512)
      .orElse(if (size - off > 512) attempt(HeaderWindow) else None)
  }

  /** Major-aware optional header read: v3+ validates the trailing header
    * CRC32 ([[readValidatedHeader]]); CRAM 2.x headers carry no CRC, so
    * validation there is structural only (the bounds-checked parse). 2.x
    * callers must therefore start from a KNOWN boundary (file walk or
    * `.crai` offset) — mid-file boundary discovery needs the CRC and stays
    * v3-only ([[findBoundary]]).
    */
  def readHeaderOption(in: SeekableInput, off: Long, size: Long, major: Int): Option[CramContainer] =
    if (major >= 3) readValidatedHeader(in, off, size)
    else scala.util.Try(readContainerHeader(in, off, size, major)).toOption

  /** Walk every container header (EOF container included, flagged). */
  def containers(in: SeekableInput): Seq[CramContainer] = {
    val (major, _) = readFileDefinition(in)
    val size = in.size
    val out = Seq.newBuilder[CramContainer]
    var off = FileDefinitionLength.toLong
    while (off < size) {
      val c = readContainerHeader(in, off, size, major)
      out += c
      off += c.totalLength
    }
    out.result()
  }

  /** Encode a v3 container HEADER (int32-LE data length, ITF-8/LTF-8
    * fields, landmarks, CRC32 over the preceding header bytes). The caller
    * appends `dataLength` payload bytes.
    */
  def encodeContainerHeader(dataLength: Int, refSeqId: Int, startPos: Int, span: Int,
                            nRecords: Int, recordCounter: Long, bases: Long,
                            nBlocks: Int, landmarks: Seq[Int]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(96)
    bos.write(dataLength & 0xff); bos.write((dataLength >> 8) & 0xff)
    bos.write((dataLength >> 16) & 0xff); bos.write((dataLength >> 24) & 0xff)
    bos.write(Itf8.write(refSeqId)); bos.write(Itf8.write(startPos))
    bos.write(Itf8.write(span)); bos.write(Itf8.write(nRecords))
    bos.write(Ltf8.write(recordCounter))
    bos.write(Ltf8.write(bases))
    bos.write(Itf8.write(nBlocks))
    bos.write(Itf8.write(landmarks.length))
    landmarks.foreach(l => bos.write(Itf8.write(l)))
    val hdr = bos.toByteArray
    val crc = new java.util.zip.CRC32()
    crc.update(hdr)
    val c = crc.getValue
    bos.write((c & 0xff).toInt); bos.write(((c >> 8) & 0xff).toInt)
    bos.write(((c >> 16) & 0xff).toInt); bos.write(((c >> 24) & 0xff).toInt)
    bos.toByteArray
  }

  /** Encode one container with a zero-filled payload: the container-spec
    * sink's row shape (record payloads come from [[CramRecordWriter]]).
    */
  def encodeContainer(dataLength: Int, refSeqId: Int, startPos: Int, span: Int,
                      nRecords: Int): Array[Byte] = {
    val hdr = encodeContainerHeader(dataLength, refSeqId, startPos, span, nRecords,
      0L, 0L, 1, Seq(0))
    val out = new Array[Byte](hdr.length + dataLength)
    System.arraycopy(hdr, 0, out, 0, hdr.length)
    out
  }

  /** The 26-byte file definition: "CRAM" major minor + 20-byte file id. */
  def encodeFileDefinition(major: Int = 3, minor: Int = 0): Array[Byte] = {
    val out = new Array[Byte](FileDefinitionLength)
    out(0) = 'C'; out(1) = 'R'; out(2) = 'A'; out(3) = 'M'
    out(4) = major.toByte; out(5) = minor.toByte
    out
  }

  /** The trailing EOF container (refSeqId −1, zero records; spec start pos). */
  def encodeEofContainer(): Array[Byte] = encodeContainer(0, -1, 4542278, 0, 0)

  /** Partition plan: tile data containers by target split size with edges
    * snapping to container offsets — every container belongs to exactly one
    * partition, none is split (reference CramSource.java:96-151 semantics).
    */
  def planPartitions(cs: Seq[CramContainer], splitSize: Long): Seq[(Long, Long)] = {
    val data = cs.filterNot(_.isEof)
    if (data.isEmpty) return Nil
    val parts = Seq.newBuilder[(Long, Long)]
    var start = data.head.offset
    var end = start
    data.foreach { c =>
      if (c.offset + c.totalLength - start > splitSize && c.offset > start) {
        parts += ((start, c.offset))
        start = c.offset
      }
      end = c.offset + c.totalLength
    }
    if (end > start) parts += ((start, end))
    parts.result()
  }

  /** Containers that may hold records overlapping the 1-based interval —
    * via `.crai` entries when present, else container-header coordinates.
    */
  def prune(cs: Seq[CramContainer], crai: Option[CraiIndex],
            refId: Int, start1: Int, end1: Int): Seq[CramContainer] = crai match {
    case Some(idx) =>
      val offsets = idx.containerOffsets(refId, start1, end1)
      cs.filter(c => offsets.contains(c.offset))
    case None =>
      cs.filterNot(_.isEof).filter(c =>
        c.refSeqId == -2 /* multi-ref: cannot judge without decode */ ||
          c.overlaps(refId, start1, end1))
  }
}

/** `.crai` — gzip-compressed text index: one line per slice with
  * `seqId \t alignmentStart \t alignmentSpan \t containerOffset \t
  * sliceHeaderOffset \t sliceSize` (CRAM spec appendix; reference reads it
  * at CramSource.java:96-120).
  */
final case class CraiEntry(seqId: Int, start: Int, span: Int,
                           containerOffset: Long, sliceOffset: Int, sliceSize: Int)

final case class CraiIndex(entries: Seq[CraiEntry]) {
  /** Distinct container offsets whose slices may overlap [start1, end1].
    * Multi-ref slices (seqId -2) are always candidates — their members
    * cannot be judged without record decode, so pruning them would make the
    * indexed scan return fewer rows than the unindexed walk (which keeps
    * refSeqId == -2 conservatively). Long arithmetic avoids start+span
    * wrap-around. */
  def containerOffsets(refId: Int, start1: Int, end1: Int): Set[Long] =
    entries.filter(e => e.seqId == -2 ||
        (e.seqId == refId && e.start <= end1 && e.start.toLong + math.max(0, e.span) - 1 >= start1))
      .map(_.containerOffset).toSet
}

object CraiIndex {
  def read(in: SeekableInput): CraiIndex = {
    val raw = new Array[Byte](in.size.toInt)
    require(in.preadFully(0, raw, 0, raw.length) == raw.length, "truncated crai")
    val gz = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(raw))
    val text = new String(gz.readAllBytes(), "UTF-8")
    CraiIndex(text.split('\n').iterator.filter(_.nonEmpty).map { line =>
      val f = line.split('\t')
      CraiEntry(f(0).toInt, f(1).toInt, f(2).toInt, f(3).toLong, f(4).toInt, f(5).toInt)
    }.toSeq)
  }

  def write(out: java.io.OutputStream, idx: CraiIndex): Unit = {
    val gz = new java.util.zip.GZIPOutputStream(out)
    idx.entries.foreach { e =>
      gz.write(s"${e.seqId}\t${e.start}\t${e.span}\t${e.containerOffset}\t${e.sliceOffset}\t${e.sliceSize}\n"
        .getBytes("UTF-8"))
    }
    gz.finish()
  }
}
