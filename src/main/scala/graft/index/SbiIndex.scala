package graft.index

import java.io.OutputStream
import java.nio.{ByteBuffer, ByteOrder}
import graft.bgzf.{Bgzf, SeekableInput}

/** SBI splitting index: a sampled list of record-start virtual offsets that
  * turns BAM partition planning into a binary search — no heuristic boundary
  * guessing (the *intended* semantics of the reference's SBI branch,
  * BamSource.java:74-92, vendored format htsjdk/samtools/SBIIndex.java:212-275
  * / SBIIndexWriter.java:24-150; file layout from the public hts-specs SBI
  * description).
  *
  * Layout (little-endian): magic "SBI\1" | fileLength i64 | md5 16B |
  * uuid 16B | totalRecords i64 | granularity i64 | numOffsets i64 |
  * offsets i64×n. The offsets list ends with a sentinel: the virtual offset
  * just past the last record.
  */
final case class SbiIndex(fileLength: Long, totalRecords: Long, granularity: Long,
                          offsets: Array[Long]) {

  /** First indexed offset whose BGZF block starts at/after `pos` (compressed
    * byte). Partition boundaries derived this way tile the record space
    * exactly (reference SBIIndex.getChunk semantics).
    */
  def boundaryAtOrAfter(pos: Long): Long = {
    var lo = 0
    var hi = offsets.length - 1
    // smallest offset with blockStart >= pos
    var ans = offsets(offsets.length - 1)
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (Bgzf.blockStart(offsets(mid)) >= pos) { ans = offsets(mid); hi = mid - 1 }
      else lo = mid + 1
    }
    ans
  }
}

object SbiIndex {
  val Magic: Array[Byte] = Array('S', 'B', 'I', 1).map(_.toByte)
  val DefaultGranularity = 4096L // reference SBIIndexWriter.java:29

  def write(out: OutputStream, idx: SbiIndex): Unit = {
    val bb = ByteBuffer.allocate(4 + 8 + 16 + 16 + 8 + 8 + 8 + 8 * idx.offsets.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put(Magic)
    bb.putLong(idx.fileLength)
    bb.put(new Array[Byte](32)) // md5 + uuid: zeros (not consumed by planning)
    bb.putLong(idx.totalRecords)
    bb.putLong(idx.granularity)
    bb.putLong(idx.offsets.length.toLong)
    idx.offsets.foreach(bb.putLong)
    out.write(bb.array(), 0, bb.position())
  }

  def read(in: SeekableInput): SbiIndex = {
    val head = new Array[Byte](4 + 8 + 32 + 8 + 8 + 8)
    require(in.preadFully(0, head, 0, head.length) == head.length, "truncated SBI header")
    val bb = ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4)
    bb.get(magic)
    require(magic.sameElements(Magic), "bad SBI magic")
    val fileLength = bb.getLong
    bb.position(bb.position() + 32)
    val totalRecords = bb.getLong
    val granularity = bb.getLong
    val n = bb.getLong.toInt
    val buf = new Array[Byte](8 * n)
    require(in.preadFully(head.length.toLong, buf, 0, buf.length) == buf.length, "truncated SBI offsets")
    val ob = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
    val offsets = Array.fill(n)(ob.getLong)
    SbiIndex(fileLength, totalRecords, granularity, offsets)
  }
}

/** Genomic coordinate sidecar (graft-native, written alongside `.sbi` by
  * the single-file BAM sink): for every SBI-sampled record, its (refId,
  * pos), plus the max alignment SPAN (end − start) of the records in the
  * window between this sample and the next. For coordinate-sorted files
  * this bounds the coordinate range of every SBI chunk — including the
  * reach of long-spanning alignments (spliced RNA-seq, long reads) that
  * START before an interval but overlap it — letting interval scans prune
  * whole partitions at planning time without a guessed slack. This is the
  * role tabix/bai split pruning plays in the reference
  * (TribbleIndexIntervalFilteringTextInputFormat.java:33-73), here driven
  * by our own sidecar since we own both sides.
  *
  * Layout (LE): magic "GCI\2" | sorted u8 | granularity i64 | n i64 |
  * n × (voff i64, refId i32, pos i32, maxSpan i32). `sorted` is verified at
  * write time; readers ignore the file when 0. refId -1 (unmapped tail) is
  * remapped to Int.MaxValue so it orders last, matching BAM coordinate sort.
  */
final case class GciIndex(sorted: Boolean, granularity: Long,
                          voffs: Array[Long], refs: Array[Int], pos: Array[Int],
                          spans: Array[Int]) {
  /** Index of the entry whose voff equals `v` (entries mirror SBI offsets). */
  def entryAt(v: Long): Int = java.util.Arrays.binarySearch(voffs, v)

  /** Max alignment span over windows [j0, j1) — bounds the end coordinate of
    * every record in the chunk delimited by entries j0 and j1.
    */
  def maxSpan(j0: Int, j1: Int): Int = {
    var m = 0
    var j = j0
    while (j < j1) { if (spans(j) > m) m = spans(j); j += 1 }
    m
  }
}

object GciIndex {
  val Magic: Array[Byte] = Array('G', 'C', 'I', 2).map(_.toByte)

  /** Order key: unmapped (refId < 0) sorts after every mapped position. */
  def orderRef(refId: Int): Int = if (refId < 0) Int.MaxValue else refId

  def write(out: java.io.OutputStream, idx: GciIndex): Unit = {
    val bb = java.nio.ByteBuffer.allocate(4 + 1 + 8 + 8 + 20 * idx.voffs.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(Magic)
    bb.put(if (idx.sorted) 1.toByte else 0.toByte)
    bb.putLong(idx.granularity)
    bb.putLong(idx.voffs.length.toLong)
    var i = 0
    while (i < idx.voffs.length) {
      bb.putLong(idx.voffs(i)); bb.putInt(idx.refs(i)); bb.putInt(idx.pos(i))
      bb.putInt(idx.spans(i)); i += 1
    }
    out.write(bb.array(), 0, bb.position())
  }

  /** Throws on unknown magic/version (callers treat that as "no sidecar" —
    * an old-format file must disable pruning, never mis-prune).
    */
  def read(in: graft.bgzf.SeekableInput): GciIndex = {
    val head = new Array[Byte](4 + 1 + 8 + 8)
    require(in.preadFully(0, head, 0, head.length) == head.length, "truncated GCI header")
    val hb = java.nio.ByteBuffer.wrap(head).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4)
    hb.get(magic)
    require(magic.sameElements(Magic), "bad GCI magic/version")
    val sorted = hb.get() == 1
    val granularity = hb.getLong
    val n = hb.getLong.toInt
    val buf = new Array[Byte](20 * n)
    require(in.preadFully(head.length.toLong, buf, 0, buf.length) == buf.length, "truncated GCI entries")
    val eb = java.nio.ByteBuffer.wrap(buf).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val voffs = new Array[Long](n); val refs = new Array[Int](n)
    val pos = new Array[Int](n); val spans = new Array[Int](n)
    var i = 0
    while (i < n) {
      voffs(i) = eb.getLong; refs(i) = eb.getInt; pos(i) = eb.getInt; spans(i) = eb.getInt
      i += 1
    }
    GciIndex(sorted, granularity, voffs, refs, pos, spans)
  }
}
