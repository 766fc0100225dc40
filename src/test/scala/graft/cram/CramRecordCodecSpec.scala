package graft.cram

import org.scalatest.funsuite.AnyFunSuite
import graft.bam.{AlignmentRecord, BamRef, SamHeader}
import graft.bgzf.SeekableInput

/** Record-layer codec against a REAL htsjdk-written CRAM (v2.1, gzip
  * profile, core-Huffman series, detached mates, substitution features) —
  * the strongest available decode oracle without htsjdk in the sandbox —
  * plus self-roundtrip through the v3 writer profile (RR=false, external
  * series, rANS/gzip blocks) with field-level equality.
  */
class CramRecordCodecSpec extends AnyFunSuite {

  private val refDir = java.nio.file.Paths.get("/root/reference/src/test/resources")
  private def haveRefData = java.nio.file.Files.exists(refDir.resolve("valid.cram"))

  private def decodeValid(): (SamHeader, IndexedSeq[AlignmentRecord]) = {
    val fasta = SeekableInput.ofFile(refDir.resolve("valid.fasta"))
    val fai = Fasta.parseFai(new String(
      java.nio.file.Files.readAllBytes(refDir.resolve("valid.fasta.fai")), "UTF-8"))
    val in = SeekableInput.ofFile(refDir.resolve("valid.cram"))
    try {
      val header = CramRecordCodec.readSamHeader(in)
      val refs = new FastaRefSource(fasta, fai, header.refName)
      CramRecordCodec.decodeFile(in, refs)
    } finally { in.close(); fasta.close() }
  }

  test("decodes an htsjdk-written CRAM 2.1 file record-exactly") {
    assume(haveRefData)
    val (header, recs) = decodeValid()
    assert(recs.length == 8)
    assert(header.refs.nonEmpty && header.refs(6).name == "chr7")

    // the picard ValidateSamFile fixture's pair structure
    assert(recs.map(_.readName) == IndexedSeq(
      "both_reads_align_clip_marked", "both_reads_present_only_first_aligns",
      "read_2_too_many_gaps", "both_reads_align_clip_adapter",
      "both_reads_align_clip_adapter", "both_reads_align_clip_marked",
      "read_2_too_many_gaps", "both_reads_present_only_first_aligns"))
    assert(recs.map(_.flags) == IndexedSeq(1107, 89, 83, 147, 99, 163, 163, 165))
    assert(recs.map(_.start) == IndexedSeq(1, 1, 1, 16, 21, 302, 302, 0))
    assert(recs.map(_.cigar) == IndexedSeq(
      "101M", "101M", "101M", "101M", "101M", "101M", "10M1D10M5I76M", "*"))
    // detached mate info round-tripped from MF/NS/NP/TS
    assert(recs(0).mateContig == "chr7" && recs(0).mateStart == 302 && recs(0).tlen == 201)
    assert(recs(5).tlen == -201)
    assert(recs(1).mateContig == null && recs(1).mateStart == 0)
    // every record carries 101 bases with qualities
    assert(recs.filter(_.cigar == "101M").forall(r => r.seq.length == 101 && r.qual.length == 101))
    // substitution features were applied against the real reference:
    // read 0 differs from chr7[1..101] at specific positions but matches
    // its own first base reconstruction
    assert(recs(0).seq.startsWith("CAACAGAAGC"))
    assert(recs(6).end == recs(6).start + 101 + 1 - 5 - 1) // 10M1D10M5I76M: ref len = 97
    // tags decoded through the canonical-Huffman/external/byte-array codecs
    assert(recs(0).attributes("MQ") == "C:255")
    assert(recs(0).attributes("XT") == "Z:foo")
    assert(recs(0).attributes("PG") == "Z:1")
    assert(recs(0).attributes("OQ").startsWith("Z:1111"))
    assert(recs(7).attributes.get("XT").isEmpty)
    // read groups resolved to @RG IDs
    assert(recs.forall(_.attributes.contains("RG")))
    // unmapped tail record
    assert((recs(7).flags & 0x4) != 0 && recs(7).cigar == "*" && recs(7).end == 0)
    assert(recs(7).seq.length == 101)
  }

  test("decoded records survive the v3 writer roundtrip field-identically") {
    assume(haveRefData)
    val (header, recs) = decodeValid()
    val enc = CramRecordWriter.encodeContainer(recs, header, recordCounter = 0L)
    assert(enc.nRecords == 8)
    // frame it as a complete v3 file and decode through the public path
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(CramContainers.encodeFileDefinition())
    bos.write(CramRecordWriter.encodeHeaderContainer(header))
    bos.write(enc.bytes)
    bos.write(CramContainers.encodeEofContainer())
    val in = SeekableInput.ofBytes(bos.toByteArray)
    val (header2, back) = CramRecordCodec.decodeFile(in, NoRefSource)
    assert(header2.text == header.text)
    assert(back.length == recs.length)
    recs.zip(back).foreach { case (a, b) => assert(b == a, s"record ${a.readName}") }
  }

  test("multi-ref and unmapped-only containers roundtrip") {
    val header = SamHeader(IndexedSeq(BamRef("chr1", 1000), BamRef("chr2", 1000)))
    def mk(name: String, flags: Int, contig: String, start: Int, cigar: String,
           seq: String, mapq: Int): AlignmentRecord =
      AlignmentRecord(name, flags, contig, start,
        end = 0, mapq = mapq, cigar = cigar, mateContig = null, mateStart = 0, tlen = 0,
        seq = seq, qual = if (seq == "*") "*" else "I" * seq.length,
        attributes = Map("NM" -> "i:2"))
    val recs = IndexedSeq(
      mk("r1", 0, "chr1", 10, "4M", "ACGT", 30).copy(end = 13),
      mk("r2", 0, "chr2", 20, "2M1I1M", "GGTT", 30).copy(end = 22),
      mk("r3", 4, null, 0, "*", "AACC", 0), // CRAM stores no MAPQ for unmapped reads
      mk("r4", 0, "chr1", 50, "2S2M", "TTAA", 30).copy(end = 51))
    val enc = CramRecordWriter.encodeContainer(recs, header, 0L)
    assert(enc.refSeqId == -2) // mixed refs → multi-ref slice
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(CramContainers.encodeFileDefinition())
    bos.write(CramRecordWriter.encodeHeaderContainer(header))
    bos.write(enc.bytes)
    bos.write(CramContainers.encodeEofContainer())
    val (_, back) = CramRecordCodec.decodeFile(SeekableInput.ofBytes(bos.toByteArray), NoRefSource)
    assert(back == recs)
  }

  test("unknown-sequence mapped records keep their CIGAR shape") {
    val header = SamHeader(IndexedSeq(BamRef("chr1", 1000)))
    val r = AlignmentRecord("q", 0, "chr1", 5, end = 14, mapq = 7, cigar = "3M2D5M1N2M",
      mateContig = null, mateStart = 0, tlen = 0, seq = "*", qual = "*",
      attributes = Map.empty)
    val rl = CramRecordWriter.cigarQueryLen("3M2D5M1N2M")
    assert(rl == 10)
    val enc = CramRecordWriter.encodeContainer(IndexedSeq(r), header, 0L)
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(CramContainers.encodeFileDefinition())
    bos.write(CramRecordWriter.encodeHeaderContainer(header))
    bos.write(enc.bytes)
    bos.write(CramContainers.encodeEofContainer())
    val (_, back) = CramRecordCodec.decodeFile(SeekableInput.ofBytes(bos.toByteArray), NoRefSource)
    assert(back.head.cigar == "3M2D5M1N2M")
    assert(back.head.seq == "*")
    assert(back.head.end == 5 + (3 + 2 + 5 + 1 + 2) - 1)
  }

  // ---- hand-built slices ---------------------------------------------------
  // Slices written value by value in the decoder's read order, over codecs
  // with sparse and large content ids and blocks shared between series and
  // tags; the expected records are derived by hand from the CRAM spec.

  private def key(tag: String, typ: Char): Int =
    (tag.charAt(0).toInt << 16) | (tag.charAt(1).toInt << 8) | typ.toInt

  private val Big = 1 << 24
  private val handSeries: Map[String, CCodec] = Map(
    "BF" -> CExternal(0), "CF" -> CExternal(0), // two series on one block
    "RI" -> CExternal(7), "RL" -> CExternal(7), "AP" -> CExternal(7),
    "RG" -> CExternal(7), "MQ" -> CExternal(7),
    "RN" -> CByteArrayStop(0, 40000),
    "MF" -> CExternal(Big), "NS" -> CExternal(Big), "NP" -> CExternal(Big),
    "TS" -> CExternal(Big), "NF" -> CExternal(Big), "TL" -> CExternal(Big),
    "FN" -> CExternal(5), "FC" -> CExternal(5), "FP" -> CExternal(5),
    "BS" -> CExternal(6), "DL" -> CExternal(6), "RS" -> CExternal(6),
    "HC" -> CExternal(6), "PD" -> CExternal(6),
    "SC" -> CByteArrayStop(0, 300), "IN" -> CByteArrayStop(0, 300),
    "BB" -> CByteArrayStop(0, 301),
    "BA" -> CExternal(25), "QS" -> CExternal(70000),
    // lengths on a series block, values on the QS block
    "QQ" -> CByteArrayLen(CExternal(7), CExternal(70000)))
  private val handTags: Map[Int, CCodec] = Map(
    // a tag sharing blocks with series: lengths with TL, values with RN
    key("NM", 'C') -> CByteArrayLen(CExternal(Big), CExternal(40000)),
    key("XZ", 'Z') -> CByteArrayStop(9, 40000))
  private val handDict = Vector(Vector(("NM", 'C'), ("XZ", 'Z')), Vector.empty)
  private val handHeader = SamHeader("@HD\tVN:1.6\n@RG\tID:grp1\n",
    IndexedSeq(BamRef("chr1", 1000), BamRef("chr2", 1000)))

  /** Reference positions 100..129 of chr1. */
  private val window = "ACGTTGCAACGGTACCATGATCGATCGGCA"
  private val windowRefs = new CramRefSource {
    override def region(rid: Int, start1: Int, span: Int): Array[Byte] = {
      assert(rid == 0 && start1 == 100 && span == 30)
      window.getBytes("ASCII")
    }
  }

  /** Test-side writer: each value goes to the block(s) its codec reads. */
  private final class SliceBlocks(series: Map[String, CCodec]) {
    private val out = scala.collection.mutable.Map.empty[Int, java.io.ByteArrayOutputStream]
    private def block(cid: Int) = out.getOrElseUpdate(cid, new java.io.ByteArrayOutputStream())
    def int(c: CCodec, v: Int): Unit = c match {
      case CExternal(cid) => block(cid).write(Itf8.write(v))
    }
    def byte(c: CCodec, v: Int): Unit = c match {
      case CExternal(cid) => block(cid).write(v)
    }
    def array(c: CCodec, a: Array[Byte]): Unit = c match {
      case CByteArrayStop(stop, cid) => block(cid).write(a); block(cid).write(stop)
      case CByteArrayLen(l, v) => int(l, a.length); a.foreach(b => byte(v, b))
    }
    def int(s: String, v: Int): Unit = int(series(s), v)
    def byte(s: String, v: Int): Unit = byte(series(s), v)
    def array(s: String, a: String): Unit = array(series(s), a.getBytes("ASCII"))
    def blocks: Map[Int, Array[Byte]] = out.map { case (k, v) => k -> v.toByteArray }.toMap
  }

  /** Five records over `window`: a detached mate crossing the window's left
    * edge with an `X` substitution; a next-fragment pair whose first read
    * crosses the right edge and whose second carries every other feature
    * code; an unmapped read; a mapped read with unknown sequence.
    */
  private def handSlice(refSeqId: Int, series: Map[String, CCodec]): Map[Int, Array[Byte]] = {
    val w = new SliceBlocks(series)
    def head(bf: Int, cf: Int, rl: Int, ap: Int, rg: Int, name: String): Unit = {
      w.int("BF", bf); w.int("CF", cf)
      if (refSeqId == -2) w.int("RI", 0)
      w.int("RL", rl); w.int("AP", ap); w.int("RG", rg); w.array("RN", name)
    }
    def tags(nm: Int, xz: String): Unit = {
      w.int("TL", 0)
      w.array(handTags(key("NM", 'C')), Array(nm.toByte))
      w.array(handTags(key("XZ", 'Z')), (xz + "\u0000").getBytes("ASCII"))
    }
    def feature(code: Char, delta: Int): Unit = { w.byte("FC", code); w.int("FP", delta) }
    // r1: detached, MF = 3 (mate reverse + unmapped), 97..108 with X at read 6
    head(0x41, 0x3, 12, 97, 0, "r1")
    w.int("MF", 3); w.int("NS", 1); w.int("NP", 500); w.int("TS", -100)
    tags(3, "foo")
    w.int("FN", 1); feature('X', 6); w.byte("BS", 2)
    w.int("MQ", 60)
    (1 to 12).foreach(q => w.byte("QS", q))
    // r2: mate is the next record, 125..132 (three bases past the window)
    head(0x41, 0x5, 8, 125, -1, "r2")
    w.int("NF", 0)
    w.int("TL", 1)
    w.int("FN", 0)
    w.int("MQ", 30)
    (1 to 8).foreach(q => w.byte("QS", 40 - q))
    // r3: S B I i Q q D N b H P X, reverse strand, 101..115
    head(0x91, 0x1, 15, 101, 0, "r3")
    tags(200, "")
    w.int("FN", 12)
    feature('S', 1); w.array("SC", "GG")
    feature('B', 2); w.byte("BA", 'T'); w.byte("QS", 30)
    feature('I', 1); w.array("IN", "AA")
    feature('i', 2); w.byte("BA", 'C')
    feature('Q', 1); w.byte("QS", 20)
    feature('q', 0); w.array("QQ", "!!")
    feature('D', 2); w.int("DL", 3)
    feature('N', 0); w.int("RS", 2)
    feature('b', 0); w.array("BB", "ACG")
    feature('H', 3); w.int("HC", 4)
    feature('P', 0); w.int("PD", 1)
    feature('X', 0); w.byte("BS", 0)
    w.int("MQ", 255)
    (0 until 15).foreach(q => w.byte("QS", q * 2))
    // r4: unmapped, bases and qualities
    head(0x4, 0x1, 6, 0, 0, "r4")
    w.int("TL", 1)
    "ACGTNA".foreach(b => w.byte("BA", b))
    (1 to 6).foreach(q => w.byte("QS", q))
    // r5: mapped, unknown sequence, no qualities: 2M3D4M over 110..118
    head(0x0, 0x8, 6, 110, -1, "*")
    w.int("TL", 1)
    w.int("FN", 1); feature('D', 3); w.int("DL", 3)
    w.int("MQ", 5)
    w.blocks
  }

  private def phred(qs: Seq[Int]): String = qs.map(q => (q + 33).toChar).mkString

  private val handWant = IndexedSeq(
    AlignmentRecord("r1", 0x69, "chr1", 97, 108, 60, "12M", "chr2", 500, -100,
      "NNNACTTTGCAA", phred(1 to 12),
      Map("NM" -> "C:3", "XZ" -> "Z:foo", "RG" -> "Z:grp1")),
    AlignmentRecord("r2", 0x61, "chr1", 125, 132, 30, "8M", "chr1", 101, -32,
      "CGGCANNN", phred((1 to 8).map(40 - _)), Map.empty),
    AlignmentRecord("r3", 0x91, "chr1", 101, 115, 255, "2S1M3I2M3D2N3M4H1P4M", "chr1", 125, 32,
      "GGTAACGTACGAACC", phred((0 until 15).map(_ * 2)),
      Map("NM" -> "C:200", "XZ" -> "Z:", "RG" -> "Z:grp1")),
    AlignmentRecord("r4", 0x4, "chr1", 0, 0, 0, "*", null, 0, 0,
      "ACGTNA", phred(1 to 6), Map("RG" -> "Z:grp1")),
    AlignmentRecord(null, 0x0, "chr1", 110, 118, 5, "2M3D4M", null, 0, 0, "*", "*", Map.empty))

  private def handComp(series: Map[String, CCodec] = handSeries) =
    CramRecordCodec.CompHeader(rnPreserved = true, apDelta = false, refRequired = false,
      subMatrix = Array.fill[Byte](5)(0x1b), tagDict = handDict,
      series = series, tagCodecs = handTags)

  private def handSliceHeader(refSeqId: Int, blocks: Map[Int, Array[Byte]]) =
    CramRecordCodec.SliceHeader(refSeqId, 100, 30, handWant.length, blocks.size,
      blocks.keys.toArray, -1, new Array[Byte](16))

  private def assertRecords(got: IndexedSeq[AlignmentRecord], want: IndexedSeq[AlignmentRecord]): Unit = {
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.productIterator.toSeq == w.productIterator.toSeq,
        s"record ${w.readName}:\n got  $g\n want $w")
    }
  }

  test("hand-built slice: sparse and shared content ids, every feature code, window edges") {
    val blocks = handSlice(0, handSeries)
    assert(blocks.keySet == Set(0, 5, 6, 7, 25, 300, 301, 40000, 70000, Big))
    val got = CramRecordCodec.decodeSlice(handComp(), handSliceHeader(0, blocks),
      Array.emptyByteArray, blocks, handHeader, windowRefs).toVector
    assertRecords(got, handWant)
  }

  test("hand-built slice: projected decode keeps shared streams in step") {
    val blocks = handSlice(0, handSeries)
    val lazyBlocks = blocks.map { case (k, v) =>
      k -> new CramRecordCodec.LazyBlock(0, 4, k, v, v.length) }
    val mask = graft.bam.BamFieldMask(cigarAndEnd = true, seq = false, qual = false, attrs = false)
    val got = CramRecordCodec.decodeSlice(handComp(), handSliceHeader(0, blocks),
      Array.emptyByteArray, lazyBlocks, handHeader, NoRefSource, mask).toVector
    assertRecords(got, handWant.map(r => r.copy(seq = "*", qual = "*",
      attributes = r.attributes.filter(_._1 == "RG"))))
  }

  test("hand-built slice: RI is read only by multi-reference slices") {
    // RI absent from the header: a single-reference slice never reads it
    val noRi = handSeries - "RI"
    val blocks = handSlice(0, noRi)
    val got = CramRecordCodec.decodeSlice(handComp(noRi), handSliceHeader(0, blocks),
      Array.emptyByteArray, blocks, handHeader, windowRefs).toVector
    assertRecords(got, handWant)
    // a multi-reference slice (refSeqId -2) carries RI per record: with RI
    // present it decodes (no reference window: matches read N, and X
    // substitutes from N) ...
    val multi = handSlice(-2, handSeries)
    val back = CramRecordCodec.decodeSlice(handComp(), handSliceHeader(-2, multi),
      Array.emptyByteArray, multi, handHeader, NoRefSource).toVector
    assert(back.map(_.cigar) == handWant.map(_.cigar))
    assert(back(0).seq == "NNNNNGNNNNNN" && back(2).seq == "GGTAACNNACGANNN")
    // ... and without it fails on the first record
    val ex = intercept[java.io.IOException](
      CramRecordCodec.decodeSlice(handComp(noRi), handSliceHeader(-2, multi),
        Array.emptyByteArray, multi, handHeader, NoRefSource).toVector)
    assert(ex.getMessage == "CRAM data series RI missing")
  }

  test("external ITF-8 reads stop at the block end") {
    def readInt(bytes: Array[Byte], n: Int): Unit = {
      val r = CExternal(9).bind(new BitReader(Array.emptyByteArray),
        new ExtStreams(Map(9 -> bytes).get _))
      (0 until n).foreach(_ => r.readInt())
    }
    readInt(Array[Byte](5, 0x81.toByte, 1), 2) // a whole block reads cleanly
    // one value past the end
    val single = intercept[java.io.IOException](readInt(Array[Byte](5), 2))
    assert(single.getMessage == "CRAM external block 9 exhausted")
    // a multi-byte value cut off by the block end, for each ITF-8 width
    for (cut <- Seq(Array(0x81), Array(0xc1, 2), Array(0xe1, 2, 3), Array(0xf1, 2, 3, 4))) {
      val ex = intercept[java.io.IOException](readInt(cut.map(_.toByte), 1))
      assert(ex.getMessage == "CRAM external block 9 exhausted", cut.mkString(","))
    }
  }
}
