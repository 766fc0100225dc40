package perfbench

import java.io.{ByteArrayOutputStream, File, FileOutputStream}

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.bam.{AlignmentRecord, BamCodec, BamIO, BamRecordGuesser, BamRowEncoder, RecordToRow, SamHeader}
import graft.bgzf.{Bgzf, BgzfBlockCompressor, BgzfInputStream, SeekableInput}
import graft.cram.{CraiIndex, CramContainers, CramRecordCodec, CramRecordWriter, CramRefSource}
import graft.index.{BaiIndex, TbiIndex}
import graft.sources.{HadoopIO, SplitSizing, SplitTextReader}
import graft.sources.bam.RowToRecord
import graft.sources.cram.FastaRefsAccess
import graft.sources.vcf.VariantRowBuilder
import graft.vcf.{Variant, VcfCodec, VcfHeader, VcfRowEncoder}

/** Spans of the traced replay. Each call into a layer is a span with its
  * parent (the enclosing span); per layer the tracer keeps inclusive time
  * and self time (inclusive minus the time its child spans cover).
  * Per-record spans are folded into these sums as they close; the
  * outermost spans (one per replayed file or query) are kept whole. A
  * tracer that is not `enabled` records nothing: its spans only evaluate
  * their body, which gives the replay's untraced wall time.
  */
final class Tracer(val enabled: Boolean) {
  private final class Frame(val layer: String, val t0: Long) { var child = 0L }
  private val stack = new java.util.ArrayDeque[Frame]()
  val inclNs = mutable.Map[String, Long]().withDefaultValue(0L)
  val selfNs = mutable.Map[String, Long]().withDefaultValue(0L)
  val counts = mutable.Map[String, Double]().withDefaultValue(0.0)
  val outer = mutable.ArrayBuffer[Span]()

  def span[A](layer: String)(f: => A): A = if (!enabled) f else {
    val fr = new Frame(layer, System.nanoTime())
    val parent = stack.peek()
    stack.push(fr)
    try f
    finally {
      stack.pop()
      val d = System.nanoTime() - fr.t0
      inclNs(layer) += d
      selfNs(layer) += d - fr.child
      if (parent != null) parent.child += d
      if (parent == null) outer += Span(layer, layer, "", fr.t0 / 1000000, (fr.t0 + d) / 1000000)
    }
  }

  def add(counter: String, v: Double): Unit = if (enabled) counts(counter) += v
  def s(layer: String): Double = inclNs(layer) / 1e9
  /** Self time of every span whose layer name starts with `prefix.`. */
  def selfS(prefix: String): Double =
    selfNs.iterator.filter(_._1.startsWith(prefix + ".")).map(_._2).sum / 1e9
}

/** Counts and times every positional read of the input it wraps. */
final class CountingInput(in: SeekableInput, t: Tracer) extends SeekableInput {
  def pread(pos: Long, buf: Array[Byte], off: Int, len: Int): Int = t.span("io.read") {
    val n = in.pread(pos, buf, off, len)
    t.add("io.read_calls", 1)
    if (n > 0) t.add("io.bytes_read", n)
    n
  }
  def size: Long = in.size
  def close(): Unit = in.close()
}

/** The traced run's per-layer numbers: listener sums over the traced timed
  * phase, plus a single-threaded replay that walks the workload's files
  * through each layer's public functions, timing every call from here.
  */
final class Layers(spark: SparkSession, a: Main.Args, w: Workload, listener: OpListener) {
  val result = mutable.ArrayBuffer[(String, Double, String)]()
  private var t = new Tracer(enabled = false)
  private val conf = spark.sessionState.newHadoopConf()
  private val replayDir = new File(a.work, "replay")
  /** The CRAM layer split (the one `graft.CramProf` prints), for the summary. */
  private val cramMethods = mutable.TreeMap[Int, (Double, Long, Long)]()

  private def metric(name: String, v: Double, unit: String): Unit =
    result += ((name, if (v.isNaN || v.isInfinite) 0.0 else v, unit))
  private def ratio(n: Double, d: Double): Double = if (d == 0) 0.0 else n / d

  def fromListener(ops: Seq[Op]): Unit = {
    val st = ops.map(o => o -> listener.await(spark.sparkContext, o.group))
    val n = math.max(1, st.length).toDouble
    def perOp(f: OpStats => Double) = st.map(x => f(x._2)).sum / n
    metric("spark.jobs", perOp(_.jobs), "count/op")
    metric("spark.tasks", perOp(_.tasks), "count/op")
    metric("spark.executor_run_s", perOp(_.runMs / 1e3), "s/op")
    metric("spark.executor_cpu_s", perOp(_.cpuNs / 1e9), "s/op")
    metric("spark.gc_s", perOp(_.gcMs / 1e3), "s/op")
    metric("spark.scheduler_delay_s", perOp(_.schedulerDelayMs / 1e3), "s/op")
    // slowest over median task of each operation's widest stage
    metric("spark.task_skew", Stats.median(st.flatMap { case (_, s) =>
      s.stageTaskMs.values.maxByOption(_.length).filter(_.nonEmpty).map { ds =>
        ds.max / math.max(1.0, Stats.median(ds.map(_.toDouble).toSeq))
      }
    }), "ratio")
    metric("spark.failed_tasks", st.map(_._2.failedTasks).sum, "count")
    metric("spark.input_records", perOp(_.inputRecords), "count/op")
    metric("spark.shuffle_write_bytes", perOp(_.shuffleWriteBytes), "B/op")
    val withJobs = st.filter(_._2.jobs > 0)
    metric("driver.plan_s", Stats.median(withJobs.map { case (o, s) => (s.firstJobStart - o.startMs) / 1e3 }), "s")
    metric("driver.commit_s", Stats.median(withJobs.map { case (o, s) => (o.endMs - s.lastJobEnd) / 1e3 }), "s")
    val kinds = listener.spanLog.toArray(Array.empty[Span]).groupBy(_.kind)
    System.out.println("perfbench trace spans " + Json.render(Json.obj(kinds.toSeq.sortBy(_._1).map {
      case (k, ss) => k -> Json.obj("count" -> ss.length, "total_s" -> ss.map(s => s.endMs - s.startMs).sum / 1e3)
    }: _*)))
  }

  /** Replays the workload untraced, traced and untraced again; the traced
    * pass gives the layer metrics, and its wall time over the mean of the
    * untraced passes gives the tracing overhead those metrics carry.
    */
  def replay(): Unit = {
    replayDir.mkdirs()
    def pass(tracer: Tracer): Double = {
      t = tracer
      val t0 = System.nanoTime()
      walk()
      (System.nanoTime() - t0) / 1e9
    }
    val traced = new Tracer(enabled = true)
    val before = pass(new Tracer(enabled = false))
    val tracedS = pass(traced)
    val after = pass(new Tracer(enabled = false))
    t = traced
    metric("trace.overhead_pct", 100 * (ratio(tracedS, (before + after) / 2) - 1), "%")
    emit()
  }

  private def walk(): Unit =
    w match {
      case s: ScanWorkload =>
        t.span("replay.bam")(readBam(s.bam))
        t.span("replay.vcf")(readVcf(s.vcf))
        t.span("replay.cram")(readCram(s.cram, s.fasta))
      case r: RegionWorkload =>
        (0 until Queries.Widths.length * r.formats.length).foreach { i =>
          val (f, k) = (r.formats(i % r.formats.length), i / r.formats.length)
          t.span("replay.query")(region(r, Queries(a.seed, f, k), r.file(f, k)))
        }
      case wr: WriteWorkload =>
        wr.formats.foreach(f => t.span(s"replay.$f")(writeFormat(wr, f)))
    }

  /** Wall time of the timed phase run with the listener's span log over
    * that of the untraced timed phase before it (same operations, same
    * order), minus one.
    */
  def listenerOverhead(untraced: Seq[Op], traced: Seq[Op]): Unit = {
    val n = math.min(untraced.length, traced.length)
    def wall(ops: Seq[Op]) = ops.take(n).map(_.wallS).sum
    metric("trace.listener_overhead_pct", 100 * (ratio(wall(traced), wall(untraced)) - 1), "%")
  }

  // ---- read side ---------------------------------------------------------

  private def open(path: String): SeekableInput =
    t.span("io.open")(new CountingInput(HadoopIO.open(new Path(path), conf), t))

  /** Inflates the BGZF blocks of [from, to) one by one. */
  private def inflate(in: SeekableInput, from: Long, to: Long): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val comp = new Array[Byte](Bgzf.MaxBlockSize)
    val plain = new Array[Byte](Bgzf.MaxBlockSize)
    val inf = new java.util.zip.Inflater(true)
    try {
      var pos = from
      while (pos < to) {
        val got = in.preadFully(pos, comp, 0, Bgzf.HeaderLength)
        val len = Bgzf.parseBlockLength(comp, 0, got)
        require(len > 0, s"no BGZF block at $pos")
        in.preadFully(pos + Bgzf.HeaderLength, comp, Bgzf.HeaderLength, len - Bgzf.HeaderLength)
        val n = t.span("bgzf.inflate")(Bgzf.inflateBlock(comp, 0, len, plain, inf))
        t.add("bgzf.blocks_inflated", 1)
        t.add("bgzf.inflated_bytes", n)
        t.add("bgzf.inflated_from_bytes", len)
        out.write(plain, 0, n)
        pos += len
      }
    } finally inf.end()
    out.toByteArray
  }

  private def le32(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)

  private def readBam(path: String): Unit = {
    val in = open(path)
    try {
      val (header, headerEnd) = BamIO.readHeader(in)
      // split planning as with no sidecar: derived split size, each split
      // start snapped to a record by the heuristic guesser
      val splitSize = SplitSizing.derive(in.size, spark.sparkContext.defaultParallelism)
      val guesser = new BamRecordGuesser(in, header.refs, headerEnd)
      var start = splitSize
      t.add("split.splits", 1)
      while (start < in.size) {
        t.span("split.snap")(guesser.firstRecordAtOrAfter(start, math.min(in.size, start + splitSize)))
        t.add("split.splits", 1)
        start += splitSize
      }
      val data = inflate(in, Bgzf.blockStart(headerEnd), in.size)
      val getters = RecordToRow.getters(AlignmentRecord.schema)
      var p = Bgzf.intraOffset(headerEnd)
      while (p + 4 <= data.length) {
        val size = le32(data, p)
        val rec = java.util.Arrays.copyOfRange(data, p + 4, p + 4 + size)
        val r = t.span("bam.decode")(BamCodec.decodeRecord(rec, size, header))
        t.add("bam.records_decoded", 1)
        t.span("row.build")(RecordToRow.toRow(r, getters))
        t.add("row.rows_built", 1)
        p += 4 + size
      }
    } finally in.close()
  }

  /** Frames the lines on the scan's own path (BGZF lines straight from the
    * file, inflating as they go). The inflate inside framing cannot be timed
    * from here, so a second pass inflates the same blocks on their own; its
    * time is `bgzf.inflate` and is taken off framing's self time.
    */
  private def readVcf(path: String): Unit = {
    val in = open(path)
    try {
      val lines = t.span("vcf.frame")(SplitTextReader.lines(in, 0, in.size, bgzf = true))
      def next(): String = t.span("vcf.frame")(if (lines.hasNext) lines.next() else null)
      val meta = mutable.ArrayBuffer[String]()
      var line = next()
      while (line != null && line.startsWith("#")) { meta += line; line = next() }
      val samples = VcfHeader.parse(meta.iterator).samples
      val getters = VariantRowBuilder.getters(Variant.schema)
      while (line != null) {
        t.add("vcf.lines_framed", 1)
        val v = t.span("vcf.decode")(VcfCodec.fromLine(line, samples))
        t.span("row.build")(VariantRowBuilder.build(v, getters))
        t.add("row.rows_built", 1)
        line = next()
      }
    } finally in.close()
    val raw = HadoopIO.open(new Path(path), conf)
    val inflateNs = t.inclNs("bgzf.inflate")
    try inflate(raw, 0, raw.size) finally raw.close()
    t.selfNs("vcf.frame") -= t.inclNs("bgzf.inflate") - inflateNs
  }

  /** A reference source that times every fetch. */
  private def timedRefs(fasta: String, header: SamHeader): (SeekableInput, CramRefSource) = {
    val (fin, src) = FastaRefsAccess.open(fasta, conf, header.refName)
    (fin, new CramRefSource {
      override def region(rid: Int, start1: Int, span: Int): Array[Byte] =
        t.span("cram.ref_fetch")(src.region(rid, start1, span))
    })
  }

  private def readCram(path: String, fasta: String): Unit = {
    val in = open(path)
    try {
      val header = CramRecordCodec.readSamHeader(in)
      val (major, _) = CramContainers.readFileDefinition(in)
      val cs = t.span("cram.container_walk")(CramContainers.containers(in).filter(c => !c.isEof && c.nRecords > 0))
      t.add("cram.containers", cs.length)
      val (fin, refs) = timedRefs(fasta, header)
      val getters = RecordToRow.getters(AlignmentRecord.schema)
      try cs.foreach { c =>
        val payload = t.span("cram.payload_io")(CramRecordCodec.containerPayload(in, c))
        // every block once on its own, timed per compression method
        var p = 0
        while (p < payload.length) {
          val method = payload(p) & 0xff
          val t0 = System.nanoTime()
          val (blk, np) = t.span("cram.block_decompress")(CramRecordCodec.readBlock(payload, p, major))
          if (t.enabled) {
            val (s0, packed, raw) = cramMethods.getOrElse(method, (0.0, 0L, 0L))
            cramMethods(method) = (s0 + (System.nanoTime() - t0) / 1e9, packed + (np - p), raw + blk.data.length)
          }
          p = np
        }
        val it = CramRecordCodec.decodeContainer(payload, major, header, refs)
        while (t.span("cram.decode")(it.hasNext)) {
          val r = t.span("cram.decode")(it.next())
          t.span("row.build")(RecordToRow.toRow(r, getters))
          t.add("row.rows_built", 1)
        }
      } finally fin.close()
    } finally in.close()
  }

  // ---- region --------------------------------------------------------------

  private def region(r: RegionWorkload, q: Query, path: String): Unit = {
    val df = r.read(q.fmt, path, Some(q.interval))
    val planned = t.span("region.plan") {
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan.toBatch.planInputPartitions().length }.sum
    }
    val useful = t.span("region.run")(df.queryExecution.toRdd.mapPartitions(it => Iterator(if (it.hasNext) 1 else 0)).collect().sum)
    t.add("region.queries", 1)
    t.add("region.partitions_planned", planned)
    t.add("region.partitions_useful", useful)
    val contig = Gen.Contigs(q.contig)
    def overlaps(c: String, s: Int, e: Int) = c == contig && s <= q.end && e >= q.start
    val in = open(path)
    try q.fmt match {
      case "bam" =>
        val (header, _) = BamIO.readHeader(in)
        val bai = t.span("index.read")(readIndex(path + ".bai")(BaiIndex.read))
        val spans = t.span("index.spans")(bai.spans(header.refIndex(contig), q.start - 1, q.end - 1))
        indexed(spans)
        val s = new BgzfInputStream(in)
        spans.foreach { case (b, e) =>
          s.seekVirtual(b)
          var rec: AlignmentRecord = null
          while (s.virtualOffset < e && { rec = t.span("bam.decode")(BamCodec.readRecord(s, header)); rec != null }) {
            t.add("bam.records_decoded", 1)
            t.add("region.records_decoded", 1)
            if (overlaps(rec.contig, rec.start, rec.end)) t.add("region.rows", 1)
          }
        }
      case "vcf" =>
        val samples = vcfSamples(in)
        val tbi = t.span("index.read")(readIndex(path + ".tbi")(TbiIndex.read))
        val spans = t.span("index.spans")(tbi.spans(contig, q.start - 1, q.end - 1))
        indexed(spans)
        val s = new BgzfInputStream(in)
        spans.foreach { case (b, e) =>
          s.seekVirtual(b)
          while (s.virtualOffset < e && !s.atEof) {
            val line = t.span("vcf.frame")(readLine(s))
            if (line != null && line.nonEmpty) {
              t.add("vcf.lines_framed", 1)
              val v = t.span("vcf.decode")(VcfCodec.fromLine(line, samples))
              t.add("region.records_decoded", 1)
              if (overlaps(v.contig, v.start, v.end)) t.add("region.rows", 1)
            }
          }
        }
      case "cram" =>
        val header = CramRecordCodec.readSamHeader(in)
        val (major, _) = CramContainers.readFileDefinition(in)
        val crai = t.span("index.read")(readIndex(path + ".crai")(CraiIndex.read))
        val offsets = t.span("index.spans")(crai.containerOffsets(header.refIndex(contig), q.start, q.end).toSeq.sorted)
        t.add("index.spans", offsets.length)
        val (fin, refs) = timedRefs(r.fasta, header)
        try offsets.foreach { off =>
          val c = CramContainers.readContainerHeader(in, off, in.size, major)
          t.add("index.span_bytes", c.totalLength)
          val payload = t.span("cram.payload_io")(CramRecordCodec.containerPayload(in, c))
          val it = CramRecordCodec.decodeContainer(payload, major, header, refs)
          while (t.span("cram.decode")(it.hasNext)) {
            val rec = t.span("cram.decode")(it.next())
            t.add("region.records_decoded", 1)
            if (overlaps(rec.contig, rec.start, rec.end)) t.add("region.rows", 1)
          }
        } finally fin.close()
    } finally in.close()
  }

  private def readIndex[A](path: String)(read: SeekableInput => A): A = {
    val in = open(path)
    try read(in) finally in.close()
  }

  private def indexed(spans: Seq[(Long, Long)]): Unit = {
    t.add("index.spans", spans.length)
    spans.foreach { case (b, e) => t.add("index.span_bytes", Bgzf.blockStart(e) - Bgzf.blockStart(b)) }
  }

  private def readLine(s: BgzfInputStream): String = {
    val b = new ByteArrayOutputStream(256)
    var c = s.read()
    while (c >= 0 && c != '\n') { b.write(c); c = s.read() }
    if (c < 0 && b.size == 0) null else b.toString("UTF-8")
  }

  private def vcfSamples(in: SeekableInput): Seq[String] = {
    val s = new BgzfInputStream(in)
    s.seekBlock(0L)
    VcfHeader.parse(Iterator.continually(readLine(s)).takeWhile(l => l != null && l.startsWith("#"))).samples
  }

  // ---- write side ----------------------------------------------------------

  /** Rows of one partition of a cached frame, on the driver. */
  private def partitions(fmt: String, wr: WriteWorkload): Iterator[Array[InternalRow]] = {
    val rdd = wr.cachedRows(fmt).queryExecution.toRdd
    (0 until rdd.getNumPartitions).iterator.map { p =>
      spark.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => it.map(_.copy()).toArray, Seq(p)).head
    }
  }

  /** Buffers encoded bytes into BGZF blocks and writes them to one part. */
  private final class PartWriter(file: File) {
    private val out = new FileOutputStream(file)
    private val buf = new Array[Byte](Bgzf.MaxUncompressedPayload)
    private var n = 0
    private val deflater = new BgzfBlockCompressor(java.util.zip.Deflater.DEFAULT_COMPRESSION)
    def write(b: Array[Byte], off: Int, len: Int): Unit = {
      var o = off; var left = len
      while (left > 0) {
        val k = math.min(left, buf.length - n)
        System.arraycopy(b, o, buf, n, k)
        n += k; o += k; left -= k
        if (n == buf.length) flush()
      }
    }
    private def flush(): Unit = if (n > 0) {
      val block = t.span("bgzf.deflate")(deflater.compress(buf, 0, n))
      t.add("bgzf.blocks_deflated", 1)
      t.add("bgzf.deflated_bytes", n)
      t.add("bgzf.deflated_to_bytes", block.length)
      t.span("io.write")(out.write(block))
      n = 0
    }
    def close(): Unit = { flush(); deflater.end(); out.close() }
  }

  private def writeFormat(wr: WriteWorkload, fmt: String): Unit = {
    val dir = new File(replayDir, s"$fmt.parts")
    dir.mkdirs()
    val schema = wr.cachedRows(fmt).schema
    val header = SamHeader(SamHeader.parseRefsOption(Gen.Refs))
    var part = 0
    def partFile(): File = { part += 1; new File(dir, f"part-$part%05d") }
    fmt match {
      case "bam" =>
        val enc = new BamRowEncoder(schema, header)
        partitions(fmt, wr).foreach { rows =>
          val pw = new PartWriter(partFile())
          rows.foreach { row =>
            val len = t.span("bam.encode")(enc.encode(row))
            pw.write(enc.buf, 0, len)
          }
          pw.close()
        }
      case "vcf" =>
        val enc = new VcfRowEncoder(schema)
        partitions(fmt, wr).foreach { rows =>
          val pw = new PartWriter(partFile())
          rows.foreach { row =>
            val len = t.span("vcf.encode")(enc.encode(row))
            pw.write(enc.buf, 0, len)
          }
          pw.close()
        }
      case "cram" =>
        val (fin, refs) = timedRefs(wr.fasta, header)
        val idx = RowToRecord.indices(schema)
        var counter = 0L
        try partitions(fmt, wr).foreach { rows =>
          val out = new FileOutputStream(partFile())
          try rows.grouped(10000).foreach { group =>
            val recs = group.map(RowToRecord.convert(_, idx)).toIndexedSeq
            val enc = t.span("cram.encode")(CramRecordWriter.encodeContainer(recs, header, counter, refs))
            counter += recs.length
            t.span("io.write")(out.write(enc.bytes))
          } finally out.close()
        } finally fin.close()
    }
    val target = new File(replayDir, s"out.$fmt")
    t.add("commit.parts", part)
    t.add("commit.bytes_merged", dir.listFiles().map(_.length).sum)
    t.span("commit.merge")(HadoopIO.mergeParts(new Path(dir.getPath), new Path(target.getPath), conf))
  }

  // ---- results -------------------------------------------------------------

  private def emit(): Unit = {
    val c = t.counts
    metric("io.read_calls", c("io.read_calls"), "count")
    metric("io.bytes_read", c("io.bytes_read"), "B")
    metric("io.read_s", t.s("io.read"), "s")
    metric("bgzf.blocks_inflated", c("bgzf.blocks_inflated"), "count")
    metric("bgzf.inflated_bytes", c("bgzf.inflated_bytes"), "B")
    metric("bgzf.inflate_s", t.s("bgzf.inflate"), "s")
    metric("bgzf.blocks_deflated", c("bgzf.blocks_deflated"), "count")
    metric("bgzf.deflate_s", t.s("bgzf.deflate"), "s")
    // uncompressed over compressed bytes of the blocks this workload's
    // replay deflated, or else of those it inflated (the fixtures' own)
    metric("bgzf.compression_ratio",
      if (c("bgzf.blocks_deflated") > 0) ratio(c("bgzf.deflated_bytes"), c("bgzf.deflated_to_bytes"))
      else ratio(c("bgzf.inflated_bytes"), c("bgzf.inflated_from_bytes")), "ratio")
    metric("split.splits", c("split.splits"), "count")
    metric("split.snap_s", t.s("split.snap"), "s")
    metric("bam.records_decoded", c("bam.records_decoded"), "count")
    metric("bam.decode_s", t.s("bam.decode"), "s")
    metric("bam.encode_s", t.s("bam.encode"), "s")
    metric("vcf.lines_framed", c("vcf.lines_framed"), "count")
    // framing self time: its reads are child spans, its inflate is taken off
    metric("vcf.frame_s", math.max(0.0, t.selfNs("vcf.frame") / 1e9), "s")
    metric("vcf.decode_s", t.s("vcf.decode"), "s")
    metric("vcf.encode_s", t.s("vcf.encode"), "s")
    val blocksS = t.s("cram.block_decompress")
    metric("cram.containers", c("cram.containers"), "count")
    metric("cram.container_walk_s", t.s("cram.container_walk"), "s")
    metric("cram.payload_io_s", t.s("cram.payload_io"), "s")
    metric("cram.block_decompress_s", blocksS, "s")
    // decode self time, less the block decompression it repeats inside
    metric("cram.record_assembly_s",
      if (c("cram.containers") > 0) math.max(0.0, t.selfNs("cram.decode") / 1e9 - blocksS) else t.selfNs("cram.decode") / 1e9, "s")
    metric("cram.ref_fetch_s", t.s("cram.ref_fetch"), "s")
    metric("cram.encode_s", t.s("cram.encode"), "s")
    metric("row.rows_built", c("row.rows_built"), "count")
    metric("row.build_s", t.s("row.build"), "s")
    metric("index.read_s", t.s("index.read"), "s")
    metric("index.spans", c("index.spans"), "count")
    metric("index.span_bytes", c("index.span_bytes"), "B")
    metric("region.partitions_planned", ratio(c("region.partitions_planned"), c("region.queries")), "count/query")
    metric("region.partitions_useful_ratio", ratio(c("region.partitions_useful"), c("region.partitions_planned")), "ratio")
    metric("region.rows_per_record_decoded", ratio(c("region.rows"), c("region.records_decoded")), "ratio")
    metric("commit.parts", c("commit.parts"), "count")
    metric("commit.bytes_merged", c("commit.bytes_merged"), "B")
    metric("commit.merge_s", t.s("commit.merge"), "s")
    Seq("io", "bgzf", "split", "bam", "vcf", "cram", "row", "index", "region", "commit")
      .foreach(l => metric(s"self.${l}_s", t.selfS(l), "s"))

    // the CRAM layer split, in the shape graft.CramProf prints it
    if (c("cram.containers") > 0) {
      println(f"perfbench trace cram container_walk_s=${t.s("cram.container_walk")}%.3f nContainers=${c("cram.containers").toLong}")
      println(f"perfbench trace cram payload_io_s=${t.s("cram.payload_io")}%.3f")
      cramMethods.foreach { case (m, (s, packed, raw)) =>
        println(f"perfbench trace cram method_$m%d: decompress_s=$s%.3f packed=$packed raw=$raw")
      }
      println(f"perfbench trace cram block_decompress_s=$blocksS%.3f record_assembly_s=${result.find(_._1 == "cram.record_assembly_s").get._2}%.3f ref_fetch_s=${t.s("cram.ref_fetch")}%.3f")
    }
    println("perfbench trace self_s " + Json.render(Json.obj(
      t.selfNs.toSeq.sortBy(-_._2).map { case (l, ns) => l -> (ns / 1e9: Any) }: _*)))
    println("perfbench trace outer_spans " + Json.render(t.outer.groupBy(_.kind).toSeq.sortBy(_._1).map {
      case (k, ss) => Json.obj("span" -> k, "count" -> ss.length, "total_ms" -> ss.map(s => s.endMs - s.startMs).sum)
    }))
  }
}
