package graft.sources.vcf

import java.util
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{ArrayType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{GenomicInterval, HadoopIO, PartSpec, SerializableConf, SinkCodec, SinkFiles, SinkOptions,
  SinkPart, SinkPartMessage, SinkTable, SplitTextReader}
import graft.vcf.{Genotype, Variant, VcfCodec, VcfHeader}

/** `format("vcf")` — VCF scan/sink over plain, BGZF (.vcf.bgz / BGZF .vcf.gz,
  * splittable), or plain-gzip (readable, single split) text, mirroring the
  * reference's VcfSource/VcfSink (VcfSource.java:88-129, VcfSink.java:27-68,
  * BGZFEnhancedGzipCodec.java:38-77).
  *
  * Read options: `splitSize`, `intervals` ("chr1:100-200,…"),
  * `formatFields` ("GT,DP" — decode only the listed FORMAT keys per sample;
  * the map-typed `fields` column then carries just those keys. Catalyst's
  * nested pruning already skips FORMAT parsing entirely when a query reads
  * only `genotypes[i].gt`; this option is for queries that consume the whole
  * genotype array, where map keys cannot be pruned automatically),
  * `infoFields` ("DP,AF" — the same contract for the INFO map: annotated
  * VCFs carry kilobyte CSQ/ANN payloads there, and unlisted values are
  * boundary-scanned, never materialized. A query that reads neither `info`
  * nor `end` skips INFO parsing entirely; `end` forces the END-key scan
  * back on, as does any interval predicate).
  * Write options: `vcfHeader` (literal ##-lines + #CHROM line) — else a
  * minimal header with sample names taken from the first record's genotypes;
  * path `.vcf` → single plain file, `.vcf.bgz`/`.vcf.gz` → single BGZF file
  * (with empty-block terminator), else sharded directory of complete .vcf.
  */
class VcfDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "vcf"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = Variant.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new VcfTable(properties.asScala.toMap)
}

class VcfTable(properties: Map[String, String]) extends Table with SupportsRead with SinkTable {
  override def name(): String = s"vcf:${properties.getOrElse("path", "?")}"
  override def schema(): StructType = Variant.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE, TableCapability.TRUNCATE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val opts = options.asScala.toMap.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    new VcfScanBuilder(opts)
  }
  override protected def sinkName: String = "vcf"
  override protected def singleFileExts: Seq[String] = Seq(".vcf", ".vcf.bgz", ".vcf.gz")
  override protected def sinkCodec(o: SinkOptions, schema: StructType): SinkCodec[_] = VcfSink(o, schema)
}

class VcfScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit {
  private var required: StructType = Variant.schema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var limit: Int = -1
  /** Partial limit pushdown: one whole-file partition per file, reader stops
    * after n emitted records; Spark keeps its own global limit on top.
    */
  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def isPartiallyPushed(): Boolean = true
  /** Interval-translatable filters recorded for split pruning (via .tbi /
    * .idx) + reader-side filtering; everything stays residual.
    */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter]): Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters.filter(graft.sources.PushedRegion.accepts)
    filters // all residual
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new VcfScan(options, required, pushed, limit)
}

class VcfScan(options: Map[String, String], required: StructType,
              pushed: Array[org.apache.spark.sql.sources.Filter],
              limitHint: Int = -1) extends Scan with Batch {
  // FORMAT/INFO-field projection: validated at planning so a bad option
  // fails before any task launches
  private val formatKeys: Option[IndexedSeq[String]] =
    graft.vcf.VcfFormatMask.parseOption(options.get("formatfields"))
  private val infoKeys: Option[IndexedSeq[String]] =
    graft.vcf.VcfFormatMask.parseInfoOption(options.get("infofields"))
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val iv = options.get("intervals").map(i => s" intervals=$i").getOrElse("")
    val lim = if (limitHint >= 0) s" limit=$limitHint" else ""
    val ff = formatKeys.map(k => s" formatFields=[${k.mkString(",")}]").getOrElse("")
    val inf = infoKeys.map(k => s" infoFields=[${k.mkString(",")}]").getOrElse("")
    s"graft-vcf ${options.getOrElse("path", "")}$iv pushed=[${pushed.mkString(",")}]$lim$ff$inf"
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val pathStr = options.getOrElse("path", throw new IllegalArgumentException("vcf source requires a path"))
    val intervals = options.get("intervals")
      .map(s => GenomicInterval.optimize(GenomicInterval.parseList(s)))
      .orElse(graft.sources.PushedRegion.toIntervals(pushed)) // filter-derived pushdown
    val stringency = graft.sources.Stringency.fromOptions(options)
    // per-file header/index I/O fanned out on the shared bounded pool
    // (O(files) serial driver RPCs otherwise), lexicographic order preserved
    val filesWithLen = HadoopIO.listInputFilesWithLen(pathStr, conf)
    val files = filesWithLen.map(_._1)
    val splitSize = options.get("splitsize").map(_.toLong).getOrElse(
      graft.sources.SplitSizing.derive(filesWithLen.iterator.map(_._2).sum,
        SparkSession.active.sparkContext.defaultParallelism))
    HadoopIO.planFiles(files) { file =>
      val in = HadoopIO.open(file, conf)
      try {
        val bgzf = SplitTextReader.isBgzf(in)
        val plainGzip = !bgzf && SplitTextReader.isPlainGzip(in)
        val header = VcfHeader.parse(SplitTextReader.allLines(in))
        val size = in.size
        val fs = file.getFileSystem(conf)
        val hostsOf = HadoopIO.blockHostsFor(fs, file, size)
        val parts: Seq[VcfInputPartition] = if (plainGzip) {
          // non-splittable: one whole-file partition (reference
          // BGZFEnhancedGzipCodec fallback semantics)
          Seq(VcfInputPartition(file.toString, 0L, Long.MaxValue, header, bgzf = false,
            wholeGzip = true, intervals, stringency))
        } else if (limitHint >= 0 && intervals.isEmpty) {
          // limit fast path: one whole-file partition, no index I/O or
          // split tiling — the reader stops after `limitHint` records
          Seq(VcfInputPartition(file.toString, 0L, size, header, bgzf,
            wholeGzip = false, None, stringency))
        } else {
          // tabix split pruning: with intervals and a `.tbi` next to a BGZF
          // file, plan only byte ranges whose blocks can hold overlapping
          // records (reference TribbleIndexIntervalFilteringTextInputFormat
          // .java:33-73 / VcfSource.java:143-168); record-level residual
          // filters keep exactness
          // stale-index guard (in-place rewrite without re-indexing): a
          // tabix/tribble index carries no file length, so freshness is
          // proven by mtime >= the data file's; a stale index would steer
          // seeks into the middle of unrelated records
          val dataMtime = fs.getFileStatus(file).getModificationTime
          def idxFresh(p: org.apache.hadoop.fs.Path): Boolean =
            fs.exists(p) && fs.getFileStatus(p).getModificationTime >= dataMtime
          val tbiPath = new org.apache.hadoop.fs.Path(file.toString + ".tbi")
          def tbiRangesNow(): Option[Seq[(Long, Long)]] =
            if (bgzf && intervals.isDefined && idxFresh(tbiPath)) {
              val tin = HadoopIO.open(tbiPath, conf)
              val tbi = try scala.util.Try(graft.index.TbiIndex.read(tin)).toOption
                finally tin.close()
              tbi.map { t =>
                intervals.get.flatMap(iv => t.spans(iv.contig, iv.start - 1, iv.end - 1))
                  .map { case (bv, ev) =>
                    (graft.bgzf.Bgzf.blockStart(bv),
                      math.min(size, graft.bgzf.Bgzf.blockStart(ev) + 1))
                  }.filter(r => r._1 < r._2).sortBy(_._1)
                  .foldLeft(List.empty[(Long, Long)]) {
                    case ((ps, pe) :: rest, (s0, e0)) if s0 <= pe => (ps, math.max(pe, e0)) :: rest
                    case (acc, r) => r :: acc
                  }.reverse
              }
            } else None
          val tbiRanges = tbiRangesNow()
          // tribble `.idx` pruning — the plain-text counterpart of tabix
          // (reference loads either via IndexFactory, VcfSource.java:157).
          // Index positions are plain byte offsets for uncompressed text,
          // BGZF virtual offsets when htsjdk indexed a compressed file.
          val idxPath = new org.apache.hadoop.fs.Path(file.toString + ".idx")
          val idxRanges: Option[Seq[(Long, Long)]] =
            if (tbiRanges.isEmpty && intervals.isDefined && idxFresh(idxPath)) {
              val iin = HadoopIO.open(idxPath, conf)
              val idx = try scala.util.Try(graft.index.TribbleIdx.read(iin)).toOption
                finally iin.close()
              idx.map { t =>
                intervals.get.flatMap(iv => t.blocks(iv.contig, iv.start, iv.end))
                  .map { case (s0, e0) =>
                    if (bgzf) (graft.bgzf.Bgzf.blockStart(s0),
                      math.min(size, graft.bgzf.Bgzf.blockStart(e0) + 1))
                    else (s0, math.min(size, e0))
                  }.filter(r => r._1 < r._2).sortBy(_._1)
                  .foldLeft(List.empty[(Long, Long)]) {
                    case ((ps, pe) :: rest, (s0, e0)) if s0 <= pe => (ps, math.max(pe, e0)) :: rest
                    case (acc, r) => r :: acc
                  }.reverse
              }
            } else None
          def tileRanges(ranges: Seq[(Long, Long)]): Seq[VcfInputPartition] =
            ranges.flatMap { case (rs, re) =>
              val n = ((re - rs) + splitSize - 1) / splitSize
              (0L until n).map { i =>
                VcfInputPartition(file.toString, rs + i * splitSize, math.min(re, rs + (i + 1) * splitSize),
                  header, bgzf, wholeGzip = false, intervals, stringency)
              }
            }
          tbiRanges.orElse(idxRanges) match {
            case Some(ranges) => tileRanges(ranges)
            case None =>
              // first-contact derivation (the VCF face of the BAM/CRAM
              // deriveIndex option): run the voff-tracking line walk ONCE
              // as a distributed job, write the .tbi back, re-plan pruned
              val derived =
                if (bgzf && intervals.isDefined && !fs.exists(tbiPath) &&
                    options.get("deriveindex").exists(_.toBoolean) &&
                    graft.sources.DeriveIndex.deriveVcfTbi(
                      file.toString, size, splitSize, new graft.sources.SerializableConf(conf)))
                  tbiRangesNow()
                else None
              derived match {
                case Some(ranges) => tileRanges(ranges)
                case None =>
                  val nSplits = math.max(1L, (size + splitSize - 1) / splitSize)
                  (0L until nSplits).map { i =>
                    VcfInputPartition(file.toString, i * splitSize, math.min(size, (i + 1) * splitSize),
                      header, bgzf, wholeGzip = false, intervals, stringency)
                  }
              }
          }
        }
        // locality hints: block hosts of each split's byte range (one
        // block-list fetch per file, shared by every split)
        parts.map(p => p.copy(hosts = hostsOf(p.splitStart, p.splitEnd), limit = limitHint))
      } finally in.close()
    }.toArray match { case planned =>
      // header-compat across directory inputs: genotype columns are decoded
      // against the per-file sample list, so shards with different sample
      // sets would silently mislabel genotypes — fail at planning instead
      val samplesByFile = scala.collection.mutable.LinkedHashMap[String, Seq[String]]()
      planned.foreach { p =>
        samplesByFile.getOrElseUpdate(p.file, p.header.samples)
      }
      samplesByFile.headOption.foreach { case (firstFile, firstSamples) =>
        samplesByFile.foreach { case (f, ss) =>
          if (ss != firstSamples)
            throw new IllegalArgumentException(
              s"incompatible sample lists in directory input: $f does not match $firstFile")
        }
      }
      planned.toArray[InputPartition]
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConf(SparkSession.active.sessionState.newHadoopConf())
    val req = required
    val mask = graft.vcf.VcfFormatMask.from(req, formatKeys, infoKeys)
    (partition: InputPartition) => new VcfPartitionReader(
      partition.asInstanceOf[VcfInputPartition], conf, req, mask)
  }
}

case class VcfInputPartition(file: String, splitStart: Long, splitEnd: Long,
    header: VcfHeader, bgzf: Boolean, wholeGzip: Boolean,
    intervals: Option[Seq[GenomicInterval]],
    stringency: graft.sources.Stringency,
    limit: Int = -1, // pushed-limit emit cap per reader (-1 = unlimited)
    hosts: Array[String] = Array.empty) extends InputPartition {
  override def preferredLocations(): Array[String] = hosts
}

class VcfPartitionReader(p: VcfInputPartition, conf: SerializableConf, required: StructType,
                         mask0: graft.vcf.VcfFormatMask = graft.vcf.VcfFormatMask.All)
    extends PartitionReader[InternalRow] {
  // the interval residual filter compares against the record's END-aware
  // span, so a pruned-away `end` column is forced back on whenever an
  // interval predicate is present — projection must never change which
  // records an interval scan returns
  private val mask =
    if (p.intervals.isDefined) mask0.copy(end = true) else mask0
  private val input = HadoopIO.open(new Path(p.file), conf.conf)
  private val lines =
    if (p.wholeGzip) SplitTextReader.allLines(input)
    else SplitTextReader.lines(input, p.splitStart, p.splitEnd, p.bgzf)
  private val getters = VariantRowBuilder.getters(required)
  private var currentRow: InternalRow = _
  private val slog = new graft.sources.StringencyLog(s"${p.file} [${p.splitStart}, ${p.splitEnd})")

  private def keep(v: Variant): Boolean = p.intervals match {
    case None => true
    case Some(ivs) => ivs.exists(_.overlaps(v.contig, v.start, v.end))
  }

  private var emitted = 0

  override def next(): Boolean = {
    if (p.limit >= 0 && emitted >= p.limit) return false
    val has = advance()
    if (has) emitted += 1
    has
  }

  private def advance(): Boolean = {
    while (lines.hasNext) {
      val line = lines.next()
      if (line.nonEmpty && line.charAt(0) != '#') {
        // stringency: strict fails fast, lenient warns+counts (salvaging
        // lines whose failure is confined to the FORMAT/genotype columns
        // past the 8 mandatory VCF fields), permissive skips silently
        val v =
          try VcfCodec.fromLine(line, p.header.samples, mask, null)
          catch {
            case _: Exception if p.stringency eq graft.sources.Stringency.Permissive =>
              slog.skipSilently(); null
            case e: Exception if p.stringency eq graft.sources.Stringency.Lenient =>
              val mandatory = line.split('\t').take(8).mkString("\t")
              val salvagedV =
                try VcfCodec.fromLine(mandatory, Nil)
                catch { case _: Exception => null }
              if (salvagedV != null)
                slog.salvage(s"genotype columns of VCF line in ${p.file}: ${e.getMessage}")
              else slog.skip(s"bad VCF line in ${p.file}: ${e.getMessage}")
              salvagedV
            case e: Exception =>
              throw new java.io.IOException(s"bad VCF line in ${p.file}: $line", e)
          }
        if (v != null && keep(v)) {
          currentRow = VariantRowBuilder.build(v, getters)
          return true
        }
      }
    }
    false
  }
  override def get(): InternalRow = currentRow
  override def close(): Unit = { slog.summarize(); input.close() }
}

object VariantRowBuilder {
  type Getter = Variant => Any

  private def strArray(xs: Seq[String]): GenericArrayData =
    new GenericArrayData(xs.map(x => UTF8String.fromString(x): Any).toArray)

  private def strMap(m: Map[String, String]): ArrayBasedMapData = {
    val keys = new Array[Any](m.size)
    val vals = new Array[Any](m.size)
    var i = 0
    m.foreach { case (k, v) => keys(i) = UTF8String.fromString(k); vals(i) = UTF8String.fromString(v); i += 1 }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }

  def getters(required: StructType): Array[Getter] =
    required.fieldNames.map[Getter] {
      case "contig" => v => UTF8String.fromString(v.contig)
      case "start" => v => v.start
      case "end" => v => v.end
      case "id" => v => if (v.id == null) null else UTF8String.fromString(v.id)
      case "ref" => v => UTF8String.fromString(v.ref)
      case "alt" => v => strArray(v.alt)
      case "qual" => v => if (v.qual == null) null else v.qual.doubleValue()
      case "filters" => v => strArray(v.filters)
      case "info" => v => strMap(v.info)
      // Catalyst nested-schema pruning may hand us a genotype struct with a
      // SUBSET of {sample, gt, fields} in any order (e.g. `genotypes[0].gt`
      // prunes to {gt}); consumers read the struct POSITIONALLY against the
      // pruned schema, so the emitted fields must match it, not the full
      // struct — emitting all three would silently serve `sample` as `gt`.
      case "genotypes" =>
        val elem = required("genotypes").dataType.asInstanceOf[ArrayType]
          .elementType.asInstanceOf[StructType]
        val subs = elem.fieldNames.map[Genotype => Any] {
          case "sample" => g => UTF8String.fromString(g.sample)
          case "gt" => g => UTF8String.fromString(g.gt)
          case "fields" => g => strMap(g.fields)
          case other =>
            throw new IllegalArgumentException(s"unknown genotype field $other")
        }
        v => new GenericArrayData(v.genotypes.map { g =>
          val a = new Array[Any](subs.length)
          var i = 0
          while (i < subs.length) { a(i) = subs(i)(g); i += 1 }
          new GenericInternalRow(a): Any
        }.toArray)
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }

  def build(v: Variant, getters: Array[Getter]): InternalRow = {
    val vals = new Array[Any](getters.length)
    var i = 0
    while (i < vals.length) { vals(i) = getters(i)(v); i += 1 }
    new GenericInternalRow(vals)
  }
}

// ---- write path -----------------------------------------------------------

object VcfSink {
  def apply(o: SinkOptions, schema: StructType): VcfSink = {
    val bgzf = SinkFiles.bgzfName(o.path)
    // sharded mode: per-shard extension decides the shard codec (reference
    // VcfOutputFormat.java:24-71 — plain, gzip-named-BGZF, or BGZF shards)
    val shardSuffix = o.get("shardsuffix").getOrElse(".vcf")
    require(Seq(".vcf", ".vcf.gz", ".vcf.bgz").contains(shardSuffix),
      s"unsupported shardSuffix $shardSuffix")
    new VcfSink(o.get("vcfheader"), schema, shardSuffix, o.level,
      writeTbi = o.flag("writetbi") && o.singleFile && bgzf,
      // tribble `.idx` co-write: the plain-text counterpart of writeTbi
      writeIdx = o.flag("writeidx") && o.singleFile && !bgzf)
  }
}

/** VCF pieces of the shared sink (VcfSink.java:27-68, VcfSinkMultiple.java:20-44):
  * plain or BGZF parts, a head with the samples the writers saw (unless
  * `vcfHeader` is given), and the `.tbi`/`.idx` co-writes.
  */
final class VcfSink(headerOpt: Option[String], val schema: StructType, val shardSuffix: String,
    override val level: Int, val writeTbi: Boolean, val writeIdx: Boolean) extends SinkCodec[VcfPartReport] {
  override def newPart(spec: PartSpec): SinkPart[VcfPartReport] = new VcfPart(spec, this)
  def headText(samples: Seq[String]): Array[Byte] =
    headerOpt.getOrElse(VcfHeader(Seq("##fileformat=VCFv4.2"), samples).headerText).getBytes("UTF-8")
  override def head(reports: Seq[VcfPartReport]): Array[Byte] =
    headText(reports.collectFirst { case r if r.samples.nonEmpty => r.samples }.getOrElse(Seq.empty))

  override def coWrite(fs: org.apache.hadoop.fs.FileSystem, path: String,
      parts: Seq[SinkPartMessage[VcfPartReport]], shifts: Seq[Long]): Unit = {
    // each part's index contribution is rebased by the bytes that precede it
    // after concat (compressed for .tbi, plain for .idx); a non-sorted result
    // skips the index
    def skip(option: String, ext: String): Unit = org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"$option: output $path is not coordinate-sorted; skipping $ext")
    if (writeTbi)
      graft.index.TbiPartData.mergeSorted(parts.map(_.report.tbi), shifts) match {
        case Some(idx) => SinkFiles.write(fs, new Path(path + ".tbi"))(graft.index.TbiIndex.write(_, idx))
        case None => skip("writeTbi", ".tbi")
      }
    if (writeIdx)
      graft.index.TribblePartData.mergeSorted(parts.map(_.report.idx), shifts) match {
        case Some(idx) => SinkFiles.write(fs, new Path(path + ".idx"))(
          graft.index.TribbleIdx.write(_, idx, new Path(path).getName, shifts.last))
        case None => skip("writeIdx", ".idx")
      }
  }
}

case class VcfPartReport(samples: Seq[String], tbi: graft.index.TbiPartData,
    idx: graft.index.TribblePartData)

/** Byte counter above the write buffer so offsets are exact at write time. */
private[vcf] final class CountingOutputStream(under: java.io.OutputStream)
    extends java.io.OutputStream {
  var count = 0L
  override def write(b: Int): Unit = { under.write(b); count += 1 }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    under.write(b, off, len); count += len
  }
  override def flush(): Unit = under.flush()
  override def close(): Unit = under.close()
}

final class VcfPart(spec: PartSpec, sink: VcfSink) extends SinkPart[VcfPartReport](spec, sink) {
  // writeTbi implies a BGZF single file, writeIdx a plain one
  private val tbi = if (sink.writeTbi) new graft.index.TbiBuilder else null
  private val tidx = if (sink.writeIdx) new graft.index.TribbleIdxBuilder() else null
  private val counting = if (tidx != null) new CountingOutputStream(out) else null
  private val dst: java.io.OutputStream = if (counting != null) counting else out
  // direct InternalRow → line-bytes encoder (VcfRowEncoder): no per-row
  // Variant/Genotype/String/Map materialization on the hot path; falls back
  // to the RowToVariant spec path for shapes it can't prove byte-identical
  private val enc = new graft.vcf.VcfRowEncoder(sink.schema)
  private var samples: Seq[String] = Seq.empty
  // a shard's header carries the samples of its first row
  private var wroteShardHeader = !sharded

  override def write(row: InternalRow): Unit = {
    val len = enc.encode(row)
    if (samples.isEmpty && enc.lastHasGenotypes) samples = enc.samplesOf(row)
    if (!wroteShardHeader) { dst.write(sink.headText(samples)); wroteShardHeader = true }
    val vBeg = if (tbi != null) bgzfOut.virtualOffset else 0L
    val pBeg = if (tidx != null) counting.count else 0L
    dst.write(enc.buf, 0, len)
    if (tbi != null)
      tbi.add(enc.lastContig, enc.lastStart - 1, math.max(enc.lastStart, enc.lastEnd) - 1,
        vBeg, bgzfOut.virtualOffset)
    if (tidx != null)
      tidx.add(enc.lastContig, enc.lastStart, math.max(enc.lastStart, enc.lastEnd),
        pBeg, counting.count)
  }
  override protected def finish(): VcfPartReport = {
    if (!wroteShardHeader) dst.write(sink.headText(Nil))
    VcfPartReport(samples,
      if (tbi != null) tbi.result() else null,
      if (tidx != null) tidx.result() else null)
  }
}

/** InternalRow → Variant (write side). */
object RowToVariant {
  case class Idx(contig: Int, start: Int, end: Int, id: Int, ref: Int, alt: Int,
                 qual: Int, filters: Int, info: Int, genotypes: Int,
                 gSample: Int, gGt: Int, gFields: Int, gArity: Int) extends Serializable

  def indices(schema: StructType): Idx = {
    def i(n: String) = schema.fieldNames.indexOf(n)
    // genotype SUBFIELDS resolve by name too: a user df built as
    // struct(gt, sample, fields) — legal, same names — must not have its
    // sample written as the GT call (the read side has the mirror rule)
    val gi = i("genotypes")
    val (gs, gg, gf, ga) =
      if (gi < 0) (-1, -1, -1, 0)
      else schema(gi).dataType match {
        case ArrayType(st: StructType, _) =>
          (st.fieldNames.indexOf("sample"), st.fieldNames.indexOf("gt"),
            st.fieldNames.indexOf("fields"), st.length)
        case _ => (-1, -1, -1, 0)
      }
    Idx(i("contig"), i("start"), i("end"), i("id"), i("ref"), i("alt"), i("qual"),
      i("filters"), i("info"), gi, gs, gg, gf, ga)
  }

  def convert(row: InternalRow, x: Idx): Variant = {
    def str(i: Int): String = if (i < 0 || row.isNullAt(i)) null else row.getUTF8String(i).toString
    def strSeq(i: Int): Seq[String] =
      if (i < 0 || row.isNullAt(i)) Nil
      else {
        val a = row.getArray(i)
        (0 until a.numElements()).map(j => a.getUTF8String(j).toString)
      }
    def strMap(i: Int): Map[String, String] =
      if (i < 0 || row.isNullAt(i)) Map.empty
      else {
        val m = row.getMap(i)
        val ks = m.keyArray(); val vs = m.valueArray()
        (0 until m.numElements()).map { j =>
          val v = vs.getUTF8String(j)
          // permissive table schema (valueContainsNull=true) no longer
          // guards this path — fail with the key named, not an opaque NPE
          if (v == null) throw new IllegalArgumentException(
            s"null value for map key '${ks.getUTF8String(j)}' in VCF write (INFO/FORMAT values cannot be null)")
          ks.getUTF8String(j).toString -> v.toString
        }.toMap
      }
    val genotypes: Seq[Genotype] =
      if (x.genotypes < 0 || row.isNullAt(x.genotypes)) Nil
      else {
        val a = row.getArray(x.genotypes)
        (0 until a.numElements()).map { j =>
          val g = a.getStruct(j, x.gArity)
          val fields =
            if (x.gFields < 0 || g.isNullAt(x.gFields)) Map.empty[String, String]
            else {
              val m = g.getMap(x.gFields)
              val ks = m.keyArray(); val vs = m.valueArray()
              (0 until m.numElements()).map { t =>
                val v = vs.getUTF8String(t)
                if (v == null) throw new IllegalArgumentException(
                  s"null value for FORMAT key '${ks.getUTF8String(t)}' in VCF write (use '.' for missing)")
                ks.getUTF8String(t).toString -> v.toString
              }.toMap
            }
          Genotype(
            if (x.gSample < 0 || g.isNullAt(x.gSample)) null
            else g.getUTF8String(x.gSample).toString,
            if (x.gGt < 0 || g.isNullAt(x.gGt)) "./."
            else g.getUTF8String(x.gGt).toString,
            fields)
        }
      }
    Variant(str(x.contig),
      if (row.isNullAt(x.start)) 0 else row.getInt(x.start),
      if (x.end < 0 || row.isNullAt(x.end)) 0 else row.getInt(x.end),
      str(x.id), str(x.ref), strSeq(x.alt),
      if (x.qual < 0 || row.isNullAt(x.qual)) null else java.lang.Double.valueOf(row.getDouble(x.qual)),
      strSeq(x.filters), strMap(x.info), genotypes)
  }
}
