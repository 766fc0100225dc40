package graft.sources.sam

import java.util
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.bam.{AlignmentRecord, BamFieldMask, RecordToRow, SamHeader}
import graft.sam.SamCodec
import graft.sources.{GenomicInterval, HadoopIO, PartSpec, SerializableConf, SinkCodec, SinkOptions, SinkPart,
  SinkTable, SplitTextReader}
import graft.sources.bam.{Opts, RowToRecord, TagCols}

/** `format("sam")` — plain-text SAM scan/sink (reference SamSource.java:35-87,
  * SamSink.java:27-46). Text splits with exact line ownership; data lines
  * cannot start with '@' (QNAME charset excludes it), so header skipping is
  * a plain line filter, as in the reference.
  *
  * Supports the same `.option("tagColumns", "NM:int,RG:string")` typed-tag
  * projection as the BAM scan: requested tags are found by a boundary scan
  * of the raw optional-column tail, unrequested tag values are never
  * materialized (SamCodec.scanSelectedTags).
  */
class SamDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "sam"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TagCols.schemaWith(Opts.normalize(options.asScala.toMap))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new SamTable(properties.asScala.toMap)
}

class SamTable(properties: Map[String, String]) extends Table with SupportsRead with SinkTable {
  override def name(): String = s"sam:${properties.getOrElse("path", "?")}"
  override def schema(): StructType = TagCols.schemaWith(Opts.normalize(properties))
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE, TableCapability.TRUNCATE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val opts = options.asScala.toMap.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    new SamScanBuilder(opts)
  }
  override protected def sinkName: String = "sam"
  override protected def singleFileExts: Seq[String] = Seq(".sam")
  override protected def sinkCodec(o: SinkOptions, schema: StructType): SinkCodec[_] = {
    val refs = o.get("refs").map(SamHeader.parseRefsOption).getOrElse(IndexedSeq.empty)
    val header = o.get("headertext") match {
      case Some(t) => SamHeader(t, SamHeader.refsFromText(t))
      case None => SamHeader(refs)
    }
    new SamSink(header, schema)
  }
}

class SamScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit {
  private var required: StructType = TagCols.schemaWith(options)
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var limit: Int = -1
  /** Partial limit pushdown: one whole-file partition per file, reader stops
    * after n emitted records; Spark keeps its own global limit on top.
    */
  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def isPartiallyPushed(): Boolean = true
  /** Interval-translatable filters → reader-side record filter (SAM text has
    * no index, matching the reference's record-level-only path,
    * SamSource.java:68-77); everything stays residual.
    */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter]): Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters.filter(graft.sources.PushedRegion.accepts)
    filters // all residual
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new SamScan(options, required, pushed, limit)
}

class SamScan(options: Map[String, String], required: StructType,
              pushed: Array[org.apache.spark.sql.sources.Filter],
              limitHint: Int = -1) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val lim = if (limitHint >= 0) s" limit=$limitHint" else ""
    val ak = graft.sources.bam.TagCols.attrKeys(options)
      .map(k => s" attrKeys=[${k.mkString(",")}]").getOrElse("")
    s"graft-sam ${options.getOrElse("path", "")} pushed=[${pushed.mkString(",")}]$lim$ak"
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val pathStr = options.getOrElse("path", throw new IllegalArgumentException("sam source requires a path"))
    val intervals0 = options.get("intervals")
      .map(s => GenomicInterval.optimize(GenomicInterval.parseList(s)))
      .orElse(graft.sources.PushedRegion.toIntervals(pushed)) // filter-derived pushdown
    val unplacedUnmappedOpt = options.get("unplacedunmapped").map(_.toBoolean)
    val unplacedUnmapped = unplacedUnmappedOpt.getOrElse(false)
    // traversal-parameter parity (reference AbstractBinarySamSource.java:50-54):
    // explicit unplacedUnmapped without intervals = mapped-only (rejected)
    // or unplaced-unmapped-only (empty interval list)
    val intervals =
      if (intervals0.isEmpty && unplacedUnmappedOpt.isDefined) {
        if (!unplacedUnmapped)
          throw new IllegalArgumentException("traversing mapped reads only is not supported")
        Some(Nil)
      } else intervals0
    val stringency = graft.sources.Stringency.fromOptions(options)
    // per-file header I/O fanned out on the shared bounded pool (O(files)
    // serial driver RPCs otherwise), lexicographic file order preserved
    val filesWithLen = HadoopIO.listInputFilesWithLen(pathStr, conf)
    val files = filesWithLen.map(_._1)
    val splitSize = options.get("splitsize").map(_.toLong).getOrElse(
      graft.sources.SplitSizing.derive(filesWithLen.iterator.map(_._2).sum,
        SparkSession.active.sparkContext.defaultParallelism))
    HadoopIO.planFiles(files) { file =>
      val in = HadoopIO.open(file, conf)
      try {
        // header text: leading @-lines of the file
        val headerText = SplitTextReader.lines(in, 0, Long.MaxValue, bgzf = false)
          .takeWhile(_.startsWith("@")).mkString("", "\n", "\n")
        val header = SamHeader(headerText, SamHeader.refsFromText(headerText))
        val size = in.size
        val nSplits = math.max(1L, (size + splitSize - 1) / splitSize)
        // locality hints: block hosts of each split's byte range (one
        // block-list fetch per file, shared by every split)
        val hostsOf = HadoopIO.blockHostsFor(file.getFileSystem(conf), file, size)
        if (limitHint >= 0 && intervals.isEmpty)
          // limit fast path: one whole-file partition; the reader stops
          // after `limitHint` emitted records
          Seq(SamInputPartition(file.toString, 0L, size, header, None,
            unplacedUnmapped, stringency, limitHint, hostsOf(0L, size)))
        else (0L until nSplits).map { i =>
          val (s0, e0) = (i * splitSize, math.min(size, (i + 1) * splitSize))
          SamInputPartition(file.toString, s0, e0,
            header, intervals, unplacedUnmapped, stringency, limitHint, hostsOf(s0, e0))
        }
      } finally in.close()
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConf(SparkSession.active.sessionState.newHadoopConf())
    val req = required
    val ak = TagCols.attrKeys(options)
    (partition: InputPartition) => new SamPartitionReader(
      partition.asInstanceOf[SamInputPartition], conf, req, ak)
  }
}

case class SamInputPartition(file: String, splitStart: Long, splitEnd: Long,
    header: SamHeader, intervals: Option[Seq[GenomicInterval]], unplacedUnmapped: Boolean,
    stringency: graft.sources.Stringency, // malformed-line policy
    limit: Int = -1, // pushed-limit emit cap per reader (-1 = unlimited)
    hosts: Array[String] = Array.empty) // block hosts of the split's range
  extends InputPartition {
  override def preferredLocations(): Array[String] = hosts
}

class SamPartitionReader(p: SamInputPartition, conf: SerializableConf, required: StructType,
                         attrKeys: Option[IndexedSeq[String]] = None)
    extends PartitionReader[InternalRow] {
  private val input = HadoopIO.open(new Path(p.file), conf.conf)
  private val lines = SplitTextReader.lines(input, p.splitStart, p.splitEnd, bgzf = false)
  // column-pruned decode mask: tag_XX columns drive the selective tail
  // scan, a projection without `attributes` skips the per-tag split, and a
  // key-masked map (attrKeys) boundary-scans the tail for just those tags
  private val mask = {
    val m = BamFieldMask.fromColumns(required.fieldNames.toSet)
    if (m.attrs && attrKeys.isDefined) m.copy(attrKeys = attrKeys) else m
  }
  private val tagHolder = new Array[String](mask.tagCols.length)
  private val getters = RecordToRow.getters(required, mask.tagCols, tagHolder, mask.attrKeys.map(_.toSet))
  private var currentRow: InternalRow = _
  private val slog = new graft.sources.StringencyLog(s"${p.file} [${p.splitStart}, ${p.splitEnd})")

  private def keep(r: AlignmentRecord): Boolean = p.intervals match {
    case None => true
    case Some(ivs) =>
      val unplaced = (r.flags & AlignmentRecord.FlagUnmapped) != 0 && r.start == 0
      (p.unplacedUnmapped && unplaced) ||
        (r.contig != null && ivs.exists(_.overlaps(r.contig, r.start, math.max(r.end, r.start))))
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
      if (line.nonEmpty && !line.startsWith("@")) {
        // validation stringency (reference HtsjdkReadsRddStorage.java:97-100):
        // strict fails fast with context, lenient warns+counts (salvaging
        // lines whose failure is confined to the optional columns past the
        // 11 mandatory SAM fields), permissive skips silently
        val strictTail = p.stringency eq graft.sources.Stringency.Strict
        val rec =
          try SamCodec.fromLine(line, p.header, mask, tagHolder, strictTail)
          catch {
            case _: Exception if p.stringency eq graft.sources.Stringency.Permissive =>
              slog.skipSilently(); null
            case e: Exception if p.stringency eq graft.sources.Stringency.Lenient =>
              val mandatory = line.split('\t').take(11).mkString("\t")
              val salvagedRec =
                try SamCodec.fromLine(mandatory, p.header, mask, tagHolder)
                catch { case _: Exception => null }
              if (salvagedRec != null)
                slog.salvage(s"optional columns of SAM line in ${p.file}: ${e.getMessage}")
              else slog.skip(s"bad SAM line in ${p.file}: ${e.getMessage}")
              salvagedRec
            case e: Exception =>
              throw new java.io.IOException(s"bad SAM line in ${p.file}: $line", e)
          }
        if (rec != null && keep(rec)) {
          currentRow = RecordToRow.toRow(rec, getters)
          return true
        }
      }
    }
    false
  }
  override def get(): InternalRow = currentRow
  override def close(): Unit = { slog.summarize(); input.close() }
}

// (row building is RecordToRow in BamModel.scala — shared by BAM/CRAM/SAM
// so column semantics can't drift between formats)

// ---- write path -----------------------------------------------------------

/** SAM pieces of the shared sink: plain text parts, the header text as head,
  * no terminator (SamSink.java:27-46).
  */
final class SamSink(header: SamHeader, val schema: StructType) extends SinkCodec[Unit] {
  override def shardSuffix: String = ".sam"
  override def newPart(spec: PartSpec): SinkPart[Unit] = new SamPart(spec, this)
  lazy val headBytes: Array[Byte] = header.text.getBytes("UTF-8")
  override def head(reports: Seq[Unit]): Array[Byte] = headBytes
}

final class SamPart(spec: PartSpec, sink: SamSink) extends SinkPart[Unit](spec, sink) {
  // direct InternalRow → line-bytes encoder; falls back to the
  // RowToRecord + SamCodec.toLine spec path for non-fast-path shapes
  private val enc = new graft.sam.SamRowEncoder(sink.schema)
  if (sharded) out.write(sink.headBytes)

  override def write(row: InternalRow): Unit = {
    val len = enc.encode(row)
    out.write(enc.buf, 0, len)
  }
  override protected def finish(): Unit = ()
}
