package graft.sources.fastq

import java.util
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.fastq.{FastqCodec, FastqRecord}
import graft.sources.{HadoopIO, PartSpec, SerializableConf, SinkCodec, SinkOptions, SinkPart, SinkTable,
  SplitSizing, SplitTextReader, Stringency, StringencyLog}

/** `format("fastq")` — splittable raw-read scan/sink over plain, BGZF, or
  * single-split gzip text. Beyond the reference's surface (disq starts at
  * htsjdk-aligned formats): FASTQ is the lake stage BEFORE alignment, and
  * at 100 TB the raw reads dwarf everything downstream.
  *
  * Split semantics: a RECORD belongs to the split that owns its header
  * line's position key (byte offset / BGZF block start — the
  * SplitTextReader ownership rule lifted from lines to 4-line records).
  * A split consumes its last record's trailing lines past the boundary;
  * the successor split detects its record phase with the double-confirmed
  * 4-line structure check (FastqCodec.detectPhase) and skips the spilled
  * lines — no record lost or duplicated at any split size.
  */
class FastqDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "fastq"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = FastqRecord.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new FastqTable(properties.asScala.toMap)
}

class FastqTable(properties: Map[String, String]) extends Table with SupportsRead with SinkTable {
  override def name(): String = s"fastq:${properties.getOrElse("path", "?")}"
  override def schema(): StructType = FastqRecord.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE, TableCapability.TRUNCATE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val opts = options.asScala.toMap.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    new FastqScanBuilder(opts)
  }
  override protected def sinkName: String = "fastq"
  override protected def singleFileExts: Seq[String] =
    Seq(".fastq", ".fq", ".fastq.gz", ".fastq.bgz", ".fq.gz", ".fq.bgz")
  override protected def sinkCodec(o: SinkOptions, schema: StructType): SinkCodec[_] = {
    val shardSuffix = o.get("shardsuffix").getOrElse(".fastq")
    require(Seq(".fastq", ".fq", ".fastq.gz", ".fastq.bgz").contains(shardSuffix),
      s"unsupported shardSuffix $shardSuffix")
    new FastqSink(schema, shardSuffix, o.level)
  }
}

class FastqScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownLimit {
  private var required: StructType = FastqRecord.schema
  private var limit: Int = -1
  /** Partial limit pushdown: one whole-file partition per file, reader
    * stops after n emitted records; Spark keeps its global limit on top.
    */
  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def isPartiallyPushed(): Boolean = true
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new FastqScan(options, required, limit)
}

class FastqScan(options: Map[String, String], required: StructType, limitHint: Int)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val lim = if (limitHint >= 0) s" limit=$limitHint" else ""
    s"graft-fastq ${options.getOrElse("path", "")}$lim"
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val pathStr = options.getOrElse("path",
      throw new IllegalArgumentException("fastq source requires a path"))
    val stringency = Stringency.fromOptions(options)
    val filesWithLen = HadoopIO.listInputFilesWithLen(pathStr, conf)
    val files = filesWithLen.map(_._1)
    val splitSize = options.get("splitsize").map(_.toLong).getOrElse(
      SplitSizing.derive(filesWithLen.iterator.map(_._2).sum,
        SparkSession.active.sparkContext.defaultParallelism))
    HadoopIO.planFiles(files) { file =>
      val in = HadoopIO.open(file, conf)
      try {
        val size = in.size
        val bgzf = SplitTextReader.isBgzf(in)
        val wholeGzip = !bgzf && SplitTextReader.isPlainGzip(in)
        val hostsOf = HadoopIO.blockHostsFor(file.getFileSystem(conf), file, size)
        if (wholeGzip || (limitHint >= 0))
          // plain gzip is single-split; the limit fast path is one
          // whole-file partition with an emit cap, zero extra planning
          Seq(FastqInputPartition(file.toString, 0L, Long.MaxValue, bgzf, wholeGzip,
            stringency, limitHint, hostsOf(0L, size)))
        else {
          val nSplits = math.max(1L, (size + splitSize - 1) / splitSize)
          (0L until nSplits).map { i =>
            val (s0, e0) = (i * splitSize, math.min(size, (i + 1) * splitSize))
            FastqInputPartition(file.toString, s0, e0, bgzf, wholeGzip = false,
              stringency, -1, hostsOf(s0, e0))
          }
        }
      } finally in.close()
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConf(SparkSession.active.sessionState.newHadoopConf())
    val req = required
    (partition: InputPartition) => new FastqPartitionReader(
      partition.asInstanceOf[FastqInputPartition], conf, req)
  }
}

case class FastqInputPartition(file: String, splitStart: Long, splitEnd: Long,
    bgzf: Boolean, wholeGzip: Boolean, stringency: Stringency,
    limit: Int = -1, hosts: Array[String] = Array.empty) extends InputPartition {
  override def preferredLocations(): Array[String] = hosts
}

class FastqPartitionReader(p: FastqInputPartition, conf: SerializableConf, required: StructType)
    extends PartitionReader[InternalRow] {
  private val input = HadoopIO.open(new Path(p.file), conf.conf)
  // read UNBOUNDED from the split start: the cut is on the RECORD key
  // (header-line position), and a record whose header this split owns may
  // trail lines into the next split's byte range
  private val lines: Iterator[(Long, String)] =
    if (p.wholeGzip) SplitTextReader.allLines(input).map((0L, _))
    else SplitTextReader.linesWithKeys(input, p.splitStart, Long.MaxValue, p.bgzf)
  private val getters = FastqRowBuilder.getters(required)
  private val slog = new StringencyLog(s"${p.file} [${p.splitStart}, ${p.splitEnd})")

  private val look = scala.collection.mutable.ArrayDeque.empty[(Long, String)]
  private def fill(n: Int): Unit = while (look.size < n && lines.hasNext) look += lines.next()

  // phase alignment: skip the tail lines of a record owned by the
  // predecessor split (count = detected phase). File start must be phase 0.
  private var aligned = false
  private def align(): Unit = {
    fill(8)
    if (look.isEmpty) { aligned = true; return }
    val phase =
      if (p.splitStart == 0 || p.wholeGzip) 0
      else FastqCodec.detectPhase(look.toIndexedSeq.map(_._2))
    if (phase < 0) {
      // no record starts in this window: with ≤3 lines they are the
      // spilled tail of the predecessor's last record (normal operation,
      // not an error); with more, the split landed in garbage, which
      // stringency arbitrates
      if (look.size > 3) {
        if (p.stringency eq Stringency.Strict)
          throw new java.io.IOException(
            s"cannot find FASTQ record phase at split ${p.splitStart} of ${p.file}")
        slog.skip(s"no FASTQ record phase at split ${p.splitStart} of ${p.file}")
      }
      look.clear()
    } else {
      var i = 0
      while (i < phase) { look.removeHead(); i += 1 }
    }
    aligned = true
  }

  private var currentRow: InternalRow = _
  private var emitted = 0

  override def next(): Boolean = {
    if (p.limit >= 0 && emitted >= p.limit) return false
    if (!aligned) align()
    while (true) {
      fill(4)
      if (look.isEmpty) return false
      if (look.head._1 >= p.splitEnd) return false // next split owns it
      if (look.size < 4) {
        // truncated trailing record
        if (p.stringency eq Stringency.Strict)
          throw new java.io.IOException(
            s"truncated FASTQ record '${look.head._2}' at end of ${p.file}")
        slog.skip(s"truncated FASTQ record at end of ${p.file}")
        look.clear(); return false
      }
      val l0 = look.removeHead()._2; val l1 = look.removeHead()._2
      val l2 = look.removeHead()._2; val l3 = look.removeHead()._2
      try {
        val rec = FastqCodec.parse(l0, l1, l2, l3)
        currentRow = FastqRowBuilder.build(rec, getters)
        emitted += 1
        return true
      } catch {
        case _: Exception if p.stringency eq Stringency.Permissive => slog.skipSilently()
        case e: Exception if p.stringency eq Stringency.Lenient =>
          slog.skip(s"bad FASTQ record in ${p.file}: ${e.getMessage}")
        case e: Exception =>
          throw new java.io.IOException(s"bad FASTQ record in ${p.file}: $l0", e)
      }
    }
    false
  }
  override def get(): InternalRow = currentRow
  override def close(): Unit = { slog.summarize(); input.close() }
}

object FastqRowBuilder {
  type Getter = FastqRecord => Any
  def getters(required: StructType): Array[Getter] =
    required.fieldNames.map[Getter] {
      case "readName" => r => UTF8String.fromString(r.readName)
      case "comment" => r => if (r.comment == null) null else UTF8String.fromString(r.comment)
      case "seq" => r => UTF8String.fromString(r.seq)
      case "qual" => r => UTF8String.fromString(r.qual)
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }
  def build(r: FastqRecord, getters: Array[Getter]): InternalRow = {
    val vals = new Array[Any](getters.length)
    var i = 0
    while (i < vals.length) { vals(i) = getters(i)(r); i += 1 }
    new GenericInternalRow(vals)
  }
}

// ---- write path -----------------------------------------------------------

/** FASTQ pieces of the shared sink: plain or BGZF parts and no header at all. */
final class FastqSink(val schema: StructType, val shardSuffix: String, override val level: Int)
    extends SinkCodec[Unit] {
  override def newPart(spec: PartSpec): SinkPart[Unit] = new FastqPart(spec, this)
}

final class FastqPart(spec: PartSpec, sink: FastqSink) extends SinkPart[Unit](spec, sink) {
  // direct InternalRow → four-line record bytes; falls back to the
  // RowToFastq + FastqCodec.toLines spec path on null mandatory fields
  private val enc = new graft.fastq.FastqRowEncoder(RowToFastq.indices(sink.schema))

  override def write(row: InternalRow): Unit = {
    val len = enc.encode(row)
    out.write(enc.buf, 0, len)
  }
  override protected def finish(): Unit = ()
}

/** InternalRow → FastqRecord against the sink's input schema. */
object RowToFastq {
  case class Idx(readName: Int, comment: Int, seq: Int, qual: Int)
  def indices(schema: StructType): Idx = Idx(
    schema.fieldIndex("readName"),
    if (schema.fieldNames.contains("comment")) schema.fieldIndex("comment") else -1,
    schema.fieldIndex("seq"),
    schema.fieldIndex("qual"))
  def convert(row: InternalRow, i: Idx): FastqRecord = FastqRecord(
    readName = row.getUTF8String(i.readName).toString,
    comment = if (i.comment < 0 || row.isNullAt(i.comment)) null
      else row.getUTF8String(i.comment).toString,
    seq = row.getUTF8String(i.seq).toString,
    qual = row.getUTF8String(i.qual).toString)
}
