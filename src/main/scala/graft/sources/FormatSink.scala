package graft.sources

import java.io.{BufferedOutputStream, ByteArrayOutputStream, OutputStream}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.SupportsWrite
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType

import graft.bgzf.{Bgzf, BgzfOutputStream}

/** File names of the sink. A single-file write stages its parts in
  * `<path>.parts/` and concatenates them in name order, so
  * `header` < `part-*` < `terminator` (the reference's Merger invariant,
  * BamSink.java:41-68, Merger.java:17-29). The width-9 pad keeps name order
  * equal to partition order up to 10^9 partitions, where the reference's
  * 5-digit names would put part-100000 before part-99999.
  */
object SinkFiles {
  val Header = "header"
  val Terminator = "terminator"
  def partName(partitionId: Int): String = f"part-$partitionId%09d"

  /** A `.gz`/`.bgz` name is written as BGZF (reference VcfOutputFormat.java:24-71). */
  def bgzfName(name: String): Boolean = name.endsWith(".gz") || name.endsWith(".bgz")

  def write(fs: FileSystem, p: Path)(body: OutputStream => Unit): Unit = {
    val o = fs.create(p, true)
    try body(o) finally o.close()
  }
}

/** The write options every format shares: the required `path`, the
  * single-file/sharded choice by path extension (write-option inference as
  * in HtsjdkReadsRddStorage.java:217-257), and `compressionLevel`.
  */
final class SinkOptions(format: String, options: Map[String, String], singleFileExts: Seq[String]) {
  val path: String =
    options.getOrElse("path", throw new IllegalArgumentException(s"$format sink requires a path"))
  val singleFile: Boolean = singleFileExts.exists(path.endsWith)
  def get(key: String): Option[String] = options.get(key)
  def flag(key: String): Boolean = options.get(key).exists(_.toBoolean)

  /** Deflate level 0..9 (htsjdk/samtools writer parity); -1 = zlib default.
    * Parsed on first use, so a format that never compresses ignores it.
    */
  lazy val level: Int = {
    val l = options.get("compressionlevel").map(_.toInt).getOrElse(java.util.zip.Deflater.DEFAULT_COMPRESSION)
    require(l == -1 || (l >= 0 && l <= 9), s"compressionLevel out of range: $l")
    l
  }
}

/** One format's pieces of a write; [[FormatSink]] owns the rest. Built on
  * the driver from the write options and shipped to every task. `R` is what
  * one finished part reports back to the driver (index fragments, sample
  * names).
  */
abstract class SinkCodec[R] extends Serializable {
  /** Extension of each file in sharded mode. */
  def shardSuffix: String
  /** Deflate level of BGZF parts and head. */
  def level: Int = java.util.zip.Deflater.DEFAULT_COMPRESSION
  /** Whether a file of this name (the target, or [[shardSuffix]]) is BGZF. */
  def bgzf(name: String): Boolean = SinkFiles.bgzfName(name)
  /** The writer of one part, over the stream [[SinkPart]] opens. */
  def newPart(spec: PartSpec): SinkPart[R]
  /** Uncompressed bytes before the first part, given every part's report.
    * The sink BGZF-compresses them when the file is BGZF.
    */
  def head(reports: Seq[R]): Array[Byte] = Array.emptyByteArray
  /** Bytes after the last part of a non-BGZF file (a BGZF file ends with
    * the EOF block).
    */
  def tail: Array[Byte] = Array.emptyByteArray
  /** Index co-writes next to the merged file at `path`. `shifts(i)` is where
    * part i starts in it and `shifts.last` is where the parts end.
    */
  def coWrite(fs: FileSystem, path: String, parts: Seq[SinkPartMessage[R]], shifts: Seq[Long]): Unit = ()
}

/** Where and how one task writes: directory, partition, mode and stream. */
final case class PartSpec(dir: String, partitionId: Int, sharded: Boolean, bgzf: Boolean,
    conf: SerializableConf)

/** A finished part: its file, its length on disk and the format's report. */
final case class SinkPartMessage[R](path: String, bytes: Long, report: R) extends WriterCommitMessage

/** One task's part file. The base opens the file and its stream; the format
  * subclass encodes rows straight into [[out]] (or [[bgzfOut]]). In sharded
  * mode the part is a complete file, so a BGZF stream ends with the EOF
  * block and the subclass writes its own head and tail.
  */
abstract class SinkPart[R](spec: PartSpec, codec: SinkCodec[R]) extends DataWriter[InternalRow] {
  protected final val sharded: Boolean = spec.sharded
  private val file = new Path(spec.dir,
    SinkFiles.partName(spec.partitionId) + (if (sharded) codec.shardSuffix else ""))
  private val fs = file.getFileSystem(spec.conf.conf)
  private val raw = fs.create(file, true)
  /** The part's BGZF stream, or null when the part is plain bytes. */
  protected final val bgzfOut: BgzfOutputStream =
    if (spec.bgzf) new BgzfOutputStream(raw, writeEof = sharded, level = codec.level)
    else null
  protected final val out: OutputStream =
    if (bgzfOut != null) bgzfOut else new BufferedOutputStream(raw, 1 << 16)

  /** Writes what the format still holds into [[out]] and reports the part. */
  protected def finish(): R
  /** Sharded mode: a sidecar for the finished shard, as (extension, writer),
    * given the shard's length.
    */
  protected def shardSidecar(fileBytes: Long): Option[(String, OutputStream => Unit)] = None

  final override def commit(): WriterCommitMessage = {
    val report = finish()
    out.close()
    val bytes = raw.getPos
    if (sharded) shardSidecar(bytes).foreach { case (ext, body) =>
      SinkFiles.write(fs, new Path(file.toString + ext))(body)
    }
    SinkPartMessage(file.toString, bytes, report)
  }
  override def abort(): Unit = { out.close(); fs.delete(file, false) }
  override def close(): Unit = ()
}

/** The `newWriteBuilder` half of every format's Table: parses the shared
  * options and hands the format's codec to [[FormatSink]].
  */
trait SinkTable extends SupportsWrite {
  /** Format name in error messages ("bam sink requires a path"). */
  protected def sinkName: String
  /** Path endings that select one merged file; any other path is a
    * directory of shards.
    */
  protected def singleFileExts: Seq[String]
  /** The codec for one write; validates the format's own options. */
  protected def sinkCodec(o: SinkOptions, schema: StructType): SinkCodec[_]

  final override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val opts = info.options.asScala.toMap.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    val schema = info.schema()
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this // writes always replace (reference README.md:53)
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = {
          val o = new SinkOptions(sinkName, opts, singleFileExts)
          new FormatSink(o.path, o.singleFile, sinkCodec(o, schema),
            new SerializableConf(SparkSession.active.sessionState.newHadoopConf()))
        }
      }
    }
  }
}

/** The one DSv2 write lifecycle, for every format. Single-file mode (disq's
  * ordering-preserving sink): tasks write headerless parts into
  * `<path>.parts/`; commit adds the `header` and `terminator` parts,
  * concatenates in name order, then co-writes the indexes. Sharded mode:
  * tasks write complete files (and their sidecars) into the `path`
  * directory (AnySamSinkMultiple.java:39-73). Job abort deletes the staging
  * directory, or in sharded mode the whole output directory, so shards from
  * tasks that did commit do not outlive the failed job.
  */
final class FormatSink[R](path: String, singleFile: Boolean, codec: SinkCodec[R], conf: SerializableConf)
    extends BatchWrite {
  private val target = new Path(path)
  private val tempDir = new Path(path + ".parts")
  private def fs: FileSystem = target.getFileSystem(conf.conf)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    if (singleFile) {
      fs.delete(target, false)
      fs.delete(tempDir, true)
      fs.mkdirs(tempDir)
    } else {
      fs.delete(target, true)
      fs.mkdirs(target)
    }
    val dir = if (singleFile) tempDir.toString else path
    val bgzf = codec.bgzf(if (singleFile) path else codec.shardSuffix)
    val (sharded, c, hc) = (!singleFile, codec, conf)
    (partitionId: Int, _: Long) => c.newPart(PartSpec(dir, partitionId, sharded, bgzf, hc))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = if (singleFile) {
    val parts = messages.collect { case m: SinkPartMessage[R @unchecked] => m }.sortBy(_.path).toSeq
    val bgzf = codec.bgzf(path)
    val head = {
      val h = codec.head(parts.map(_.report))
      if (!bgzf || h.isEmpty) h
      else {
        val b = new ByteArrayOutputStream(h.length / 2 + 64)
        val z = new BgzfOutputStream(b, writeEof = false, level = codec.level)
        z.write(h); z.close()
        b.toByteArray
      }
    }
    val tail = if (bgzf) Bgzf.EofBlock else codec.tail
    if (head.nonEmpty) SinkFiles.write(fs, new Path(tempDir, SinkFiles.Header))(_.write(head))
    if (tail.nonEmpty) SinkFiles.write(fs, new Path(tempDir, SinkFiles.Terminator))(_.write(tail))
    val shifts = parts.scanLeft(head.length.toLong)(_ + _.bytes)
    HadoopIO.mergeParts(tempDir, target, conf.conf)
    // index co-writes AFTER the merge, so each index's mtime is >= the data
    // file's: readers treat an index older than its data file as stale (the
    // in-place rewrite guard) and would reject every fresh co-write
    codec.coWrite(fs, path, parts, shifts)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    fs.delete(if (singleFile) tempDir else target, true)
}
