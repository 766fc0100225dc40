package graft.sources.bam

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
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.bam._
import graft.bgzf.Bgzf
import graft.index.{GciIndex, SbiIndex}
import graft.sources.{GenomicInterval, HadoopIO, PartSpec, PushedRegion, SerializableConf, SinkCodec,
  SinkFiles, SinkOptions, SinkPart, SinkPartMessage, SinkTable, SplitSizing, Stringency, StringencyLog}

/** `spark.read.format("bam")` / `df.write.format("bam")` — the Spark-native
  * re-expression of the reference's HtsjdkReadsRddStorage BAM path
  * (HtsjdkReadsRddStorage.java:128-245, BamSource.java:60-188,
  * BamSink.java:31-69).
  *
  * Read options:
  *   - `splitSize` (bytes, default 64 MiB — reference default 128 MiB FileSystem
  *     block or SPLIT_MAXSIZE, PathSplitSource.java:56-58)
  *   - `intervals` = "chr21:5000-9999,…" genomic predicate (1-based closed)
  *   - `unplacedUnmapped` = true → ALSO emit unmapped reads without position
  *     (HtsjdkReadsTraversalParameters semantics, README.md:119-138)
  * Write options:
  *   - `refs` = "chr20:1000000,chr21:1000135" reference dictionary (required)
  *   - `headerText` optional literal SAM header text
  *   - path ending in ".bam" → single file via headerless parts + concat
  *     commit; otherwise a directory of complete per-partition BAMs
  *     (write-option inference as in HtsjdkReadsRddStorage.java:217-257)
  */
class BamDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "bam"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TagCols.schemaWith(Opts.normalize(options.asScala.toMap))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new BamTable(properties.asScala.toMap)
}

/** Typed-tag projection (`.option("tagColumns", "NM:int,RG:string")`):
  * each entry adds a `tag_XX` column of the declared type (int → long,
  * float → double, string; bare `XX` defaults to string) to the scan
  * schema. Requesting a typed tag decodes ONLY that tag in the record's
  * self-describing tag walk — the full attributes map is neither built nor
  * parsed — so tag-driven analytics (read-group rollups, NM error rates)
  * skip the per-record map allocation entirely. The reference exposes tags
  * only through htsjdk's eager SAMRecord attribute list; this projection
  * is a Spark-side extension in the spirit of its lazy record decode.
  */
private[sources] object TagCols {
  import org.apache.spark.sql.types._

  def parse(options: Map[String, String]): Seq[StructField] =
    options.get("tagcolumns").map(_.trim).filter(_.nonEmpty).toSeq.flatMap { spec =>
      spec.split(",").map(_.trim).filter(_.nonEmpty).map { ent =>
        val (tag, ty) = ent.split(":", 2) match {
          case Array(t) => (t, "string")
          case Array(t, ty0) => (t, ty0.trim.toLowerCase(java.util.Locale.ROOT))
        }
        require(tag.length == 2 && tag.forall(c => c.isLetterOrDigit),
          s"tagColumns: '$tag' is not a two-character SAM tag")
        val dt = ty match {
          case "int" | "long" => LongType
          case "float" | "double" => DoubleType
          case "string" => StringType
          case other => throw new IllegalArgumentException(
            s"tagColumns: unsupported type '$other' for tag $tag (int|float|string)")
        }
        StructField(s"tag_$tag", dt, nullable = true)
      }
    }

  /** Base alignment schema + any requested tag columns. */
  def schemaWith(options: Map[String, String]): StructType =
    StructType(AlignmentRecord.schema.fields.toSeq ++ parse(options))

  /** Key-masked `attributes` map (`.option("attrKeys", "NM,RG")`, or derived
    * by the auto-projection rule from literal `element_at` keys): the column
    * keeps its map type, but ONLY these tags populate it — the record's
    * self-describing tag walk decodes them selectively and byte-skips every
    * other value (and on CRAM, blocks exclusively backing unrequested tags
    * are never inflated). Schema-invisible, unlike `tagColumns`.
    */
  def attrKeys(options: Map[String, String]): Option[IndexedSeq[String]] =
    options.get("attrkeys").map { spec =>
      val keys = spec.split(",").iterator.map(_.trim).filter(_.nonEmpty).toVector.distinct.sorted
      keys.foreach(k => require(k.length == 2 && k.forall(_.isLetterOrDigit),
        s"attrKeys: '$k' is not a two-character SAM tag"))
      keys
    }
}

class BamTable(properties: Map[String, String]) extends Table with SupportsRead with SinkTable {
  override def name(): String = s"bam:${properties.getOrElse("path", "?")}"
  override def schema(): StructType = TagCols.schemaWith(Opts.normalize(properties))
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE, TableCapability.TRUNCATE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BamScanBuilder(options.asScala.toMap)
  override protected def sinkName: String = "bam"
  override protected def singleFileExts: Seq[String] = Seq(".bam")
  override protected def sinkCodec(o: SinkOptions, schema: StructType): SinkCodec[_] = BamSink(o, schema)
}

// ---------------------------------------------------------------------------
// Read path
// ---------------------------------------------------------------------------

/** Option lookups must be case-insensitive: CaseInsensitiveStringMap hands
  * the connector lowercased keys, while users write `splitSize` etc.
  */
private[sources] object Opts {
  def normalize(m: Map[String, String]): Map[String, String] =
    m.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
}

class BamScanBuilder(options0: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownAggregates {
  private val options = Opts.normalize(options0)

  private var required: StructType = TagCols.schemaWith(options)
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1

  /** `.limit(n)` directly over the scan: plan ONE whole-file partition per
    * file (no index/sidecar reads, no derive job) and stop each reader after
    * n emitted records. Partial pushdown (Spark keeps its own global limit),
    * so over-emission across files is fine and under-emission impossible —
    * each file yields min(n, its records). Turns the most common first query
    * on a 100 TB lake from an every-partition plan into a few blocks.
    */
  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def isPartiallyPushed(): Boolean = true

  /** Unfiltered COUNT(*) answered O(index), zero data scan: `.sbi` carries
    * an exact totalRecords; a samtools `.bai` carries per-ref pseudo-bin
    * counts + the unplaced tail (exact only when every ref has a pseudo-bin
    * AND the optional n_no_coor field is physically present). COMPLETE
    * pushdown — one partition emits the one summed row — and only when the
    * traversal is the unrestricted strict-stringency one (intervals /
    * unplacedUnmapped / lenient salvage all change what a scan would count)
    * and EVERY file has an exact-count index; otherwise Spark's normal
    * count plan runs. Residual Catalyst filters already block the attempt
    * (Spark only pushes aggregates with no Filter in between).
    */
  private var pushedCount: Option[Long] = None
  private lazy val indexCount: Option[Long] = BamScanBuilder.indexCount(options)
  private def countable(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    agg.groupByExpressions.isEmpty && agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions.head
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar] &&
      pushed.isEmpty && limit < 0 &&
      !options.contains("intervals") && !options.contains("unplacedunmapped") &&
      (Stringency.fromOptions(options) eq Stringency.Strict)
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    countable(agg) && indexCount.isDefined
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    // complete-or-nothing: a partial COUNT pushdown would only re-shape
    // Spark's own plan without saving the scan
    val ok = countable(agg) && indexCount.isDefined
    if (ok) pushedCount = indexCount
    ok
  }

  /** Record interval-translatable filters (contig =, start/end bounds) for
    * reader-side filtering + explain visibility; everything stays residual
    * (Spark re-applies), mirroring the coarse-index + residual-iterator
    * split of the reference (AbstractBinarySamSource.java:86-113).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(PushedRegion.accepts)
    filters // all residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def build(): Scan = pushedCount match {
    case Some(total) => new BamCountScan(options.getOrElse("path", "?"), total)
    case None => new BamScan(options, required, pushed, limit)
  }
}

object BamScanBuilder {
  import graft.index.{BaiIndex, SbiIndex}

  /** Exact record count of every input file from its indexes, or None if
    * ANY file lacks one — O(files) tiny index reads, zero data I/O.
    *
    * Staleness guard: an index answering a query the data never sees must
    * PROVE it describes this exact file, or the scan falls back to reading.
    * The `.sbi` carries the BAM's byte length for precisely this check
    * (compared against the live file status); a `.bai` carries no length,
    * so we require its mtime to be >= the BAM's (a BAM rewritten in place
    * after indexing is newer than its index → rejected).
    */
  private[bam] def indexCount(options: Map[String, String]): Option[Long] =
    try {
      val conf = SparkSession.active.sessionState.newHadoopConf()
      val pathStr = options.getOrElse("path", return None)
      val files = HadoopIO.listInputFiles(pathStr, conf)
      if (files.isEmpty) return None
      var total = 0L
      files.foreach { f =>
        val fs = f.getFileSystem(conf)
        val bamStatus = fs.getFileStatus(f)
        val sbiP = new Path(f.toString + ".sbi")
        val baiP = new Path(f.toString + ".bai")
        val c: Option[Long] =
          if (fs.exists(sbiP)) {
            val in = HadoopIO.open(sbiP, conf)
            try scala.util.Try(SbiIndex.read(in)).toOption
              .filter(_.fileLength == bamStatus.getLen) // stale-index guard
              .map(_.totalRecords).filter(_ >= 0)
            finally in.close()
          } else if (fs.exists(baiP) &&
                     fs.getFileStatus(baiP).getModificationTime >= bamStatus.getModificationTime) {
            val in = HadoopIO.open(baiP, conf)
            try scala.util.Try(BaiIndex.read(in)).toOption.flatMap(_.exactRecordCount)
            finally in.close()
          } else None
        c match {
          case Some(n) => total += n
          case None => return None
        }
      }
      Some(total)
    } catch {
      // planning probe: missing/corrupt sidecars mean "no pushdown", but
      // fatal VM errors must propagate
      case _: java.io.IOException => None
      case scala.util.control.NonFatal(_) => None
    }
}

/** COUNT(*) answered from the indexes at planning time: one partition, one
  * row, zero data scan — `df.count()` on a 100 TB indexed lake is O(files)
  * index-header reads.
  */
class BamCountScan(path: String, total: Long) extends Scan with Batch {
  override def readSchema(): StructType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("count",
      org.apache.spark.sql.types.LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-bam $path PushedAggregates=[COUNT(*)] indexCount=$total"
  override def planInputPartitions(): Array[InputPartition] =
    Array(BamCountPartition(total))
  override def createReaderFactory(): PartitionReaderFactory = new BamCountReaderFactory
}

case class BamCountPartition(total: Long) extends InputPartition

class BamCountReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val total = partition.asInstanceOf[BamCountPartition].total
    new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = if (done) false else { done = true; true }
      override def get(): InternalRow = new GenericInternalRow(Array[Any](total))
      override def close(): Unit = ()
    }
  }
}

class BamScan(options0: Map[String, String], required: StructType, pushed: Array[Filter],
    limitHint: Int = -1)
    extends Scan with Batch {
  private val options = Opts.normalize(options0)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val iv = options.get("intervals").map(i => s" intervals=$i").getOrElse("")
    val lim = if (limitHint >= 0) s" limit=$limitHint" else ""
    val ak = TagCols.attrKeys(options).map(k => s" attrKeys=[${k.mkString(",")}]").getOrElse("")
    s"graft-bam ${options.getOrElse("path", "")}$iv pushed=[${pushed.mkString(",")}]$lim$ak"
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val pathStr = options.getOrElse("path",
      throw new IllegalArgumentException("bam source requires a path"))
    val intervals0 = options.get("intervals")
      .map(s => GenomicInterval.optimize(GenomicInterval.parseList(s)))
      .orElse(PushedRegion.toIntervals(pushed)) // filter-derived pushdown
    val unplacedUnmappedOpt = options.get("unplacedunmapped").map(_.toBoolean)
    val unplacedUnmapped = unplacedUnmappedOpt.getOrElse(false)
    // traversal-parameter parity (reference AbstractBinarySamSource.java:50-54
    // + :95-118): an explicit unplacedUnmapped WITHOUT intervals means
    // "mapped only" (false → rejected upstream too) or "unplaced-unmapped
    // ONLY" (true → empty interval list, so only the unmapped tail matches;
    // index paths then prune all mapped partitions). No option at all keeps
    // the read-everything traversal.
    val intervals =
      if (intervals0.isEmpty && unplacedUnmappedOpt.isDefined) {
        if (!unplacedUnmapped)
          throw new IllegalArgumentException("traversing mapped reads only is not supported")
        Some(Nil)
      } else intervals0
    val pairAware = options.get("keeppairstogether").exists(_.toBoolean)
    // validation stringency on the binary path (reference
    // HtsjdkReadsRddStorage.java:97-100): strict fails with file/voff
    // context, lenient warns+counts (salvaging tag-only failures), and
    // permissive skips silently — framing stays aligned in every tier
    val stringency = Stringency.fromOptions(options)
    val extraSlack = options.get("intervalslack").map(_.toInt).getOrElse(0)
    val filesWithLen = HadoopIO.listInputFilesWithLen(pathStr, conf)
    val files = filesWithLen.map(_._1)
    val splitSize = options.get("splitsize").map(_.toLong).getOrElse(
      SplitSizing.derive(filesWithLen.iterator.map(_._2).sum,
        SparkSession.active.sparkContext.defaultParallelism))

    def planFile(file: Path): Seq[InputPartition] = {
      val in = HadoopIO.open(file, conf)
      try {
        val (header, headerEnd) = BamIO.readHeader(in)
        val size = in.size
        val nSplits = math.max(1L, (size + splitSize - 1) / splitSize)
        val fs = file.getFileSystem(conf)
        val hostsOf = HadoopIO.blockHostsFor(fs, file, size)
        val dataMtime = fs.getFileStatus(file).getModificationTime
        // a .bai has no recorded file length, so its freshness proof is the
        // mtime: an index older than its data file (in-place rewrite) is
        // stale and must not steer seeks or pruning. Residual risk: with
        // second-granularity filesystem timestamps, a rewrite landing in
        // the same tick as the old index still passes — accepted, because
        // the .bai format records nothing (no length, no checksum) that
        // could prove freshness the way the .sbi fileLength guard does.
        def baiFresh(p: Path): Boolean =
          fs.exists(p) && fs.getFileStatus(p).getModificationTime >= dataMtime
        val sbiPath = new Path(file.toString + ".sbi")
        val limitFastPath = limitHint >= 0 && intervals.isEmpty
        // Stale-index guard: an .sbi whose recorded fileLength differs from
        // the live file (BAM rewritten in place without re-indexing) is
        // ignored entirely — its record offsets would misalign every split
        // and silently corrupt the scan. Corrupt sidecars fall back the
        // same way (the heuristic path stays exact, just slower).
        val sbiOpt: Option[SbiIndex] =
          if (!limitFastPath && fs.exists(sbiPath)) {
            val sbiIn = HadoopIO.open(sbiPath, conf)
            (try scala.util.Try(SbiIndex.read(sbiIn)).toOption finally sbiIn.close())
              .filter(_.fileLength == size)
          } else None
        val parts: Seq[BamInputPartition] = if (limitFastPath) {
          // limit fast path (no interval traversal): ONE whole-file
          // partition, zero sidecar/index I/O, no derive job — the reader
          // stops after `limitHint` emitted records, so `.limit(5)` on a
          // lake costs one partition and a few BGZF blocks per file
          Seq(BamInputPartition(file.toString, 0L, size, header, headerEnd,
            None, unplacedUnmapped, -1L, -1L, pairAware, stringency))
        } else if (sbiOpt.isDefined) {
          // SBI path: split edges snap to indexed record offsets via binary
          // search — no heuristic boundary scan in the readers (intended
          // reference semantics, BamSource.java:74-92)
          val sbi = sbiOpt.get
          val bounds = (0L to nSplits).map { i =>
            if (i == nSplits) sbi.offsets.last else sbi.boundaryAtOrAfter(i * splitSize)
          }
          // coordinate sidecar: for sorted files, drop whole partitions whose
          // coordinate range cannot overlap any requested interval (split
          // pruning, the tabix/bai role — residual filters keep exactness).
          // Unknown/old sidecar versions disable pruning, never mis-prune.
          val gciPath = new Path(file.toString + ".gci")
          val gci: Option[GciIndex] =
            if (intervals.isDefined && fs.exists(gciPath)) {
              val gin = HadoopIO.open(gciPath, conf)
              try scala.util.Try(GciIndex.read(gin)).toOption.filter(_.sorted)
              finally gin.close()
            } else None
          // no sidecar but a standard .bai: prune SBI chunks through the
          // external index instead (compressed-range intersection with the
          // merged interval spans; unmapped tail lives past the last span)
          val baiRanges: Option[(Seq[(Long, Long)], Long)] =
            if (gci.isEmpty && intervals.isDefined && baiFresh(new Path(file.toString + ".bai"))) {
              val bin = HadoopIO.open(new Path(file.toString + ".bai"), conf)
              val bai = try scala.util.Try(graft.index.BaiIndex.read(bin)).toOption
                finally bin.close()
              bai.map { b =>
                val spans = intervals.get.flatMap { iv =>
                  header.refIndex.get(iv.contig).toSeq.flatMap(r => b.spans(r, iv.start - 1, iv.end - 1))
                }
                var maxEnd = headerEnd
                b.refs.foreach(_.binChunks.foreach { cs0 =>
                  var i = 1
                  while (i < cs0.length) { if (cs0(i) > maxEnd) maxEnd = cs0(i); i += 2 }
                })
                (spans.map { case (bv, ev) => (Bgzf.blockStart(bv), Bgzf.blockStart(ev)) },
                  Bgzf.blockStart(maxEnd))
              }
            } else None
          def mayOverlap(cs: Long, ce: Long): Boolean = gci match {
            case None =>
              baiRanges match {
                case None => true
                case Some((ranges, mappedEnd)) =>
                  val c0 = Bgzf.blockStart(cs); val c1 = Bgzf.blockStart(ce)
                  ranges.exists { case (r0, r1) => c0 <= r1 && c1 >= r0 } ||
                    (unplacedUnmapped && c1 >= mappedEnd)
              }
            case Some(g) =>
              val j0 = g.entryAt(cs); val j1 = g.entryAt(ce)
              if (j0 < 0 || j1 < 0) true // defensive: unknown boundary
              else {
                val loR = GciIndex.orderRef(g.refs(j0)); val loP = g.pos(j0)
                val hiR = GciIndex.orderRef(g.refs(j1)); val hiP = g.pos(j1)
                // recorded max alignment span of THIS chunk's records bounds
                // how far before an interval a still-overlapping record can
                // start — exact, not a guessed slack (a spliced/long read
                // spanning further than a fixed slack would be mis-pruned)
                val slack = g.maxSpan(j0, j1) + extraSlack
                val hasUnmappedTail = hiR == Int.MaxValue
                (unplacedUnmapped && hasUnmappedTail) ||
                  intervals.get.exists { iv =>
                    header.refIndex.get(iv.contig).exists { r =>
                      val ivLoP = iv.start - 1 - slack; val ivHiP = iv.end - 1
                      // lexicographic overlap of [(loR,loP),(hiR,hiP)] with [(r,ivLoP),(r,ivHiP)]
                      val below = hiR < r || (hiR == r && hiP < ivLoP)
                      val above = loR > r || (loR == r && loP > ivHiP)
                      !below && !above
                    }
                  }
              }
          }
          (0L until nSplits).flatMap { i =>
            val (cs, ce) = (bounds(i.toInt), bounds(i.toInt + 1))
            if (cs >= ce || !mayOverlap(cs, ce)) None
            else Some(BamInputPartition(file.toString, i * splitSize, math.min(size, (i + 1) * splitSize),
              header, headerEnd, intervals, unplacedUnmapped, cs, ce, pairAware, stringency))
          }
        } else {
          // External-index path: with intervals and a standard `.bai` next
          // to the file (the overwhelmingly common indexed-BAM case), jump
          // straight to the matching file regions — candidate bins' chunks,
          // linear-index floor, merged spans (reference
          // AbstractBinarySamSource.java:86-113, BAMFileReader2.java:1002-1098).
          // Records inside spans that don't overlap keep()'s residual filter
          // are dropped record-level, so pruning never changes results.
          val baiPath = new Path(file.toString + ".bai")
          val baiRanges: Option[Seq[(Long, Long)]] =
            if (intervals.isDefined && baiFresh(baiPath)) {
              val bin = HadoopIO.open(baiPath, conf)
              val bai = try scala.util.Try(graft.index.BaiIndex.read(bin)).toOption
                finally bin.close()
              bai.map { b =>
                val ivSpans = intervals.get.flatMap { iv =>
                  header.refIndex.get(iv.contig).toSeq.flatMap { r =>
                    b.spans(r, iv.start - 1, iv.end - 1)
                  }
                }
                val tail: Seq[(Long, Long)] =
                  if (unplacedUnmapped) {
                    // unplaced-unmapped records sit after the last mapped
                    // record; the BAI has no bins for them
                    var maxEnd = headerEnd
                    b.refs.foreach(_.binChunks.foreach { cs =>
                      var i = 1
                      while (i < cs.length) { if (cs(i) > maxEnd) maxEnd = cs(i); i += 2 }
                    })
                    Seq((maxEnd, Long.MaxValue))
                  } else Nil
                // voff spans → block-start byte ranges (a record of interest
                // STARTS in a block within [beg block, end block]), merged
                (ivSpans ++ tail).map { case (bv, ev) =>
                  (Bgzf.blockStart(bv),
                    math.min(size, (if (ev == Long.MaxValue) size else Bgzf.blockStart(ev)) + 1))
                }.filter(r => r._1 < r._2).sortBy(_._1)
                  .foldLeft(List.empty[(Long, Long)]) {
                    case ((ps, pe) :: rest, (s0, e0)) if s0 <= pe => (ps, math.max(pe, e0)) :: rest
                    case (acc, r) => r :: acc
                  }.reverse
              }
            } else None
          baiRanges match {
            case Some(ranges) =>
              ranges.flatMap { case (rs, re) =>
                val n = ((re - rs) + splitSize - 1) / splitSize
                (0L until n).map { i =>
                  BamInputPartition(file.toString, rs + i * splitSize, math.min(re, rs + (i + 1) * splitSize),
                    header, headerEnd, intervals, unplacedUnmapped, -1L, -1L, pairAware, stringency)
                }
              }
            case None =>
              // first-contact derivation: run the guesser ONCE as a tiny
              // distributed job, write the .sbi back, re-plan O(index)
              if (options.get("deriveindex").exists(_.toBoolean) &&
                  graft.sources.DeriveIndex.deriveBamSbi(
                    file.toString, header, headerEnd, size, splitSize, new SerializableConf(conf)))
                return planFile(file) // .sbi now exists → SBI route
              // heuristic path: byte splits tile the file; each split owns
              // records whose start voff lies in a block starting within it
              (0L until nSplits).map { i =>
                BamInputPartition(file.toString, i * splitSize, math.min(size, (i + 1) * splitSize),
                  header, headerEnd, intervals, unplacedUnmapped, -1L, -1L, pairAware, stringency)
              }
          }
        }
        // locality hints: block hosts of each split's byte range (one
        // block-list fetch per file, shared by every split)
        parts.map(p => p.copy(hosts = hostsOf(p.splitStart, p.splitEnd), limit = limitHint))
      } finally in.close()
    }

    // Per-file planning does real I/O (header + SBI + GCI reads) — fan out
    // on the shared bounded pool, lexicographic file order preserved.
    val planned: Array[InputPartition] = HadoopIO.planFiles(files)(planFile).toArray
    // header-compat across directory inputs (reference leaves this
    // undefined and silently uses the first header): a shard whose sequence
    // dictionary differs would mislabel every refId it carries — fail at
    // planning with the offending file named
    val refsByFile = scala.collection.mutable.LinkedHashMap[String, IndexedSeq[BamRef]]()
    planned.foreach { p0 =>
      val p = p0.asInstanceOf[BamInputPartition]
      refsByFile.getOrElseUpdate(p.file, p.header.refs)
    }
    refsByFile.headOption.foreach { case (firstFile, firstRefs) =>
      refsByFile.foreach { case (f, r) =>
        if (r != firstRefs)
          throw new IllegalArgumentException(
            s"incompatible sequence dictionaries in directory input: $f does not match $firstFile")
      }
    }
    planned
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConf(SparkSession.active.sessionState.newHadoopConf())
    new BamPartitionReaderFactory(conf, required, TagCols.attrKeys(options))
  }
}

case class BamInputPartition(
    file: String, splitStart: Long, splitEnd: Long,
    header: SamHeader, headerEndVoff: Long,
    intervals: Option[Seq[GenomicInterval]], unplacedUnmapped: Boolean,
    chunkStartVoff: Long, chunkEndVoff: Long, // -1 when no .sbi (heuristic)
    pairAware: Boolean = false, // name-runs never split across partitions
    stringency: Stringency = Stringency.Strict, // malformed-record policy
    limit: Int = -1, // pushed-limit emit cap per reader (-1 = unlimited)
    hosts: Array[String] = Array.empty) // block hosts of the split's range
  extends InputPartition {
  override def preferredLocations(): Array[String] = hosts
}

class BamPartitionReaderFactory(conf: SerializableConf, required: StructType,
                                attrKeys: Option[IndexedSeq[String]] = None)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new BamPartitionReader(partition.asInstanceOf[BamInputPartition], conf, required, attrKeys)
}

/** Executor-side reader: boundary search then sequential decode, exactly the
  * reference's executor phases 4–5 (BamSource.getFirstReadInPartition:115-158,
  * AbstractBinarySamSource.getReads:61-135) with decode pruned to `required`.
  */
class BamPartitionReader(p: BamInputPartition, conf: SerializableConf, required: StructType,
                         attrKeys: Option[IndexedSeq[String]] = None)
    extends PartitionReader[InternalRow] {

  private val input = HadoopIO.open(new Path(p.file), conf.conf)
  private val needFilter = p.intervals.isDefined
  private val mask = {
    val cols = required.fieldNames.toSet
    val m0 = BamFieldMask.fromColumns(cols)
    val m1 = if (needFilter) m0.copy(cigarAndEnd = true) else m0 // interval test needs end
    // pairAware run-tracking compares consecutive readNames, so the name
    // must decode even when the column is pruned from the projection
    val m = if (p.pairAware) m1.copy(name = true) else m1
    // key-masked attributes map: only meaningful when the map is wanted
    if (m.attrs && attrKeys.isDefined) m.copy(attrKeys = attrKeys) else m
  }
  private val stream = new graft.bgzf.BgzfInputStream(input)
  private var currentRow: InternalRow = _
  private var exhausted = false
  private var lastReadName: String = _ // run tracking for pairAware
  private var prevName: String = _     // name of the record before our first

  private val sbiMode = p.chunkStartVoff >= 0

  // boundary: exact from the SBI chunk, else heuristic search (the guesser
  // shares the pread-based input with the stream)
  locally {
    if (sbiMode) stream.seekVirtual(p.chunkStartVoff)
    else {
      val guesser = new BamRecordGuesser(input, p.header.refs, p.headerEndVoff)
      val first = guesser.firstRecordAtOrAfter(p.splitStart, p.splitEnd)
      if (first < 0) exhausted = true
      else stream.seekVirtual(first)
    }
    if (!exhausted && p.pairAware) prevName = findPrevName(stream.virtualOffset)
  }

  /** Pair-integrity (reference README.md:156-160, unimplemented upstream —
    * support-matrix ✗ at README.md:35): a contiguous run of records sharing
    * a read name is owned by the partition that owns the run's FIRST record.
    * We skip a leading run continuing from the previous partition (its name
    * = name of the record immediately before our first record) and read past
    * our boundary to finish a run we started. Queryname-grouped files thus
    * never split a pair across partitions.
    */
  private def findPrevName(firstVoff: Long): String = {
    if (p.splitStart == 0) return null
    val guesser = new BamRecordGuesser(input, p.header.refs, p.headerEndVoff)
    val firstBlock = Bgzf.blockStart(firstVoff)
    var backBlocks = 1L
    var found = -1L
    while (found < 0) {
      val pos = math.max(0L, firstBlock - backBlocks * Bgzf.MaxBlockSize)
      val cand = guesser.firstRecordAtOrAfter(pos, Long.MaxValue)
      if (cand >= 0 && cand < firstVoff) found = cand
      else if (pos == 0) return null // our first record is the file's first
      else backBlocks *= 2
      if (backBlocks > 512) {
        // >32 MB of recordless space before this partition: give up on
        // predecessor-run detection. Pathological files only — log it so a
        // split pair is diagnosable rather than silent.
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"pairAware: no predecessor record found within 32 MB before voff $firstVoff " +
            s"in ${p.file}; a name-run crossing this boundary would be split")
        return null
      }
    }
    val s2 = new graft.bgzf.BgzfInputStream(input)
    s2.seekVirtual(found)
    val m = BamFieldMask(cigarAndEnd = false, seq = false, qual = false, attrs = false)
    var name: String = null
    val szb = new Array[Byte](4)
    while (!s2.atEof && s2.virtualOffset < firstVoff) {
      s2.readFully(szb, 0, 4)
      val blockSize = (szb(0) & 0xff) | ((szb(1) & 0xff) << 8) | ((szb(2) & 0xff) << 16) | ((szb(3) & 0xff) << 24)
      val rec = new Array[Byte](blockSize)
      s2.readFully(rec, 0, blockSize)
      name = BamCodec.decodeRecord(rec, blockSize, p.header, m).readName
    }
    name
  }

  // typed-tag projection: one reusable slot per requested tag, filled by
  // the codec on each decode and read by the tag_ column getters
  private val tagHolder = new Array[String](mask.tagCols.length)
  private val fieldGetters: Array[AlignmentRecord => Any] =
    RecordToRow.getters(required, mask.tagCols, tagHolder, mask.attrKeys.map(_.toSet))

  private def keep(r: AlignmentRecord): Boolean = p.intervals match {
    case None => true
    case Some(ivs) =>
      val unplaced = (r.flags & AlignmentRecord.FlagUnmapped) != 0 && r.start == 0
      (p.unplacedUnmapped && unplaced) ||
        (r.contig != null && ivs.exists(_.overlaps(r.contig, r.start, math.max(r.end, r.start))))
  }

  private var emitted = 0

  override def next(): Boolean = {
    if (p.limit >= 0 && emitted >= p.limit) { exhausted = true; return false }
    val has = advance()
    if (has) emitted += 1
    has
  }

  private def advance(): Boolean = {
    if (exhausted) return false
    while (true) {
      // territory: the next record start owned by this partition —
      // exact chunk end (SBI) or block owned by this split (heuristic)
      val inTerritory = !stream.atEof &&
        (if (sbiMode) stream.virtualOffset < p.chunkEndVoff
         else stream.blockStartOffset < p.splitEnd)
      if (!inTerritory) {
        // pairAware: finish a name-run we started before stopping
        if (!p.pairAware || lastReadName == null || stream.atEof) { exhausted = true; return false }
        val rec = readOne()
        if (rec == null || rec.readName != lastReadName) { exhausted = true; return false }
        if (keep(rec)) { currentRow = toRow(rec); return true }
      } else {
        val rec = readOne()
        if (rec == null) { exhausted = true; return false }
        if (p.pairAware && prevName != null) {
          // leading run continuing from the previous partition: skip
          if (rec.readName == prevName) { /* owned by predecessor */ }
          else { prevName = null; lastReadName = rec.readName; if (keep(rec)) { currentRow = toRow(rec); return true } }
        } else {
          lastReadName = rec.readName
          if (keep(rec)) { currentRow = toRow(rec); return true }
        }
      }
    }
    false
  }

  private def toRow(rec: AlignmentRecord): InternalRow = RecordToRow.toRow(rec, fieldGetters)

  private val slog = new StringencyLog(s"${p.file} [${p.splitStart}, ${p.splitEnd})")

  private def readOne(): AlignmentRecord = {
    while (true) {
      val recVoff = stream.virtualOffset
      val szb = new Array[Byte](4)
      val got = stream.read(szb, 0, 1)
      if (got < 0) return null
      stream.readFully(szb, 1, 3)
      val blockSize = (szb(0) & 0xff) | ((szb(1) & 0xff) << 8) | ((szb(2) & 0xff) << 16) | ((szb(3) & 0xff) << 24)
      if (blockSize < 32 || blockSize > (64 << 20))
        // implausible framing means the stream itself is desynced — fatal in
        // every stringency (skipping would emit garbage, not drop one record)
        throw new java.io.IOException(
          s"bad BAM record block_size $blockSize at voff $recVoff in ${p.file}")
      val rec = new Array[Byte](blockSize)
      stream.readFully(rec, 0, blockSize)
      try return BamCodec.decodeRecord(rec, blockSize, p.header, mask, tagHolder)
      catch {
        case _: Exception if p.stringency eq Stringency.Permissive =>
          slog.skipSilently() // framing was sane: next record follows
        case e: Exception if p.stringency eq Stringency.Lenient =>
          // a failure confined to the optional-tag region is recoverable:
          // the record re-decodes cleanly without the attribute map.
          // CG-spilled records (kSmN sentinel cigar) are NOT salvageable
          // when the cigar is projected: the authoritative ops live in the
          // broken tag region, so the re-decode's reconstitution attempt
          // throws too and the record is skipped, never emitted with the
          // sentinel as its cigar (the codec decodes tags whenever the raw
          // ops show the sentinel shape and the cigar is requested)
          val salvagedRec =
            if (mask.attrs)
              try BamCodec.decodeRecord(rec, blockSize, p.header,
                mask.copy(attrs = false, tagCols = Vector.empty), tagHolder)
              catch { case _: Exception => null }
            else null
          if (salvagedRec != null) {
            slog.salvage(s"tag region of BAM record at voff $recVoff in ${p.file}: ${e.getMessage}")
            return salvagedRec
          }
          slog.skip(s"undecodable BAM record at voff $recVoff in ${p.file}: ${e.getMessage}")
        case e: Exception =>
          throw new java.io.IOException(
            s"undecodable BAM record at voff $recVoff in ${p.file}", e)
      }
    }
    null // unreachable
  }

  override def get(): InternalRow = currentRow
  override def close(): Unit = {
    slog.summarize()
    stream.close()
  }
}

// ---------------------------------------------------------------------------
// Write path
// ---------------------------------------------------------------------------

object BamSink {
  def apply(o: SinkOptions, schema: StructType): BamSink = {
    val refs = SamHeader.parseRefsOption(o.get("refs").getOrElse(
      throw new IllegalArgumentException("bam sink requires option refs=name:length,…")))
    val header = o.get("headertext") match {
      case Some(t) => SamHeader(t, refs)
      case None => SamHeader(refs)
    }
    val sbiGranularity =
      if (o.flag("writesbi")) o.get("sbigranularity").map(_.toLong).getOrElse(SbiIndex.DefaultGranularity)
      else -1L
    new BamSink(header, schema, sbiGranularity, o.flag("writebai") && o.singleFile, o.level)
  }
}

/** BAM pieces of the shared sink (reference BamSink.java:31-69): BGZF parts,
  * the binary header as head, and the `.sbi`/`.gci`/`.bai` co-writes.
  */
final class BamSink(val header: SamHeader, val schema: StructType, val sbiGranularity: Long,
    val writeBai: Boolean, override val level: Int) extends SinkCodec[BamPartReport] {
  override def shardSuffix: String = ".bam"
  override def bgzf(name: String): Boolean = true
  override def newPart(spec: PartSpec): SinkPart[BamPartReport] = new BamPart(spec, this)
  lazy val headBytes: Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    BamCodec.writeHeader(b, header)
    b.toByteArray
  }
  override def head(reports: Seq[BamPartReport]): Array[Byte] = headBytes

  override def coWrite(fs: org.apache.hadoop.fs.FileSystem, path: String,
      parts: Seq[SinkPartMessage[BamPartReport]], shifts: Seq[Long]): Unit = {
    val reps = parts.map(_.report)
    // the file is coordinate-sorted iff every part is internally sorted and
    // part boundaries are non-decreasing (writers checked every record)
    var prevRef = Int.MinValue; var prevPos = Int.MinValue
    val sorted = reps.forall { m =>
      val fr = GciIndex.orderRef(m.firstRef)
      val ok = m.partSorted && (m.records == 0 || fr > prevRef || (fr == prevRef && m.firstPos >= prevPos))
      if (m.records > 0) { prevRef = GciIndex.orderRef(m.lastRef); prevPos = m.lastPos }
      ok
    }
    if (sbiGranularity > 0) {
      // parts' sampled offsets shift by the bytes that precede them after
      // concat: voff += base << 16; the sentinel marks the terminator start
      val offsets = (reps.zip(shifts).flatMap { case (m, base) => m.sampledVoffs.map(_ + (base << 16)) } :+
        (shifts.last << 16)).toArray
      val last = reps.filter(_.records > 0).lastOption
      SinkFiles.write(fs, new Path(path + ".sbi"))(SbiIndex.write(_, SbiIndex(
        shifts.last + Bgzf.EofBlock.length, reps.map(_.records).sum, sbiGranularity, offsets)))
      SinkFiles.write(fs, new Path(path + ".gci"))(GciIndex.write(_, GciIndex(sorted, sbiGranularity,
        offsets,
        (reps.flatMap(_.sampledRefs) :+ last.fold(-1)(_.lastRef)).toArray,
        (reps.flatMap(_.sampledPos) :+ last.fold(-1)(_.lastPos)).toArray,
        (reps.flatMap(_.sampledSpans) :+ 0).toArray))) // the sentinel window is empty
    }
    // a .bai is only meaningful for coordinate-sorted output
    if (writeBai) {
      if (sorted)
        SinkFiles.write(fs, new Path(path + ".bai"))(graft.index.BaiIndex.write(_,
          graft.index.BaiPartData.merge(reps.map(_.bai), shifts, header.refs.length)))
      else
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"writeBai: output $path is not coordinate-sorted; skipping .bai")
    }
  }
}

/** SBI samples (voffs plus genomic coordinates and max span per window),
  * the sortedness proof, and the `.bai` fragment of one BAM part.
  */
case class BamPartReport(records: Long,
    sampledVoffs: Array[Long], sampledRefs: Array[Int], sampledPos: Array[Int],
    sampledSpans: Array[Int], // max (end−start) per sample window
    partSorted: Boolean, firstRef: Int, firstPos: Int, lastRef: Int, lastPos: Int,
    bai: graft.index.BaiPartData) // null unless writeBai

final class BamPart(spec: PartSpec, sink: BamSink) extends SinkPart[BamPartReport](spec, sink) {
  private val sbiGranularity = sink.sbiGranularity
  private var count = 0L
  // direct InternalRow → wire encoder (BamRowEncoder): no per-record
  // AlignmentRecord/String/Map materialization on the hot path; falls back
  // to the RowToRecord spec path for shapes it can't prove byte-identical
  private val enc = new graft.bam.BamRowEncoder(sink.schema, sink.header)
  // SBI voffs + genomic coordinates of sampled records + sortedness check
  private val sVoffs = Array.newBuilder[Long]
  private val sRefs = Array.newBuilder[Int]
  private val sPos = Array.newBuilder[Int]
  private val sSpans = Array.newBuilder[Int] // max (end−start) per window
  private var curSpan = 0
  private var partSorted = true
  private var firstRef = -2; private var firstPos = -2
  private var prevRef = Int.MinValue; private var prevPos = Int.MinValue

  if (sharded) bgzfOut.write(sink.headBytes)

  private val bai = if (sink.writeBai) new graft.index.BaiBuilder else null

  override def write(row: InternalRow): Unit = {
    val len = enc.encode(row)
    val refId = enc.lastRefId
    val pos0 = enc.lastStart - 1
    if (sbiGranularity > 0) {
      if (count % sbiGranularity == 0) {
        if (count > 0) { sSpans += curSpan; curSpan = 0 } // close previous window
        sVoffs += bgzfOut.virtualOffset; sRefs += refId; sPos += pos0
      }
      val span = math.max(0, enc.lastEnd - enc.lastStart) // == end0 − pos0
      if (span > curSpan) curSpan = span
    }
    if (sbiGranularity > 0 || bai != null) {
      val oRef = GciIndex.orderRef(refId)
      if (oRef < prevRef || (oRef == prevRef && pos0 < prevPos)) partSorted = false
      prevRef = oRef; prevPos = pos0
      if (firstRef == -2) { firstRef = refId; firstPos = pos0 }
    }
    val vBeg = bgzfOut.virtualOffset
    bgzfOut.write(enc.buf, 0, len)
    if (bai != null) bai.add(refId, pos0, math.max(pos0, enc.lastEnd - 1), vBeg, bgzfOut.virtualOffset,
      mapped = (enc.lastFlags & AlignmentRecord.FlagUnmapped) == 0)
    count += 1
  }

  private lazy val voffs = sVoffs.result() // builders are one-shot

  override protected def finish(): BamPartReport = {
    if (count > 0) sSpans += curSpan // close the final (possibly partial) window
    BamPartReport(count, voffs, sRefs.result(), sPos.result(), sSpans.result(),
      partSorted, firstRef, firstPos,
      if (prevRef == Int.MinValue) -2 else prevRef, prevPos,
      if (bai != null) bai.result() else null)
  }

  // a shard's own .sbi: its records end where the trailing EOF block starts
  override protected def shardSidecar(fileBytes: Long): Option[(String, java.io.OutputStream => Unit)] =
    if (sbiGranularity <= 0) None
    else Some(".sbi" -> (SbiIndex.write(_, SbiIndex(fileBytes, count, sbiGranularity,
      voffs :+ ((fileBytes - Bgzf.EofBlock.length) << 16)))))
}

/** InternalRow (in dataframe column order) → AlignmentRecord. */
object RowToRecord {
  case class Idx(readName: Int, flags: Int, contig: Int, start: Int, end: Int, mapq: Int,
                 cigar: Int, mateContig: Int, mateStart: Int, tlen: Int, seq: Int, qual: Int,
                 attributes: Int) extends Serializable

  def indices(schema: StructType): Idx = {
    def i(n: String) = schema.fieldNames.indexOf(n)
    Idx(i("readName"), i("flags"), i("contig"), i("start"), i("end"), i("mapq"), i("cigar"),
      i("mateContig"), i("mateStart"), i("tlen"), i("seq"), i("qual"), i("attributes"))
  }

  def convert(row: InternalRow, x: Idx): AlignmentRecord = {
    def str(i: Int): String = if (i < 0 || row.isNullAt(i)) null else row.getUTF8String(i).toString
    def int(i: Int): Int = if (i < 0 || row.isNullAt(i)) 0 else row.getInt(i)
    val attrs: Map[String, String] =
      if (x.attributes < 0 || row.isNullAt(x.attributes)) Map.empty
      else {
        val m = row.getMap(x.attributes)
        val ks = m.keyArray(); val vs = m.valueArray()
        (0 until m.numElements()).map { i =>
          val v = vs.getUTF8String(i)
          // the permissive table schema (valueContainsNull=true, which keeps
          // the write plan in codegen) no longer guards this path — fail
          // with the field named instead of an opaque NPE in the encoder
          if (v == null) throw new IllegalArgumentException(
            s"null value for attributes key '${ks.getUTF8String(i)}' (SAM tag values cannot be null)")
          ks.getUTF8String(i).toString -> v.toString
        }.toMap
      }
    AlignmentRecord(str(x.readName), int(x.flags), str(x.contig), int(x.start), int(x.end),
      int(x.mapq), str(x.cigar), str(x.mateContig), int(x.mateStart), int(x.tlen),
      str(x.seq), str(x.qual), attrs)
  }
}
