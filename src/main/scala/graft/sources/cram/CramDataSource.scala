package graft.sources.cram

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
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.bam.{AlignmentRecord, RecordToRow, SamHeader}
import graft.cram.{CraiEntry, CraiIndex, CramContainer, CramContainers,
  CramRecordCodec, CramRecordWriter, CramRefSource, Fasta, FastaRefSource, NoRefSource}
import graft.sources.{GenomicInterval, HadoopIO, PartSpec, PushedRegion, SerializableConf, SinkCodec,
  SinkFiles, SinkOptions, SinkPart, SinkPartMessage, SinkTable, Stringency, StringencyLog}

/** `format("cram")` — CRAM scan/sink (reference CramSource.java:57-151,
  * CramSink.java:35-85).
  *
  * Two row models, chosen by the `records` option:
  *   - default: CONTAINER-level — one row per data container (the file
  *     geometry + alignment span the reference's split planner computes,
  *     surfaced as a queryable DataFrame; payload bytes stay opaque).
  *   - `records=true`: RECORD-level — the full [[graft.bam.AlignmentRecord]]
  *     schema shared with the BAM/SAM sources, decoded by the native record
  *     codec ([[graft.cram.CramRecordCodec]]: v2.1/v3.0 entropy codecs,
  *     reference-based sequence reconstruction via the `fasta` option) and
  *     encoded by the reference-free v3 writer profile
  *     ([[graft.cram.CramRecordWriter]], `refs` option like the BAM sink).
  *
  * Both models share the planning/pruning machinery: splits snap to
  * container offsets; interval scans prune whole containers via the `.crai`
  * index when present (CramSource.java:96-120's NavigableSet shape) with a
  * residual coordinate filter for exactness (record-level in records mode).
  */
class CramDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "cram"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.getBoolean("records", false))
      graft.sources.bam.TagCols.schemaWith(
        graft.sources.bam.Opts.normalize(options.asScala.toMap))
    else CramTable.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new CramTable(properties.asScala.toMap)
}

object CramDataSource {
  /** `records` flag from an options/properties map of unknown key casing. */
  def recordsMode(options: Map[String, String]): Boolean =
    options.exists { case (k, v) => k.equalsIgnoreCase("records") && v.toBoolean }
}

/** Opens the `fasta` option's indexed FASTA (`.fai` sidecar required) as a
  * [[graft.cram.CramRefSource]] — shared by the records reader (decode) and
  * records writer (reference-based encode). Caller closes the returned
  * input; region reads are preads, so an executor never holds a genome.
  */
private[cram] object FastaRefs {
  def open(fastaPath: String, conf: org.apache.hadoop.conf.Configuration,
           names: Int => String): (graft.bgzf.SeekableInput, CramRefSource) = {
    val fin = HadoopIO.open(new Path(fastaPath), conf)
    val fai = {
      val fin2 = HadoopIO.open(new Path(fastaPath + ".fai"), conf)
      try {
        val b = new Array[Byte](fin2.size.toInt)
        require(fin2.preadFully(0, b, 0, b.length) == b.length, "truncated .fai")
        Fasta.parseFai(new String(b, "UTF-8"))
      } finally fin2.close()
    }
    (fin, new FastaRefSource(fin, fai, names))
  }
}

object CramTable {
  val schema: StructType = StructType(Seq(
    StructField("offset", LongType, nullable = false),
    StructField("data_length", IntegerType, nullable = false),
    StructField("ref_seq_id", IntegerType, nullable = false),
    StructField("start_pos", IntegerType, nullable = false),
    StructField("span", IntegerType, nullable = false),
    StructField("n_records", IntegerType, nullable = false),
    StructField("n_blocks", IntegerType, nullable = false)))
}

class CramTable(properties: Map[String, String]) extends Table with SupportsRead with SinkTable {
  private val records = CramDataSource.recordsMode(properties)
  override def name(): String = s"cram:${properties.getOrElse("path", "?")}"
  override def schema(): StructType =
    if (records)
      graft.sources.bam.TagCols.schemaWith(graft.sources.bam.Opts.normalize(properties))
    else CramTable.schema
  // ACCEPT_ANY_SCHEMA: the sink takes container SPECS (ref_seq_id, start_pos,
  // span, n_records, data_length) — offset/n_blocks are geometry the writer
  // computes, so the input never carries the full read schema; the writer
  // resolves its required columns by name and fails fast on what's missing
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CramScanBuilder(options.asScala.toMap.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v })
  override protected def sinkName: String = "cram"
  override protected def singleFileExts: Seq[String] = Seq(".cram")
  override protected def sinkCodec(o: SinkOptions, schema: StructType): SinkCodec[_] = CramSink(o, schema)
}

class CramScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  private val records = CramDataSource.recordsMode(options)
  private var required: StructType =
    if (records) graft.sources.bam.TagCols.schemaWith(options) else CramTable.schema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var limit: Int = -1

  /** Unfiltered COUNT(*) answered from container headers: every container
    * header carries its record count (ITF-8 `nRecords`), so the count is an
    * O(containers) header walk — seeks from header to header via each
    * container's length, ZERO block reads, zero record decode (the BAM
    * source's `.sbi`-answered count, re-expressed for CRAM's self-indexing
    * container framing). Complete-or-nothing, and only when the traversal
    * is the unrestricted strict one — intervals / unplacedUnmapped /
    * lenient salvage all change what a scan would count.
    */
  private var pushedCount: Option[Long] = None
  private lazy val walkCount: Option[Long] = CramScanBuilder.containerCount(options)
  private def countable(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    records && agg.groupByExpressions.isEmpty && agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions.head
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar] &&
      pushed.isEmpty && limit < 0 &&
      !options.contains("intervals") && !options.contains("unplacedunmapped") &&
      (graft.sources.Stringency.fromOptions(options) eq graft.sources.Stringency.Strict)
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    countable(agg) && walkCount.isDefined
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val ok = countable(agg) && walkCount.isDefined
    if (ok) pushedCount = walkCount
    ok
  }
  /** Partial limit pushdown: one whole-file partition per file (no `.crai`
    * read, no derive job) and readers stop after n emitted rows; Spark
    * keeps its own global limit on top.
    */
  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def isPartiallyPushed(): Boolean = true
  /** Interval-translatable filters recorded for container pruning; all stay
    * residual so Catalyst re-applies the exact predicate above the scan.
    * Container mode accepts header-field filters (ref_seq_id/start_pos);
    * records mode accepts the genomic contig/start/end shape every record
    * source shares ([[graft.sources.PushedRegion]]), so a plain
    * `.filter($"contig" === c && $"start" <= x)` prunes containers via the
    * `.crai` exactly like an `intervals` option would.
    */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter]): Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters.filter(if (records) PushedRegion.accepts else CramPushedRegion.accepts)
    filters // all residual
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = pushedCount match {
    case Some(total) => new CramCountScan(options.getOrElse("path", "?"), total)
    case None => new CramScan(options, required, pushed, limit)
  }
}

object CramScanBuilder {
  /** Sum of `nRecords` over every container header of every input file
    * (the SAM-header container and EOF container both carry nRecords = 0).
    * O(containers) small reads at planning time; any failure → None → the
    * normal scan plan runs.
    */
  private[cram] def containerCount(options: Map[String, String]): Option[Long] =
    try {
      val conf = SparkSession.active.sessionState.newHadoopConf()
      val pathStr = options.getOrElse("path", return None)
      val files = HadoopIO.listInputFiles(pathStr, conf)
      if (files.isEmpty) return None
      var total = 0L
      files.foreach { f =>
        val in = HadoopIO.open(f, conf)
        try CramContainers.containers(in).foreach(c => total += c.nRecords)
        finally in.close()
      }
      Some(total)
    } catch {
      case _: java.io.IOException => None
      case scala.util.control.NonFatal(_) => None
    }
}

/** COUNT(*) answered from container headers at planning time: one
  * partition, one row, zero block decode.
  */
class CramCountScan(path: String, total: Long) extends Scan with Batch {
  override def readSchema(): StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("count",
      org.apache.spark.sql.types.LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-cram $path PushedAggregates=[COUNT(*)] containerCount=$total"
  override def planInputPartitions(): Array[InputPartition] =
    Array(CramCountPartition(total))
  override def createReaderFactory(): PartitionReaderFactory = new CramCountReaderFactory
}

case class CramCountPartition(total: Long) extends InputPartition

class CramCountReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val total = partition.asInstanceOf[CramCountPartition].total
    new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = if (done) false else { done = true; true }
      override def get(): InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](total))
      override def close(): Unit = ()
    }
  }
}

/** Conservative filter→predicate translation for the container schema (the
  * [[graft.sources.PushedRegion]] pattern): `ref_seq_id = r` plus bounds on
  * `start_pos` prune whole containers. Because the scan's rows ARE container
  * headers, the pushed predicate constrains the header fields themselves —
  * so the pruning test is POINT CONTAINMENT on `start_pos` and plain
  * equality on `ref_seq_id`, NOT the alignment-span overlap used for
  * genomic `intervals` (overlap semantics would wrongly prune a span-0
  * container at `start_pos = lo`, and any negative `ref_seq_id` — unmapped
  * −1, multi-ref −2 — can never pass a coordinate test). Every filter stays
  * residual, so pushdown only prunes, never changes results.
  */
object CramPushedRegion {
  import org.apache.spark.sql.sources._
  def toPredicate(pushed: Array[Filter]): Option[PushedContainerPred] = {
    val ref = pushed.collectFirst { case EqualTo("ref_seq_id", v: Number) => v.intValue() }
    ref.map { r =>
      var lo: Option[Int] = None
      var hi: Option[Int] = None
      // long arithmetic then clamp: `> Int.MaxValue` must not wrap to MinValue
      // (clamping widens the bound — a superset, which pruning requires)
      def tighterLo(b: Long): Unit =
        lo = Some(math.max(lo.getOrElse(Int.MinValue).toLong, math.min(b, Int.MaxValue)).toInt)
      def tighterHi(b: Long): Unit =
        hi = Some(math.min(hi.getOrElse(Int.MaxValue).toLong, math.max(b, Int.MinValue)).toInt)
      pushed.foreach {
        case GreaterThan("start_pos", v: Number) => tighterLo(v.intValue().toLong + 1)
        case GreaterThanOrEqual("start_pos", v: Number) => tighterLo(v.intValue().toLong)
        case LessThan("start_pos", v: Number) => tighterHi(v.intValue().toLong - 1)
        case LessThanOrEqual("start_pos", v: Number) => tighterHi(v.intValue().toLong)
        case _ =>
      }
      PushedContainerPred(r, lo, hi)
    }
  }
  def accepts(f: Filter): Boolean = f match {
    case EqualTo("ref_seq_id", _) => true
    case GreaterThan("start_pos", _) | GreaterThanOrEqual("start_pos", _) => true
    case LessThan("start_pos", _) | LessThanOrEqual("start_pos", _) => true
    case _ => false
  }
}

/** Interval predicate at container granularity: (refSeqId, 1-based range). */
private[cram] final case class RefInterval(refId: Int, start1: Int, end1: Int)

/** Which containers a scan must keep; planning may over-select (the reader
  * re-tests on the parsed header, and for filter-derived predicates Catalyst
  * additionally re-applies the exact residual), but must never under-select.
  */
private[cram] sealed trait ContainerPredicate extends Serializable {
  def keep(c: CramContainer): Boolean
}

/** Genomic `intervals` option: alignment-span OVERLAP semantics, multi-ref
  * (−2) containers kept conservatively (members unjudgeable without decode).
  */
private[cram] final case class IntervalContainerPred(ivs: Seq[RefInterval]) extends ContainerPredicate {
  def keep(c: CramContainer): Boolean =
    c.refSeqId == -2 || ivs.exists(r => c.overlaps(r.refId, r.start1, r.end1))
}

/** Filter-derived pushdown: exact point test on the header fields the
  * pushed predicate constrains — `ref_seq_id == refId` (negative ids
  * included) and `start_pos` within the optional bounds. No span, no −2
  * special case: a multi-ref container's header field is −2 and simply
  * doesn't equal a non-negative pushed value.
  */
private[cram] final case class PushedContainerPred(refId: Int, lo: Option[Int], hi: Option[Int])
    extends ContainerPredicate {
  def keep(c: CramContainer): Boolean =
    c.refSeqId == refId && lo.forall(c.startPos >= _) && hi.forall(c.startPos <= _)
}

/** Records-mode container pruning for genomic `intervals`: alignment-span
  * overlap like [[IntervalContainerPred]] (the record-level residual filter
  * restores exactness), with unmapped (−1) containers additionally kept when
  * the traversal asks for `unplacedUnmapped`. The refSeqIds come from the
  * FILE's own header dictionary (resolved at planning), not a `refs` option.
  */
private[cram] final case class RecordsContainerPred(ivs: Seq[RefInterval], keepUnmapped: Boolean)
    extends ContainerPredicate {
  def keep(c: CramContainer): Boolean =
    c.refSeqId == -2 || (keepUnmapped && c.refSeqId == -1) ||
      ivs.exists(r => c.overlaps(r.refId, r.start1, r.end1))
}

class CramScan(options: Map[String, String], required: StructType,
               pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
               limitHint: Int = -1)
    extends Scan with Batch {
  private val records = CramDataSource.recordsMode(options)
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-cram ${options.getOrElse("path", "")}" +
      (if (records) " records" else "") +
      options.get("intervals").map(i => s" intervals=$i").getOrElse("") +
      (if (pushed.nonEmpty) s" pushed=[${pushed.mkString(",")}]" else "") +
      (if (limitHint >= 0) s" limit=$limitHint" else "") +
      graft.sources.bam.TagCols.attrKeys(options)
        .map(k => s" attrKeys=[${k.mkString(",")}]").getOrElse("")

  private def parsedIntervals: Option[Seq[GenomicInterval]] =
    options.get("intervals").map(s => GenomicInterval.optimize(GenomicInterval.parseList(s)))

  /** Records-mode effective intervals: the explicit option, else derived
    * from pushed contig/start filters (filter-derived pushdown — the same
    * only-prunes contract as BAM: every filter stays residual).
    */
  private def recordIntervals: Option[Seq[GenomicInterval]] =
    if (!records) None
    else parsedIntervals.orElse(PushedRegion.toIntervals(pushed))
  private def unplacedUnmapped: Boolean =
    options.get("unplacedunmapped").exists(_.toBoolean)

  /** contig-name intervals → refSeqId intervals via the `refs` option
    * (name:length,… — same format the BAM sink takes); bare numeric contigs
    * are accepted as refSeqIds directly.
    */
  private def containerPred: Option[ContainerPredicate] = options.get("intervals").map { s =>
    val names: Map[String, Int] = options.get("refs")
      .map(r => SamHeader.parseRefsOption(r).zipWithIndex.map { case (ref, i) => ref.name -> i }.toMap)
      .getOrElse(Map.empty)
    IntervalContainerPred(
      GenomicInterval.optimize(GenomicInterval.parseList(s)).flatMap { iv =>
        names.get(iv.contig).orElse(iv.contig.toIntOption)
          .map(id => RefInterval(id, iv.start, iv.end))
      })
  }.orElse(CramPushedRegion.toPredicate(pushed)) // filter-derived pushdown

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val pathStr = options.getOrElse("path", throw new IllegalArgumentException("cram source requires a path"))
    val basePred = if (records) None else containerPred
    val recIvs = recordIntervals
    val keepUnm = unplacedUnmapped
    val filesWithLen = HadoopIO.listInputFilesWithLen(pathStr, conf)
    val files = filesWithLen.map(_._1)
    val splitSize = options.get("splitsize").map(_.toLong).getOrElse(
      graft.sources.SplitSizing.derive(filesWithLen.iterator.map(_._2).sum,
        SparkSession.active.sparkContext.defaultParallelism))

    def planFile(file: Path): Seq[InputPartition] = {
      val in = HadoopIO.open(file, conf)
      try {
        val (major, _) = CramContainers.readFileDefinition(in)
        val size = in.size
        // records mode resolves interval contig names against the FILE's own
        // header dictionary (one O(1) container read per file at planning;
        // container mode keeps the refs-option/numeric resolution above)
        val pred: Option[ContainerPredicate] = recIvs match {
          case None => basePred
          case Some(ivs) =>
            val hdr = CramRecordCodec.readSamHeader(in)
            Some(RecordsContainerPred(
              ivs.flatMap { iv =>
                val id = hdr.refId(iv.contig)
                if (id >= 0) Some(RefInterval(id, iv.start, iv.end)) else None
              }, keepUnm))
        }
        val fs = file.getFileSystem(conf)
        // locality hints: block hosts of each partition's byte range (one
        // block-list fetch per file, shared by every partition)
        val hostsOf = HadoopIO.blockHostsFor(fs, file, size)
        val craiPath = new Path(file.toString + ".crai")
        if (limitHint >= 0 && pred.isEmpty) {
          // limit fast path: one whole-file range partition, no `.crai`
          // read, no derive job — readers stop after `limitHint` rows
          val start0 = CramContainers.FileDefinitionLength.toLong
          Seq(CramRangePartition(file.toString, start0, size, pred, hostsOf(start0, size)))
        } else if (fs.exists(craiPath) &&
                   fs.getFileStatus(craiPath).getModificationTime >=
                     fs.getFileStatus(file).getModificationTime) {
          // index route: container offsets come from `.crai` — O(index)
          // driver I/O, no header walk (the shape that matters at 100 TB).
          // Stale-guard: a .crai older than its CRAM (in-place rewrite
          // without re-indexing) must not steer container seeks — fall
          // through to the container-walk route instead
          val cin = HadoopIO.open(craiPath, conf)
          val crai = try CraiIndex.read(cin) finally cin.close()
          val all = crai.entries.map(_.containerOffset).distinct.sorted
          val want: Set[Long] = pred match {
            case None => all.toSet
            case Some(IntervalContainerPred(rs)) =>
              rs.flatMap(r => crai.containerOffsets(r.refId, r.start1, r.end1)).toSet
            case Some(RecordsContainerPred(rs, keepUnmapped)) =>
              // same slice-overlap selection; unmapped (−1) entries added
              // when the traversal wants the unplaced tail (−2 is already
              // kept by containerOffsets' multi-ref conservatism)
              rs.flatMap(r => crai.containerOffsets(r.refId, r.start1, r.end1)).toSet ++
                (if (keepUnmapped)
                  crai.entries.filter(e => e.seqId == -1 || e.seqId == -2)
                    .map(_.containerOffset).toSet
                 else Set.empty[Long])
            case Some(PushedContainerPred(refId, _, _)) if refId >= 0 =>
              // `.crai` entries record SLICE coordinates, not the header
              // start_pos the pushed predicate constrains, so prune on
              // seqId equality only (−2 kept defensively — superset) and
              // leave the start_pos bounds to the reader's header re-test
              crai.entries.filter(e => e.seqId == refId || e.seqId == -2)
                .map(_.containerOffset).toSet
            case Some(PushedContainerPred(_, _, _)) =>
              // negative pushed ids (unmapped −1, multi-ref −2): index
              // conventions vary (multi-ref containers may be indexed as
              // one entry PER reference with real seqIds; unmapped entries
              // may be absent), so seqId pruning could under-select — scan
              // all indexed containers and let the reader's header re-test
              // apply the predicate exactly
              all.toSet
          }
          // (offset, estimated container bytes) of the containers to scan
          val sizes = all.zipAll(all.drop(1).map(Some(_)), 0L, None).map {
            case (o, Some(next)) => (o, next - o)
            case (o, None) => (o, size - o) // tail estimate incl. EOF container
          }
          val selected = sizes.filter { case (o, _) => want.contains(o) }
          // tile into partitions of ~splitSize, never splitting a container
          val parts = Seq.newBuilder[InputPartition]
          val cur = Seq.newBuilder[Long]
          var bytes = 0L
          var n = 0
          var groupEnd = 0L
          def flush(): Unit = {
            val offs = cur.result().toArray
            parts += CramInputPartition(file.toString, offs, pred,
              hostsOf(offs.head, groupEnd))
            cur.clear(); bytes = 0L; n = 0
          }
          selected.foreach { case (o, len) =>
            if (n > 0 && bytes + len > splitSize) flush()
            cur += o; bytes += len; n += 1; groupEnd = o + len
          }
          if (n > 0) flush()
          parts.result()
        } else {
          // no index: plain byte-range splits — container discovery happens
          // EXECUTOR-side (each reader snaps its range start to the first
          // CRC-confirmed container boundary, CramContainers.findBoundary).
          // The driver does O(1) I/O per file: file definition + size. The
          // reference walks every container header on the driver here
          // (CramSource.java:121-151) — O(file bytes) of driver I/O before
          // the first task, a scale-killer this path must not inherit.
          // Predicate pruning runs in the reader (it sees each header
          // anyway); each container belongs to the split containing its
          // START offset.
          // first-contact derivation: run the boundary snap + header walk
          // ONCE as a tiny distributed job, write the .crai back, re-plan
          // O(index)
          if (options.get("deriveindex").exists(_.toBoolean) &&
              graft.sources.DeriveIndex.deriveCramCrai(
                file.toString, size, splitSize, new graft.sources.SerializableConf(conf)))
            return planFile(file) // .crai now exists → indexed route
          val start0 = CramContainers.FileDefinitionLength.toLong
          if (major < 3)
            // CRAM 2.x container headers carry no CRC32, so a mid-range
            // boundary snap can't be validated — one split per file (the
            // gzip-fallback convention; 2.x files wanting parallel scans
            // should carry a `.crai` or be rewritten as v3)
            Seq(CramRangePartition(file.toString, start0, size, pred, hostsOf(start0, size)))
          else Iterator.iterate(start0)(_ + splitSize).takeWhile(_ < size).map { s =>
            val e = math.min(s + splitSize, size)
            CramRangePartition(file.toString, s, e, pred, hostsOf(s, e))
              : InputPartition
          }.toSeq
        }
      } finally in.close()
    }

    // per-file container/index I/O fanned out on the shared bounded pool
    HadoopIO.planFiles(files)(planFile).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConf(SparkSession.active.sessionState.newHadoopConf())
    val req = required
    val mode = graft.sources.Stringency.fromOptions(options)
    val lim = limitHint
    def capped(r: PartitionReader[InternalRow]): PartitionReader[InternalRow] =
      if (lim >= 0) new graft.sources.LimitingReader(r, lim) else r
    if (records) {
      val ivs = recordIntervals
      val keepUnm = unplacedUnmapped
      val fasta = options.get("fasta")
      val ak = graft.sources.bam.TagCols.attrKeys(options)
      (partition: InputPartition) => partition match {
        case p: CramInputPartition =>
          capped(new CramRecordsPartitionReader(p.file, Left(p.offsets), p.pred, ivs, keepUnm, fasta, conf, req, mode, ak))
        case p: CramRangePartition =>
          capped(new CramRecordsPartitionReader(p.file, Right((p.start, p.end)), p.pred, ivs, keepUnm, fasta, conf, req, mode, ak))
        case other => throw new IllegalArgumentException(s"unexpected partition $other")
      }
    } else (partition: InputPartition) => partition match {
      case p: CramInputPartition => capped(new CramPartitionReader(p, conf, req, mode))
      case p: CramRangePartition => capped(new CramRangePartitionReader(p, conf, req, mode))
      case other => throw new IllegalArgumentException(s"unexpected partition $other")
    }
  }
}

case class CramInputPartition(file: String, offsets: Array[Long],
                              pred: Option[ContainerPredicate],
                              hosts: Array[String] = Array.empty) extends InputPartition {
  override def preferredLocations(): Array[String] = hosts
}

/** Unindexed route: a raw byte range; the READER discovers the first
  * container boundary at-or-after `start` and owns every container whose
  * start offset falls in `[start, end)`.
  */
case class CramRangePartition(file: String, start: Long, end: Long,
                              pred: Option[ContainerPredicate],
                              hosts: Array[String] = Array.empty) extends InputPartition {
  override def preferredLocations(): Array[String] = hosts
}

private[cram] object ContainerRow {
  def getters(required: StructType): Array[CramContainer => Any] =
    required.fieldNames.map[CramContainer => Any] {
      case "offset" => c => c.offset
      case "data_length" => c => c.dataLength
      case "ref_seq_id" => c => c.refSeqId
      case "start_pos" => c => c.startPos
      case "span" => c => c.alignmentSpan
      case "n_records" => c => c.nRecords
      case "n_blocks" => c => c.nBlocks
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }

  def toRow(c: CramContainer, getters: Array[CramContainer => Any]): InternalRow = {
    val vals = new Array[Any](getters.length)
    var j = 0
    while (j < vals.length) { vals(j) = getters(j)(c); j += 1 }
    new GenericInternalRow(vals)
  }
}

class CramPartitionReader(p: CramInputPartition, conf: SerializableConf, required: StructType,
                          mode: graft.sources.Stringency = graft.sources.Stringency.Strict)
    extends PartitionReader[InternalRow] {
  import graft.sources.Stringency
  private val input = HadoopIO.open(new Path(p.file), conf.conf)
  private val size = input.size
  private val (major, _) = CramContainers.readFileDefinition(input)
  private var i = 0
  private var currentRow: InternalRow = _
  private val getters = ContainerRow.getters(required)
  private val slog = new graft.sources.StringencyLog(s"cram ${p.file}")

  /** residual exactness filter — `.crai` pruning may overclaim */
  private def keep(c: CramContainer): Boolean = !c.isEof && p.pred.forall(_.keep(c))

  override def next(): Boolean = {
    while (i < p.offsets.length) {
      val off = p.offsets(i)
      i += 1
      CramContainers.readHeaderOption(input, off, size, major) match {
        case Some(c) =>
          if (keep(c)) {
            currentRow = ContainerRow.toRow(c, getters)
            return true
          }
        case None => mode match {
          // `.crai`-listed offsets are independent: the malformed container
          // is droppable without losing the rest of the partition
          case Stringency.Strict =>
            throw new java.io.IOException(
              s"malformed CRAM container header at $off in ${p.file}")
          case Stringency.Lenient => slog.skip(s"container at $off in ${p.file}")
          case Stringency.Permissive => slog.skipSilently()
        }
      }
    }
    false
  }
  override def get(): InternalRow = currentRow
  override def close(): Unit = { slog.summarize(); input.close() }
}

/** Unindexed route: snap the range start to the first CRC-confirmed
  * container boundary (executor-side discovery — the driver planned a bare
  * byte range), then follow the container chain while starts stay inside
  * the range. A container straddling `end` belongs to THIS split; the next
  * split's own boundary search lands past it — exactly-once ownership with
  * zero coordination.
  */
class CramRangePartitionReader(p: CramRangePartition, conf: SerializableConf, required: StructType,
                               mode: graft.sources.Stringency = graft.sources.Stringency.Strict)
    extends PartitionReader[InternalRow] {
  import graft.sources.Stringency
  private val input = HadoopIO.open(new Path(p.file), conf.conf)
  private val size = input.size
  private val (major, _) = CramContainers.readFileDefinition(input)
  private var off: Long =
    if (p.start <= CramContainers.FileDefinitionLength)
      CramContainers.FileDefinitionLength.toLong
    else CramContainers.findBoundary(input, p.start, size)
  private var currentRow: InternalRow = _
  private val getters = ContainerRow.getters(required)
  private val slog = new graft.sources.StringencyLog(s"cram ${p.file}")

  private def keep(c: CramContainer): Boolean = !c.isEof && p.pred.forall(_.keep(c))

  override def next(): Boolean = {
    while (off < p.end && off < size) {
      CramContainers.readHeaderOption(input, off, size, major) match {
        case Some(c) =>
          off += c.totalLength
          if (keep(c)) {
            currentRow = ContainerRow.toRow(c, getters)
            return true
          }
        case None => mode match {
          case Stringency.Strict =>
            throw new java.io.IOException(
              s"malformed CRAM container header at $off in ${p.file}")
          case _ =>
            // LENIENT/PERMISSIVE salvage: re-sync to the next CRC-confirmed
            // boundary — the CRC requirement means a skip can never emit
            // garbage rows, only drop the corrupt container (the Stringency
            // contract's framing rule is honored because re-sync is
            // validated, not guessed)
            val resync = CramContainers.findBoundary(input, off + 1, size)
            if (mode == Stringency.Lenient)
              slog.skip(s"container at $off in ${p.file} (re-synced to $resync)")
            else slog.skipSilently()
            off = resync
        }
      }
    }
    false
  }
  override def get(): InternalRow = currentRow
  override def close(): Unit = { slog.summarize(); input.close() }
}

/** Records-mode reader for BOTH planning routes: `Left(offsets)` is the
  * `.crai`-indexed container list, `Right((start, end))` the unindexed byte
  * range (snap to the first CRC-confirmed boundary, walk the chain — the
  * same exactly-once ownership as [[CramRangePartitionReader]]). Each
  * selected container is decoded by the native record codec; the `intervals`
  * option is re-applied per RECORD for exactness (container pruning may
  * overclaim), mirroring the BAM reader's residual filter.
  *
  * Per-partition setup cost is O(1): file definition + header container +
  * (for `fasta`) the `.fai`; reference bases are pread per slice span, so an
  * executor never holds a whole genome (reference CramSource.java:62-66
  * hands htsjdk a lazy ReferenceSource — same access pattern).
  */
class CramRecordsPartitionReader(
    file: String, plan: Either[Array[Long], (Long, Long)],
    pred: Option[ContainerPredicate], intervals: Option[Seq[GenomicInterval]],
    unplacedUnmapped: Boolean, fastaPath: Option[String],
    conf: SerializableConf, required: StructType, mode: Stringency,
    attrKeys: Option[IndexedSeq[String]] = None)
    extends PartitionReader[InternalRow] {

  private val input = HadoopIO.open(new Path(file), conf.conf)
  private val size = input.size
  private val (major, _) = CramContainers.readFileDefinition(input)
  private val header = CramRecordCodec.readSamHeader(input)
  private val headerEnd: Long = {
    val hc = CramContainers.readContainerHeader(
      input, CramContainers.FileDefinitionLength.toLong, size, major)
    hc.offset + hc.totalLength
  }
  private val fastaOpened = fastaPath.map(p => FastaRefs.open(p, conf.conf, header.refName))
  private val fastaIn = fastaOpened.map(_._1)
  private val refSource: CramRefSource = fastaOpened.map(_._2).getOrElse(NoRefSource)
  // record-level field projection: pruned qualities/sequence/attributes are
  // not just left unparsed — blocks exclusively backing them are never
  // decompressed, and with seq pruned no reference window is fetched at all
  // (cigar/end always decode: the features that carry them are never gated).
  // tag_XX columns (tagColumns option) decode ONLY those tags — a
  // requested tag's block inflates, every other tag block stays compressed.
  // key-masked attributes map (attrKeys): wanted tags decode (their blocks
  // inflate), everything else is skipped/gated exactly like the tagColumns
  // path; the row layer filters the decoded superset back down to attrKeys
  private val fieldMask = {
    val m = graft.bam.BamFieldMask.fromColumns(required.fieldNames.toSet)
    if (m.attrs && attrKeys.isDefined) m.copy(attrKeys = attrKeys) else m
  }
  private val tagHolder = new Array[String](fieldMask.tagCols.length)
  private val getters =
    RecordToRow.getters(required, fieldMask.tagCols, tagHolder, fieldMask.attrKeys.map(_.toSet))
  private val slog = new StringencyLog(s"cram ${file}")

  private var idxI = 0 // Left route: next index into the offsets array
  private var off: Long = plan match { // Right route: walking offset
    case Right((start, _)) =>
      if (start <= CramContainers.FileDefinitionLength) headerEnd
      else CramContainers.findBoundary(input, start, size)
    case _ => 0L
  }
  private var recIt: Iterator[AlignmentRecord] = Iterator.empty
  private var currentRow: InternalRow = _

  private def keepC(c: CramContainer): Boolean =
    !c.isEof && c.offset >= headerEnd && pred.forall(_.keep(c))

  private def keepR(r: AlignmentRecord): Boolean = intervals match {
    case None => true
    case Some(ivs) =>
      val unplaced = (r.flags & AlignmentRecord.FlagUnmapped) != 0 && r.start == 0
      (unplacedUnmapped && unplaced) ||
        (r.contig != null && ivs.exists(_.overlaps(r.contig, r.start, math.max(r.end, r.start))))
  }

  /** Decode `c`'s payload into `recIt`; false = container skipped (lenient/
    * permissive salvage — the NEXT container is independent, so a payload
    * failure drops only this one).
    */
  private def decodeInto(c: CramContainer): Boolean =
    try {
      recIt = CramRecordCodec.decodeContainer(
        CramRecordCodec.containerPayload(input, c), major, header, refSource, fieldMask)
      true
    } catch {
      case e: Exception if mode != Stringency.Strict =>
        if (mode == Stringency.Lenient)
          slog.skip(s"container payload at ${c.offset} in $file: ${e.getMessage}")
        else slog.skipSilently()
        false
    }

  /** Advance to the next selected+decoded container; false when exhausted. */
  private def advance(): Boolean = plan match {
    case Left(offsets) =>
      while (idxI < offsets.length) {
        val o = offsets(idxI)
        idxI += 1
        CramContainers.readHeaderOption(input, o, size, major) match {
          case Some(c) =>
            if (keepC(c) && decodeInto(c)) return true
          case None => mode match {
            case Stringency.Strict =>
              throw new java.io.IOException(
                s"malformed CRAM container header at $o in $file")
            case Stringency.Lenient => slog.skip(s"container at $o in $file")
            case Stringency.Permissive => slog.skipSilently()
          }
        }
      }
      false
    case Right((_, end)) =>
      while (off < end && off < size) {
        CramContainers.readHeaderOption(input, off, size, major) match {
          case Some(c) =>
            off += c.totalLength
            if (keepC(c) && decodeInto(c)) return true
          case None => mode match {
            case Stringency.Strict =>
              throw new java.io.IOException(
                s"malformed CRAM container header at $off in $file")
            case _ =>
              val resync = CramContainers.findBoundary(input, off + 1, size)
              if (mode == Stringency.Lenient)
                slog.skip(s"container at $off in $file (re-synced to $resync)")
              else slog.skipSilently()
              off = resync
          }
        }
      }
      false
  }

  override def next(): Boolean = {
    while (true) {
      while (recIt.hasNext) {
        val r = recIt.next()
        if (keepR(r)) {
          if (tagHolder.length > 0) {
            var i = 0
            while (i < tagHolder.length) {
              tagHolder(i) =
                if (r.attributes == null) null
                else r.attributes.getOrElse(fieldMask.tagCols(i), null)
              i += 1
            }
          }
          currentRow = RecordToRow.toRow(r, getters); return true
        }
      }
      if (!advance()) return false
    }
    false
  }
  override def get(): InternalRow = currentRow
  override def close(): Unit = {
    slog.summarize()
    fastaIn.foreach(_.close())
    input.close()
  }
}

// ---- write path -----------------------------------------------------------

object CramSink {
  def apply(o: SinkOptions, schema: StructType): CramSink = {
    val records = o.flag("records")
    // records mode co-writes the `.crai` by DEFAULT (option still wins both
    // ways): the index is one text line per slice, and its presence turns
    // every downstream scan's planning into O(index) with zero executor-side
    // boundary discovery — the shape that matters at 100 TB. Container-spec
    // mode keeps the opt-in default (its zero-payload containers produce no
    // slice entries, and an empty `.crai` would plan an empty scan).
    val writeCrai = o.get("writecrai").map(_.toBoolean).getOrElse(records)
    // records mode: rows are AlignmentRecords, encoded by the v3 record
    // writer; the header dictionary comes from `refs` like the BAM sink
    val recordsHeader: Option[SamHeader] =
      if (records) {
        val refs = SamHeader.parseRefsOption(o.get("refs").getOrElse(
          throw new IllegalArgumentException(
            "cram records sink requires refs (name:length,…)")))
        Some(o.get("headertext") match {
          case Some(t) => SamHeader(t, refs)
          case None => SamHeader(refs)
        })
      } else None
    val perContainer = o.get("recordspercontainer").map(_.toInt).getOrElse(10000)
    // reference-based encode: a fasta option on a records write switches
    // match positions to implicit/X-substitution form (CramRecordWriter)
    val fasta = if (recordsHeader.isDefined) o.get("fasta") else None
    // CRAM version: 3.0 (default) or 3.1 (record blocks upgrade to rANS
    // Nx16, file definition minor = 1). codec=arith (3.1 only) swaps the
    // record-block entropy stage for the adaptive arithmetic coder
    // (CRAM method 6).
    val v31 = o.get("version") match {
      case None | Some("3.0") => false
      case Some("3.1") => true
      case Some(v) => throw new IllegalArgumentException(
        s"cram sink version must be 3.0 or 3.1, got $v")
    }
    val wire = o.get("codec") match {
      case None | Some("rans") => if (v31) 1 else 0
      case Some("arith") =>
        if (!v31) throw new IllegalArgumentException(
          "cram sink codec=arith requires version=3.1")
        2
      case Some(c) => throw new IllegalArgumentException(
        s"cram sink codec must be rans or arith, got $c")
    }
    // names=tok3 / quals=fqz (3.1 only): RN blocks through the CRAM method-8
    // name tokenizer, QS blocks through the method-7 quality codec; the
    // defaults keep gzip'd RN and the wire's rANS QS, which every reader decodes
    def v31Only(key: String, alt: String): Boolean = o.get(key) match {
      case None | Some("default") => false
      case Some(`alt`) =>
        if (!v31) throw new IllegalArgumentException(s"cram sink $key=$alt requires version=3.1")
        true
      case Some(m) => throw new IllegalArgumentException(
        s"cram sink $key must be default or $alt, got $m")
    }
    val tok3 = v31Only("names", "tok3")
    val fqz = v31Only("quals", "fqz")
    // compressionLevel: gzip level of the series blocks (BGZF-sink parity)
    new CramSink(schema, writeCrai, recordsHeader, perContainer, fasta, wire, tok3, fqz, o.level)
  }
}

/** CRAM pieces of the shared sink (reference CramSink.java:35-85): plain
  * container parts, the file definition (+ SAM-header container in records
  * mode) as head, the EOF container as tail, and the `.crai` co-write —
  * per-part entries rebased by the bytes preceding each part, or a
  * per-shard `.crai` with absolute offsets.
  */
final class CramSink(val schema: StructType, val writeCrai: Boolean,
    recordsHeader: Option[SamHeader], val perContainer: Int, val fastaPath: Option[String],
    val wire: Int, val tok3Names: Boolean, val fqzQuals: Boolean, override val level: Int)
    extends SinkCodec[Seq[CraiEntry]] {
  override def shardSuffix: String = ".cram"
  override def newPart(spec: PartSpec): SinkPart[Seq[CraiEntry]] = recordsHeader match {
    case Some(h) =>
      require(perContainer > 0, s"recordsPerContainer must be positive, got $perContainer")
      // ACCEPT_ANY_SCHEMA skips Spark's write-side validation; fail fast on a
      // record column bound to the wrong type (a silent getInt over a bigint
      // field would truncate into the container payload)
      AlignmentRecord.schema.fields.foreach { f =>
        val i = schema.fieldNames.indexOf(f.name)
        // catalogString comparison ignores nullability flags (valueContainsNull)
        // while still catching silent-truncation types (bigint vs int)
        require(i < 0 || schema.fields(i).dataType.catalogString == f.dataType.catalogString,
          s"cram records sink column ${f.name} must be ${f.dataType.simpleString}, " +
            s"got ${schema.fields(i).dataType.simpleString}")
      }
      new CramRecordsPart(spec, this, h)
    case None => new CramSpecPart(spec, this)
  }
  lazy val headBytes: Array[Byte] = {
    val fd = CramContainers.encodeFileDefinition(minor = if (wire > 0) 1 else 0)
    recordsHeader.fold(fd)(fd ++ CramRecordWriter.encodeHeaderContainer(_))
  }
  override def head(reports: Seq[Seq[CraiEntry]]): Array[Byte] = headBytes
  override val tail: Array[Byte] = CramContainers.encodeEofContainer()

  override def coWrite(fs: org.apache.hadoop.fs.FileSystem, path: String,
      parts: Seq[SinkPartMessage[Seq[CraiEntry]]], shifts: Seq[Long]): Unit =
    if (writeCrai) {
      val rebased = parts.zip(shifts).flatMap { case (m, base) =>
        m.report.map(e => e.copy(containerOffset = e.containerOffset + base))
      }
      SinkFiles.write(fs, new Path(path + ".crai"))(CraiIndex.write(_, CraiIndex(rebased)))
    }
}

/** A CRAM part: containers written through [[add]], offsets counted from the
  * part start (a shard's head included) for its `.crai` entries.
  */
abstract class CramPart(spec: PartSpec, sink: CramSink, shardHead: Array[Byte])
    extends SinkPart[Seq[CraiEntry]](spec, sink) {
  private var written = 0L
  private val entries = Seq.newBuilder[CraiEntry]
  if (sharded) { out.write(shardHead); written += shardHead.length }

  protected final def add(container: Array[Byte], entry: CraiEntry): Unit = {
    out.write(container)
    entries += entry.copy(containerOffset = written)
    written += container.length
  }
  /** Writes the containers the part still buffers. */
  protected def flush(): Unit = ()
  private lazy val all = entries.result()
  override protected final def finish(): Seq[CraiEntry] = {
    flush()
    if (sharded) out.write(sink.tail)
    all
  }
  override protected def shardSidecar(fileBytes: Long): Option[(String, java.io.OutputStream => Unit)] =
    if (sink.writeCrai) Some(".crai" -> (CraiIndex.write(_, CraiIndex(all)))) else None
}

/** Container-spec writer (the default row model): rows are ref_seq_id,
  * start_pos, span, n_records, data_length with opaque zero payloads —
  * geometry without records; [[CramRecordsPart]] is the record path.
  */
final class CramSpecPart(spec: PartSpec, sink: CramSink)
    extends CramPart(spec, sink, CramContainers.encodeFileDefinition()) {
  private val schema = sink.schema
  private def idx(n: String): Int = {
    val i = schema.fieldNames.indexOf(n)
    require(i >= 0, s"cram sink requires column $n")
    // ACCEPT_ANY_SCHEMA skips Spark's write-side validation, so enforce the
    // type here: reading an int from a non-int UnsafeRow field would
    // silently truncate (e.g. bigint 2^32 -> 0) into the container header
    require(schema.fields(i).dataType == org.apache.spark.sql.types.IntegerType,
      s"cram sink column $n must be INT, got ${schema.fields(i).dataType.simpleString}")
    i
  }
  private val iRef = idx("ref_seq_id")
  private val iStart = idx("start_pos")
  private val iSpan = idx("span")
  private val iRecs = idx("n_records")
  private val iLen = idx("data_length")

  override def write(row: InternalRow): Unit = {
    val dataLength = row.getInt(iLen)
    require(dataLength >= 0, s"negative data_length $dataLength")
    val refSeqId = row.getInt(iRef)
    val startPos = row.getInt(iStart)
    val span = row.getInt(iSpan)
    add(CramContainers.encodeContainer(dataLength, refSeqId, startPos, span, row.getInt(iRecs)),
      CraiEntry(refSeqId, startPos, span, 0L, 0, dataLength))
  }
}

/** Records-mode writer: rows are [[graft.bam.AlignmentRecord]]s, buffered
  * into containers of `perContainer` records and encoded by the v3 record
  * writer (one slice per container, the htsjdk-default slice size). The
  * slice record counters restart per part — headerless parts can't know
  * their predecessors' counts before the concat — which no CRAM reader
  * needs for correctness (counters exist for `.crai`-less seeking hints).
  */
final class CramRecordsPart(spec: PartSpec, sink: CramSink, header: SamHeader)
    extends CramPart(spec, sink, sink.headBytes) {
  private val idx = graft.sources.bam.RowToRecord.indices(sink.schema)
  private val buf = scala.collection.mutable.ArrayBuffer.empty[AlignmentRecord]
  private var recordCounter = 0L
  // reference-based encode when the write carries a fasta option
  private val fastaOpened = sink.fastaPath.map(p => FastaRefs.open(p, spec.conf.conf, header.refName))
  private val refSource: CramRefSource = fastaOpened.map(_._2).getOrElse(NoRefSource)

  override protected def flush(): Unit = if (buf.nonEmpty) {
    val enc = CramRecordWriter.encodeContainer(buf.toIndexedSeq, header, recordCounter, refSource,
      sink.wire, sink.tok3Names, sink.fqzQuals, sink.level)
    add(enc.bytes, enc.craiEntry)
    recordCounter += buf.length
    buf.clear()
  }

  override def write(row: InternalRow): Unit = {
    buf += graft.sources.bam.RowToRecord.convert(row, idx)
    if (buf.length >= sink.perContainer) flush()
  }
  override def close(): Unit = fastaOpened.foreach(_._1.close())
}

/** Test/profiling access to [[FastaRefs]] (package-private). */
object FastaRefsAccess {
  def open(fastaPath: String, conf: org.apache.hadoop.conf.Configuration,
           names: Int => String): (graft.bgzf.SeekableInput, graft.cram.CramRefSource) =
    FastaRefs.open(fastaPath, conf, names)
}
