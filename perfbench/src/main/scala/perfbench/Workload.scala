package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.api.{Reads, Variants}

/** The three workloads. Each rotation issues one operation per format
  * (BAM, VCF, CRAM), so every format gets the same share of a run.
  */
abstract class Workload(val spark: SparkSession, val a: Main.Args, val run: Run) {
  /** Input sizes, fixed across seeds. */
  def sizes: Sizes = Main.Sizes
  val formats: Seq[String] = Seq("bam", "vcf", "cram")
  val fx: File = new File(a.work, "fx")
  fx.mkdirs()
  val bam: String = new File(fx, "reads.bam").getPath
  val vcf: String = new File(fx, "calls.vcf.bgz").getPath
  val cram: String = new File(fx, "reads.cram").getPath
  var fasta: String = _
  /** The CRAM file gets its own reads (fewer: its decode is slower). */
  val cramSeed: Long = a.seed ^ 0x5a5a5a5aL

  def path(fmt: String): String = fmt match { case "bam" => bam; case "vcf" => vcf; case "cram" => cram }
  def rows(fmt: String): Long = fmt match {
    case "bam" => sizes.reads; case "vcf" => sizes.variants; case "cram" => sizes.cramReads
  }
  /** The sidecars every file this workload writes must carry. */
  def sidecars(fmt: String): Seq[String] = fmt match {
    case "bam" => Seq(".bai"); case "vcf" => Seq(".tbi"); case "cram" => Seq(".crai")
  }

  def generated(fmt: String): DataFrame = fmt match {
    case "bam" => Gen.readsDf(spark, a.seed, sizes.reads)
    case "vcf" => Gen.variantsDf(spark, a.seed, sizes.variants, sizes.samples)
    case "cram" => Gen.readsDf(spark, cramSeed, sizes.cramReads)
  }

  /** Writes `df` in `fmt` as one file through the DSv2 sink, at the default
    * deflate level, with the sidecar index when `indexed`.
    */
  def write(fmt: String, df: DataFrame, target: String, indexed: Boolean, sbi: Boolean = false): Unit = {
    val w = df.write.mode("overwrite")
    fmt match {
      case "bam" => w.format("bam").option("refs", Gen.Refs).option("writeBai", indexed)
        .option("writeSbi", sbi).save(target)
      case "vcf" => w.format("vcf").option("writeTbi", indexed).save(target)
      case "cram" => w.format("cram").option("records", "true").option("refs", Gen.Refs)
        .option("fasta", fasta).option("writeCrai", indexed).save(target)
    }
  }

  /** Full-width read through the public entry points, optionally restricted
    * to an interval (pushed down through the sidecar index when present).
    */
  def read(fmt: String, file: String, interval: Option[String] = None): DataFrame = fmt match {
    case "bam" => Reads.read(spark, file, intervals = interval)
    case "vcf" => Variants.read(spark, file, intervals = interval)
    case "cram" =>
      val r = spark.read.format("cram").option("records", "true").option("fasta", fasta)
      interval.fold(r)(iv => r.option("intervals", iv)).load(file)
  }

  /** Data file plus sidecar bytes. */
  def fileBytes(file: String, fmt: String): Long =
    (file +: sidecars(fmt).map(file + _)).map(p => new File(p)).filter(_.exists).map(_.length).sum

  /** The expected sidecars of `file` that are absent or empty. */
  def missingSidecars(file: String, fmt: String): Seq[String] =
    sidecars(fmt).filterNot(s => new File(file + s).length > 0)

  /** Once per run, before the repeated set-up: the CRAM reference. */
  def prepare(): Unit = fasta = Gen.writeFasta(a.seed, fx)
  def setup(): Unit
  def expect(): Unit
  /** Untimed operations that warm the JIT before the timed phase; their
    * outputs are checked like any other. Three rotations: after one, the
    * next ten seconds of writes still ran 10-15% slower than the ten after.
    */
  def warmup(): Seq[Op] = (1 to 3).flatMap(j => rotation(-j))
  /** Operation `i` of the closed loop: format `i % 3`, rotation `i / 3`. */
  def next(i: Int): Op
  /** The timed loop stops only after a multiple of this many operations,
    * so every run covers the same mix of operations.
    */
  def cycle: Int = 1
  def rotation(r: Int): Seq[Op] = formats.indices.map(k => next(r * formats.length + k))
  def finalChecks(): Seq[Op] = Nil
  def outputBytesPerRow: Double

  /** Rows of the format's operations over their summed wall time. */
  def rowsPerS(ops: Seq[Op], fmt: String): Double = {
    val os = ops.filter(_.fmt == fmt)
    os.map(_.rows).sum / os.map(_.wallS).sum
  }
}

object Workload {
  val Names: Seq[String] = Seq("scan", "region", "write")

  def apply(name: String, spark: SparkSession, a: Main.Args, run: Run): Workload = name match {
    case "scan" => new ScanWorkload(spark, a, run)
    case "region" => new RegionWorkload(spark, a, run)
    case "write" => new WriteWorkload(spark, a, run)
  }
}

/** One fixture file: its format, path and generated rows. */
final case class Fixture(fmt: String, file: String, rows: () => DataFrame)

/** Fixture files generated and written by the program's own sinks during
  * set-up.
  */
abstract class FixtureWorkload(spark: SparkSession, a: Main.Args, run: Run, indexed: Boolean)
    extends Workload(spark, a, run) {
  /** One file per format. */
  def fixtures: Seq[Fixture] = formats.map(f => Fixture(f, path(f), () => generated(f)))

  /** The scan's BAM carries an `.sbi` splitting index: without it the
    * record guesser's data-dependent cost at each split edge made
    * bam_rows_per_s differ by seed far beyond run-to-run noise. The region
    * BAM has only its `.bai`, so its splits are still snapped by the
    * guesser. The CRAM sink writes its `.crai` by default.
    */
  def setup(): Unit =
    fixtures.foreach(x => write(x.fmt, x.rows(), x.file, indexed || x.fmt == "cram", sbi = !indexed))

  override def sidecars(fmt: String): Seq[String] =
    if (indexed || fmt == "cram") super.sidecars(fmt) else if (fmt == "bam") Seq(".sbi") else Nil

  /** Once per run: every fixture carries the sidecars it was written with. */
  override def finalChecks(): Seq[Op] = fixtures.map { x =>
    run.op(x.fmt, "sidecars")((0L, missingSidecars(x.file, x.fmt).isEmpty))
  }

  def outputBytesPerRow: Double =
    fixtures.map(x => fileBytes(x.file, x.fmt)).sum.toDouble / formats.map(rows).sum
}

/** `scan`: full-width scans rotating over a coordinate-sorted BAM, a
  * multi-sample BGZF VCF and a reference-based CRAM.
  */
final class ScanWorkload(spark: SparkSession, a: Main.Args, run: Run)
    extends FixtureWorkload(spark, a, run, indexed = false) {
  private var expected: Map[String, Digest] = Map.empty

  def expect(): Unit = expected = formats.map(f => f -> Digest.of(generated(f))).toMap

  def next(i: Int): Op = {
    val f = formats(Math.floorMod(i, formats.length))
    run.op(f, "scan") {
      val d = Digest.of(read(f, path(f)))
      (d.rows, d == expected(f))
    }
  }
}

/** Per-contig (start, end, hash) of generated rows, sorted by start, for
  * the unindexed overlap filter the region checks compare against.
  */
final class Positions(byContig: Map[Int, (Array[Int], Array[Int], Array[Long])], maxSpan: Int) {
  def overlap(contig: Int, qs: Int, qe: Int): Digest = byContig.get(contig) match {
    case None => Digest.Empty
    case Some((starts, ends, hashes)) =>
      var i = java.util.Arrays.binarySearch(starts, math.max(1, qs - maxSpan))
      if (i < 0) i = -i - 1
      while (i > 0 && starts(i - 1) >= qs - maxSpan) i -= 1
      var d = Digest.Empty
      while (i < starts.length && starts(i) <= qe) {
        if (ends(i) >= qs) d = d.add(hashes(i))
        i += 1
      }
      d
  }
}

object Positions {
  def of(df: DataFrame, maxSpan: Int): Positions = {
    val hash = RowHash(df.schema)
    val ci = df.schema.fieldIndex("contig")
    val si = df.schema.fieldIndex("start")
    val ei = df.schema.fieldIndex("end")
    val contigIdx = Gen.Contigs.zipWithIndex.toMap
    val rows = df.queryExecution.toRdd.mapPartitions { it =>
      it.map(r => (contigIdx(r.getUTF8String(ci).toString), r.getInt(si), r.getInt(ei), hash(r)))
    }.collect()
    val by = rows.groupBy(_._1).map { case (c, rs) =>
      val s = rs.sortBy(_._2)
      c -> ((s.map(_._2), s.map(_._3), s.map(_._4)))
    }
    new Positions(by, maxSpan)
  }
}

final case class Query(fmt: String, contig: Int, start: Int, end: Int) {
  def interval: String = s"${Gen.Contigs(contig)}:$start-$end"
}

object Queries {
  /** Query widths: a fixed log-spaced set from 1 kb to 1 Mb, issued in
    * this order, one cycle per format.
    */
  val Widths: IndexedSeq[Int] = (0 until 6).map(k => math.round(1000 * math.pow(1000, k / 5.0)).toInt)

  /** Query `i` of a format: width `i mod 6`. The seed moves contigs and
    * positions, never the set of widths. The queries of one width follow a
    * low-discrepancy sequence over the whole genome from a seeded start,
    * so every width's queries in a run spread evenly over the files.
    */
  def apply(seed: Long, fmt: String, i: Int): Query = {
    val wi = Math.floorMod(i, Widths.length)
    val k = Math.floorDiv(i, Widths.length)
    val w = Widths(wi)
    val g0 = (Gen.mix64(seed * 0x2545F4914F6CDD1DL + fmt.hashCode * 31L + wi) >>> 11).toDouble / (1L << 53)
    val g = g0 + k * 0.6180339887498949
    val span = (Gen.ContigLen - w).toLong
    val at = ((g - math.floor(g)) * Gen.Contigs.length * span).toLong
    val contig = math.min(Gen.Contigs.length - 1, (at / span).toInt)
    val start = 1 + (at % span).toInt
    Query(fmt, contig, start, start + w - 1)
  }
}

/** `region`: interval queries against an indexed BAM (.bai), VCF (.tbi)
  * and CRAM (.crai), one of each per rotation.
  */
final class RegionWorkload(spark: SparkSession, a: Main.Args, run: Run)
    extends FixtureWorkload(spark, a, run, indexed = true) {
  override def sizes: Sizes = Main.RegionSizes
  private var positions: Map[String, Positions] = Map.empty

  /** The BAM reads are split over three files with seeds of their own: a
    * BAM query's cost is set by the bytes where the record guesser snaps
    * its start, and with one file the BAM latency tail moved with the seed
    * (query_p95_ms spread 0.30 over five seeds, 0.11 with three files).
    */
  val bams: IndexedSeq[String] = (0 until 3).map(k => new File(fx, s"reads-$k.bam").getPath)

  override def fixtures: Seq[Fixture] =
    bams.zipWithIndex.map { case (file, k) =>
      Fixture("bam", file, () => Gen.readsDf(spark, Gen.mix64(a.seed) + k, sizes.reads / bams.length))
    } ++ super.fixtures.filter(_.fmt != "bam")

  /** The file query `i` of a format reads: BAM queries move to the next file
    * with each width and each cycle, so every width meets every file.
    */
  def file(fmt: String, i: Int): String =
    if (fmt != "bam") path(fmt)
    else bams(Math.floorMod(i + Math.floorDiv(i, Queries.Widths.length), bams.length))

  def expect(): Unit = positions =
    fixtures.map(x => x.file -> Positions.of(x.rows(), if (x.fmt == "vcf") 8 else Gen.MaxRefSpan)).toMap

  /** A whole cycle of queries: every width on every format. */
  override def warmup(): Seq[Op] = (1 to Queries.Widths.length).flatMap(j => rotation(-j))

  /** One query of every width on every format. */
  override def cycle: Int = Queries.Widths.length * formats.length

  def next(i: Int): Op = {
    val f = formats(Math.floorMod(i, formats.length))
    val k = Math.floorDiv(i, formats.length)
    val (q, in) = (Queries(a.seed, f, k), file(f, k))
    val want = positions(in).overlap(q.contig, q.start, q.end)
    run.op(f, q.interval) {
      val d = Digest.of(read(f, in, Some(q.interval)))
      (d.rows, d == want)
    }
  }
}

/** `write`: single-file writes of rows cached in memory during set-up, at
  * the default deflate level, with the .bai / .tbi / .crai sidecars.
  */
final class WriteWorkload(spark: SparkSession, a: Main.Args, run: Run) extends Workload(spark, a, run) {
  override def sizes: Sizes = Main.WriteSizes
  private val out = new File(a.work, "out")
  out.mkdirs()
  private def target(fmt: String): String = new File(out, new File(path(fmt)).getName).getPath
  private var cached: Map[String, DataFrame] = Map.empty
  def cachedRows(fmt: String): DataFrame = cached(fmt)
  private var source: Map[String, Digest] = Map.empty
  private val firstMd5 = mutable.Map[String, String]()

  def setup(): Unit = {
    cached.values.foreach(_.unpersist(blocking = true))
    cached = formats.map(f => f -> generated(f).persist(StorageLevel.MEMORY_ONLY)).toMap
    cached.values.foreach(_.count())
  }

  def expect(): Unit = source = cached.map { case (f, df) => f -> Digest.of(df) }

  def next(i: Int): Op = {
    val f = formats(Math.floorMod(i, formats.length))
    val o = run.op(f, "write") {
      write(f, cached(f), target(f), indexed = true)
      (rows(f), true)
    }
    // every write carries its sidecars and produces the run's first bytes
    val missing = if (o.ok) missingSidecars(target(f), f) else Nil
    if (!o.ok) o
    else if (missing.nonEmpty) o.copy(ok = false, error = s"$f write: no ${missing.mkString(", ")} sidecar")
    else {
      val md5 = Md5.of(target(f) +: sidecars(f).map(target(f) + _))
      if (firstMd5.getOrElseUpdate(f, md5) == md5) o
      else o.copy(ok = false, error = s"$f write: output bytes differ from the run's first write")
    }
  }

  /** Once per run: the written file reads back to the source rows. */
  override def finalChecks(): Seq[Op] = formats.map { f =>
    run.op(f, "re-read") {
      val d = Digest.of(read(f, target(f)))
      (d.rows, d == source(f))
    }
  }

  def outputBytesPerRow: Double =
    formats.map(f => fileBytes(target(f), f)).sum.toDouble / formats.map(rows).sum
}

object Md5 {
  def of(paths: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = new Array[Byte](1 << 20)
    paths.map(new File(_)).foreach { f =>
      val in = new java.io.FileInputStream(f)
      try { var n = in.read(buf); while (n > 0) { md.update(buf, 0, n); n = in.read(buf) } }
      finally in.close()
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
