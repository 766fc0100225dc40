package perfbench

import scala.collection.immutable.VectorMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.bam.AlignmentRecord
import graft.vcf.Variant

/** Seeded input generator. The seed moves record positions, tags, genotype
  * calls and the query set; it never moves sizes (row counts, read length,
  * sample count, contig lengths), so throughput figures from different
  * seeds stay comparable.
  */
final case class Sizes(reads: Int, cramReads: Int, variants: Int, samples: Int) {
  require(reads % Gen.Contigs.length == 0 && cramReads % Gen.Contigs.length == 0 &&
    variants % Gen.Contigs.length == 0)
}

object Gen {
  val Contigs: IndexedSeq[String] = (1 to 22).map(i => s"chr$i") ++ Seq("chrX", "chrY")
  val ContigLen = 2000000
  val ReadLen = 100
  /** Longest reference span of any generated cigar (see [[Shapes]]). */
  val MaxRefSpan = 102
  val Refs: String = Contigs.map(c => s"$c:$ContigLen").mkString(",")

  // (cigar, reference span); plain 100M reads dominate, as in aligner output
  private val Shapes = Array(
    ("100M", 100), ("100M", 100), ("100M", 100), ("100M", 100), ("100M", 100),
    ("10S90M", 90), ("90M10S", 90), ("50M2D50M", 102), ("48M2I50M", 98))

  def mix64(z0: Long): Long = {
    var z = z0 * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val Acgt = "ACGT".getBytes("ASCII")

  /** Reference base (0-based position) of a contig: a pure function of the
    * seed, so executors, the FASTA writer and the checks agree without
    * shipping a genome around.
    */
  def refBase(seed: Long, contig: Int, pos0: Int): Byte = {
    val w = mix64(seed * 1000003L + contig.toLong * 0x100000000L + (pos0 >>> 5))
    Acgt(((w >>> ((pos0 & 31) * 2)) & 3).toInt)
  }

  /** Writes `<dir>/ref.fa` and its `.fai` (60 bases per line). */
  def writeFasta(seed: Long, dir: java.io.File): String = {
    val fa = new java.io.File(dir, "ref.fa")
    val lineLen = 60
    val fai = new StringBuilder
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(fa), 1 << 20)
    try {
      var off = 0L
      val line = new Array[Byte](lineLen + 1)
      Contigs.indices.foreach { c =>
        val hdr = s">${Contigs(c)}\n".getBytes("ASCII")
        out.write(hdr); off += hdr.length
        fai.append(s"${Contigs(c)}\t$ContigLen\t$off\t$lineLen\t${lineLen + 1}\n")
        var p = 0
        while (p < ContigLen) {
          val n = math.min(lineLen, ContigLen - p)
          var i = 0
          while (i < n) { line(i) = refBase(seed, c, p + i); i += 1 }
          line(n) = '\n'
          out.write(line, 0, n + 1)
          off += n + 1
          p += n
        }
      }
    } finally out.close()
    java.nio.file.Files.write(new java.io.File(dir, "ref.fa.fai").toPath, fai.toString.getBytes("ASCII"))
    fa.getPath
  }

  /** Sorted uniform positions in [1, limit]: `n` of them per contig. */
  private def sortedPositions(rng: java.util.SplittableRandom, n: Int, limit: Int): Array[Int] = {
    val a = Array.fill(n)(1 + rng.nextInt(limit))
    java.util.Arrays.sort(a)
    a
  }

  private val QualAlphabet = "#(-27<AF".toCharArray // binned Illumina-style
  private val QualWeights = Array(2, 1, 2, 3, 5, 10, 25, 52) // out of 100

  private def qualChar(rng: java.util.SplittableRandom): Char = {
    var r = rng.nextInt(100)
    var i = 0
    while (r >= QualWeights(i)) { r -= QualWeights(i); i += 1 }
    QualAlphabet(i)
  }

  /** One contig's reads, coordinate-sorted, each with an aligner-style
    * 8-tag load (RG, NM, MD, AS, XS, MC, MQ, ms).
    */
  def readsOf(seed: Long, contig: Int, n: Int): Iterator[AlignmentRecord] = {
    val rng = new java.util.SplittableRandom(mix64(seed * 7919L + contig))
    val starts = sortedPositions(rng, n, ContigLen - MaxRefSpan)
    val name = Contigs(contig)
    val seq = new Array[Byte](ReadLen)
    val qual = new Array[Byte](ReadLen)
    def fromRef(at: Int, ref0: Int, n: Int): Unit = {
      var k = 0
      while (k < n) { seq(at + k) = refBase(seed, contig, ref0 + k); k += 1 }
    }
    def random(at: Int, n: Int): Unit = {
      var k = 0
      while (k < n) { seq(at + k) = Acgt(rng.nextInt(4)); k += 1 }
    }
    starts.iterator.zipWithIndex.map { case (start, i) =>
      val (cigar, span) = Shapes(rng.nextInt(Shapes.length))
      val ref0 = start - 1
      cigar match {
        case "10S90M" => random(0, 10); fromRef(10, ref0, 90)
        case "90M10S" => fromRef(0, ref0, 90); random(90, 10)
        case "50M2D50M" => fromRef(0, ref0, 50); fromRef(50, ref0 + 52, 50)
        case "48M2I50M" => fromRef(0, ref0, 48); random(48, 2); fromRef(50, ref0 + 48, 50)
        case _ => fromRef(0, ref0, 100)
      }
      val mismatches = rng.nextInt(4)
      var m = 0
      while (m < mismatches) {
        val k = rng.nextInt(ReadLen)
        seq(k) = Acgt((Acgt.indexOf(seq(k)) + 1 + rng.nextInt(3)) & 3)
        m += 1
      }
      var q = 0
      while (q < ReadLen) { qual(q) = qualChar(rng).toByte; q += 1 }
      val reverse = rng.nextInt(2) == 1
      val dup = rng.nextInt(20) == 0
      val flags = (if (reverse) 16 else 0) | (if (dup) 1024 else 0)
      val mapq = if (rng.nextInt(10) == 0) rng.nextInt(60) else 60
      val as = 100 - 5 * mismatches - rng.nextInt(5)
      val attrs = VectorMap(
        "RG" -> ("Z:rg" + rng.nextInt(4)),
        "NM" -> ("i:" + mismatches),
        "MD" -> ("Z:" + rng.nextInt(60) + "A" + rng.nextInt(20) + "C" + rng.nextInt(20)),
        "AS" -> ("i:" + as),
        "XS" -> ("i:" + rng.nextInt(as + 1)),
        "MC" -> "Z:100M",
        "MQ" -> ("i:" + (if (rng.nextInt(10) == 0) rng.nextInt(60) else 60)),
        "ms" -> ("i:" + (2000 + rng.nextInt(2000))))
      val readName = "A00627:18:HGW2MDSXX:" + (1 + contig % 4) + ":" + (1101 + rng.nextInt(60)) +
        ":" + rng.nextInt(32000) + ":" + i
      AlignmentRecord(readName, flags, name, start, start + span - 1, mapq, cigar,
        null, 0, 0, new String(seq, "ASCII"), new String(qual, "ASCII"), attrs)
    }
  }

  private val Gts = Array("0/0", "0/0", "0/1", "0/1", "1/1", "./.", "0|1", "1|0")

  /** One contig's variants, position-sorted, `samples` genotypes each with a
    * FORMAT map (GQ, DP, AD) and an INFO map (DP, AF, MQ, AC, AN, DB flag).
    */
  def variantsOf(seed: Long, contig: Int, n: Int, samples: Seq[String]): Iterator[Variant] = {
    val rng = new java.util.SplittableRandom(mix64(seed * 104729L + contig))
    val starts = sortedPositions(rng, n, ContigLen - 8)
    val name = Contigs(contig)
    starts.iterator.map { pos =>
      val del = rng.nextInt(8) == 0
      val refLen = if (del) 2 + rng.nextInt(3) else 1
      val ref = new String(Array.tabulate(refLen)(k => refBase(seed, contig, pos - 1 + k)), "ASCII")
      val alt =
        if (del) ref.substring(0, 1)
        else Acgt((Acgt.indexOf(ref.charAt(0).toByte) + 1 + rng.nextInt(3)) & 3).toChar.toString
      val id = if (rng.nextInt(3) == 0) s"rs${rng.nextInt(100000000)}" else null
      val qual: java.lang.Double = if (rng.nextInt(20) == 0) null else java.lang.Double.valueOf(rng.nextInt(5000) / 4.0)
      val filters = if (rng.nextInt(10) == 0) Seq("LowQual") else Seq("PASS")
      val gts = samples.map { s =>
        val dp = 5 + rng.nextInt(60)
        val alt = rng.nextInt(dp + 1)
        graft.vcf.Genotype(s, Gts(rng.nextInt(Gts.length)),
          VectorMap("GQ" -> rng.nextInt(100).toString, "DP" -> dp.toString, "AD" -> ((dp - alt) + "," + alt)))
      }
      val ac = gts.count(g => g.gt.contains('1'))
      val infoBase = VectorMap(
        "DP" -> (samples.length * 30 + rng.nextInt(200)).toString,
        "AF" -> (ac.toDouble / (2 * samples.length)).toString,
        "MQ" -> (40 + rng.nextInt(21)).toString,
        "AC" -> ac.toString,
        "AN" -> (2 * samples.length).toString)
      val info = if (rng.nextInt(4) == 0) infoBase + ("DB" -> "") else infoBase
      Variant(name, pos, pos + refLen - 1, id, ref, Seq(alt), qual, filters, info, gts)
    }
  }

  def sampleNames(n: Int): Seq[String] = (0 until n).map(i => f"S$i%03d")

  /** Reads as a DataFrame with one partition per contig, already in
    * coordinate order (the single-file sinks keep partition order).
    */
  def readsDf(spark: SparkSession, seed: Long, total: Int): DataFrame = {
    val per = total / Contigs.length
    val rdd = spark.sparkContext.parallelize(Contigs.indices, Contigs.length)
      .mapPartitions(_.flatMap(c => readsOf(seed, c, per)).map(readToRow))
    spark.createDataFrame(rdd, AlignmentRecord.schema)
  }

  def variantsDf(spark: SparkSession, seed: Long, total: Int, samples: Int): DataFrame = {
    val per = total / Contigs.length
    val names = sampleNames(samples)
    val rdd = spark.sparkContext.parallelize(Contigs.indices, Contigs.length)
      .mapPartitions(_.flatMap(c => variantsOf(seed, c, per, names)).map(variantToRow))
    spark.createDataFrame(rdd, graft.vcf.Variant.schema)
  }

  def readToRow(r: AlignmentRecord): Row =
    Row(r.readName, r.flags, r.contig, r.start, r.end, r.mapq, r.cigar, r.mateContig,
      r.mateStart, r.tlen, r.seq, r.qual, r.attributes)

  def variantToRow(v: Variant): Row =
    Row(v.contig, v.start, v.end, v.id, v.ref, v.alt, v.qual, v.filters, v.info,
      v.genotypes.map(g => Row(g.sample, g.gt, g.fields)))
}
