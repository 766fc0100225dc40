package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Single-file sinks merge part files in lexicographic name order and rebase
  * index offsets by the same order ([[FormatSink]] commit sorts by message
  * path). That is only correct while lexicographic order equals numeric
  * partition order, so the part-name zero-pad width must exceed any
  * plausible task count. Every sink (BAM/SAM/VCF/FASTQ/CRAM) names its parts
  * with [[SinkFiles.partName]] — this spec pins the invariant at 6+ digit
  * ids, where the reference's 5-digit convention (AnySamSinkMultiple.java)
  * would interleave ("part-100000" sorts before "part-99999").
  */
class PartNamingSpec extends AnyFunSuite {

  import SinkFiles.partName

  test("lexicographic part order equals numeric order past 99,999 partitions") {
    val ids = Seq(0, 1, 9, 99998, 99999, 100000, 100001, 999999, 1000000, 123456789)
    val sortedByName = ids.map(i => partName(i) -> i).sortBy(_._1).map(_._2)
    assert(sortedByName == ids.sorted)
  }

  test("header < part-* < terminator lexicographic merge invariant") {
    val names = Seq(SinkFiles.Header, partName(0), partName(100000), SinkFiles.Terminator)
    assert(names.sorted == names)
  }

  test("width-9 pad is stable up to 10^9 partitions") {
    // every generated name has identical length, so string sort == numeric
    // sort; 10^9 tasks in one write is far past any realistic Spark job
    // (Spark caps a stage at ~2^31 tasks, but a single single-file write
    // at 128 MB/part would be 128 PB at 10^9 parts)
    val lens = Seq(0, 7, 99999, 100000, 999999999).map(partName(_).length)
    assert(lens.distinct.size == 1)
  }
}
