package graft.sources

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.bam.TestReads

/** Failure-injection for the sink commit protocol: a write job that dies
  * mid-flight must leave NO partial output — no half-written target, no
  * orphaned temp parts. On a 1000-executor cluster task and job failures
  * are routine; a sink whose abort path leaks partial single-file output
  * would poison every downstream lexicographic directory scan (which
  * would pick up temp parts as inputs).
  */
class WriteAbortSpec extends AnyFunSuite with SparkFixture {

  private def tmpDir(): Path = {
    val d = Files.createTempDirectory("abort")
    d.toFile.deleteOnExit()
    d
  }

  private val refsOpt = "chr20:1000000,chr21:2000135"

  /** Poison one record so exactly one task throws mid-write. */
  private def poisoned(n: Int) = {
    val s = spark
    import s.implicits._
    spark.createDataset(TestReads.mixed(n)).toDF()
      .withColumn("start",
        when($"readName" === f"test-read-${n / 2}%03d",
          raise_error(lit("injected task failure")).cast("int"))
          .otherwise($"start"))
  }

  test("failed single-file BAM write leaves neither target nor temp parts") {
    val dir = tmpDir()
    val out = dir.resolve("dead.bam")
    intercept[Exception] {
      poisoned(600).write.format("bam").mode("overwrite")
        .option("refs", refsOpt).save(out.toString)
    }
    val leftovers = Files.list(dir).toArray.map(_.toString)
    assert(leftovers.isEmpty, s"abort leaked: ${leftovers.mkString(", ")}")
  }

  /** A sharded-write input of the format, the column the poison replaces,
    * and the write options.
    */
  private def shardedInput(fmt: String): (DataFrame, String, Map[String, String]) = {
    val s = spark
    import s.implicits._
    def reads = spark.createDataset(TestReads.mixed(600)).toDF()
    def variants = spark.range(1200).select(
      lit("chr1").as("contig"),
      (col("id") * 10 + 1).cast("int").as("start"),
      (col("id") * 10 + 1).cast("int").as("end"),
      lit(null).cast("string").as("id"),
      lit("A").as("ref"), array(lit("G")).as("alt"),
      lit(30.0).as("qual"), array(lit("PASS")).as("filters"),
      map().cast("map<string,string>").as("info"),
      array().cast("array<struct<sample:string,gt:string,fields:map<string,string>>>")
        .as("genotypes"))
    def fastq = spark.createDataset((0 until 1200).map(i =>
      graft.fastq.FastqRecord(s"read$i", null, "ACGT", "IIII"))).toDF()
    fmt match {
      case "bam" | "sam" => (reads, "start", Map("refs" -> refsOpt))
      case "vcf" => (variants, "start", Map.empty)
      case "fastq" => (fastq, "seq", Map.empty)
    }
  }

  Seq("bam", "sam", "vcf", "fastq").foreach { fmt =>
    test(s"failed sharded ${fmt.toUpperCase} write leaves no committed shards behind") {
      val (df, poisonCol, opts) = shardedInput(fmt)
      val dir = tmpDir()
      val out = dir.resolve("shards")
      // the poison sits AFTER the shuffle and fails only the last task: on
      // local[4] tasks 0-3 run first, so at least four shards are committed
      // before task 7 starts and dies, and only the job abort can remove them
      val poisoned = df.repartition(8).withColumn(poisonCol,
        when(spark_partition_id() === 7,
          raise_error(lit("injected task failure")).cast(df.schema(poisonCol).dataType))
          .otherwise(col(poisonCol)))
      intercept[Exception] {
        poisoned.write.format(fmt).mode("overwrite").options(opts).save(out.toString)
      }
      // the shard directory may exist, but no complete shard may have
      // survived the job abort
      val survivors =
        if (Files.exists(out)) Files.list(out).toArray.map(_.toString).filter(_.endsWith(s".$fmt"))
        else Array.empty[String]
      assert(survivors.isEmpty, s"job abort left shards: ${survivors.mkString(", ")}")
    }
  }

  test("a failed overwrite does not destroy readable prior output") {
    val s = spark
    import s.implicits._
    val dir = tmpDir()
    val out = dir.resolve("keep.bam")
    val good = spark.createDataset(TestReads.mixed(200)).toDF()
    good.write.format("bam").mode("overwrite").option("refs", refsOpt).save(out.toString)
    val before = spark.read.format("bam").load(out.toString).count()
    intercept[Exception] {
      poisoned(600).write.format("bam").mode("overwrite")
        .option("refs", refsOpt).save(out.toString)
    }
    // overwrite deletes the target before writing (documented semantics),
    // so the strong claim is only "no corrupt replacement appeared":
    // either the old file is intact or the target is absent — a partial
    // new file must never be readable in its place
    if (Files.exists(out)) {
      val after = spark.read.format("bam").load(out.toString).count()
      assert(after == before, s"overwrite left a partial replacement: $after vs $before")
    }
  }
}
