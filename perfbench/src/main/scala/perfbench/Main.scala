package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The disq-surface benchmark driver: one closed-loop client on `local[4]`
  * issuing one operation at a time to the BAM, VCF and CRAM DSv2 sources
  * and sinks.
  *
  *   --workload scan|region|write  --seed N  --seconds S  --trace 0|1  --work DIR
  *
  * Prints a detail line (sizes, sample counts, host-window probe, failures)
  * and then, as the last line of stdout, the result object
  * `{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
  * untraced, or the per-layer metrics with `--trace 1`.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: File)

  /** Fixture sizes, fixed across seeds: a full scan of one file takes
    * 0.3-0.7 s on 4 cores, so a 10 s run issues 7-8 operations per format.
    */
  val Sizes = perfbench.Sizes(reads = 96000, cramReads = 36000, variants = 48000, samples = 8)
  /** Region queries pay a per-query fixed cost that file size barely
    * changes; smaller files leave more of a run's time to queries.
    */
  val RegionSizes = perfbench.Sizes(reads = 57600, cramReads = 24000, variants = 36000, samples = 8)
  /** Writes of half the scan's rows take 0.3-0.6 s, so a run holds enough
    * of them per format for steady latency percentiles.
    */
  val WriteSizes = perfbench.Sizes(reads = 48000, cramReads = 18000, variants = 24000, samples = 8)
  /** Set-up is repeated this many times per run; `setup_s` takes the
    * median. Two, not more, so that a run stays near 40 s.
    */
  val SetupReps = 2

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.out.flush()
    sys.exit(code)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "work")
    require(m.keySet.subsetOf(known), s"unknown arguments: ${(m.keySet -- known).mkString(", ")}")
    val w = m.getOrElse("workload", throw new IllegalArgumentException("--workload is required"))
    require(Workload.Names.contains(w), s"unknown workload $w (want ${Workload.Names.mkString("|")})")
    Args(w, m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", new File(m.getOrElse("work", "perfbench-work")).getAbsoluteFile)
  }

  private def run(a: Args): Int = {
    a.work.mkdirs()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(a.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getPath)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val listener = new OpListener
    spark.sparkContext.addSparkListener(listener)
    try new Run(spark, a, listener, sessionS).execute()
    finally spark.stop()
  }
}

/** Outcome of one timed operation. */
final case class Op(fmt: String, group: String, startMs: Long, endMs: Long, wallS: Double,
                    rows: Long, ok: Boolean, error: String)

final class Run(spark: SparkSession, a: Main.Args, listener: OpListener, sessionS: Double) {
  private val sc = spark.sparkContext
  private var opSeq = 0

  /** Runs one operation in its own job group; `body` returns (rows, ok). */
  def op(fmt: String, label: String)(body: => (Long, Boolean)): Op = {
    opSeq += 1
    val group = f"op-$opSeq%05d"
    sc.setJobGroup(group, s"$fmt $label", interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (rows, ok, err) =
      try { val (r, k) = body; (r, k, if (k) null else s"$fmt $label: output check failed") }
      catch { case e: Exception => (0L, false, s"$fmt $label: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    sc.clearJobGroup()
    if (err != null) System.err.println(s"[perfbench] FAILED $err")
    Op(fmt, group, startMs, endMs, wall, rows, ok, err)
  }

  def execute(): Int = {
    val w = Workload(a.workload, spark, a, this)
    val gate = new HostGate
    gate.read()
    val tr = System.nanoTime()
    w.prepare()
    val refS = (System.nanoTime() - tr) / 1e9
    // set-up: repeated, median reported with the session start, the
    // reference write and warm-up
    val reps = (1 to Main.SetupReps).map { _ =>
      val t = System.nanoTime()
      w.setup()
      val s = (System.nanoTime() - t) / 1e9
      gate.read()
      s
    }
    val te = System.nanoTime()
    w.expect()
    val expectS = (System.nanoTime() - te) / 1e9
    gate.read()
    val tw = System.nanoTime()
    val warm = w.warmup()
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + refS + Stats.median(reps) + warmS

    // the timed phase starts in a quiet host window; when the host reads
    // slow after it and quiet again, the phase is run once more and the
    // first one's operations count only as checks
    def probed(): (Map[String, Double], Seq[Op], Double, Map[String, Double]) = {
      val before = Probe(a.work)
      val t = System.nanoTime()
      val ops = timedPhase(w)
      (before, ops, (System.nanoTime() - t) / 1e9, Probe(a.work))
    }
    gate.await()
    val first = probed()
    val slowFirst = !gate.quiet(first._4("cpu_spin_mops_per_s"))
    val (discarded, (probeBefore, ops, timedS, probeAfter)) =
      if (slowFirst && gate.await()) (first._2, probed()) else (Nil, first)
    val heapMb = Heap.retainedMb()
    // traced run: the timed phase once more, with the listener's span log
    val traced = if (a.trace) {
      listener.spans = true
      try Some(timedPhase(w)) finally listener.spans = false
    } else None
    val checks = w.finalChecks()

    val all = warm ++ discarded ++ ops ++ traced.toSeq.flatten
    val attempted = all.length + checks.length
    val failed = all.count(!_.ok) + checks.count(!_.ok)
    val failures = (all ++ checks).filterNot(_.ok).map(_.error)
    val good = ops.filter(_.ok)
    // per-format mean, averaged over formats: robust to a run ending
    // mid-rotation. Not the median: a region BAM query costs either about
    // 0.02 s or 0.2-0.5 s, and the median of a run's BAM queries moved with
    // the share of cheap ones (spread 0.17 over five seeds; the mean's 0.11)
    val cpuPerOp = Stats.mean(w.formats.map(f =>
      Stats.mean(good.filter(_.fmt == f).map(o => listener.await(sc, o.group).cpuNs / 1e9))))
    val lat = good.map(_.wallS * 1000).sorted
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("bam_rows_per_s", w.rowsPerS(good, "bam"), "rows/s"),
      ("vcf_rows_per_s", w.rowsPerS(good, "vcf"), "rows/s"),
      ("cram_rows_per_s", w.rowsPerS(good, "cram"), "rows/s"),
      ("query_p50_ms", Stats.quantile(lat, 0.50), "ms"),
      ("query_p95_ms", Stats.quantile(lat, 0.95), "ms"),
      ("cpu_s_per_op", cpuPerOp, "s"),
      ("output_bytes_per_row", w.outputBytesPerRow, "B/row"),
      ("heap_retained_mb", heapMb, "MiB"))

    val metrics: Seq[(String, Double, String)] = traced match {
      case None => e2e
      case Some(t) =>
        val layers = new Layers(spark, a, w, listener)
        layers.fromListener(t.filter(_.ok))
        layers.replay()
        layers.listenerOverhead(good, t.filter(_.ok))
        layers.result.toSeq
    }

    val detail = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "client" -> "closed loop, 1 client, local[4]",
      "sizes" -> Json.obj("bam_reads" -> w.sizes.reads, "cram_reads" -> w.sizes.cramReads,
        "variants" -> w.sizes.variants, "samples" -> w.sizes.samples,
        "contigs" -> Gen.Contigs.length, "contig_len" -> Gen.ContigLen),
      "ops" -> Json.obj(good.groupBy(_.fmt).toSeq.sortBy(_._1).map { case (f, os) =>
        val st = os.map(o => listener.await(sc, o.group))
        f -> Json.obj("ops" -> os.length, "wall_ms_median" -> Stats.median(os.map(_.wallS * 1000)),
          "wall_ms_mean" -> Stats.mean(os.map(_.wallS * 1000)),
          "cpu_s_median" -> Stats.median(st.map(_.cpuNs / 1e9)), "cpu_s_mean" -> Stats.mean(st.map(_.cpuNs / 1e9)),
          "jobs_per_op" -> st.map(_.jobs).sum.toDouble / os.length,
          "tasks_per_op" -> st.map(_.tasks).sum.toDouble / os.length)
      }: _*),
      "latency_samples" -> lat.length,
      "p95_samples_beyond" -> (lat.length - math.ceil(0.95 * lat.length).toInt),
      "setup_reps_s" -> reps, "session_s" -> sessionS, "reference_s" -> refS, "warmup_s" -> warmS,
      "expect_s" -> expectS, "timed_s" -> timedS,
      "error_rate" -> failed.toDouble / math.max(1, attempted),
      "probe" -> Json.obj("before" -> probeBefore, "after" -> probeAfter),
      "host_gate" -> Json.obj("spin_mops_per_s" -> gate.readings.toSeq, "quiet_share" -> HostGate.Share,
        "wait_s" -> gate.waitedS, "timed_phase_rerun" -> discarded.nonEmpty,
        "slow_after" -> !gate.quiet(probeAfter("cpu_spin_mops_per_s"))),
      "end_to_end" -> (if (a.trace) Json.obj(e2e.map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) }: _*) else null),
      "failures" -> failures.take(20).toSeq)
    println("perfbench detail " + Json.render(detail))
    val result = Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) }: _*))
    println(Json.render(result))
    0
  }

  /** The closed loop: one operation at a time, rotating over the formats,
    * until the run's seconds are spent and the workload's cycle is whole.
    */
  private def timedPhase(w: Workload): Seq[Op] = {
    val ops = mutable.ArrayBuffer[Op]()
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < a.seconds || i % w.cycle != 0) {
      ops += w.next(i)
      i += 1
    }
    ops.toSeq
  }
}

object Stats {
  def mean(xs: Seq[Double]): Double = xs.sum / xs.length

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear-interpolated quantile of sorted values. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(sorted.length - 1, lo + 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
}

object Heap {
  /** Heap in use after full collections, MiB. */
  def retainedMb(): Double = {
    val bean = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); Thread.sleep(50); System.gc()
    bean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** Host-window gate. A short fixed spin is read several times during
  * set-up; the best reading stands for the host when quiet. A reading below
  * `Share` of the best marks a slow window (other work on the machine), and
  * `await` waits, within `MaxWaitS` over the whole run, for a quiet one.
  */
final class HostGate {
  val readings = mutable.ArrayBuffer[Double]()
  var waitedS = 0.0

  def read(): Double = { val r = Probe.spinMops(HostGate.SpinIters); readings += r; r }
  def quiet(mops: Double): Boolean = mops >= HostGate.Share * readings.max

  /** True once a reading is quiet; false when the wait budget runs out. */
  def await(): Boolean = {
    val t0 = System.nanoTime()
    var ok = quiet(read())
    while (!ok && waitedS + (System.nanoTime() - t0) / 1e9 < HostGate.MaxWaitS) {
      Thread.sleep(500)
      ok = quiet(read())
    }
    waitedS += (System.nanoTime() - t0) / 1e9
    ok
  }
}

object HostGate {
  val Share = 0.9
  val MaxWaitS = 8.0
  val SpinIters = 30000000L
}

/** Host-window probe: fsync'd sequential write throughput of the work
  * volume and a fixed single-thread integer spin rate, so a slow window
  * shows as a host effect rather than a code regression.
  */
object Probe {
  /** Where the spin loop's result goes, so the loop cannot be removed. */
  @volatile private var sink = 0L

  /** Rate of a fixed single-thread xorshift loop, millions of steps/s. */
  def spinMops(iters: Long): Double = {
    val t1 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0L
    while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val s = (System.nanoTime() - t1) / 1e9
    sink = x
    iters / s / 1e6
  }

  def apply(dir: File): Map[String, Double] = {
    val f = new File(dir, "probe.bin")
    val block = new Array[Byte](4 << 20)
    new java.util.Random(7).nextBytes(block)
    val n = 8 // 32 MiB
    val t0 = System.nanoTime()
    val out = new java.io.FileOutputStream(f)
    try {
      var i = 0
      while (i < n) { out.write(block); i += 1 }
      out.getFD.sync()
    } finally out.close()
    val writeS = (System.nanoTime() - t0) / 1e9
    f.delete()
    Map("seq_write_mb_per_s" -> n * 4 / writeS, "cpu_spin_mops_per_s" -> spinMops(50000000L))
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def obj(kv: (String, Any)*): Map[String, Any] = scala.collection.immutable.ListMap(kv: _*)

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
