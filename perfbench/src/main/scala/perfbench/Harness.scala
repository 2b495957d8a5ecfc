package perfbench

import graft.GraftSession
import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** JVM side of the benchmark; `run.py` launches it from a prebuilt
  * classpath and reads the record it writes.
  *
  *   perfbench.Harness --workload W --seed N --seconds S --trace 0|1
  *     --work DIR --launch-ms EPOCH_MS --cores C
  *     [--data DIR --check-data DIR]
  *
  * Every run starts a session, warms up, measures one untraced window of
  * `seconds` and checks its outputs. With `--trace 1` a traced window and
  * a second untraced one follow, each on fresh state and checked too. The
  * traced window's per-layer figures and the tracing overhead (against the
  * mean of the untraced windows on both sides) go into the record.
  * The record is written to `DIR/record.json`.
  */
object Harness {
  val Headliners: Seq[String] = Seq(
    "q1_agg", "q3_join_agg", "q5_multi_join", "q9_window_rank",
    "q18_asof_join", "q22_sessionize", "q26_custom_range_join",
    "t2_quality_score", "t8_tfidf", "d2_minhash_lsh", "d4_simhash",
    "d6_dedup_groups", "s1_bruteforce_topk", "m3_feature_stub",
    "a3_txn_conditional_state", "a6_event_time_sort")
  /** Headliners whose time is mostly in graft's `functions` kernels. */
  val KernelQueries: Set[String] =
    Set("d2_minhash_lsh", "d4_simhash", "t8_tfidf", "s1_bruteforce_topk")

  final class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload: String = apply("workload")
    val seed: Long = apply("seed").toLong
    val seconds: Double = apply("seconds").toDouble
    val trace: Boolean = apply("trace") == "1"
    val work: String = apply("work")
    val launchMs: Double = apply("launch-ms").toDouble
    val cores: Int = apply("cores").toInt
    /** Directory of the timed analytics tables. */
    def data: String = apply("data")
  }

  /** Epoch milliseconds of a `System.nanoTime` reading. */
  private val epochBaseNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def epochMs(nanos: Long): Double = (epochBaseNs + nanos) / 1e6

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv.grouped(2).map { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap)
    val spark = GraftSession.builder(s"local[${a.cores}]")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = epochMs(System.nanoTime())
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "traced_run" -> a.trace, "cores" -> a.cores,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "session_start_s" -> (sessionMs - a.launchMs) / 1000)
    // workloads generate their inputs when constructed; that time is
    // excluded from setup_s
    val g0 = System.nanoTime()
    val w = a.workload match {
      case "txn_open" => new TxnOpen(spark, a)
      case "txn_bulk" => new TxnBulk(spark, a)
      case "analytics" => new Analytics(spark, a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val genS = (System.nanoTime() - g0) / 1e9
    w.warmUp()
    rec("input_gen_s") = genS
    rec("setup_s") = (epochMs(System.nanoTime()) - a.launchMs) / 1000 - genS
    rec ++= w.measure()
    rec("peak_rss_mb") = peakRssMb()
    Files.writeString(Paths.get(a.work, "record.json"), Json(rec))
    spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = scala.io.Source.fromFile("/proc/self/status")
    .getLines().find(_.startsWith("VmHWM:"))
    .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100 * (s.size - 1)
      val (lo, hi) = (r.floor.toInt, r.ceil.toInt)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest of p50/p90/p99/p99.9 with at least ten samples beyond it,
    * or the maximum when there are fewer than 20 samples.
    */
  def tail(xs: Seq[Double]): (String, Double) =
    Seq(99.9, 99.0, 90.0, 50.0).find(p => xs.size * (100 - p) / 100 >= 10) match {
      case Some(p) => (s"p$p".stripSuffix(".0"), percentile(xs, p))
      case None => ("max", if (xs.isEmpty) 0.0 else xs.max)
    }

  /** Tracing overhead: the traced window's `key` over the mean of the
    * untraced windows before and after it, minus 1.
    */
  def overhead(traced: collection.Map[String, Any],
      before: collection.Map[String, Any], after: collection.Map[String, Any],
      key: String): Double = {
    def v(m: collection.Map[String, Any]) = m(key).asInstanceOf[Double]
    v(traced) / ((v(before) + v(after)) / 2) - 1
  }

  /** Least-squares slope of ys over 0, 1, 2, ... */
  def slope(ys: Seq[Double]): Double = {
    val n = ys.size
    if (n < 2) 0.0
    else {
      val mx = (n - 1) / 2.0
      val my = ys.sum / n
      val num = ys.indices.map(i => (i - mx) * (ys(i) - my)).sum
      val den = ys.indices.map(i => (i - mx) * (i - mx)).sum
      num / den
    }
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteDir(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteDir))
    f.delete()
  }
}

/** One benchmark workload: warm-up, then the measured window(s). */
trait Workload {
  def warmUp(): Unit
  def measure(): collection.Map[String, Any]
}

/** Traced-run bookkeeping: registers the listeners, names each op's jobs
  * through the job group, and turns the recorded events into spans.
  */
final class TraceRun(spark: SparkSession, window: String) {
  private val sc = spark.sparkContext
  val tracer = new Tracer(sc)
  sc.addSparkListener(tracer)
  spark.listenerManager.register(tracer)
  private var ids = 0
  private def nextId(): Int = { ids += 1; ids }
  private val runSpan = nextId()
  private val runStartNs = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]

  def group(op: String): String = s"$window/$op"

  /** Runs `f` with its jobs tagged by `op`. */
  def tagged[T](op: String)(f: => T): T = {
    sc.setJobGroup(group(op), group(op))
    try f finally sc.clearJobGroup()
  }

  def layer(op: String, startNs: Long, endNs: Long): OpLayer = {
    tracer.drain()
    val l = Layers.op(tracer, group(op), Harness.epochMs(startNs),
      Harness.epochMs(endNs), () => nextId(), runSpan)
    spans ++= l.spans
    l
  }

  /** Unregisters the listeners and writes every span of the run as JSON
    * lines to `path`.
    */
  def finish(path: String): Unit = {
    sc.removeSparkListener(tracer)
    spark.listenerManager.unregister(tracer)
    val (start, end) = (Harness.epochMs(runStartNs), Harness.epochMs(System.nanoTime()))
    val ops = spans.filter(_.kind == "op").map(s => (s.startMs, s.endMs)).toSeq
    val run = Span(runSpan, -1, window, "run", window, start, end,
      end - start - Layers.covered(ops, start, end))
    Files.write(Paths.get(path),
      (run +: spans.toSeq).map(Json(_)).mkString("", "\n", "\n").getBytes)
  }
}

/** Shared per-op aggregation of traced batches or queries. */
object OpStats {
  import Harness.median

  def apply(ls: Seq[OpLayer], cores: Int): ListMap[String, Double] = {
    def med(f: OpLayer => Double) = median(ls.map(f))
    val wall = ls.map(_.wallMs).sum
    ListMap(
      "wall_ms" -> med(_.wallMs),
      "jobs" -> med(_.jobs.toDouble),
      "stages" -> med(_.stages.toDouble),
      "tasks" -> med(_.tasks.toDouble),
      "self_ms" -> med(_.selfMs),
      "exec_busy_frac" ->
        (if (wall > 0) ls.map(_.runMs).sum / (wall * cores) else 0.0),
      "cpu_ms" -> med(_.cpuMs),
      "gc_ms" -> med(_.gcMs.toDouble),
      "shuffle_read_bytes" -> med(_.shuffleReadBytes.toDouble),
      "shuffle_write_bytes" -> med(_.shuffleWriteBytes.toDouble),
      "spill_bytes" -> med(_.spillBytes.toDouble),
      "task_skew" -> med(_.skew),
      "self_sum_err_max" -> (if (ls.isEmpty) 0.0 else ls.map(_.selfSumErr).max))
  }

  /** The ops whose span self times miss their wall time by more than the
    * tolerance, with the tolerance, for the record.
    */
  def selfSumCheck(ls: Seq[OpLayer]): ListMap[String, Any] = ListMap(
    "self_sum_tolerance" -> Layers.SelfSumTolerance,
    "self_sum_flagged" ->
      ls.filter(_.selfSumErr > Layers.SelfSumTolerance).map(_.op))
}
