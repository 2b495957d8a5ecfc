package perfbench

import graft.streaming.TxnEngine
import graft.streaming.TxnEngine.{MultiKeyStream, Txn}
import java.io.File
import java.util.concurrent.locks.LockSupport
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** One committed micro-batch: txns [from, until) of the window's stream. */
final case class BatchRec(id: Int, from: Int, until: Int, startNs: Long,
    endNs: Long, ckptBytes: Long) {
  def txns: Int = until - from
  def ms: Double = (endNs - startNs) / 1e6
}

/** A measured window: one checkpointed stream fed from empty state. */
final case class TxnWindow(txns: Array[Txn], batches: Seq[BatchRec],
    stream: MultiKeyStream, ckptDir: String, extra: ListMap[String, Any])

/** Common parts of the two txn workloads: the stream, the output check
  * against `TxnEngine.sequentialOracle`, and the traced per-layer figures.
  */
abstract class TxnWorkload(spark: SparkSession, a: Harness.Args)
    extends Workload {
  import spark.implicits._
  import Harness.{median, tail}

  def gen: TxnGen
  /** The record field `latency_ms` reports, and the tracing overhead uses. */
  def latencyKey: String
  /** Runs one window on a fresh stream checkpointed under `ckpt`. */
  def window(ckpt: String, tr: Option[TraceRun]): TxnWindow

  protected def stream(dir: String): MultiKeyStream = {
    Harness.deleteDir(new File(dir))
    new MultiKeyStream(spark, Some(dir))
  }

  protected def commit(ms: MultiKeyStream, batch: Array[Txn], id: Int,
      tr: Option[TraceRun]): (Long, Long) = {
    val t0 = System.nanoTime()
    val ds = spark.createDataset(batch.toSeq)
    tr match {
      case Some(t) => t.tagged(s"batch-$id")(ms.processBatch(ds, id))
      case None => ms.processBatch(ds, id)
    }
    (t0, System.nanoTime())
  }

  /** Payload bytes of a txn: id, plus each assert/update key and value. */
  protected def txnBytes(t: Txn): Long = 8L +
    (t.asserts ++ t.updates).map(kv => kv.key.length + 1 +
      kv.valueOption.map(_.length).getOrElse(0)).sum

  /** Compares the stream's final state and per-txn results with the
    * sequential oracle. Returns (txns with a wrong or missing result,
    * state keys that differ, txns that committed, oracle seconds).
    */
  private def check(w: TxnWindow): (Int, Int, Int, Double) = {
    val t0 = System.nanoTime()
    val (expState, expRes) = TxnEngine.sequentialOracle(w.txns.toSeq)
    val oracleS = (System.nanoTime() - t0) / 1e9
    val gotState = w.stream.state.select("key", "value")
      .as[(String, String)].collect()
    val gotRes = w.stream.results.select("txnId", "succeeded")
      .as[(Long, Boolean)].collect()
    val byId = gotRes.groupBy(_._1)
    val badTxns = expRes.count { r =>
      byId.get(r.txnId).map(_.toSeq) != Some(Seq((r.txnId, r.succeeded)))
    } + (byId.keySet -- expRes.map(_.txnId)).size
    val gotMap = gotState.toMap
    val badKeys = (expState.keySet ++ gotMap.keySet).count(k =>
      expState.get(k) != gotMap.get(k)) +
      (gotState.length - gotMap.size)
    (badTxns, badKeys, expRes.count(_.succeeded), oracleS)
  }

  private def census(w: TxnWindow): Seq[(Int, Int)] =
    w.batches.map(b => TxnGen.census(w.txns.slice(b.from, b.until)))

  /** The user-facing figures of one window, checked. */
  private def figures(w: TxnWindow): ListMap[String, Any] = {
    val (badTxns, badKeys, committed, oracleS) = check(w)
    val commits = w.batches.map(_.ms)
    val (tailName, tailMs) = tail(commits)
    val c = census(w)
    val busyS = (w.batches.last.endNs - w.batches.head.startNs) / 1e9
    ListMap[String, Any](
      "txns" -> w.txns.length,
      "batches" -> w.batches.size,
      "failed_txns" -> badTxns,
      "state_keys_wrong" -> badKeys,
      "committed_txns" -> committed,
      "commit_ok_frac" -> committed.toDouble / w.txns.length,
      "txn_per_s" -> w.txns.length / busyS,
      "commit_ms_p50" -> median(commits),
      "commit_ms_tail" -> tailMs,
      "commit_ms_tail_pct" -> tailName,
      "commit_samples" -> commits.size,
      "batch_txns" -> w.batches.map(_.txns),
      "commit_ms" -> commits,
      "census_components" -> c.map(_._1),
      "census_max_component_txns" -> c.map(_._2),
      "ckpt_mb_end" -> Harness.dirBytes(new File(w.ckptDir)) / 1e6,
      "seq_oracle_txn_per_s" -> w.txns.length / oracleS) ++ w.extra
  }

  def measure(): collection.Map[String, Any] = {
    val out = mutable.LinkedHashMap[String, Any]("generator" -> gen.describe,
      "warm_up" -> warmUpShape, "warm_up_ms" -> warmUpMs.toSeq)
    val f = untraced("ckpt")
    out ++= f
    if (a.trace) out("trace") = traced(f)
    out
  }

  /** One untraced window on fresh state, checked; its checkpoint deleted. */
  private def untraced(ckpt: String): ListMap[String, Any] = {
    val w = window(s"${a.work}/$ckpt", None)
    val f = figures(w)
    Harness.deleteDir(new File(w.ckptDir))
    f
  }

  /** A window on fresh state with tracing on, over the same txns, then a
    * second untraced one. The tracing overhead compares the traced window
    * with the mean of the untraced windows on both sides of it, so warm-up
    * drift across the run cancels.
    */
  private def traced(before: ListMap[String, Any]): ListMap[String, Any] = {
    val tr = new TraceRun(spark, "traced")
    val w = window(s"${a.work}/ckpt-traced", Some(tr))
    val layers = w.batches.map(b => tr.layer(s"batch-${b.id}", b.startNs, b.endNs))
    tr.finish(s"${a.work}/spans.jsonl")
    val f = figures(w)
    val ops = OpStats(layers, a.cores)
    // engine statistics of the last few batches, recomputed from the
    // checkpointed pre-batch state through the public stats entry point
    val statsOf = w.batches.takeRight(4).map { b =>
      val init =
        if (b.id == 0) Seq.empty[(String, String)].toDF("key", "value")
        else spark.read.parquet(s"${w.ckptDir}/state/${b.id - 1}")
      TxnEngine.applyMultiKeyStats(init,
        spark.createDataset(w.txns.slice(b.from, b.until).toSeq))._3
    }
    val ckptDelta = w.batches.map(_.ckptBytes.toDouble)
    val amp = w.batches.map(b => b.ckptBytes.toDouble /
      w.txns.slice(b.from, b.until).map(txnBytes).sum)
    val layer = ListMap[String, Double](
      "streaming.process_batch_ms" -> ops("wall_ms"),
      "streaming.batch_txns" -> median(w.batches.map(_.txns.toDouble)),
      "streaming.jobs_per_batch" -> ops("jobs"),
      "streaming.stages_per_batch" -> ops("stages"),
      "streaming.tasks_per_batch" -> ops("tasks"),
      "streaming.tasks_per_batch_slope" -> Harness.slope(layers.map(_.tasks.toDouble)),
      "streaming.driver_gap_ms_per_batch" -> ops("self_ms"),
      "streaming.exec_busy_frac" -> ops("exec_busy_frac"),
      "streaming.exec_cpu_ms_per_batch" -> ops("cpu_ms"),
      "streaming.gc_ms_per_batch" -> ops("gc_ms"),
      "streaming.shuffle_bytes_per_batch" ->
        median(layers.map(l => (l.shuffleReadBytes + l.shuffleWriteBytes).toDouble)),
      "streaming.task_skew" -> ops("task_skew"),
      "streaming.ckpt_bytes_per_batch" -> median(ckptDelta),
      "streaming.ckpt_write_amp" -> median(amp),
      "streaming.results_partitions" -> w.stream.results.rdd.getNumPartitions.toDouble,
      "streaming.state_keys" -> w.stream.state.count().toDouble,
      "streaming.fold_components" -> median(statsOf.map(_.foldedComponents.toDouble)),
      "streaming.max_component_txns" -> median(statsOf.map(_.maxComponentTxns.toDouble)),
      "streaming.apply_phases" -> median(statsOf.map(_.applyPhases.toDouble)),
      "streaming.commit_ok_frac" ->
        f("commit_ok_frac").asInstanceOf[Double],
      "baseline.seq_oracle_txn_per_s" ->
        f("seq_oracle_txn_per_s").asInstanceOf[Double],
      "trace.self_sum_err_max" -> ops("self_sum_err_max"))
    Harness.deleteDir(new File(w.ckptDir))
    val after = untraced("ckpt-after")
    ListMap("window" -> f, "after" -> after, "ops" -> ops, "layers" -> (layer +
      ("trace.overhead_frac" -> Harness.overhead(f, before, after, latencyKey)))) ++
    OpStats.selfSumCheck(layers) ++ ListMap(
      "per_batch" -> layers.map(l => ListMap("op" -> l.op, "wall_ms" -> l.wallMs,
        "jobs" -> l.jobs, "stages" -> l.stages, "tasks" -> l.tasks,
        "self_ms" -> l.selfMs, "self_sum_err" -> l.selfSumErr)))
  }

  /** Wall times of the warm-up batches, in ms, and the warm-up's shape. */
  val warmUpMs = mutable.ArrayBuffer.empty[Double]
  private var warmUpShape = ListMap.empty[String, Int]

  /** Closed-loop warm-up on txns of its own, in `rounds` of `streams`
    * concurrent streams of `n` batches of `size` txns. Each stream starts
    * from empty state, as the timed window does, and is discarded after.
    */
  protected def warmRounds(rounds: Int, streams: Int, n: Int, size: Int): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val warm = gen.copy(seed = gen.seed ^ 0x77a4L)
    warmUpShape = ListMap("rounds" -> rounds, "streams" -> streams,
      "batches_per_stream" -> n, "batch_txns" -> size)
    (0 until rounds).foreach { r =>
      val runs = (0 until streams).map { k => Future {
        val dir = s"${a.work}/ckpt-warm-$k"
        val ms = stream(dir)
        (0 until n).foreach { b =>
          val from = (((r * streams + k).toLong * n) + b) * size
          val (s, e) = commit(ms, warm.range(from, from + size), b, None)
          warmUpMs.synchronized(warmUpMs += (e - s) / 1e6)
        }
        Harness.deleteDir(new File(dir))
      } }
      runs.foreach(Await.result(_, Duration.Inf))
    }
  }
}

/** Open loop: txns are due at a fixed offered rate; each micro-batch takes
  * every txn due so far. Keys are uniform over 1M, and every txn asserts
  * its keys absent before writing them (the reference generator's shape),
  * so conflict components stay tiny and state grows through the run.
  */
final class TxnOpen(spark: SparkSession, a: Harness.Args)
    extends TxnWorkload(spark, a) {
  import Harness.{median, tail}
  val rate = 200.0
  val latencyKey = "txn_latency_ms_p50"
  val gen = TxnGen(a.seed, keySpace = 1000000, keysPerTxn = 4, hotKeys = 0,
    hotShare = 0.0, assertShare = 1.0, assertAll = true, absentShare = 1.0,
    values = 8)
  private val txns = gen.range(0, (rate * a.seconds).toLong)

  def warmUp(): Unit = warmRounds(2, 2, 3, 1000)

  def window(ckpt: String, tr: Option[TraceRun]): TxnWindow = {
    val ms = stream(ckpt)
    val n = txns.length
    val t0 = System.nanoTime()
    def due(i: Int): Long = t0 + (i * 1e9 / rate).toLong
    val lat = new Array[Double](n)
    val batches = mutable.ArrayBuffer.empty[BatchRec]
    var next = 0
    var lateMs = 0.0
    var ckptBefore = 0L
    while (next < n) {
      val now = System.nanoTime()
      val dueNow = math.min(n.toLong, (now - t0) * rate.toLong / 1000000000L + 1).toInt
      if (dueNow <= next) {
        val wake = due(next)
        LockSupport.parkNanos(wake - now)
        lateMs = math.max(lateMs, (System.nanoTime() - wake) / 1e6)
      } else {
        val (s, e) = commit(ms, txns.slice(next, dueNow), batches.size, tr)
        (next until dueNow).foreach(i => lat(i) = (e - due(i)) / 1e6)
        val ck = if (tr.isEmpty) 0L else Harness.dirBytes(new File(ckpt))
        batches += BatchRec(batches.size, next, dueNow, s, e, ck - ckptBefore)
        ckptBefore = ck
        next = dueNow
      }
    }
    val scheduleEnd = t0 + (a.seconds * 1e9).toLong
    val backlog = n - batches.filter(_.endNs <= scheduleEnd).map(_.txns).sum
    val (tailName, tailMs) = tail(lat.toSeq)
    TxnWindow(txns, batches.toSeq, ms, ckpt, ListMap(
      "offered_txn_per_s" -> rate,
      "txn_latency_ms_p50" -> median(lat.toSeq),
      "txn_latency_ms_tail" -> tailMs,
      "txn_latency_ms_tail_pct" -> tailName,
      "txn_latency_samples" -> n,
      "backlog_txns_end" -> backlog,
      "generator_late_ms_max" -> lateMs))
  }
}

/** Closed loop of 50k-txn micro-batches. About half the txns write one of
  * 64 hot keys and half assert a value, so the asserts both commit and
  * abort and one conflict component holds nearly the whole batch.
  */
final class TxnBulk(spark: SparkSession, a: Harness.Args)
    extends TxnWorkload(spark, a) {
  val batchSize = 50000
  val latencyKey = "commit_ms_p50"
  val gen = TxnGen(a.seed, keySpace = 100000, keysPerTxn = 4, hotKeys = 64,
    hotShare = 0.5, assertShare = 0.5, assertAll = false, absentShare = 0.25,
    values = 4)
  /** Batches of the untraced window; the traced window repeats as many. */
  private var count = -1

  def warmUp(): Unit = warmRounds(1, 1, 1, batchSize)

  def window(ckpt: String, tr: Option[TraceRun]): TxnWindow = {
    val ms = stream(ckpt)
    val batches = mutable.ArrayBuffer.empty[BatchRec]
    val all = mutable.ArrayBuffer.empty[Txn]
    val t0 = System.nanoTime()
    var ckptBefore = 0L
    def more = if (count < 0) System.nanoTime() - t0 < a.seconds * 1e9
               else batches.size < count
    while (more) {
      val b = batches.size
      val txns = gen.range(b.toLong * batchSize, (b + 1L) * batchSize)
      val (s, e) = commit(ms, txns, b, tr)
      val ck = if (tr.isEmpty) 0L else Harness.dirBytes(new File(ckpt))
      batches += BatchRec(b, all.size, all.size + txns.length, s, e, ck - ckptBefore)
      ckptBefore = ck
      all ++= txns
    }
    if (count < 0) count = batches.size
    val busyS = batches.map(_.ms).sum / 1000
    TxnWindow(all.toArray, batches.toSeq, ms, ckpt, ListMap(
      "txn_per_s" -> all.size / busyS))
  }
}
