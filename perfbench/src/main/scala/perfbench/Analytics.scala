package perfbench

import graft.SparkEntry
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** One timed query execution. */
final case class Exec(query: String, pass: Int, startNs: Long, endNs: Long,
    compileNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One client running the 16 headliners back to back over the generated
  * tables, in a seed-permuted order per pass, with no writes.
  *
  * The warm-up is one pass over a small check set generated from the same
  * seed (`--check-data`), then one untimed pass over the timed tables
  * (`--data`). The first pass writes each query's result as parquet under
  * `work/results/<query>` for `run.py` to compare with the query's DuckDB
  * oracle (`SparkEntry.oracleSql`, exported beside it). The timed window
  * starts whole passes until `seconds` have passed; each execution is
  * forced with a noop write. In a traced run every window is one pass.
  */
final class Analytics(spark: SparkSession, a: Harness.Args) extends Workload {
  import Harness.{median, tail}
  private val queries = Harness.Headliners.map(q => q -> SparkEntry.queries(q))

  private def dropCachedBlocks(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

  /** Wall times of the two warm-up passes, in ms. */
  private val warmUpMs = mutable.ArrayBuffer.empty[Double]

  def warmUp(): Unit = {
    val t0 = System.nanoTime()
    queries.foreach { case (q, fn) =>
      fn(spark, a("check-data")).write.mode("overwrite")
        .parquet(s"${a.work}/results/$q")
      dropCachedBlocks()
    }
    val t1 = System.nanoTime()
    val oracles = Harness.Headliners.map(q => q -> SparkEntry.oracleSql(q))
    Files.writeString(Paths.get(a.work, "oracle_sql.json"), Json(ListMap(oracles: _*)))
    // one untimed pass at the timed scale, so the window starts warm
    queries.foreach { case (_, fn) =>
      fn(spark, a.data).write.format("noop").mode("overwrite").save()
      dropCachedBlocks()
    }
    warmUpMs ++= Seq((t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6)
  }

  /** Closed loop of whole passes: a new pass starts while less than
    * `seconds` have passed, or, in a traced run, only the first.
    */
  private def window(tr: Option[TraceRun]): (Seq[Exec], Seq[Double]) = {
    val execs = mutable.ArrayBuffer.empty[Exec]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (passWalls.isEmpty ||
        (!a.trace && System.nanoTime() - t0 < a.seconds * 1e9)) {
      val pass = passWalls.size
      val order = new scala.util.Random(a.seed * 31 + pass).shuffle(queries)
      val p0 = System.nanoTime()
      order.foreach { case (q, fn) =>
        val c0 = CodeGenerator.compileTime
        val s = System.nanoTime()
        def run(): Unit = fn(spark, a.data).write.format("noop")
          .mode("overwrite").save()
        tr match {
          case Some(t) => t.tagged(s"$q#$pass")(run())
          case None => run()
        }
        val e = System.nanoTime()
        execs += Exec(q, pass, s, e, CodeGenerator.compileTime - c0)
        dropCachedBlocks()
      }
      passWalls += (System.nanoTime() - p0) / 1e6
    }
    (execs.toSeq, passWalls.toSeq)
  }

  private def figures(execs: Seq[Exec], passWalls: Seq[Double]): ListMap[String, Any] = {
    val ms = execs.map(_.ms)
    val (tailName, tailMs) = tail(ms)
    val perQuery = Harness.Headliners.map(q =>
      q -> median(execs.filter(_.query == q).map(_.ms)))
    ListMap(
      "queries_run" -> execs.size,
      "query_ms_p50" -> median(ms),
      "query_ms_mean" -> ms.sum / ms.size,
      "query_ms_tail" -> tailMs,
      "query_ms_tail_pct" -> tailName,
      "query_samples" -> ms.size,
      "mix_pass_s" -> median(passWalls) / 1000,
      "passes" -> passWalls.size,
      "pass_ms" -> passWalls,
      // whole passes' wall time, so the work between queries counts too
      "queries_per_s" -> execs.size / (passWalls.sum / 1000),
      "query_ms" -> ListMap(perQuery: _*))
  }

  def measure(): collection.Map[String, Any] = {
    val (execs, walls) = window(None)
    val out = mutable.LinkedHashMap[String, Any]("warm_up_ms" -> warmUpMs.toSeq)
    val f = figures(execs, walls)
    out ++= f
    if (a.trace) out("trace") = traced(f)
    out
  }

  /** A traced window with the same pass order, then a second untraced one.
    * The tracing overhead compares the traced window's `query_ms_mean` with
    * the mean of the untraced windows on both sides of it.
    */
  private def traced(before: ListMap[String, Any]): ListMap[String, Any] = {
    val tr = new TraceRun(spark, "traced")
    val (execs, walls) = window(Some(tr))
    val layers = execs.map { e =>
      val l = tr.layer(s"${e.query}#${e.pass}", e.startNs, e.endNs)
      (e, l)
    }
    // every execution was drained above, so all planning records are in
    val plans = tr.tracer.takePlans()
    tr.finish(s"${a.work}/spans.jsonl")
    val f = figures(execs, walls)
    val after = (figures _).tupled(window(None))
    val ops = OpStats(layers.map(_._2), a.cores)
    val n = execs.size.toDouble
    val passes = n / queries.size
    def perQuery(q: String)(g: OpLayer => Double): Double =
      median(layers.filter(_._1.query == q).map(x => g(x._2)))
    val opMs = Harness.Headliners.map(q =>
      s"operators.${q}_ms" -> median(execs.filter(_.query == q).map(_.ms)))
    val layer = ListMap[String, Double](opMs: _*) ++ ListMap(
      "functions.kernel_cpu_ms" ->
        Harness.KernelQueries.toSeq.map(q => perQuery(q)(_.cpuMs)).sum,
      "plans.analysis_ms" -> plans.map(_.analysisMs).sum / n,
      "plans.optimization_ms" -> plans.map(_.optimizationMs).sum / n,
      "plans.planning_ms" -> plans.map(_.planningMs).sum / n,
      "plans.codegen_compile_ms" -> execs.map(_.compileNs).sum / 1e6 / n,
      "sources.scan_bytes" -> layers.map(_._2.inputBytes).sum / passes,
      "sources.scan_rows" -> layers.map(_._2.inputRows).sum / passes,
      "spark.jobs_per_query" -> layers.map(_._2.jobs).sum / n,
      "spark.tasks_per_query" -> layers.map(_._2.tasks).sum / n,
      "spark.exec_busy_frac" -> ops("exec_busy_frac"),
      "spark.gc_ms" -> layers.map(_._2.gcMs).sum / n,
      "spark.shuffle_read_bytes" -> layers.map(_._2.shuffleReadBytes).sum / n,
      "spark.shuffle_write_bytes" -> layers.map(_._2.shuffleWriteBytes).sum / n,
      "spark.spill_bytes" -> layers.map(_._2.spillBytes).sum / n,
      "spark.task_skew" -> ops("task_skew"),
      "trace.overhead_frac" -> Harness.overhead(f, before, after, "query_ms_mean"),
      "trace.self_sum_err_max" -> ops("self_sum_err_max"))
    ListMap("window" -> f, "after" -> after, "ops" -> ops, "layers" -> layer,
      "plan_records" -> plans.size) ++ OpStats.selfSumCheck(layers.map(_._2)) ++ ListMap(
      "per_query" -> layers.map { case (e, l) => ListMap("op" -> l.op,
        "wall_ms" -> l.wallMs, "jobs" -> l.jobs, "stages" -> l.stages,
        "tasks" -> l.tasks, "self_ms" -> l.selfMs,
        "self_sum_err" -> l.selfSumErr, "cpu_ms" -> l.cpuMs) })
  }
}
