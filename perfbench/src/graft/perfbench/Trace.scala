package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One call the benchmark made into a module's public function.
  * `phase` is "construct" (the call returning a DataFrame, eager jobs
  * included), "exec" (the action over it) or "call" (a store call that
  * returns nothing). `via` names the registry a declared query was
  * reached through ("SparkEntry"), empty for direct operator calls.
  * Counts are filled only while tracing is on. */
final class Span(val id: Int, val parent: Int, val module: String,
    val name: String, val phase: String, val step: String, val pass: Int,
    val via: String, val traced: Boolean) {
  var startNs = 0L
  var endNs = 0L
  var jobs = 0
  var taskRunMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val taskMs = ArrayBuffer.empty[Long]
  var planMs = 0.0
  var codegenMs = 0.0
  var scanFiles = 0L
  var scanRows = 0L
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around every module call of a run, plus — while enabled — one
  * SparkListener and one QueryExecutionListener that attribute jobs,
  * tasks, planning and scans to the innermost open span. Attribution is
  * by a job-group-style local property (inherited by stream threads), and
  * the listener bus is drained when a traced span closes, so asynchronous
  * delivery can never move a count into the wrong span. With tracing off
  * a span is two clock reads. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val Prop = "graft.perfbench.span"
  val spans = ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val qes = new ConcurrentLinkedQueue[QueryExecution]()
  private var stack = List.empty[Span]
  private var on = false

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .flatMap(i => Option(byId.get(i.toInt))).foreach { s =>
          s.synchronized { s.jobs += 1 }
          e.stageIds.foreach(stageSpan.put(_, s))
        }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        if (m != null) s.synchronized {
          s.taskRunMs += m.executorRunTime
          s.taskMs += m.executorRunTime
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.diskBytesSpilled
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = qes.add(qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      qes.add(qe)
  }

  def tracing: Boolean = on

  def enable(): Unit = if (!on) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  def disable(): Unit = if (on) {
    Bus.drain(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    qes.clear()
    on = false
  }

  def apply[T](module: String, name: String, phase: String, step: String,
      pass: Int, via: String = "")(body: => T): T = {
    val parent = stack.headOption
    val s = new Span(spans.size + 1, parent.fold(0)(_.id), module, name,
      phase, step, pass, via, on)
    spans += s
    if (on) {
      byId.put(s.id, s)
      sc.setLocalProperty(Prop, s.id.toString)
    }
    stack = s :: stack
    val cg0 = if (on) CodeGenerator.compileTime else 0L
    s.startNs = System.nanoTime()
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      if (s.traced) {
        Bus.drain(sc)
        s.codegenMs = (CodeGenerator.compileTime - cg0) / 1e6
        var qe = qes.poll()
        while (qe != null) {
          s.planMs += Seq("analysis", "optimization", "planning")
            .flatMap(qe.tracker.phases.get).map(_.durationMs.toDouble).sum
          scans(qe.executedPlan).foreach { f =>
            s.scanFiles += f.metrics.get("numFiles").fold(0L)(_.value)
            s.scanRows += f.metrics.get("numOutputRows").fold(0L)(_.value)
          }
          qe = qes.poll()
        }
        sc.setLocalProperty(Prop, parent.filter(_.traced)
          .map(_.id.toString).orNull)
      }
    }
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case r: ReusedExchangeExec => scans(r.child)
    case f: FileSourceScanExec => Seq(f)
    case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
  }
}

/** Per-layer numbers derived from traced spans. */
object Layers {
  val BatchModules = Seq("Analytics", "Dedup", "Similarity", "Curation",
    "Packing", "EmbedPipeline", "Retrieval", "Graph", "SparkEntry")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def taskRatio(ms: Seq[Long]): Double =
    if (ms.isEmpty) 0.0
    else {
      val med = median(ms.map(_.toDouble))
      ms.max / math.max(med, 1.0)
    }

  /** Self time: span duration minus the part covered by its children. */
  def selfMs(s: Span, all: Seq[Span]): Double =
    s.ms - all.filter(_.parent == s.id).map(_.ms).sum

  /** The batch-module metrics of one pass. A module's spans are the
    * calls made into it; `SparkEntry` covers every declared query the
    * registry served, whichever operator module it is attributed to. */
  def batchPass(spans: Seq[Span], all: Seq[Span], cpus: Int)
      : Map[String, Double] =
    BatchModules.flatMap { m =>
      val ss = spans.filter(s => s.module == m || s.via == m)
      val wall = ss.map(_.ms).sum
      val task = ss.map(_.taskRunMs).sum.toDouble
      val ratio = ss.groupBy(_.step).values
        .map(g => taskRatio(g.flatMap(_.taskMs).toSeq)).maxOption
        .getOrElse(0.0)
      Seq(
        "construct_ms" -> ss.filter(_.phase == "construct").map(_.ms).sum,
        "construct_jobs" ->
          ss.filter(_.phase == "construct").map(_.jobs).sum.toDouble,
        "plan_ms" -> ss.map(_.planMs).sum,
        "codegen_ms" -> ss.map(_.codegenMs).sum,
        "jobs" -> ss.map(_.jobs).sum.toDouble,
        "task_run_ms" -> task,
        "shuffle_bytes" -> ss.map(_.shuffleBytes).sum.toDouble,
        "spill_bytes" -> ss.map(_.spillBytes).sum.toDouble,
        "max_median_task_ratio" -> ratio,
        "core_util" -> (if (wall > 0) task / (wall * cpus) else 0.0),
        "self_ms" -> ss.map(selfMs(_, all)).sum
      ).map { case (k, v) => s"$m.$k" -> v }
    }.toMap

  /** Median of each key over passes (keys missing from a pass read 0). */
  def medianOver(passes: Seq[Map[String, Double]]): Map[String, Double] =
    passes.flatMap(_.keys).distinct.map { k =>
      k -> median(passes.map(_.getOrElse(k, 0.0)))
    }.toMap
}
