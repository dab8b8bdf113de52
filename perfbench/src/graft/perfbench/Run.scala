package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}

/** State of one benchmark run: the session, the tracer, the timings the
  * end-to-end metrics are computed from, and the output checks. */
final class Run(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val seconds: Double, val cpus: Int, val traced: Boolean,
    val data: String, val work: String) {
  /** Set-up paid once per run, part of setup_s: the cold store build and
    * the staging of its inputs. */
  var buildS = 0.0
  var prepS = 0.0
  var firstPassS = 0.0
  val passS = ArrayBuffer.empty[Double]
  val tracedPassS = ArrayBuffer.empty[Double]
  /** (pass, key, ms, latency) of every timed op. A key names the same op
    * in every pass (a step, or a position in a store cycle). */
  val ops = ArrayBuffer.empty[(Int, String, Double, Boolean)]
  val tracedPasses = mutable.LinkedHashSet.empty[Int]
  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer.empty[String]
  /** DuckDB oracle comparisons the runner makes after the JVM exits. */
  val oracleChecks = ArrayBuffer.empty[Map[String, Any]]
  val layerPasses = ArrayBuffer.empty[Map[String, Double]]
  val notes = mutable.LinkedHashMap.empty[String, Any]
  private var untimedNs = 0L

  /** Work inside a pass that is not part of its time (output checks). */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally untimedNs += System.nanoTime() - t0
  }

  private def timedPass(pass: Int => Unit, i: Int): Double = {
    untimedNs = 0L
    val t0 = System.nanoTime()
    pass(i)
    (System.nanoTime() - t0 - untimedNs) / 1e9
  }

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    failures += s"$what: ${e.getClass.getSimpleName}: " +
      String.valueOf(e.getMessage).linesIterator.take(3).mkString(" | ")
  }

  /** One output check: counts as an attempted operation, fails on false. */
  def check(what: String, ok: => Boolean, detail: => String = ""): Unit = {
    attempted += 1
    val r = try ok catch { case e: Throwable => fail(what, e); return }
    if (!r) {
      failed += 1
      failures += s"$what: $detail"
    }
  }

  /** One op: a throw counts as failed and yields None. The wall time of a
    * `latency` op is one sample of the workload's op latency. */
  def op[T](pass: Int, key: String, latency: Boolean = true)(
      body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      ops += ((pass, key, (System.nanoTime() - t0) / 1e6, latency))
      Some(r)
    } catch {
      case e: Throwable =>
        fail(s"op in pass $pass", e)
        None
    }
  }

  /** Passes `measure(minWarm, _)` makes at least: the cold one and
    * `minWarm` warm ones (twice as many in a traced run). */
  def minPasses(minWarm: Int): Int =
    1 + (if (traced) 2 * minWarm else minWarm)

  /** Run `pass(0)` once cold, then warm passes until `seconds` have been
    * spent measuring (at least `minWarm`; fewer than `maxPasses` passes in
    * all). A traced run alternates traced and untraced passes, so tracing
    * overhead is measured in one JVM. */
  def measure(minWarm: Int, maxPasses: Int)(pass: Int => Unit): Unit = {
    firstPassS = timedPass(pass, 0)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val need = minPasses(minWarm) - 1
    var i = 1
    while (i < maxPasses &&
        (i <= need || System.nanoTime() < deadline)) {
      val on = traced && i % 2 == 1
      if (on) tracer.enable() else tracer.disable()
      val s = timedPass(pass, i)
      if (on) { tracedPassS += s; tracedPasses += i } else passS += s
      i += 1
    }
    tracer.disable()
  }

  /** Ops of the untraced passes as records for the runner. */
  def opRecords: Seq[Map[String, Any]] = ops.collect {
    case (p, k, ms, lat) if !tracedPasses(p) =>
      Map("pass" -> p, "key" -> k, "ms" -> ms, "latency" -> lat)
  }.toSeq
}

object Run {
  /** Heap in use right after a full collection. The first collection
    * lets Spark's cleaner drop the blocks of unreachable RDDs and
    * broadcasts; the second frees what the cleaner released. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / (1024.0 * 1024.0)
  }

  /** Order-insensitive digest of a result: row count and the wrapping sum
    * of per-row xxhash64 over every column. Collecting one long per row
    * keeps the query's own final operators (sorts, limits) in the plan. */
  def digest(df: DataFrame): (Long, Long) = {
    val h = df.select(xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*))
      .collect()
    (h.length.toLong, h.foldLeft(0L)(_ + _.getLong(0)))
  }
}
