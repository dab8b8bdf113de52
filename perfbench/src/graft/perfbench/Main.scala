package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType, MemoryUsage}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload over inputs the runner
  * generated and writes a JSON record of timings, checks and (traced runs)
  * per-layer numbers. `perfbench/run.py` is the entry point; it builds
  * this, generates the inputs, runs the DuckDB comparisons the record asks
  * for and prints the metrics.
  *
  * Args: workload seed seconds trace(0|1) cpus dataDir workDir outFile
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, cpus, data, work, out) = args
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val readyMs = System.currentTimeMillis()
    val r = new Run(spark, new Tracer(spark), seed.toLong, seconds.toDouble,
      cpus.toInt, trace == "1", data, work)
    workload match {
      case "batch_mix" => BatchMix.run(r)
      case "store_serve" => StoreServe.run(r)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val workloadS = (System.currentTimeMillis() - readyMs) / 1e3
    // after the output checks, whose fixed order leaves the same last
    // queries in every run (the seeded pass order does not)
    val liveHeapMb = Run.liveHeapMb()
    if (r.traced)
      Files.writeString(Paths.get(s"$work/spans.json"),
        Json(r.tracer.spans.map(s =>
        Map("id" -> s.id, "parent" -> s.parent, "module" -> s.module,
          "name" -> s.name, "phase" -> s.phase, "step" -> s.step,
          "pass" -> s.pass, "traced" -> s.traced, "start_ns" -> s.startNs,
          "end_ns" -> s.endNs,
          "self_ms" -> Layers.selfMs(s, r.tracer.spans.toSeq),
          "jobs" -> s.jobs, "task_run_ms" -> s.taskRunMs,
          "tasks" -> s.taskMs.size,
          "max_task_ms" -> s.taskMs.maxOption.getOrElse(0L),
          "max_median_task_ratio" -> Layers.taskRatio(s.taskMs.toSeq),
          "shuffle_bytes" -> s.shuffleBytes, "spill_bytes" -> s.spillBytes,
          "plan_ms" -> s.planMs, "codegen_ms" -> s.codegenMs,
          "scan_files" -> s.scanFiles, "scan_rows" -> s.scanRows)).toSeq))
    val record = Map(
      "ready_epoch_ms" -> readyMs,
      "workload_s" -> workloadS,
      "build_s" -> r.buildS,
      "prep_s" -> r.prepS,
      "first_pass_s" -> r.firstPassS,
      "pass_s" -> r.passS.toSeq,
      "traced_pass_s" -> r.tracedPassS.toSeq,
      "ops" -> r.opRecords,
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "failures" -> r.failures.toSeq,
      "oracle_checks" -> r.oracleChecks.toSeq,
      "layers" -> Layers.medianOver(r.layerPasses.toSeq),
      "peak_rss_mb" -> peakRssMb(),
      "peak_heap_mb" -> heapPeakMb(_.getUsed),
      "peak_heap_committed_mb" -> heapPeakMb(_.getCommitted),
      "live_heap_mb" -> liveHeapMb,
      "notes" -> r.notes.toMap)
    Files.writeString(Paths.get(out), Json(record))
    spark.stop()
  }

  /** Heap high-water mark: the sum of the heap pools' peak usage (used
    * or committed bytes). */
  private def heapPeakMb(of: MemoryUsage => Long): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(p => of(p.getPeakUsage).toDouble).sum / (1024.0 * 1024.0)

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** Minimal JSON writer for the record (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
