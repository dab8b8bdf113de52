package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.{SparkEntry, Tables}
import graft.functions.TextOps
import graft.operators._
import graft.sources.{SignatureStore, VectorStore}

/** batch_mix: one pass runs, in a seeded order, declared queries served
  * by the registry (fixed cost per query: construction, jobs, planning)
  * and direct operator calls over a Zipf(s = 1.2)-skewed corpus (task
  * compute, shuffle and one hot key). Operators are called directly where
  * the declared query caches its result per (JVM, dataset) — a warm pass
  * of q96 would never run curation. */
object BatchMix {
  /** Opens one construct span per module call a step makes. */
  final class Calls(r: Run, step: String, pass: Int) {
    def apply(module: String, fn: String, via: String = "")(
        body: => DataFrame): DataFrame =
      r.tracer(module, fn, "construct", step, pass, via)(body)
  }

  /** The hot-key input of the rank steps, shaped as the declared query's
    * table so the declared DuckDB oracle applies unchanged: the runner
    * binds the same view over the generated events. */
  private def hotLineitem(ev: DataFrame): DataFrame =
    ev.select(col("event_id").as("l_orderkey"),
      col("user_id").as("l_returnflag"),
      col("value").as("l_extendedprice"),
      regexp_extract(col("props"), "(\\d+)", 1).cast("double")
        .as("l_quantity"))
  val HotLineitemView =
    "SELECT event_id AS l_orderkey, user_id AS l_returnflag, " +
      "value AS l_extendedprice, " +
      "CAST(regexp_extract(props, '(\\d+)', 1) AS DOUBLE) AS l_quantity " +
      "FROM read_parquet('{data}/events.parquet')"

  /** The retrieval steps: their latency is the workload's op latency. */
  val Retrieval = Set("q66_bm25", "topk_probe")

  /** step -> (declared query whose oracle checks it, DuckDB view rebinds) */
  val Oracled: Map[String, (String, Map[String, String])] = Map(
    "q01_pricing_summary" -> ("q01_pricing_summary" -> Map.empty),
    "q66_bm25" -> ("q66_bm25" -> Map.empty),
    "quantiles_hot" -> ("q41_quantiles" -> Map("lineitem" -> HotLineitemView)))

  def run(r: Run): Unit = {
    val spark = r.spark
    val docs = Tables.documents(spark, r.data)
    val ev = Tables.events(spark, r.data)
    val emb = Tables.embeddings(spark, r.data)
    val rng = new scala.util.Random(r.seed)
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data",
      "fast", "filter", "group", "hash", "join", "key", "line", "merge",
      "order", "part", "query", "row", "scan", "slow", "small", "sort",
      "spark", "stream", "table", "the", "value", "vector", "window")
    val probeText = Seq.fill(6)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    r.notes("probe_text") = probeText

    def declared(q: String, module: String)
        : (String, String, Calls => DataFrame) =
      (q, module, c =>
        c(module, q, "SparkEntry")(SparkEntry.queries(q)(spark, r.data)))
    // (step, module its action is attributed to, the calls that build it)
    val steps: Seq[(String, String, Calls => DataFrame)] = Seq(
      declared("q01_pricing_summary", "Analytics"),
      declared("q66_bm25", "Retrieval"),
      ("topk_probe", "EmbedPipeline", c =>
        c("EmbedPipeline", "topKForProbe")(EmbedPipeline.topKForProbe(
          spark, docs, "text", probeText, dim = 64, k = 20))),
      ("curate_pack", "Packing", c => {
        val curated = c("Curation", "curate", "SparkEntry")(
          SparkEntry.curatedForProfile(spark, r.data))
        val mixed = c("Curation", "mixToBudget")(Curation.mixToBudget(
          curated, "doc_id", "source", "tokens", budgetTokens = 600L))
        val order = c("Packing", "shuffleShards")(
          Packing.shuffleShards(mixed, "doc_id", nShards = 4))
          .select(col("doc_id"),
            (col("shard").cast("long") * lit(1L << 32) + col("pos")).as("ord"))
        c("Packing", "packSequences")(Packing.packSequences(
          mixed.join(order, Seq("doc_id")).select(col("ord"),
            TextOps.bpeTokens(col("text")).as("toks")),
          "ord", "toks", 256))
      }),
      ("neardup_graph", "Graph", c => {
        val edges = c("Dedup", "ngramJaccardPairs")(Dedup.ngramJaccardPairs(
          docs, "doc_id", "text", "source", 3, 0.5, maxShingleDf = 64))
        c("Graph", "triangleCount")(Graph.triangleCount(edges, "id_a", "id_b"))
      }),
      ("quantiles_hot", "Analytics", c =>
        c("Analytics", "quantiles")(Analytics.quantiles(
          SparkEntry.fan(hotLineitem(ev), "l_orderkey"),
          "l_returnflag", "l_extendedprice"))),
      ("lsh_neardup", "Similarity", c =>
        c("Similarity", "nearDupPairsLsh")(
          Similarity.nearDupPairsLsh(emb, "vec_id", "embedding"))))

    val registry = SparkEntry.queries.keySet
    val digests = mutable.LinkedHashMap.empty[String, ArrayBuffer[(Long, Long)]]
    val perStep = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    r.measure(minWarm = 1, maxPasses = 50) { pass =>
      val order = new scala.util.Random(r.seed * 1000003L + pass)
        .shuffle(steps)
      for ((name, module, build) <- order) {
        val t0 = System.nanoTime()
        r.op(pass, name, latency = Retrieval(name)) {
          r.tracer("step", name, "step", name, pass) {
            val df = build(new Calls(r, name, pass))
            val via = if (registry(name)) "SparkEntry" else ""
            r.tracer(module, name, "exec", name, pass, via)(Run.digest(df))
          }
        }.foreach(d => digests.getOrElseUpdate(name, ArrayBuffer()) += d)
        perStep.getOrElseUpdate(name, ArrayBuffer()) +=
          (System.nanoTime() - t0) / 1e6
      }
      if (r.tracer.tracing)
        r.layerPasses += Layers.batchPass(
          r.tracer.spans.filter(s => s.pass == pass && s.module != "step")
            .toSeq,
          r.tracer.spans.toSeq, r.cpus)
    }
    r.notes("step_ms") = perStep.map { case (q, ts) => q -> ts.toSeq }
    Checks.stableDigests(r, digests)
    Checks.oracles(r, Oracled.keys.toSeq.sorted, Oracled) { name =>
      steps.find(_._1 == name).get._3(new Calls(r, "check", -1))
    }
  }
}

/** store_serve: reads beside writes on the persisted stores. Each pass
  * runs seeded top-k probes, a vector micro-batch append, a delete and an
  * AvailableNow dedup drain of staged documents into the signature store,
  * then compacts the vector store — so file accretion, the tombstone
  * anti-join and the compaction itself all land in the pass time. */
object StoreServe {
  val Probes = 8
  val AppendRows = 64
  val DeleteRows = 16
  val K = 10
  private val sigParams = SignatureStore.Params(shingleK = 3, nBands = 8,
    rowsPerBand = 2)

  private def files(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filter(f => f.getFileName.toString.endsWith(".parquet")).toSeq
      finally s.close()
    }
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    val emb = Tables.embeddings(spark, r.data)
    val docs = Tables.documents(spark, r.data)
    val nVec = emb.count()
    val nBase = nVec * 7 / 10
    val rng = new scala.util.Random(r.seed)
    val vecs: Map[Long, Array[Double]] = emb.select("vec_id", "embedding")
      .collect().map(row => row.getLong(0) ->
        row.getSeq[Float](1).map(_.toDouble).toArray).toMap

    // one append batch and one staged file per pass; two warm passes, as
    // one drain is too small a sample to time alone
    val passes = r.minPasses(minWarm = 2)
    require(nVec - nBase >= passes * AppendRows,
      s"$nVec vectors leave too few to append in $passes passes")

    // set-up: the cold bulk store builds (what a one-shot process pays),
    // then the other fifth of the documents staged as one file per pass
    val root = s"${r.work}/store"
    val vecPath = s"$root/vec"
    val sigPath = s"$root/sig"
    val t0 = System.nanoTime()
    VectorStore.write(emb.filter(col("vec_id") < nBase), "vec_id",
      "embedding", vecPath)
    SignatureStore.write(docs.filter(col("doc_id") % 5 =!= 0), "doc_id",
      "text", sigPath, sigParams)
    val t1 = System.nanoTime()
    r.buildS = (t1 - t0) / 1e9
    docs.filter(col("doc_id") % 5 === 0)
      .withColumn("file", (col("doc_id") / 5).cast("long") % passes)
      .coalesce(1).write.partitionBy("file").parquet(s"$root/pending")
    r.prepS = (System.nanoTime() - t1) / 1e9
    val accepted = s"$root/accepted"
    val source = Paths.get(s"$root/source")
    Files.createDirectories(source)
    val pending = mutable.Queue(files(s"$root/pending").sortBy(_.toString): _*)
    val docSchema = spark.read.parquet(pending.head.toString).schema

    val live = mutable.LinkedHashSet.empty[Long] ++ (0L until nBase)
    val deleted = mutable.HashSet.empty[Long]
    var nextAppend = nBase
    var appended = 0L
    var movedFiles = 0
    val movedIds = mutable.HashSet.empty[Long]
    def probe(): Seq[Double] = {
      val base = vecs(rng.nextInt(nBase.toInt).toLong)
      val v = base.map(_ + rng.nextGaussian() * 0.05)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n).toSeq
    }
    val checkProbes = Seq.fill(1)(probe())

    // streaming progress (traced passes only)
    val batchMs = ArrayBuffer.empty[(Int, Double)]
    val drains = ArrayBuffer.empty[(Int, Int)]
    var curPass = 0
    val streamListener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) batchMs.synchronized {
          batchMs += curPass ->
            e.progress.durationMs.getOrDefault("triggerExecution", 0L).toDouble
        }
    }

    def topK(p: Seq[Double], pass: Int, timed: Boolean,
        key: String = ""): Seq[(Long, Double)] = {
      val step = if (timed) "probe" else "check"
      def go = {
        val df = r.tracer("VectorStore", "topK", "construct", step, pass)(
          VectorStore.topK(spark, vecPath, "vec_id", "embedding", p, K))
        r.tracer("VectorStore", "topK", "exec", step, pass)(df.collect())
          .map(row => row.getLong(0) -> row.getDouble(1)).toSeq
      }
      val res = if (timed) r.op(pass, key)(go) else Some(go)
      res.foreach { rows =>
        val bad = rows.map(_._1).filter(deleted)
        r.check(s"probe in pass $pass returns no deleted id", bad.isEmpty,
          s"deleted ids returned: ${bad.take(5).mkString(",")}")
      }
      res.getOrElse(Seq.empty)
    }

    val idSchema = StructType(Seq(StructField("vec_id", LongType)))
    val storeFiles = ArrayBuffer.empty[(Int, Double, Double, Double)]
    val appendMs = ArrayBuffer.empty[(Int, Double, Long)]
    val ingestMs = ArrayBuffer.empty[(Int, Double, Long)]
    def rowsPerS(w: Seq[(Int, Double, Long)]): Double =
      w.map(_._3).sum.toDouble / math.max(1e-9, w.map(_._2).sum / 1e3)

    r.measure(minWarm = 2, maxPasses = passes) { pass =>
      curPass = pass
      if (r.tracer.tracing) spark.streams.addListener(streamListener)
      for (j <- 0 until Probes) topK(probe(), pass, timed = true, s"probe$j")

      val lo = nextAppend
      val hi = lo + AppendRows
      val t0 = System.nanoTime()
      r.op(pass, "append", latency = false)(
        r.tracer("VectorStore", "append", "call", "append", pass)(
          VectorStore.append(
            emb.filter(col("vec_id") >= lo && col("vec_id") < hi),
            "vec_id", "embedding", vecPath))).foreach { _ =>
        appendMs += ((pass, (System.nanoTime() - t0) / 1e6, hi - lo))
        live ++= (lo until hi)
        appended += hi - lo
        nextAppend = hi
      }

      val victims = rng.shuffle(live.toSeq).take(DeleteRows)
      val ids = spark.createDataFrame(victims.map(v => Row(v)).asJava, idSchema)
      r.op(pass, "delete", latency = false)(
        r.tracer("VectorStore", "delete", "call", "delete", pass)(
          VectorStore.delete(spark, vecPath, ids))).foreach { _ =>
        live --= victims
        deleted ++= victims
      }

      val f = pending.dequeue()
      val drained = r.untimed(spark.read.parquet(f.toString).select("doc_id")
        .collect().map(_.getLong(0)))
      movedIds ++= drained
      // one writer task staged every file under the same name
      Files.move(f,
        source.resolve(s"${f.getParent.getFileName}-${f.getFileName}"))
      movedFiles += 1
      val t1 = System.nanoTime()
      r.op(pass, "drain", latency = false)(
        r.tracer("SignatureStore", "ingestDedup", "call", "drain", pass) {
          val q = SignatureStore.ingestDedup(
            spark.readStream.schema(docSchema)
              .option("maxFilesPerTrigger", 1).parquet(source.toString),
            "doc_id", "text", sigPath, accepted, s"$root/ckpt", sigParams,
            0.5)
          q.awaitTermination()
          q.recentProgress.count(_.numInputRows > 0)
        }).foreach { batches =>
        drains += pass -> batches
        ingestMs += ((pass, (System.nanoTime() - t1) / 1e6,
          drained.length.toLong))
      }

      if (r.tracer.tracing) r.untimed {
        spark.streams.removeListener(streamListener)
        val vf = files(vecPath)
        val bytes = vf.map(Files.size).sum.toDouble
        storeFiles += ((pass, vf.size.toDouble, files(sigPath).size.toDouble,
          bytes / math.max(1L, live.size * (8L + 4L * 64))))
      }

      // compaction: probe results must not change across it
      val before = r.untimed(checkProbes.map(topK(_, pass, timed = false)))
      r.op(pass, "compact", latency = false)(
        r.tracer("VectorStore", "compact", "call", "compact", pass)(
          VectorStore.compact(spark, vecPath)))
      val after = r.untimed(checkProbes.map(topK(_, pass, timed = false)))
      r.check(s"probe results unchanged by compact in pass $pass",
        before == after, s"before=$before after=$after")
    }

    r.check("live count = base + appended - deleted", {
      val n = VectorStore.tombstones(spark, vecPath).fold(
        spark.read.parquet(vecPath))(t =>
        spark.read.parquet(vecPath).join(t.toDF("vec_id"), Seq("vec_id"),
          "left_anti")).count()
      n == nBase + appended - deleted.size
    }, s"expected ${nBase + appended - deleted.size}")

    // every staged file was drained as one batch, and the accepted sink
    // holds each drained document at most once and nothing else: accepted
    // plus rejected rows are exactly the drained rows
    val acc = if (Files.exists(Paths.get(accepted)))
      spark.read.parquet(accepted).select("doc_id").collect()
        .map(_.getLong(0)).toSeq
    else Seq.empty
    r.check("drained rows = accepted + rejected",
      drains.map(_._2).sum == movedFiles && acc.distinct.size == acc.size &&
        acc.forall(movedIds), s"batches=${drains.map(_._2).sum} " +
        s"files=$movedFiles accepted=${acc.size} distinct=${acc.distinct.size}")
    r.notes("ingest") = Map("drained" -> movedIds.size, "accepted" -> acc.size,
      "appended" -> appended, "deleted" -> deleted.size)

    if (r.traced) {
      val tp = r.tracedPasses
      val sp = r.tracer.spans.filter(s => tp(s.pass) && s.step != "check")
      def med(name: String, phase: String) = Layers.median(
        sp.filter(s => s.name == name && s.phase == phase).map(_.ms).toSeq)
      val cons = sp.filter(s => s.name == "topK" && s.phase == "construct")
      val exec = sp.filter(s => s.name == "topK" && s.phase == "exec")
      val tStore = storeFiles.filter(w => tp(w._1))
      val tDrains = drains.filter(d => tp(d._1))
      val drainSpans = sp.filter(s => s.name == "ingestDedup").toSeq
      r.layerPasses += Map(
        "VectorStore.topK_construct_ms" -> med("topK", "construct"),
        "VectorStore.topK_construct_jobs" ->
          cons.map(_.jobs).sum.toDouble / math.max(1, cons.size),
        "VectorStore.topK_exec_ms" -> med("topK", "exec"),
        "VectorStore.files_per_probe" ->
          exec.map(_.scanFiles).sum.toDouble / math.max(1, exec.size),
        "VectorStore.rows_scanned_per_result" ->
          exec.map(_.scanRows).sum.toDouble / math.max(1, exec.size * K),
        "VectorStore.append_ms" -> med("append", "call"),
        "VectorStore.delete_ms" -> med("delete", "call"),
        "VectorStore.compact_ms" -> med("compact", "call"),
        "VectorStore.store_files" -> Layers.median(tStore.map(_._2).toSeq),
        "VectorStore.bytes_per_input_byte" ->
          Layers.median(tStore.map(_._4).toSeq),
        "VectorStore.append_rows_per_s" ->
          rowsPerS(appendMs.filter(w => tp(w._1)).toSeq),
        "SignatureStore.ingest_batch_ms" ->
          Layers.median(batchMs.filter(b => tp(b._1)).map(_._2).toSeq),
        "SignatureStore.task_run_ms" ->
          Layers.median(drainSpans.map(_.taskRunMs.toDouble)),
        "SignatureStore.max_median_task_ratio" ->
          drainSpans.map(s => Layers.taskRatio(s.taskMs.toSeq)).maxOption
            .getOrElse(0.0),
        "SignatureStore.batches" ->
          tDrains.map(_._2).sum.toDouble / math.max(1, tDrains.size),
        "SignatureStore.keep_ratio" ->
          acc.size.toDouble / math.max(1, movedIds.size),
        "SignatureStore.store_files" -> Layers.median(tStore.map(_._3).toSeq),
        "SignatureStore.ingest_rows_per_s" ->
          rowsPerS(ingestMs.filter(w => tp(w._1)).toSeq))
    }
  }
}
