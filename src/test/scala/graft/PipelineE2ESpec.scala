package graft

import org.apache.spark.sql.functions._
import graft.functions.{TextOps, VectorOps}
import graft.operators.{EmbedPipeline, RagPrompt}
import graft.sources.{SignatureStore, VectorStore}

/** q79 — the north-star production pipeline composed on the persisted
  * stores. The spec rebuilds every stage INDEPENDENTLY (its own
  * signature-store dedup, its own FULL-PRECISION vector store) and
  * asserts the declared query's retrieval equals the full-precision
  * probe bit-for-bit: the only approximations in the pipeline are the
  * int8 codes (washed out by the exact rerank, the q73 property) and
  * bucket pruning (identical buckets on both sides, since the bucket
  * is computed from the original vector in both stores).
  */
class PipelineE2ESpec extends SparkSpec {
  import spark.implicits._

  test("q79 equals an independently-built full-precision store probe; prompts faithful") {
    val question = "query filter join aggregate window shuffle"
    val got = SparkEntry.queries("q79_pipeline_store")(spark, sf)
      .select($"rank", $"doc_id", $"sim", $"prompt")
      .as[(Int, Long, Double, String)].collect().sortBy(_._1).toSeq
    assert(got.map(_._1) === (1 to 5))
    assert(got.map(_._3).toSeq === got.map(_._3).sortBy(-_).toSeq)

    // independent rebuild of the ingested corpus: same dedup contract,
    // written with this spec's own store paths
    val docs = Tables.documents(spark, sf)
    val p = SignatureStore.Params(shingleK = 3, nBands = 8, rowsPerBand = 2)
    val sig = java.nio.file.Files.createTempDirectory("graft_p79_sig").toString
    SignatureStore.write(docs.filter($"doc_id" % 5 =!= 0), "doc_id", "text", sig, p)
    val batch = docs.filter($"doc_id" % 5 === 0)
    val dup = SignatureStore.dedupAgainstStore(batch, "doc_id", "text", sig, p, 0.5)
      .select($"id_new".as("doc_id")).distinct()
    val corpus = docs.filter($"doc_id" % 5 =!= 0)
      .unionByName(batch.join(dup, Seq("doc_id"), "left_anti"))
    assert(corpus.count() < docs.count(), "dedup stage dropped nothing — fixture split broken")

    // full-precision store over the same embeddings; same probe
    val embedded = corpus.select($"doc_id", $"text",
      VectorOps.hashEmbed(TextOps.words($"text"), 64).as("embedding"))
    val vec = java.nio.file.Files.createTempDirectory("graft_p79_vec").toString
    VectorStore.write(embedded, "doc_id", "embedding", vec)
    val probe = EmbedPipeline.probeVector(spark, question, 64)
    val exact = VectorStore.topK(spark, vec, "doc_id", "embedding", probe, 5)
      .as[(Long, Double)].collect().toSeq
    assert(got.map(r => (r._2, r._3)) === exact)

    // prompt fidelity: llama3 template wrapping question + THIS row's text
    val textById = embedded.select($"doc_id", $"text").as[(Long, String)]
      .collect().toMap
    got.foreach { case (_, id, _, prompt) =>
      assert(prompt.startsWith("\n<|begin_of_text|>"))
      assert(prompt.contains(RagPrompt.SystemPrompt))
      assert(prompt.contains(question + "\n\nContext:\n" + textById(id)))
    }
  }

  test("streaming pipeline: ingest-with-dedup → embed → vector store equals the batch build") {
    import java.nio.file.Files
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val p = SignatureStore.Params(shingleK = 3, nBands = 16, rowsPerBand = 1)
    val threshold = 0.5

    // stage 1: micro-batched ingest with dedup (AvailableNow, file source)
    val staging = Files.createTempDirectory("graft_sp_stage").toString
    docs.repartition(4).write.mode("overwrite").parquet(staging)
    val sig = Files.createTempDirectory("graft_sp_sig").toString + "/s"
    val accepted = Files.createTempDirectory("graft_sp_acc").toString + "/a"
    val q1 = SignatureStore.ingestDedup(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(staging),
      "doc_id", "text", sig, accepted,
      Files.createTempDirectory("graft_sp_ck1").toString, p, threshold)
    assert(q1.awaitTermination(180000))

    // stage 2: embed survivors AS A STREAM off the accepted sink and
    // appendStream them into the vector store (the streaming half of
    // q79's batch pipeline)
    val accSchema = spark.read.parquet(accepted).schema
    val embStream = spark.readStream.schema(accSchema)
      .option("maxFilesPerTrigger", 4).parquet(accepted)
      .select($"doc_id".as("vec_id"),
        VectorOps.hashEmbed(TextOps.words($"text"), 64).as("embedding"))
    val streamed = Files.createTempDirectory("graft_sp_vs").toString + "/v"
    val q2 = VectorStore.appendStream(embStream, "vec_id", "embedding",
      streamed, Files.createTempDirectory("graft_sp_ck2").toString)
    assert(q2.awaitTermination(180000))

    // batch reference over the SAME survivors
    val survivors = spark.read.parquet(accepted).select($"doc_id", $"text")
    assert(survivors.count() > 0)
    val embBatch = survivors.select($"doc_id".as("vec_id"),
      VectorOps.hashEmbed(TextOps.words($"text"), 64).as("embedding"))
    val batchBuilt = Files.createTempDirectory("graft_sp_vsb").toString + "/v"
    VectorStore.write(embBatch, "vec_id", "embedding", batchBuilt)

    assert(spark.read.parquet(streamed).count() === survivors.count())
    val probeId = survivors.agg(min($"doc_id")).as[Long].head()
    val probe = embBatch.filter($"vec_id" === probeId)
      .select($"embedding").head().getSeq[Double](0).toSeq
    def top(path: String) = VectorStore
      .topK(spark, path, "vec_id", "embedding", probe, 10)
      .as[(Long, Double)].collect().toSeq
    val s = top(streamed)
    val b = top(batchBuilt)
    assert(s === b)
    assert(s.head === ((probeId, 1.0)))
  }

  test("q96 pretraining pipeline: stages independently rebuilt, digests equal a sequential driver fold") {
    import graft.operators.{Curation, Packing}
    val declared = SparkEntry.queries("q96_pretrain_pipeline")(spark, sf)
      .as[(Long, Long, Long, Int, Int, Long)].collect().sortBy(_._1).toSeq
    assert(declared.nonEmpty)

    // stage 1 independently: the curated set is q56's declared output
    // (itself ANSI-oracled) joined back to its text
    val curated = SparkEntry.queries("q56_curate")(spark, sf)
      .select($"doc_id", $"source")
      .join(Tables.documents(spark, sf).select($"doc_id", $"text"), Seq("doc_id"))
      .select($"doc_id", $"source", $"text",
        TextOps.tokenCount($"text").as("tokens"))
      .as[(Long, String, String, Int)].collect().sortBy(_._1).toSeq

    // stage 2 independently: budget rates recomputed by driver
    // arithmetic from the curated totals; LCG-percent keep set
    val totals = curated.groupBy(_._2).view.mapValues(_.map(_._4.toLong).sum).toMap
    val rate = totals.view.mapValues(t =>
      if (t <= 0L) 100L else math.min(100L, (100L * 600L) / t)).toMap
    val mixed = curated.filter { case (id, src, _, _) =>
      (id * 1103515245L + 12345L) % 100L < rate(src) }
    val mixedSpark = Curation.mixToBudget(
      curated.map(c => (c._1, c._2, c._3, c._4))
        .toDF("doc_id", "source", "text", "tokens"),
      "doc_id", "source", "tokens", 600L)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(mixedSpark === mixed.map(_._1).toSeq)

    // stage 3 independently: shuffle key/shard/pos by driver arithmetic
    val keyed = mixed.map { case (id, _, t, _) =>
      val k = ((id % (1L << 31)) * 1103515245L + 12345L) % (1L << 31)
      (k % 4L, k, id, t)
    }
    val ordered = keyed.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (shard, rows) =>
        rows.sortBy(r => (r._2, r._3)).zipWithIndex.map { case (r, i) =>
          (shard * (1L << 32) + (i + 1), r._4)
        }
    }.sortBy(_._1)

    // stage 4 independently: BPE-tokenize in the shuffled order and
    // fold the concatenated stream SEQUENTIALLY on the driver — no
    // prefix-scan machinery, no groupBy
    val toks = spark.createDataset(ordered).toDF("ord", "text")
      .select($"ord", TextOps.bpeTokens($"text").as("toks"))
      .as[(Long, Seq[Int])].collect().sortBy(_._1)
    val seqLen = 256L
    val digest = scala.collection.mutable.LinkedHashMap
      .empty[Long, (Long, Set[Long], Int, Int, Long)]
    var gpos = 0L
    for ((ord, ts) <- toks; t <- ts) {
      val sid = gpos / seqLen; val pos = gpos % seqLen
      val cur = digest.getOrElse(sid, (0L, Set.empty[Long], t, t, 0L))
      digest(sid) = (cur._1 + 1, cur._2 + ord,
        if (cur._1 == 0L) t else cur._3, t, cur._5 + (pos + 1) * t)
      gpos += 1
    }
    val expected = digest.toSeq.map { case (sid, (n, ds, f, l, ck)) =>
      (sid, n, ds.size.toLong, f, l, ck) }.sortBy(_._1)
    assert(declared === expected)
    // token conservation across the whole pipeline
    assert(declared.map(_._2).sum === toks.map(_._2.length.toLong).sum)
  }

  test("probeVector runs no Spark job and equals the one-row job's evaluation") {
    val text = "query filter join aggregate window shuffle"
    val (probe, jobs) = jobsRunBy(EmbedPipeline.probeVector(spark, text, 64))
    assert(jobs === 0)
    val viaJob = spark.range(1)
      .select(VectorOps.hashEmbed(TextOps.words(lit(text)), 64))
      .head().getSeq[Double](0)
    assert(probe === viaJob)
    // and the codegen'd per-row evaluation over a column
    val perRow = spark.sparkContext.parallelize(Seq(text), 1).toDF("t")
      .select(VectorOps.hashEmbed(TextOps.words($"t"), 64))
      .head().getSeq[Double](0)
    assert(probe === perRow)
  }
}
