package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{TextOps, VectorOps}

/** The flagship §3.1 pipeline composed end-to-end: noise filter →
  * chunk → hash-embed → top-k cosine retrieval against a probe text.
  *
  * Plan discipline (learned from measurement, not guessed): fan once
  * above the single-row-group scan so the codegen'd embed kernel runs
  * on all cores; do NOT add a second compute-once exchange — with the
  * kernel codegen'd, Catalyst re-inlining it per downstream reference
  * is cheaper than an extra shuffle (BenchOne sf0.1: 0.61 s vs 0.99 s
  * with the barrier). The probe embedding is a constant: it is
  * evaluated ONCE on the driver (the same column expression,
  * constant-folded — bit-identical, no job) and enters the plan as a
  * constant ([[VectorOps.cosine6Probe]]), so per-row work is one
  * codegen'd dot product over attributes and every probe text shares
  * one compiled class.
  */
object EmbedPipeline {

  private def par(spark: SparkSession): Int =
    spark.sparkContext.defaultParallelism

  /** Evaluate the hash-embedding of a constant text on the driver —
    * the same column expression, constant-folded by the optimizer (the
    * kernel's `eval`) and read off the optimized plan, so the result is
    * bit-identical to a per-row evaluation and no job runs. */
  def probeVector(spark: SparkSession, text: String, dim: Int): Seq[Double] =
    spark.range(1)
      .select(VectorOps.hashEmbed(TextOps.words(lit(text)), dim).as("p"))
      .queryExecution.optimizedPlan.expressions.head.eval()
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toDoubleArray().toSeq

  /** documents(textCol) → noise filter → chunk → embed → top-k cosine
    * vs `probeText`. Returns (idCols..., chunk_id, chunk_tokens, sim).
    */
  def topKForProbe(spark: SparkSession, docs: DataFrame, textCol: String,
      probeText: String, dim: Int, k: Int,
      idealTokens: Int = 32, chunkWords: Int = 24): DataFrame = {
    val probe = probeVector(spark, probeText, dim)
    val filtered = NoiseFilter(docs, textCol)
    val embedded = Chunker.chunk(filtered, textCol, idealTokens, chunkWords)
      // parallelize-first: single-row-group sources scan as 1 partition.
      // No second compute-once exchange: with the embed kernel codegen'd,
      // letting TakeOrdered re-inline it beats a barrier (BenchOne sf0.1:
      // 0.61 vs 0.99 s) — same finding as q17/q37/q56 this round.
      .repartition(par(spark), col("doc_id"))
      .withColumn("embedding",
        VectorOps.hashEmbed(TextOps.words(col("chunk_text")), dim))
    rank(embedded, probe, k)
  }

  /** The same flagship pipeline with the embed stage running through a
    * pluggable [[ServiceEmbed]] transport instead of the offline
    * kernel — the production shape when a real embedding service
    * exists (reference: `src/rag/dataframes.rs:113-151`). With
    * [[HashEmbedTransportFactory]] the output is bit-identical to
    * [[topKForProbe]] (asserted in ServiceEmbedSpec); swap in an HTTP
    * factory and nothing else changes. The noise filter stays upstream
    * of the mapPartitions boundary, so discarded rows never reach the
    * service. */
  def topKForProbeService(spark: SparkSession, docs: DataFrame, textCol: String,
      probeText: String, factory: EmbedTransportFactory, dim: Int, k: Int,
      idealTokens: Int = 32, chunkWords: Int = 24): DataFrame = {
    val probe = probeVector(spark, probeText, dim)
    val filtered = NoiseFilter(docs, textCol)
    val chunked = Chunker.chunk(filtered, textCol, idealTokens, chunkWords)
      .repartition(par(spark), col("doc_id"))
    val embedded = ServiceEmbed.withEmbedding(chunked, "chunk_text", factory)
    rank(embedded, probe, k)
  }

  private def rank(embedded: DataFrame, probe: Seq[Double],
      k: Int): DataFrame =
    embedded
      .withColumn("sim", VectorOps.cosine6Probe(col("embedding"), probe))
      .select(col("doc_id"), col("chunk_id"), col("chunk_tokens"), col("sim"))
      .orderBy(col("sim").desc, col("doc_id"), col("chunk_id"))
      .limit(k)
}
