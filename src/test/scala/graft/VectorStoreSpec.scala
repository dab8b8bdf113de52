package graft

import java.nio.file.Files
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.sources.{StoreFs, VectorStore}

/** Persisted partition-pruned vector store (sources/VectorStore.scala):
  * the disk layout must round-trip losslessly, the probe read must
  * prune at the PLAN level (PartitionFilters, not a post-scan filter),
  * and the pruned top-k must equal the brute-force top-k over the same
  * candidate buckets.
  */
class VectorStoreSpec extends SparkSpec {
  import spark.implicits._

  private val nBits = 4

  private lazy val path: String = {
    val p = Files.createTempDirectory("graft_vecstore").toString
    VectorStore.write(Tables.embeddings(spark, sf), "vec_id", "embedding", p, nBits)
    p
  }

  test("write round-trips every vector; directory bucket equals recomputed bucket") {
    val src = Tables.embeddings(spark, sf)
    val back = spark.read.parquet(path)
    assert(back.count() === src.count())
    val mismatched = back
      .withColumn("recomputed", VectorStore.bucketOf($"embedding", nBits))
      .filter($"bucket" =!= $"recomputed").count()
    assert(mismatched === 0L)
    val nBuckets = back.select($"bucket").distinct().count()
    assert(nBuckets > 1 && nBuckets <= (1 << nBits))
  }

  test("probe read prunes partitions at plan time (PartitionFilters carry the bucket filter)") {
    val probe = Tables.embeddings(spark, sf).filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
    val buckets = VectorStore.probeBuckets(spark, probe, nBits)
    assert(buckets.length === nBits + 1 && buckets.distinct.length === buckets.length)
    val plan = VectorStore.readCandidates(spark, path, buckets)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.split("PartitionFilters")(1).contains("bucket"), plan)
  }

  test("streaming AvailableNow index build equals the batch-built store") {
    val src = Tables.embeddings(spark, sf)
    // stage the corpus as parquet so it can be re-read as a file stream
    val staging = Files.createTempDirectory("graft_vs_stage").toString
    src.repartition(4).write.mode("overwrite").parquet(staging)
    val streamed = Files.createTempDirectory("graft_vs_stream").toString
    val checkpoint = Files.createTempDirectory("graft_vs_ckpt").toString
    val stream = spark.readStream.schema(src.schema)
      .option("maxFilesPerTrigger", 2) // force multiple micro-batches
      .parquet(staging)
    val q = VectorStore.appendStream(stream, "vec_id", "embedding",
      streamed, checkpoint, nBits)
    assert(q.awaitTermination(120000))
    val batchBuilt = spark.read.parquet(path)
      .select($"vec_id", $"bucket").as[(Long, Int)].collect().toMap
    val streamBuilt = spark.read.parquet(streamed)
      .select($"vec_id", $"bucket").as[(Long, Int)].collect().toMap
    assert(streamBuilt === batchBuilt)
    // the probe path works identically against the streamed store
    val probe = src.filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
    val a = VectorStore.topK(spark, path, "vec_id", "embedding", probe, 10, nBits)
      .as[(Long, Double)].collect().toSeq
    val b = VectorStore.topK(spark, streamed, "vec_id", "embedding", probe, 10, nBits)
      .as[(Long, Double)].collect().toSeq
    assert(a === b)
  }

  test("quantized store: 1 byte/dim on disk, ~4x smaller; kernel == HOF quantization; " +
      "rerank with full m equals full-precision top-k") {
    import graft.expressions.VectorExpressions
    val src = Tables.embeddings(spark, sf)
    val qpath = Files.createTempDirectory("graft_vecq").toString
    VectorStore.writeQuantized(src, "vec_id", "embedding", qpath, nBits)

    // on-disk payload: BINARY codes of exactly dim bytes per row
    val back = spark.read.parquet(qpath)
    val dim = src.select(size($"embedding")).head().getInt(0)
    assert(back.count() === src.count())
    assert(back.filter(length($"codes") =!= dim).count() === 0)
    def dirBytes(dir: String): Long = {
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => Files.size(p)).sum
    }
    val ratio = dirBytes(qpath).toDouble / dirBytes(path).toDouble
    assert(ratio < 0.6, s"quantized store not smaller: ratio $ratio")

    // Int8Encode kernel == the declarative HOF quantization
    val enc = VectorExpressions.int8Encode($"embedding")
    val rows = src.select(
      enc.getField("codes").as("codes"),
      enc.getField("vmin").as("kmin"),
      enc.getField("scale").as("kscale"),
      array_min($"embedding").cast("double").as("hmin"),
      VectorOps.int8Scale($"embedding").as("hscale"),
      VectorOps.int8Quantize($"embedding").as("hq")).collect()
    rows.foreach { r =>
      assert(r.getDouble(1) === r.getDouble(3))
      assert(r.getDouble(2) === r.getDouble(4))
      val codes = r.getAs[Array[Byte]](0).map(_ & 0xff).toSeq
      assert(codes === r.getSeq[Int](5))
    }

    // exact rerank with m >= candidate-set size == full-precision top-k
    val probe = src.filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
    val exact = VectorStore.topK(spark, path, "vec_id", "embedding", probe, 10, nBits)
      .as[(Long, Double)].collect().toSeq
    val reranked = VectorStore.topKQuantized(spark, qpath, src, "vec_id",
      "embedding", probe, 10, m = src.count().toInt, nBits)
      .as[(Long, Double)].collect().toSeq
    assert(reranked === exact)

    // approx scores stay within a small bound of the exact cosine and
    // the probe's own row survives quantization at the top
    val approx = VectorStore.topKQuantizedApprox(spark, qpath, "vec_id", probe,
      1000, nBits).as[(Long, Double)].collect().toMap
    val exactAll = VectorStore.topK(spark, path, "vec_id", "embedding", probe,
      1000, nBits).as[(Long, Double)].collect().toMap
    val maxErr = exactAll.collect {
      case (id, s) if approx.contains(id) => math.abs(approx(id) - s)
    }.max
    assert(maxErr <= 0.05, s"quantization error too large: $maxErr")
    assert(VectorStore.topKQuantizedApprox(spark, qpath, "vec_id", probe, 5, nBits)
      .as[(Long, Double)].collect().map(_._1).contains(0L))
  }

  test("compaction: probe results identical, one file per bucket") {
    val src = Tables.embeddings(spark, sf)
    val dir = Files.createTempDirectory("graft_vcmp").toString
    VectorStore.write(src.filter($"vec_id" % 2 === 0), "vec_id", "embedding", dir, nBits)
    // simulate daily accretion: several small appends → many files/bucket
    (0 until 3).foreach { i =>
      VectorStore.append(src.filter($"vec_id" % 2 === 1 && $"vec_id" % 3 === i),
        "vec_id", "embedding", dir, nBits)
    }
    val probe = src.filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
    def probeRes() = VectorStore.topK(spark, dir, "vec_id", "embedding", probe, 10, nBits)
      .as[(Long, Double)].collect().toSeq
    def parquetFiles(): Seq[java.nio.file.Path] = {
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .filter(f => f.toString.endsWith(".parquet")).toSeq
    }
    val before = probeRes()
    val filesBefore = parquetFiles().size
    VectorStore.compact(spark, dir, nBits)
    assert(probeRes() === before)
    val nBuckets = spark.read.parquet(dir).select($"bucket").distinct().count()
    assert(parquetFiles().size === nBuckets.toInt, s"$filesBefore -> ${parquetFiles().size}")
    assert(parquetFiles().size < filesBefore)
    // full contents survive the rewrite (evens from the bulk build +
    // every odd id across the three appends = the whole corpus)
    assert(spark.read.parquet(dir).count() === src.count())
  }

  test("delete: tombstones mask ids immediately (full-precision and " +
      "quantized probes); compact applies them physically and clears them") {
    val dir = Files.createTempDirectory("graft_vecstore_del").toString
    val qdir = Files.createTempDirectory("graft_vecstore_delq").toString
    val src = Tables.embeddings(spark, sf)
    VectorStore.write(src, "vec_id", "embedding", dir, nBits)
    VectorStore.writeQuantized(src, "vec_id", "embedding", qdir, nBits)
    val probe = src.filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
    def top(): Seq[(Long, Double)] =
      VectorStore.topK(spark, dir, "vec_id", "embedding", probe, 5, nBits)
        .as[(Long, Double)].collect().toSeq
    val before = top()
    assert(before.head._1 === 0L) // self ranks first
    // delete the top hit plus a non-existent id (harmless)
    val dead = Seq(0L, -12345L).toDF("vec_id")
    VectorStore.delete(spark, dir, dead)
    VectorStore.delete(spark, qdir, dead)
    val after = top()
    assert(!after.exists(_._1 == 0L), after.toString)
    assert(after === before.filterNot(_._1 == 0L) :+ after.last)
    // a second delete accumulates; mismatched column names are rejected
    VectorStore.delete(spark, dir, Seq(before(1)._1).toDF("vec_id"))
    assert(!top().exists(r => r._1 == 0L || r._1 == before(1)._1))
    intercept[IllegalArgumentException] {
      VectorStore.delete(spark, dir, Seq(1L).toDF("other_id"))
    }
    // quantized probe masks too
    val qtop = VectorStore.topKQuantized(spark, qdir, src, "vec_id",
      "embedding", probe, 5, m = 50, nBits)
      .as[(Long, Double)].collect().toSeq
    assert(!qtop.exists(_._1 == 0L))
    // compact: rows physically gone, tombstone dir cleared, probe stable
    val expected = top()
    VectorStore.compact(spark, dir, nBits)
    assert(top() === expected)
    val back = spark.read.parquet(dir)
    assert(back.filter($"vec_id" === 0L || $"vec_id" === before(1)._1)
      .count() === 0L)
    assert(back.count() === src.count() - 2)
    assert(!new java.io.File(dir + "/_tombstones").exists())
    // post-compact, the id can be re-inserted and is visible again
    VectorStore.append(src.filter($"vec_id" === 0L), "vec_id", "embedding",
      dir, nBits)
    assert(top().head._1 === 0L)
  }

  test("pruned top-k equals brute-force top-k over the candidate buckets; self ranks first") {
    val probe = Tables.embeddings(spark, sf).filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
    val buckets = VectorStore.probeBuckets(spark, probe, nBits).toSet
    val got = VectorStore.topK(spark, path, "vec_id", "embedding", probe, 10, nBits)
      .as[(Long, Double)].collect().toSeq
    // brute force over the full table, restricted to the same buckets
    val probeCol = array(probe.map(lit): _*)
    val expected = Tables.embeddings(spark, sf)
      .withColumn("bucket", VectorStore.bucketOf($"embedding", nBits))
      .filter($"bucket".isInCollection(buckets))
      .select($"vec_id", VectorOps.cosine6($"embedding", probeCol).as("sim"))
      .orderBy($"sim".desc, $"vec_id")
      .limit(10).as[(Long, Double)].collect().toSeq
    assert(got === expected)
    assert(got.head === ((0L, 1.0))) // the probe's own row is never pruned away
  }

  private def storeVector(id: Long): Seq[Double] =
    Tables.embeddings(spark, sf).filter($"vec_id" === id)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble).toSeq

  test("topK construction runs no Spark job, with and without pending tombstones") {
    val probe = storeVector(0)
    val (df, jobs) = jobsRunBy(
      VectorStore.topK(spark, path, "vec_id", "embedding", probe, 5, nBits))
    assert(jobs === 0)
    assert(df.as[(Long, Double)].collect().head === ((0L, 1.0)))

    val dir = Files.createTempDirectory("graft_vs_jobs").toString
    VectorStore.write(Tables.embeddings(spark, sf), "vec_id", "embedding", dir, nBits)
    VectorStore.delete(spark, dir, Seq(0L).toDF("vec_id"))
    val (masked, maskedJobs) = jobsRunBy(
      VectorStore.topK(spark, dir, "vec_id", "embedding", probe, 5, nBits))
    assert(maskedJobs === 0)
    assert(!masked.as[(Long, Double)].collect().exists(_._1 == 0L))
  }

  test("every probe generates the same code (the probe norm is not a folded literal)") {
    // norms 1 and 3: a folded norm literal would differ in the source
    val probes = Seq(storeVector(0), storeVector(1).map(_ * 3.0))
    val codes = probes.map { p =>
      val df = VectorStore.topK(spark, path, "vec_id", "embedding", p, 5, nBits)
      df.collect() // the adaptive plan holds its codegen stages once executed
      df.queryExecution.debug.codegenToSeq().map(_._2)
    }
    assert(codes.head.nonEmpty)
    assert(codes.head === codes(1))
  }

  test("driver-side probeBuckets equals the column-evaluated bucket " +
      "(200 seeded probes incl. a zero vector, double[] and float[] columns; " +
      "every row of the float[] store)") {
    val dim = 64
    val rng = new scala.util.Random(20261017L)
    val probes = Seq.fill(dim)(0.0) +: Seq.fill(199)(Seq.fill(dim)(rng.nextGaussian()))
    val rows = spark.sparkContext
      .parallelize(probes.zipWithIndex.map { case (p, i) =>
        (i, p.toArray, p.map(_.toFloat).toArray)
      }, 4)
      .toDF("i", "d", "f")
      .select($"i", VectorStore.bucketOf($"d", nBits), VectorStore.bucketOf($"f", nBits))
      .as[(Int, Int, Int)].collect()
    assert(rows.length === 200)
    rows.foreach { case (i, bd, bf) =>
      assert(VectorStore.probeBuckets(spark, probes(i), nBits).head === bd, s"probe $i")
      assert(VectorStore.probeBuckets(spark, probes(i).map(_.toFloat.toDouble),
        nBits).head === bf, s"probe $i as float[]")
    }
    // the float[]-typed store: each row sits in its probe bucket's directory
    spark.read.parquet(path).orderBy($"vec_id").limit(200)
      .select($"embedding", $"bucket").collect().foreach { r =>
        val v = r.getSeq[Float](0).map(_.toDouble)
        assert(VectorStore.probeBuckets(spark, v, nBits).head === r.getInt(1))
      }
  }

  test("footer schema equals the inferred schema (store, quantized store, tombstones)") {
    val qdir = Files.createTempDirectory("graft_vs_fq").toString
    VectorStore.writeQuantized(Tables.embeddings(spark, sf), "vec_id", "embedding",
      qdir, nBits)
    val dir = Files.createTempDirectory("graft_vs_fd").toString
    VectorStore.write(Tables.embeddings(spark, sf), "vec_id", "embedding", dir, nBits)
    VectorStore.delete(spark, dir, Seq(3L, 4L).toDF("vec_id"))
    Seq(path, qdir, dir + "/_tombstones").foreach { p =>
      assert(StoreFs.footerSchema(spark, p).isDefined, p)
      val (df, jobs) = jobsRunBy(StoreFs.readParquet(spark, p))
      assert(jobs === 0, p)
      assert(df.schema === spark.read.parquet(p).schema, p)
    }
    // the partition column is still inferred from the directory names
    assert(StoreFs.readParquet(spark, path).schema.last.name === "bucket")
    assert(StoreFs.footerSchema(spark, path).get.fieldNames.toSeq ===
      Seq("vec_id", "embedding"))
  }

  test("footer schema falls back to inference when the store has no data file") {
    val empty = Files.createTempDirectory("graft_vs_empty")
    Files.createFile(empty.resolve("_SUCCESS"))
    Files.createDirectories(empty.resolve("_temporary/0"))
    assert(StoreFs.footerSchema(spark, empty.toString).isEmpty)
    val inferred = intercept[AnalysisException](spark.read.parquet(empty.toString))
    val viaHelper = intercept[AnalysisException](StoreFs.readParquet(spark, empty.toString))
    assert(viaHelper.getCondition === inferred.getCondition)
    // absent store (a compaction swap's no-live window): the same
    // PATH_NOT_FOUND error withReadRetry classifies as recoverable
    val absent = empty.resolve("gone").toString
    assert(StoreFs.footerSchema(spark, absent).isEmpty)
    val e = intercept[AnalysisException](StoreFs.readParquet(spark, absent))
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
    assert(VectorStore.tombstones(spark, empty.toString).isEmpty)
  }
}
