package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.types.{DataType, StructType}

/** Hadoop-`FileSystem` path operations shared by the crash-resumable
  * stores ([[SignatureStore]], `Packing`'s streaming state): every
  * store directory is named by a URI-capable string, so probing and
  * pruning must go through the Hadoop API — `java.io.File` silently
  * works only on the local filesystem and would strand these paths on
  * `hdfs://`/`s3a://`, the deployment target at 100 TB. (The
  * compaction swap already did this; these helpers extend the same
  * discipline to existence probes, listings and retention deletes.) */
private[graft] object StoreFs {

  def fileSystem(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** True iff `dir` holds at least one COMMITTED data file (Spark hides
    * `_`/`.`-prefixed paths, so a crashed write's `_temporary` debris
    * does not count — a store that "exists" but has no committed files
    * must be treated as absent, both for decision correctness and
    * because schema inference on it would fail). */
  def hasCommittedData(spark: SparkSession, dir: String): Boolean = {
    val (fs, p) = fileSystem(spark, dir)
    fs.exists(p) && firstDataFile(fs, fs.getFileStatus(p)).isDefined
  }

  // Spark's visibility rule: `_`/`.`-prefixed names are hidden UNLESS
  // they contain `=` — a partition directory like `__batch_id=0` is
  // data, `_temporary`/`_SUCCESS` are not
  private def visible(n: String): Boolean =
    !(n.startsWith("_") || n.startsWith(".")) || n.contains("=")

  /** The first committed data file at or under `st`, depth-first. */
  private def firstDataFile(fs: FileSystem, st: FileStatus): Option[FileStatus] =
    if (st.isFile) Some(st)
    else fs.listStatus(st.getPath).iterator
      .filter(c => visible(c.getPath.getName))
      .flatMap(firstDataFile(fs, _)).nextOption()

  /** The data schema Spark wrote into the footer of the first data file
    * under `paths` (`org.apache.spark.sql.parquet.row.metadata` — the
    * key Parquet schema inference reads too), read on the driver. None
    * when no path holds a data file or the footer carries no Spark
    * schema (a foreign writer). */
  def footerSchema(spark: SparkSession, paths: String*): Option[StructType] =
    paths.iterator.flatMap { dir =>
      val (fs, p) = fileSystem(spark, dir)
      if (!fs.exists(p)) None
      else firstDataFile(fs, fs.getFileStatus(p)).map(fs -> _)
    }.nextOption().flatMap { case (fs, st) =>
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(st, fs.getConf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      Option(footer.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
        .collect { case s: StructType => s }
    }

  /** `spark.read.parquet(paths: _*)` without Parquet's schema-inference
    * job: the [[footerSchema]] is handed to `spark.read.schema`, so
    * building the DataFrame runs no Spark job. Partition columns are
    * still inferred from the directory names (the schema names data
    * columns only), so partition pruning is unchanged. Falls back to
    * inference when there is no footer schema — including an absent
    * path, which then fails as before (PATH_NOT_FOUND). A data file
    * renamed away between listing and footer read (a racing compaction
    * swap) throws FileNotFoundException; both stay recoverable under
    * [[retryingRead]]. */
  def readParquet(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths: _*) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** Names of `dir`'s immediate children; empty when `dir` is absent. */
  def childNames(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, p) = fileSystem(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName).toSeq
  }

  /** Recursive delete; no-op when absent. */
  def delete(spark: SparkSession, dir: String): Unit = {
    val (fs, p) = fileSystem(spark, dir)
    fs.delete(p, true)
    ()
  }

  /** Absolute paths of `dir`'s immediate COMMITTED data files (visible
    * per the `_`/`.` rule), empty when absent — the snapshot primitive
    * for compact()'s apply-then-delete of the tombstone dir: reading
    * and deleting an explicit file list means a tombstone file appended
    * AFTER the snapshot survives untouched to the next compaction
    * instead of being applied-never/deleted-anyway. */
  def listDataFiles(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, p) = fileSystem(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isFile && {
        val n = st.getPath.getName
        !(n.startsWith("_") || n.startsWith("."))
      })
      .map(_.getPath.toString)
  }

  // --- writer-vs-compact exclusion lease -------------------------------
  //
  // compact() owns the store while it runs: it collapses/renames the
  // very directories a racing append/ingest-batch/delete would write
  // into (a write landing in the no-live window even recreates the live
  // path and breaks the swap's rename). Readers got a retry contract;
  // writers get FAIL-FAST: compact writes an epoch lock file at entry
  // and removes it at exit, and every writer probes it first, throwing
  // a clear error instead of corrupting the swap. This is a fail-fast
  // guard, not a distributed lock manager — the probe-then-write window
  // is not closed (HDFS create(overwrite=false) is atomic; the local FS
  // one is check-then-create), which is the documented posture: the
  // race it closes is the operationally likely one (a scheduled ingest
  // overlapping a scheduled compaction by minutes, not microseconds).
  // A compactor CRASH leaves the lock in place — writers keep failing
  // with a message naming `recover()`, which clears it; `recover()` is
  // also the gate back to compacting after a crash (a fresh compact()
  // REFUSES a held lease rather than silently re-acquiring — the old
  // overwrite-acquire let two concurrent compact() calls both "own" the
  // store, and the second's release unlocked writers mid-swap of the
  // first).

  /** Acquire the compactor lease ATOMICALLY (`create(overwrite=false)`
    * — atomic on HDFS; check-then-create on the local FS, the same
    * documented posture as the writer probe). A lease already present
    * means either a LIVE concurrent compact() or a crashed one — both
    * demand the operator's decision, so this throws instead of taking
    * over: wait for the live compactor, or run recover() after a
    * crash. */
  def acquireLease(spark: SparkSession, lockPath: String): Unit = {
    val (fs, p) = fileSystem(spark, lockPath)
    val out =
      try fs.create(p, false)
      catch {
        case e: java.io.IOException =>
          throw new IllegalStateException(
            s"compact() rejected: the store lease at $lockPath is already " +
              "held - another compact() is running, or a previous one " +
              "crashed (run recover() to clear a crashed compactor's lease)",
            e)
      }
    out.write(
      s"compact pid=${ProcessHandle.current().pid()} epoch=${System.currentTimeMillis()}"
        .getBytes("UTF-8"))
    out.close()
  }

  /** Release the compactor lease; no-op when absent. */
  def releaseLease(spark: SparkSession, lockPath: String): Unit = {
    val (fs, p) = fileSystem(spark, lockPath)
    fs.delete(p, false)
    ()
  }

  /** Writer-side probe: throw if a compactor lease is present. */
  def failIfLeased(spark: SparkSession, lockPath: String,
      what: String): Unit = {
    val (fs, p) = fileSystem(spark, lockPath)
    if (fs.exists(p))
      throw new IllegalStateException(
        s"$what rejected: a compact() holds the store lease at $lockPath " +
          "- wait for compaction to finish, or run recover() if the " +
          "compactor crashed (a crash leaves the lease in place)")
  }

  /** The `beforeTrashDelete` hook body shared by the single-directory
    * stores (`VectorStore`, `MediaDedupStore`), whose `_tombstones/`
    * dir lives INSIDE the swapped store dir and therefore rides the old
    * live dir into `<path>.trash`: move any tombstone file NOT in the
    * compaction's entry snapshot (`snapNames`) back into the new live
    * dir's `_tombstones/`, so a delete that raced past the lease's
    * probe-then-write window stays in force until the next compaction
    * instead of being discarded with the trash. */
  def rescueLateTombstones(spark: SparkSession, path: String,
      snapNames: Set[String]): Unit = {
    val (fs, trashTs) = fileSystem(spark, path + ".trash/_tombstones")
    if (fs.exists(trashTs)) {
      val late = fs.listStatus(trashTs).filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".") &&
          !snapNames.contains(n)
      }
      if (late.nonEmpty) {
        val liveTs = new Path(path + "/_tombstones")
        fs.mkdirs(liveTs)
        late.foreach { st =>
          require(fs.rename(st.getPath,
            new Path(liveTs, st.getPath.getName)),
            s"compaction failed to rescue late tombstone ${st.getPath}")
        }
      }
    }
  }

  /** Run a store probe with retry-on-recoverable-read — the reader's
    * half of the compaction contract. A probe racing a concurrent
    * `compact()` can observe two transient states: (a) the between-
    * renames window where no live dir exists (reads throw
    * PATH_NOT_FOUND), and (b) a file listing captured BEFORE the swap
    * whose files were renamed away before the scan opened them
    * (FileNotFoundException mid-job; Spark's session file-status cache
    * can also serve the stale listing to a fresh read). Both are
    * transient — the swap itself is two directory renames — so the
    * resolution is: refresh the session's cached listings for
    * `refreshPaths`, back off briefly, and re-run the probe from plan
    * construction. `thunk` must therefore BUILD the read and run the
    * action (not reuse a pre-built DataFrame, whose file index is the
    * stale state being retried away). Non-recoverable errors and
    * exhausted attempts propagate unchanged. NOT a substitute for
    * `recover()` after a compactor CRASH — a dead compactor leaves the
    * no-live state permanently and retries here will exhaust; crash
    * recovery stays an explicit owner-side operation because running it
    * mid-swap would fight a live compactor for the same renames. */
  def retryingRead[T](spark: SparkSession, refreshPaths: Seq[String],
      attempts: Int = 6)(thunk: => T): T = {
    def recoverable(t: Throwable): Boolean = {
      val chain = Iterator.iterate(t)(_.getCause)
        .takeWhile(_ != null).take(10).toSeq
      chain.exists { e =>
        val m = Option(e.getMessage).getOrElse("")
        e.isInstanceOf[java.io.FileNotFoundException] ||
          m.contains("PATH_NOT_FOUND") ||
          m.contains("Path does not exist") ||
          m.contains("FileNotFoundException")
      }
    }
    def loop(attempt: Int): T =
      try thunk
      catch {
        case e: Throwable if attempt < attempts && recoverable(e) =>
          refreshPaths.foreach { p =>
            try spark.catalog.refreshByPath(p)
            catch { case _: Throwable => () } // path absent mid-swap: fine
          }
          Thread.sleep(100L * attempt)
          loop(attempt + 1)
      }
    loop(1)
  }
}
