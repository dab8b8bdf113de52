package graft.perfbench

import org.apache.spark.sql.DataFrame

import graft.SparkEntry

/** Output checks, run after the timed passes. */
object Checks {
  /** Every pass of a run must produce the same result digest per step. */
  def stableDigests(r: Run,
      digests: scala.collection.Map[String, scala.collection.Seq[(Long, Long)]])
      : Unit =
    for ((step, ds) <- digests)
      r.check(s"$step digest identical across passes", ds.distinct.size == 1,
        s"digests ${ds.distinct.mkString(",")}")

  /** Write each step's output for a DuckDB comparison against the declared
    * query's oracle SQL — only oracles written over the input tables; the
    * ones that replay pinned expected files describe other inputs and are
    * left to the digest check. `views` rebinds oracle table names for steps
    * that run an operator on another table's columns. */
  def oracles(r: Run, steps: Seq[String],
      views: Map[String, (String, Map[String, String])])(
      build: String => DataFrame): Unit =
    for (step <- steps) {
      val (query, bind) =
        views.getOrElse(step, step -> Map.empty[String, String])
      SparkEntry.oracleSql.get(query).filterNot(_.contains("read_parquet("))
        .foreach { sql =>
          val out = s"${r.work}/out/$step"
          try {
            val t0 = System.nanoTime()
            build(step).coalesce(1).write.mode("overwrite").parquet(out)
            r.notes(s"oracle_output_ms.$step") = (System.nanoTime() - t0) / 1e6
            r.oracleChecks += Map("step" -> step, "query" -> query,
              "out" -> out, "sql" -> sql, "views" -> bind)
          } catch {
            case e: Throwable =>
              r.attempted += 1
              r.fail(s"$step oracle output", e)
          }
        }
    }
}
