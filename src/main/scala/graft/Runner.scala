package graft

import org.apache.spark.sql.SparkSession
import graft.queries.Q

/** The one query loop behind Bench (N runs) and EngineRun (1 run):
  * each run of each query records wall seconds plus either its row
  * count or its error, and frees the blocks the query pinned so they
  * never inflate the next query's time. */
object Runner {
  /** One run: `probe` is what the caller sampled just before the timed
    * section (Bench: loadavg and stretch; EngineRun: nothing). */
  final case class Sample[P](probe: P, sec: Double, rows: Either[String, Long])

  final case class Result[P](name: String, samples: Seq[Sample[P]]) {
    /** Any failed run fails the query: a failure must never look fast. */
    def failed: Boolean = samples.exists(_.rows.isLeft)
    def best: Double = samples.map(_.sec).min
  }

  /** Sum of the per-query minima over the queries that never failed. */
  def total(results: Seq[Result[_]]): Double =
    results.filterNot(_.failed).map(_.best).sum

  def run[P](spark: SparkSession, qs: Seq[Q], dir: String, runs: Int)
            (probe: => P): Seq[Result[P]] = {
    // clearBlocks() unpersists locally-checkpointed RDDs, which logs a
    // benign "lineage has been truncated" WARN per block (each query
    // rebuilds from source); silence that one category so real
    // warnings stay visible
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    qs.map { q =>
      Result(q.name, (1 to runs).map { _ =>
        val p = probe
        val t0 = System.nanoTime()
        val rows =
          try Right(q.fn(spark, dir).count())
          catch { case e: Throwable =>
            Left(e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(200))
          }
        val sec = (System.nanoTime() - t0) / 1e9
        // stderr, so a caller's stdout JSON line stays parseable
        rows.left.foreach(err => System.err.println(s"[runner] ${q.name} FAILED: $err"))
        clearBlocks(spark)
        Sample(p, sec, rows)
      })
    }
  }

  /** Free cached tables AND localCheckpoint/persist blocks. */
  private def clearBlocks(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
