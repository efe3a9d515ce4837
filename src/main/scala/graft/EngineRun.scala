package graft

/** Engine-only scale runner: executes named catalog queries against a
  * data directory WITHOUT the DuckDB compare — the scale-evidence path
  * for queries whose ORACLE is infeasible at a given SF
  * (tools/sweep.py's QUADRATIC set: the engine completes at sf1, the
  * quadratic SQL replay doesn't). Emits ONE JSON line: per-query wall
  * seconds + result row count (a crashed query records err instead of
  * silently looking fast). Row counts make the evidence falsifiable —
  * a rerun at the same SF must reproduce them exactly, and a
  * candidate-explosion regression shows up as a count shift even
  * with no oracle in the loop.
  *
  * Usage: runMain graft.EngineRun <dataDir> <csv-of-name-substrings>
  */
object EngineRun {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, namesCsv) = args
    val names = namesCsv.split(",").toSeq
    val spark = GraftSession.local(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    val sel = graft.queries.Catalog.all
      .filter(q => names.exists(q.name.contains))
    val cells = Runner.run(spark, sel, dataDir, 1)(()).map { r =>
      val s = r.samples.head
      val body = s.rows match {
        case Right(rows) => f""""sec":${s.sec}%.2f,"rows":$rows"""
        case Left(err) =>
          val msg = err.replaceAll("[\"\\\\\\n\\r\\t]", " ")
          f""""sec":${s.sec}%.2f,"err":"$msg""""
      }
      s""""${r.name}":{$body}"""
    }
    println(s"""{"metric":"engine_only","dir":"$dataDir",""" +
      s""""queries":${cells.mkString("{", ",", "}")}}""")
    spark.stop()
  }
}
