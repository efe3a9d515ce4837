package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}
import graft.functions.DedupConfig.{K, Bands, Rpb, JaccThreshold, sizeRatioOk}

/** Stage-level profiler for perf work on the dedup family, one mode
  * per run (not part of the gates):
  *  - `family`: candidate-stage counts and timings for q88/q99/q104
  *    (OPTIMIZATION_r17.md);
  *  - `semscale`: q131's capped spill pairs at the pinned K=8 vs an
  *    occupancy-budget K (COVERAGE.md, artifacts/r16_scaling_study.md).
  *
  * `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Prof family|semscale"` */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      s"${graft.queries.Fixtures.testdataRoot}/sf0.1")
    val mode = args.headOption.getOrElse("")
    require(Set("family", "semscale")(mode), s"usage: graft.Prof family|semscale (got '$mode')")
    val spark = GraftSession.local(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    if (mode == "family") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      time("read+count")(docs.count())
      profFamily(spark, docs)
    } else profSemScale(spark, sfDir)
    spark.stop()
  }

  private def time[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"PROF $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  /** Candidate-stage counts for the dedup-family gates that compose
    * several stages (q88 pipeline, q99 incremental, q104 Bloom) —
    * each block mirrors the gated query's own candidate stage so the
    * driver-corpus vs enriched-twin comparison covers the whole
    * family, not just q41/q92. Counts only; no fixture writes. */
  private def profFamily(spark: SparkSession,
                         docs: org.apache.spark.sql.DataFrame): Unit = {
    // ---- q88: band collisions over exact-dedup survivors
    val d = docs.select(col("doc_id"), col("lang"), col("text"))
    val raw = d.unionByName(d.filter(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + 100000L))
    val exact = raw.withColumn("fp", xxhash64(col("text")))
      .groupBy(col("lang"), col("fp"), col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .localCheckpoint(true)
    val sig88 = graft.operators.SetSimJoin.withBitmap(
        exact.select(col("doc_id"), col("text"),
          TF.shingles(col("text"), 3).as("sh")), "doc_id", "sh")
      .withColumn("hl", TF.shingleHashes(col("text")))
      .withColumn("sig", TF.minhashSignatureNative(col("hl"), K))
      .drop("text", "hl")
      .localCheckpoint(true)
    val bands88 = sig88.select(col("doc_id"), col("sz"), col("bm"),
      posexplode(array((0 until Bands).map(b =>
        TF.bandKey(col("sig"), b, Rpb)): _*)).as(Seq("band_idx", "band_key")))
    val cand88 = bands88.as("a").join(bands88.as("b"),
      col("a.band_idx") === col("b.band_idx") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id") &&
        sizeRatioOk(col("a.sz"), col("b.sz")))
    time("q88 candidates")(println(s"PROF   q88 cand rows: ${cand88.count()}"))
    val ver88 = cand88.filter(graft.operators.SetSimJoin.jaccardX1000(
      col("a.bm"), col("b.bm"), col("a.sz"), col("b.sz")) >= JaccThreshold)
    time("q88 verify")(println(s"PROF   q88 verified pairs: ${ver88.count()}"))
    // r17 (VERDICT r16 item 6): is a distinct-before-verify worth it?
    // Each (a, b) pair colliding in k of the 4 bands pays the bitmap
    // popcount k times in the inline form; distinct-first pays one
    // shuffle of the skinny pair stream instead. Numbers decide.
    val candSkinny = bands88.select(col("doc_id"), col("band_idx"),
        col("band_key"), col("sz")).as("a")
      .join(bands88.select(col("doc_id"), col("band_idx"),
        col("band_key"), col("sz")).as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id") &&
          sizeRatioOk(col("a.sz"), col("b.sz")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val cd88 = time("q88 skinny enum+distinct")(
      candSkinny.distinct().localCheckpoint(true))
    println(s"PROF   q88 distinct pairs: ${cd88.count()}")
    val ver88d = cd88
      .join(broadcast(sig88.select(col("doc_id").as("doc_a"),
        col("bm").as("bm_a"), col("sz").as("sz_a"))), "doc_a")
      .join(broadcast(sig88.select(col("doc_id").as("doc_b"),
        col("bm").as("bm_b"), col("sz").as("sz_b"))), "doc_b")
      .filter(graft.operators.SetSimJoin.jaccardX1000(
        col("bm_a"), col("bm_b"), col("sz_a"), col("sz_b")) >= JaccThreshold)
    time("q88 verify distinct-first")(
      println(s"PROF   q88 verified (distinct-first): ${ver88d.count()}"))
    sig88.agg(count(lit(1)), avg(size(col("bm"))), max(size(col("bm"))),
        avg(col("sz")), max(col("sz"))).show()

    // ---- q99: distinct (wave, index) band-bucket hits — the
    // signing/banding is the gates' own shared front end, so the
    // profiled stage can never drift from what q99/q109/q110 run
    import graft.functions.MinhashPipeline.{signedDocs => signed, bandKeysOf => bandsOf}
    val corpus99 = docs.filter(col("doc_id") % 4 === 0 && length(col("text")) >= 3)
      .select("doc_id", "lang", "text")
    val wave99 = corpus99.filter(col("doc_id") % 20 === 0)
      .withColumn("doc_id", col("doc_id") + 200000L)
      .unionByName(corpus99.filter(col("doc_id") % 20 === 4)
        .withColumn("doc_id", col("doc_id") + 300000L)
        .withColumn("text", reverse(col("text"))))
    val cand99 = bandsOf(signed(wave99)).withColumnRenamed("doc_id", "w_id")
      .join(bandsOf(signed(corpus99)), "bkey")
      .select(col("w_id"), col("doc_id").as("idx_id"))
      .distinct()
    time("q99 candidates")(println(s"PROF   q99 cand pairs: ${cand99.count()}"))

    // ---- q104: test 5-grams surviving the broadcast Bloom probe
    // (splitGrams replicated from QueriesLlm — doc_id-hash split,
    // distinct 5-token-gram polyhash fingerprints)
    val P = TF.HashMod
    val b104 = ((col("doc_id") * 1103515245L + 12345L) % 2147483647L) % 100
    val toks = docs
      .withColumn("split",
        when(b104 < 80, "train").when(b104 < 90, "val").otherwise("test"))
      .filter(col("split") =!= "val")
      .select(col("doc_id"), col("split"), TF.tokens(lower(col("text"))).as("t"))
      .filter(size(col("t")) >= 5)
    val grams = toks.select(col("doc_id"), col("split"),
        explode(array_distinct(transform(sequence(lit(1), size(col("t")) - 4),
          i => aggregate(transform(slice(col("t"), i, lit(5)), tok => TF.polyHash(tok)),
            lit(0L), (acc, h) => (acc * 31 + h) % P)))).as("fp"))
      .localCheckpoint(true)
    val train = grams.filter(col("split") === "train")
    val test = grams.filter(col("split") === "test")
    val numBits = 1L << 20
    val bloom = graft.operators.BloomFilter.build(train, "fp", numBits, 3)
    val cand104 = test.crossJoin(broadcast(bloom))
      .filter(graft.operators.BloomFilter.mayContain(
        col("bloom"), col("fp"), numBits, 3))
    val nTest = test.count()
    val nCand = time("q104 bloom survivors")(cand104.count())
    val nTrue = cand104.join(train.select(col("fp")).distinct(), Seq("fp"), "left_semi").count()
    println(s"PROF   q104 test grams: $nTest, bloom survivors: $nCand, " +
      s"true hits: $nTrue, false-positive rate: " +
      f"${if (nTest == nTrue) 0.0 else (nCand - nTrue).toDouble / (nTest - nTrue)}%.4f")
  }

  /** The q131 scaling follow-up (r16): [[graft.operators.IvfKmeans
    * .cappedSpillPairs]] on q131's exact corpus at the gate's pinned
    * K=8 vs the q134 occupancy-discipline K (smallest K holding mean
    * 2-probe occupancy <= OccBudget=96, the hand-off COVERAGE
    * documents). The r16 study measured the pinned-K gate at
    * wall ∝ scale^~2 (sf1 -> sf10): capCells leaves COLD cells
    * uncapped — their pair cost is the 1.5×-mean occupancy line, and
    * at FIXED K the mean grows ∝ n, so cold-cell enumeration is
    * (n/K)²·K. The production path holds occupancy constant by
    * GROWING K (the q134 hand-off), which this run demonstrates
    * engine-only. Training uses a deterministic 1-in-20 sample (the
    * production IVF discipline; the gate trains on the full corpus
    * only because gate scale is tiny). */
  private def profSemScale(spark: SparkSession, sfDir: String): Unit = {
    import graft.operators.IvfKmeans
    import graft.functions.DedupConfig.HotBucketCap
    import graft.functions.{VectorFunctions => VF}
    val Off = 4000L; val Thresh = 400000L; val OccBudget = 96L
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val anchor = base.orderBy(col("vec_id")).limit(1)
      .select(col("embedding").as("ae"))
    val corpus = base
      .unionByName(base.filter(col("vec_id") % 7 === 0)
        .withColumn("vec_id", col("vec_id") + 100000L))
      .unionByName(base.crossJoin(broadcast(anchor))
        .select((col("vec_id") + 200000L).as("vec_id"),
          col("ae").as("embedding")))
    val e = corpus.select(col("vec_id"),
        VF.asDouble(col("embedding")).as("v"),
        IvfKmeans.quantize(col("embedding"), Off).as("qv"))
      .withColumn("nrm", sqrt(VF.normSq(col("v"))))
      .localCheckpoint(true)
    val n = e.count()
    // q134's discipline: 2-probe spill rows / K <= OccBudget
    val kMeasured = math.max(8L, 2L * n / OccBudget).toInt
    println(s"PROF semscale corpus n=$n  pinned K=8  measured K=$kMeasured")
    // arm selection: the pinned-K arm is quadratic BY DESIGN at sf10
    // (that is the finding) — if a run of it must be abandoned for
    // wall-clock, SPARK_GRAFT_SEMSCALE_KS=measured reruns just the
    // linear arm ("8"/"measured"/explicit ints, comma-separated)
    val arms = sys.env.get("SPARK_GRAFT_SEMSCALE_KS")
      .map(_.split(",").toSeq.map {
        case "measured" => kMeasured
        case "8"        => 8
        case s          => s.trim.toInt
      })
      .getOrElse(Seq(8, kMeasured))
    arms.foreach { k =>
      val cents = time(s"semscale train K=$k")(
        IvfKmeans.train(e.filter(col("vec_id") % 20 === 0)
          .select(col("vec_id"), col("qv")), k, 3).localCheckpoint(true))
      val pairs = time(s"semscale pairs K=$k")(
        IvfKmeans.cappedSpillPairs(e, cents, Thresh, k, HotBucketCap).count())
      println(s"PROF semscale K=$k verified pairs=$pairs")
    }
  }
}
