package graft.functions

import graft.SparkSpec
import graft.functions.MinhashPipeline._
import graft.operators.MinhashIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Gates for [[MinhashPipeline.verifiedDupPairsCapped]] /
  * `acceptAgainstIndexCapped` — the hot-bucket-controlled form of the
  * wave-vs-index candidate join the r16 scaling study measured as the
  * engine's last super-linear candidate generator (q109/q110 walls
  * ∝ scale^~1.3 on copy-dense corpora; artifacts/r16_scaling_study.md).
  *
  *  1. EQUIVALENCE on benign corpora: with no bucket over cap the
  *     capped accept must equal the uncapped accept exactly (grp = 0
  *     everywhere reduces the join key to bkey).
  *  2. RECALL through the cap + the bound: a flood family far over cap
  *     is still FOUND (its wave re-sends rejected), while the capped
  *     candidate count is wave-linear, not occupancy-linear.
  *  3. PLAN: the index band table feeds occupancy, windowed cap, and
  *     the join from its bucketed scan EXCHANGE-FREE — the wave pays
  *     the plan's only bkey shuffle, so per-wave cost never re-keys
  *     the corpus-sized side (the q98/q99 amortization, preserved).
  */
class IndexAcceptCapSpec extends SparkSpec {
  import spark.implicits._

  private val root = "/root/repo/tmp/idxcapspec"

  /** Distinct filler docs — long enough to shingle, pairwise FAR.
    * Hash-derived base-36 words, no shared template: a natural-prose
    * template ("document number N speaks of ...") makes every doc a
    * char-3-gram near-dup of every other (J >= 0.7), which silently
    * turns a "benign" corpus into an all-hot one. */
  private def word(seed: Int): String =
    java.lang.Long.toString(
      math.abs(seed * 2654435761L) % 60466176L + 1679616L, 36)
  private def doc(i: Int): String =
    (0 until 12).map(j => word(i * 12 + j)).mkString(" ")

  private def writeIdx(sigDf: DataFrame, tag: String): MinhashIndex.Handle =
    MinhashIndex.create(s"graft_idxcap_$tag", s"$root/$tag",
      sigDf.withColumn("sg", contentFp(col("hl"))), bandExtra = Seq("sg"),
      buckets = 4)

  private def drop(h: MinhashIndex.Handle): Unit =
    graft.sources.Bucketed.reset(spark, Seq(h.docTable, h.bandTable), root)

  test("benign corpus: capped accept equals uncapped accept exactly") {
    // families of size 3 (<= cap 8): every bucket under cap, so the
    // capped join must reduce to the uncapped one
    val corpus = (0 until 60).map(i => (i.toLong, doc(i % 20)))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val sig = signedDocs(corpus).localCheckpoint(true)
    val t = writeIdx(sig, "benign")
    try {
      val wave = (0 until 30).map(i =>
          (1000L + i, if (i % 2 == 0) doc(i % 20) else doc(100 + i)))
        .toDF("doc_id", "text").withColumn("lang", lit("en"))
      val wsig = signedDocs(wave).localCheckpoint(true)
      val capped = acceptAgainstIndexCapped(wsig, t, 8)
        .select("doc_id").as[Long].collect().sorted.toSeq
      val base = acceptAgainstIndex(wsig, t)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(capped == base,
        s"capped=$capped base=$base must agree when no bucket is hot")
      // and the copies really were rejected (both paths live)
      assert(base.forall(_ % 2 == 1))
      assert(base.nonEmpty)
    } finally drop(t)
  }

  test("flood corpus: family found through the cap; candidates wave-linear") {
    val cap = 8
    // 50 identical copies (>> cap) + 20 distinct docs
    val corpus = ((0 until 50).map(i => (i.toLong, doc(7))) ++
        (100 until 120).map(i => (i.toLong, doc(i))))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val sig = signedDocs(corpus).localCheckpoint(true)
    val t = writeIdx(sig, "flood")
    try {
      // wave: 5 flood re-sends (must be REJECTED through the hot
      // bucket) + 5 novel docs (accepted)
      val wave = ((0 until 5).map(i => (2000L + i, doc(7))) ++
          (5 until 10).map(i => (2000L + i, doc(500 + i))))
        .toDF("doc_id", "text").withColumn("lang", lit("en"))
      val wsig = signedDocs(wave).localCheckpoint(true)
      val acc = acceptAgainstIndexCapped(wsig, t, cap)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(acc == (2005L to 2009L),
        s"flood re-sends must be rejected, novel docs accepted: $acc")
      // the BOUND: capped candidates for the 5 flood probes are at
      // most cap per band each (the uncapped join would pair each
      // with all 50 family members per shared band)
      val cappedPairs = verifiedDupPairsCapped(wsig, t, cap)
        .filter(col("w_id") < 2005L).count()
      val basePairs = verifiedDupPairs(wsig, t)
        .filter(col("w_id") < 2005L).count()
      assert(basePairs == 5L * 50L,
        s"uncapped pairs should be every (probe, member): $basePairs")
      assert(cappedPairs <= 5L * cap,
        s"capped pairs must be <= probes*cap: $cappedPairs")
      assert(cappedPairs > 0L)
    } finally drop(t)
  }

  test("plan: index side exchange-free; the wave pays the only bkey shuffle") {
    val corpus = (0 until 40).map(i => (i.toLong, doc(i)))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val sig = signedDocs(corpus).localCheckpoint(true)
    val t = writeIdx(sig, "plan")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // no broadcasts: a broadcast would hide a missing co-partition
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val wave = (0 until 10).map(i => (3000L + i, doc(i)))
        .toDF("doc_id", "text").withColumn("lang", lit("en"))
      val wsig = signedDocs(wave).localCheckpoint(true)
      val plan = verifiedDupPairsCapped(wsig, t, 8)
        .queryExecution.executedPlan.toString
      // ONE bkey exchange in the whole plan — the wave's. The band
      // table is scanned twice (occupancy + windowed cap) and joined
      // once, all from its bucket partitioning; a second bkey exchange
      // means the corpus-sized side started re-keying per wave.
      val bkeyExchanges = "Exchange hashpartitioning\\(bkey".r
        .findAllMatchIn(plan).size
      assert(bkeyExchanges == 1, s"want 1 bkey exchange, got $bkeyExchanges:\n$plan")
      assert(plan.contains("Bucketed: true"), plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      drop(t)
    }
  }
}
