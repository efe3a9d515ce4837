package graft.operators

import graft.SparkSpec
import graft.functions.MinhashPipeline.{acceptAgainstIndex, signedDocs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lifecycle semantics of the persistent minhash (text) index that the
  * q99/q109/q110/q112 hash gates can't isolate, on hand-built docs:
  * the accept contract, commit visibility, compaction keeping BOTH
  * tables' row sets at the grown bucket count, and retraction removing
  * a doc from BOTH tables (a band row left behind is a ghost match —
  * the q112 gate reads only the doc table, so only its oracle hash
  * would notice). Docs are pairwise far (hash-derived base-36 words),
  * so every accept decision is exact-copy vs novel by construction. */
class MinhashIndexSpec extends SparkSpec {
  import spark.implicits._

  private def word(seed: Int): String =
    java.lang.Long.toString(
      math.abs(seed * 2654435761L) % 60466176L + 1679616L, 36)
  private def doc(i: Int): String =
    (0 until 12).map(j => word(i * 12 + j)).mkString(" ")

  /** Signed (materialized) docs: (doc_id -> text index). */
  private def signed(rows: Seq[(Long, Int)]): DataFrame =
    signedDocs(rows.map { case (id, t) => (id, "en", doc(t)) }
      .toDF("doc_id", "lang", "text")).localCheckpoint(true)

  private def index(name: String): MinhashIndex.Handle =
    MinhashIndex.create(s"graft_mhspec_$name",
      s"${graft.queries.Fixtures.scratchRoot}/mhspec_$name",
      signed((0 until 6).map(i => (i.toLong, i))), buckets = 2)

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").as[Long].collect().toSet

  private def drop(h: MinhashIndex.Handle): Unit =
    Seq(h.docTable, h.bandTable).foreach(t => spark.sql(s"DROP TABLE $t"))

  test("accept contract: exact copy rejected, novel doc accepted") {
    val h = index("accept")
    try {
      val wave = signed(Seq(100L -> 2, 101L -> 50)) // copy of 2, novel
      assert(ids(acceptAgainstIndex(wave, h)) == Set(101L))
    } finally drop(h)
  }

  test("a commit is visible to the next accept") {
    val h = index("commit")
    try {
      val w1 = signed(Seq(200L -> 60))
      val acc = acceptAgainstIndex(w1, h).localCheckpoint(true)
      assert(ids(acc) == Set(200L))
      MinhashIndex.commit(h, acc, 1)
      // a re-sent copy of the epoch-1 commit is now a duplicate
      assert(ids(acceptAgainstIndex(signed(Seq(201L -> 60)), h)).isEmpty)
      assert(spark.table(h.docTable).filter(col("doc_id") === 200L)
        .select("epoch").as[Int].collect().toSeq == Seq(1))
    } finally drop(h)
  }

  test("compact to 2x buckets keeps both tables' rows; a later commit needs no bucket count") {
    val h = index("compact")
    try {
      def rows(t: String) = spark.table(t).collect().map(_.toString).sorted.toSeq
      val (docs0, bands0) = (rows(h.docTable), rows(h.bandTable))
      val h2 = MinhashIndex.compact(h, h.buckets * 2)
      assert(h2.buckets == 4)
      assert(rows(h.docTable) == docs0 && rows(h.bandTable) == bands0)
      // an append at the old count would be refused as a bucket-spec
      // mismatch; the handle carries the grown count
      val w = signed(Seq(300L -> 70))
      MinhashIndex.commit(h2, acceptAgainstIndex(w, h2).localCheckpoint(true), 1)
      assert(ids(acceptAgainstIndex(signed(Seq(301L -> 70)), h2)).isEmpty)
    } finally drop(h)
  }

  test("retract removes the doc from BOTH tables and un-rejects its copy") {
    val h = index("retract")
    try {
      val copyOf3 = signed(Seq(400L -> 3))
      assert(ids(acceptAgainstIndex(copyOf3, h)).isEmpty) // rejected
      MinhashIndex.retract(h, Seq(3L).toDF("doc_id"))
      assert(spark.table(h.docTable).filter(col("doc_id") === 3L).count() == 0)
      assert(spark.table(h.bandTable).filter(col("doc_id") === 3L).count() == 0,
        "a ghost band row survived the retraction")
      assert(spark.table(h.bandTable).filter(col("doc_id") === 4L).count() > 0)
      assert(ids(acceptAgainstIndex(copyOf3, h)) == Set(400L))
    } finally drop(h)
  }
}
