package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Lifecycle semantics of the persistent semantic (cell) index that
  * the q120/q122/q123/q124 hash gates can't isolate: the accept
  * contract on hand-built geometry, retraction removing BOTH spill
  * rows (no ghost rejections), and retrain/reassign preserving epoch
  * membership while actually changing geometry. Vectors are tiny
  * hand-built 2-d frames so every cosine is exact by construction. */
class SemanticIndexSpec extends SparkSpec {
  import spark.implicits._

  private val Off = 4000L
  private val Thresh = 400000L // cos >= 0.4

  /** (vec_id, v, nrm, qv) frame from raw 2-d doubles. */
  private def vecs(rows: Seq[(Long, Seq[Double])]) =
    rows.toDF("vec_id", "v")
      .withColumn("nrm", sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x)))
      .withColumn("qv", transform(col("v"),
        x => floor(x * 1000).cast("long") + Off))

  private def handle(name: String, seed: org.apache.spark.sql.DataFrame) =
    SemanticIndex.create(s"graft_semspec_$name",
      s"${graft.queries.Fixtures.scratchRoot}/semspec_$name", seed, 2, 2,
      Thresh, buckets = 2)

  /** The bucket count the catalog entry carries. */
  private def catalogBuckets(tbl: String): Int =
    spark.sql(s"DESCRIBE TABLE EXTENDED $tbl")
      .filter(col("col_name") === "Num Buckets")
      .select("data_type").as[String].head().trim.toInt

  test("accept contract: exact copy rejected, orthogonal vector accepted") {
    // two orthogonal seed clusters; cos(copy, original) = 1 >= 0.4,
    // cos(orthogonal, anything indexed) = 0 < 0.4
    val seed = vecs(Seq(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0)))
    val h = handle("accept", seed)
    val wave = vecs(Seq(100L -> Seq(1.0, 0.0),    // copy of 0 -> reject
                        101L -> Seq(-1.0, 0.001))) // ~opposite -> accept
    val acc = SemanticIndex.acceptWave(h, wave)
    assert(acc.select("vec_id").as[Long].collect().toSet == Set(101L))
    SemanticIndex.commit(h, acc, 1)
    // each committed vector stores exactly 2 spill rows
    assert(spark.table(h.table).filter(col("vec_id") === 101L).count() == 2)
    // replay: the committed acceptance now self-matches (cos = 1)
    assert(SemanticIndex.acceptWave(h, wave).count() == 0)
    spark.sql(s"DROP TABLE ${h.table}")
  }

  test("retract removes both spill rows and un-rejects copies of the retracted") {
    val seed = vecs(Seq(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0)))
    val h = handle("retract", seed)
    val copyOf0 = vecs(Seq(200L -> Seq(1.0, 0.0)))
    assert(SemanticIndex.acceptWave(h, copyOf0).count() == 0) // rejected
    SemanticIndex.retract(h, Seq(0L).toDF("vec_id"))
    // BOTH spill rows of vec 0 are gone — no ghost cell entry
    assert(spark.table(h.table).filter(col("vec_id") === 0L).count() == 0)
    assert(spark.table(h.table).filter(col("vec_id") === 1L).count() == 2)
    // the copy is now judged against the retained store only: accepted
    assert(SemanticIndex.acceptWave(h, copyOf0).count() == 1)
    spark.sql(s"DROP TABLE ${h.table}")
  }

  test("retrainReassign preserves epoch membership, changes buckets, keeps self-matches") {
    val seed = vecs(Seq(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0),
      2L -> Seq(0.9, 0.1), 3L -> Seq(0.1, 0.9)))
    val h = handle("retrain", seed)
    val w1 = vecs(Seq(300L -> Seq(-1.0, 0.001), 301L -> Seq(0.001, -1.0)))
    SemanticIndex.commit(h, SemanticIndex.acceptWave(h, w1), 1)
    val before = spark.table(h.table).select("epoch", "vec_id").distinct()
      .as[(Int, Long)].collect().toSet
    val h2 = SemanticIndex.retrainReassign(h, Off, 2, 2, h.buckets * 2)
    // membership + epoch provenance identical under the new geometry
    val after = spark.table(h.table).select("epoch", "vec_id").distinct()
      .as[(Int, Long)].collect().toSet
    assert(after == before, s"membership drifted: $before -> $after")
    assert(h2.buckets == h.buckets * 2)
    // every committed vector still self-matches: replay accepts 0
    assert(SemanticIndex.acceptWave(h2, w1).count() == 0)
    spark.sql(s"DROP TABLE ${h.table}")
  }

  test("commit and retract after compact keep the compacted bucket count") {
    val seed = vecs(Seq(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0)))
    val h = handle("compact", seed)
    val h2 = SemanticIndex.compact(h, h.buckets * 2)
    assert(h2.buckets == 4 && catalogBuckets(h.table) == 4)
    // the handle carries the grown count: an append at the old count
    // would be refused as a bucket-spec mismatch
    val w = vecs(Seq(100L -> Seq(-1.0, 0.001)))
    SemanticIndex.commit(h2, SemanticIndex.acceptWave(h2, w), 1)
    assert(spark.table(h.table).filter(col("vec_id") === 100L).count() == 2)
    // a retract rewrites at the handle's count, never back to 2
    SemanticIndex.retract(h2, Seq(0L).toDF("vec_id"))
    assert(catalogBuckets(h.table) == 4)
    assert(spark.table(h.table).select("vec_id").distinct().as[Long]
      .collect().toSet == Set(1L, 100L))
    spark.sql(s"DROP TABLE ${h.table}")
  }
}
