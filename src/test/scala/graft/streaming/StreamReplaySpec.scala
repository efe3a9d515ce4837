package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

import graft.functions.MinhashPipeline.{acceptAgainstIndex, signedDocs}
import graft.operators.{MinhashIndex, SemanticIndex}
import graft.queries.QueriesLlm

/** Replay / retry idempotence of the streaming index gates (q91, q109,
  * q120, q132) — the properties their in-gate replay legs used to
  * re-prove on EVERY bench pass until r17 (VERDICT r16 item 1: the
  * q109 replay leg alone re-derived all of wave 1 — 2 extra
  * micro-batches + 2 no-op commits, ~4.3 s of a ~9 s row,
  * artifacts/r16_q109_attrib.md — for a corpus-independent property).
  * The legs were removed from the gates (their contribution to every
  * result was exactly 0 rows, by the same anti-join construction
  * asserted here); this spec pins the properties once per build
  * instead:
  *
  *  1. POST-COMMIT WHOLE-WAVE REPLAY ACCEPTS 0. After an epoch
  *     commits, every wave doc/vector matches the index — acceptances
  *     self-match their own committed entry, rejections still match
  *     whatever rejected them — so a checkpoint-cleared re-run of the
  *     wave stages nothing and its re-commit adds nothing. This is
  *     what makes a cluster-side batch retry (or a whole re-submitted
  *     wave) harmless.
  *  2. COMMIT-LEVEL RETRY ADDS 0. The commit's id anti-join against
  *     the committed store makes a double commit of the SAME staged
  *     files (driver retry between stream completion and commit, or
  *     stale stage dirs) a no-op independently of staging semantics.
  *
  * Each test runs its real gate at sf0.001 first — the gates leave
  * their committed bucketed stores, wave sources, and staged batch
  * directories on disk under the scratch root — then replays the
  * wave / staged files against the committed state through the SAME
  * public operators and shared definitions (embedding frame, seed,
  * cell training constants, waves) the gates use. (The third layer, per-batch
  * staging idempotence, is structural: Structured Streaming replays a
  * failed batch under the same batchId and the gates stage with
  * per-batch OVERWRITE into a batchId-keyed directory, so a retry
  * rewrites its own directory rather than appending.)
  */
class StreamReplaySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val scratch = graft.queries.Fixtures.scratchRoot

  test("q109: post-commit wave-1 replay accepts 0; staged re-commit adds 0") {
    graft.SparkEntry.queries("q109_stream_dedup")(spark, sf).collect()
    val root = s"$scratch/streamdedup"
    val h = MinhashIndex.open(spark, "graft_q109", root)
    // whole-wave replay: re-sign wave 1 from its on-disk source and
    // re-run acceptance against the committed index — must accept 0
    val w1 = spark.read.parquet(s"$root/src1")
    val replayAccepted =
      acceptAgainstIndex(signedDocs(w1).localCheckpoint(true), h).count()
    assert(replayAccepted == 0L,
      s"checkpoint-cleared replay of wave 1 would commit $replayAccepted docs")
    // commit-level retry: the staged epoch-1 batch dirs are still on
    // disk; the commit's doc_id anti-join must make a re-commit a no-op
    val stagedSchema = signedDocs(
      w1.select(col("doc_id"), col("lang"), col("text")).limit(0)).schema
    val staged = spark.read.schema(stagedSchema)
      .parquet(s"$root/stage_1/batch=*")
    val reAdded = MinhashIndex.uncommitted(h, staged).count()
    assert(reAdded == 0L,
      s"commit-level retry of epoch 1 would add $reAdded docs")
  }

  test("q132/q120: post-commit wave-1 replay accepts 0 vectors; staged re-commit adds 0") {
    graft.SparkEntry.queries("q132_stream_semantic_dedup")(spark, sf).collect()
    val root = s"$scratch/semstream"
    // rebuild the frozen handle from the gate's own definitions
    // (IvfKmeans training is deterministic: rank-based seeding, fixed
    // iters)
    val e = QueriesLlm.semFrame(graft.queries.table(spark, sf, "embeddings"))
    val cents = SemanticIndex.train(QueriesLlm.semSeed(e), QueriesLlm.SemK,
      QueriesLlm.SemIters)
    val h = SemanticIndex.open(spark, "graft_q132_vecs", root, cents,
      QueriesLlm.SemThresh)
    // whole-wave replay from the on-disk wave source
    val w1 = spark.read.parquet(s"$root/src1")
    val replayAccepted = SemanticIndex.acceptWave(h, w1).count()
    assert(replayAccepted == 0L,
      s"checkpoint-cleared replay of wave 1 would commit $replayAccepted vectors")
    // commit-level retry over the staged epoch-1 files
    val staged = spark.read.schema(w1.schema).parquet(s"$root/stage_1/batch=*")
    val reAdded = SemanticIndex.uncommitted(h, staged).count()
    assert(reAdded == 0L,
      s"commit-level retry of epoch 1 would add $reAdded vectors")
    // q120 shares the wave strata and the acceptWave operator; its
    // (batch) replay property is the same acceptWave == 0 assertion,
    // exercised against its own committed store
    graft.SparkEntry.queries("q120_incremental_semantic_dedup")(spark, sf).collect()
    val h120 = SemanticIndex.open(spark, "graft_q120_vecs",
      s"$scratch/semdedup", cents, QueriesLlm.SemThresh)
    val re120 = SemanticIndex.acceptWave(h120, QueriesLlm.semWaves(e)._1).count()
    assert(re120 == 0L,
      s"post-commit replay of q120's wave 1 accepted $re120 vectors")
  }

  test("q91: full-stream replay upserts 0 rows into the committed store") {
    graft.SparkEntry.queries("q91_stream_upsert")(spark, sf).collect()
    val src = spark.read.parquet(s"$scratch/streamgate/src")
    // every replayed micro-batch is a subset of src; the upsert
    // anti-join against the committed store must drop all of it
    val inserts = graft.streaming.StreamingOps
      .upsertBatch(src, spark.table("graft_q91_store"), Seq("user_id"))
      .count()
    assert(inserts == 0L, s"full replay would insert $inserts rows")
  }
}
