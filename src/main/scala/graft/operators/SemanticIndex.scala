package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => VF}

/** The persistent SEMANTIC dedup index — the embedding-family sibling
  * of [[MinhashIndex]] (q99 build / q109 stream / q110 compact / q112
  * retract), as ONE lifecycle shared by every gate that drives it
  * (q120 incremental ingest, q122 compaction, q123 retraction, q124
  * retrain, q128 drift retrain, q132 streaming, q133/q136/q137 on
  * multimodal features) so a retune of the probe/verify contract or
  * the store layout can never drift the gates apart.
  *
  * Layout: each vector is stored in its 2 nearest TRAINED cells
  * ([[IvfKmeans.rankCells]] spill — boundary near-dups still collide),
  * bucketed on `cell` so every wave's candidate join enters
  * exchange-free on the store side; centroids are trained once and
  * FROZEN in the [[Handle]] (waves assign against frozen cells;
  * retraining is the scheduled maintenance job, q124).
  *
  * 100 TB: waves shuffle only themselves (probe side), the index
  * never re-shuffles on ingest; spill bounds index inflation at
  * exactly 2x; the accept join's candidate count is ~corpus/K per
  * probe cell.
  *
  * Reference anchor: the verify-before-insert contract of
  * `VariantLoad3.saveVariants:479-589` (candidate lookup + exact
  * verify + insert-novel-only), at embedding granularity.
  */
object SemanticIndex {

  /** One index handle: the cell-bucketed store plus the FROZEN
    * centroid frame its waves probe against. `threshX1e6` is the
    * cosine near-dup threshold (floor(cos*1e6)); `buckets` the
    * store's CURRENT bucket count (a [[compact]] or
    * [[retrainReassign]] returns the grown handle); `extra` the
    * metadata columns every stored row carries (q137's entity
    * fingerprint `fp`). */
  final case class Handle(spark: SparkSession, table: String, path: String,
                          cents: DataFrame, buckets: Int, threshX1e6: Long,
                          extra: Seq[String] = Nil)

  /** The handle of the store `create` lays out under `root`; no I/O. */
  def open(spark: SparkSession, table: String, root: String,
           cents: DataFrame, threshX1e6: Long, extra: Seq[String] = Nil,
           buckets: Int = graft.functions.DedupConfig.IndexBuckets): Handle =
    Handle(spark, table, s"$root/idx", cents, buckets, threshX1e6, extra)

  /** Train `k` cells on a (vec_id, qv [, ...]) seed with `iters` Lloyd
    * iterations; materialized, since every wave probes the frame. */
  def train(seed: DataFrame, k: Int, iters: Int): DataFrame =
    IvfKmeans.train(seed.select(col("vec_id"), col("qv")), k, iters)
      .localCheckpoint(true)

  /** Build a fresh index: drop the table, clear `root`, train the
    * FROZEN centroids on `seed` (vec_id, v, nrm, qv [, extra...]) and
    * write it as epoch 0. */
  def create(table: String, root: String, seed: DataFrame, k: Int,
             iters: Int, threshX1e6: Long, extra: Seq[String] = Nil,
             buckets: Int = graft.functions.DedupConfig.IndexBuckets): Handle = {
    val spark = seed.sparkSession
    graft.sources.Bucketed.reset(spark, Seq(table), root)
    val h = open(spark, table, root, train(seed, k, iters), threshX1e6,
      extra, buckets)
    writeEpoch0(h, seed)
    h
  }

  /** Spill assignment of (vec_id, v, nrm, qv [, extra...]) rows into
    * their 2 nearest cells — the index's storage layout. `extra`
    * columns (e.g. `epoch` during a q124 reassignment) ride through. */
  def spilled(h: Handle, df: DataFrame, extra: Seq[String] = Nil): DataFrame =
    IvfKmeans.rankCells(
        df.select((Seq("vec_id", "v", "nrm", "qv") ++ extra).map(col): _*),
        "qv", h.cents, 2)
      .select((Seq("vec_id", "v", "nrm", "cell") ++ extra).map(col): _*)

  /** Write the epoch-0 seed index (one bucketed shuffle, paid once —
    * every later wave joins it exchange-free). */
  def writeEpoch0(h: Handle, seed: DataFrame): Unit =
    graft.sources.Bucketed.writeBucketed(
      spilled(h, seed, h.extra).withColumn("epoch", lit(0)),
      h.table, h.buckets, Seq("cell"), path = Some(h.path))

  /** The ACCEPT side of the verify-before-insert contract: wave rows
    * with NO stored neighbor at >= threshX1e6 cosine in their crank-1
    * probe cell. Wave needs (vec_id, v, nrm, qv). Materialized — the
    * result feeds the spill-commit AND whatever count/replay the
    * caller does — EXCEPT under `graft.planOnly`, a test-only escape
    * hatch (SemanticIndexPlanSpec, always unset in a finally block)
    * that returns the un-checkpointed declarative plan so the
    * anti-join shape is assertable; a post-commit replay under that
    * conf would re-evaluate against the already-committed store.
    *
    * Precondition: wave vec_ids must be unique (or duplicate vec_id
    * rows must carry identical vectors). The anti join keeps or drops
    * each ROW independently; the pre-r13 distinct+anti-on-vec_id
    * shape dropped every row of a matched vec_id. All callers build
    * waves keyed 1:1 by vec_id, where the two coincide. */
  def acceptWave(h: Handle, w: DataFrame): DataFrame = {
    val probe = IvfKmeans.rankCells(
        w.select(col("vec_id"), col("v"), col("nrm"), col("qv")),
        "qv", h.cents, 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("qv"), col("cell"))
    val idx = h.spark.table(h.table)
      .select(col("cell").as("icell"), col("v").as("iv"), col("nrm").as("inrm"))
    // ONE anti join, cell-keyed with the cosine as residual condition:
    // a probe row is accepted iff NO stored same-cell row reaches the
    // threshold. Anti-join semantics short-circuit per probe row at
    // the first qualifying neighbor, so the match set is never
    // materialized — the prior join+filter+distinct+anti formulation
    // built every (probe, neighbor) pair first, which exploded on
    // low-resolution feature spaces where whole cells are mutual
    // near-dups (byte histograms: same-case text is pairwise
    // cos >= 0.998; measured 4.27 s -> sub-second on q133's wave 1
    // at sf0.1). Result set is IDENTICAL by construction given the
    // unique-vec_id wave precondition in the scaladoc above.
    val acc = probe.join(idx,
        col("cell") === col("icell") &&
          VF.quantize1e6(VF.dot(col("v"), col("iv")) /
            (col("nrm") * col("inrm"))) >= h.threshX1e6,
        "left_anti")
      .select(col("vec_id"), col("v"), col("nrm"), col("qv"))
    // graft.planOnly (SemanticIndexPlanSpec): return the declarative
    // plan un-checkpointed so the anti-join shape is assertable;
    // normal runs materialize — the result feeds the spill-commit AND
    // whatever count/replay the caller does
    if (h.spark.conf.getOption("graft.planOnly").contains("true")) acc
    else acc.localCheckpoint(true)
  }

  /** SELF-COVERED-ONLY probes for a per-entity retraction selection
    * (q137): each probe row (vec_id, fp, v, nrm, qv) re-probes its
    * crank-1 cell against the store — which must CARRY an `fp`
    * metadata column (entity fingerprint) — and is KEPT iff NO stored
    * cover (cosine >= threshX1e6) carries a DIFFERENT fingerprint.
    * Such a row is covered only by its own exact copies, so retracting
    * its fingerprint family makes the deletion observable (a re-sent
    * copy re-accepts). Returns (vec_id, fp).
    *
    * Plan shape = [[acceptWave]]'s ONE cell-keyed ANTI join with the
    * foreignness (`ifp <> fp`) folded into the residual condition
    * (store side bucket-scan, exchange-free; probe side one cell
    * shuffle) — gated by SemanticIndexPlanSpec. The pre-r15 form
    * counted foreign covers with an inner join + (vec_id, fp)
    * aggregate, which materialized every (probe, cover) pair: a flood
    * class parked in one cell cost O(m^2) PAIR ROWS there plus an
    * aggregate exchange. The selection only ever consumed
    * `n_foreign = 0`, i.e. existence — the anti join short-circuits
    * each probe row at its FIRST foreign cover, materializes nothing,
    * and drops the aggregate shuffle entirely (the per-probe worst
    * case is one scan of its cell, and only for rows that ARE
    * self-only). At deployment the cell occupancy itself is bounded by
    * the q134-measured K hand-off, not a constant.
    *
    * Precondition: probe vectors must already be IN the store (each
    * probe's own spilled copy guarantees it has >=1 cover). The anti
    * join keeps any probe row with NO qualifying cover at all — the
    * pre-r15 inner-join form silently DROPPED cover-less probes, and
    * the two shapes agree only under the self-cover invariant (which
    * every current caller satisfies: q137 probes rows selected from
    * the store itself, and the flood-corpus equivalence spec exercises
    * exactly that regime). A caller probing store-external vectors
    * would see uncovered probes classified as "self-covered-only" —
    * decide keep-vs-drop explicitly there rather than assuming the old
    * covered-probes-only semantics. */
  def selfCoveredOnly(h: Handle, probe: DataFrame): DataFrame = {
    val p = IvfKmeans.rankCells(
        probe.select(col("vec_id"), col("fp"), col("v"), col("nrm"),
          col("qv")), "qv", h.cents, 1)
      .select(col("vec_id"), col("fp"), col("v"), col("nrm"), col("cell"))
    val idx = h.spark.table(h.table)
      .select(col("cell").as("icell"), col("fp").as("ifp"),
        col("v").as("iv"), col("nrm").as("inrm"))
    p.join(idx,
        col("cell") === col("icell") && col("ifp") =!= col("fp") &&
          VF.quantize1e6(VF.dot(col("v"), col("iv")) /
            (col("nrm") * col("inrm"))) >= h.threshX1e6,
        "left_anti")
      .select(col("vec_id"), col("fp"))
  }

  /** Commit an accepted frame (carrying the handle's `extra`
    * columns) as `epoch`: spill-assign and append at the handle's
    * bucket count. */
  def commit(h: Handle, acc: DataFrame, epoch: Int): Unit = {
    graft.sources.Bucketed.writeBucketed(
      spilled(h, acc, h.extra).withColumn("epoch", lit(epoch)),
      h.table, h.buckets, Seq("cell"), mode = "append", path = Some(h.path))
    h.spark.catalog.refreshByPath(h.path)
  }

  /** Staged rows whose vec_id is not committed yet — what makes a
    * commit-level retry add 0 vectors independently of staging. */
  def uncommitted(h: Handle, staged: DataFrame): DataFrame =
    staged.join(h.spark.table(h.table).select("vec_id").distinct(),
      Seq("vec_id"), "left_anti")

  /** Compact the store to `buckets` ([[graft.sources.Bucketed.compact]]:
    * epoch file sets collapsed, crash-safe staged swap). Returns the
    * handle later commits and retractions must use. */
  def compact(h: Handle, buckets: Int): Handle = {
    graft.sources.Bucketed.compact(h.spark, h.table, buckets, Seq("cell"),
      h.path)
    h.copy(buckets = buckets)
  }

  /** The gate rollup: per-epoch distinct-vector count + id sum (each
    * vector has 2 spill rows; distinct collapses them). */
  def rollup(h: Handle): DataFrame =
    h.spark.table(h.table).select(col("epoch"), col("vec_id")).distinct()
      .groupBy(col("epoch"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("vec_id")).as("sum_id"))
      .orderBy(col("epoch"))

  /** RETRACT a tombstone set (takedown / retention): filtered rewrite
    * of the store through the crash-safe staged swap — both spill
    * rows of each tombstoned vector disappear, so no ghost cell entry
    * can reject a future wave. Run at an epoch barrier; at 100 TB the
    * same tombstone frame can instead be anti-joined per wave until
    * the next compaction physically purges it (q112's note). */
  def retract(h: Handle, tombstones: DataFrame): Unit =
    graft.sources.Bucketed.replaceWith(h.spark, h.table,
      h.spark.table(h.table).join(tombstones, Seq("vec_id"), "left_anti"),
      h.buckets, Seq("cell"), h.path)

  /** The DISTINCT committed vectors of the store with their quantized
    * coordinates recomputed from the stored doubles (bit-identical to
    * quantizing the original floats: both are floor(double*1000)) —
    * the input a retrain (q124) consumes. Keeps (epoch, vec_id, v,
    * nrm, <extra>, qv). */
  def committedVectors(h: Handle, offset: Long): DataFrame =
    h.spark.table(h.table)
      .select((Seq("epoch", "vec_id", "v", "nrm") ++ h.extra).map(col): _*)
      .distinct()
      .withColumn("qv", transform(col("v"),
        x => floor(x * 1000).cast("long") + offset))

  /** RETRAIN + REASSIGN — the maintenance job the frozen-centroid
    * design defers to (q110's compaction analog for cell geometry):
    * train fresh centroids on the committed corpus, spill-reassign
    * every stored vector to the NEW cells, and swap the store
    * crash-safely. Returns the NEW handle (new frozen centroids, new
    * bucket count) that subsequent waves must probe with. Epoch
    * labels survive reassignment — provenance is orthogonal to
    * geometry. */
  def retrainReassign(h: Handle, offset: Long, k: Int, iters: Int,
                      buckets: Int): Handle = {
    val cm = committedVectors(h, offset).localCheckpoint(true)
    val h2 = h.copy(cents = train(cm, k, iters), buckets = buckets)
    graft.sources.Bucketed.replaceWith(h.spark, h.table,
      spilled(h2, cm, extra = h.extra :+ "epoch"),
      buckets, Seq("cell"), h.path)
    h2
  }
}
