package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.MinhashPipeline.bandKeysOf
import graft.sources.Bucketed

/** The persistent MINHASH dedup index — the text-family twin of
  * [[SemanticIndex]], as ONE lifecycle shared by every gate that
  * drives it (q99 build, q109 stream, q110 compact, q112 retract, q138
  * hot-bucket accept), so the tables' layout, bucket count, write
  * order and scratch reset cannot drift apart between gates.
  *
  * Layout: two bucketed tables under one scratch root — docs
  * (doc_id, lang, hl, sz, epoch) on `doc_id`, band keys
  * (doc_id, <bandExtra>, bkey) on `bkey` — so a wave's candidate
  * band join and its verify join both enter exchange-free on the
  * index side. The accept side of the verify-before-insert contract
  * is [[graft.functions.MinhashPipeline.acceptAgainstIndex]] (and its
  * capped form), which reads the handle's tables.
  *
  * Reference anchor: the verify-before-insert contract of
  * `VariantLoad3.saveVariants:479-589` (candidate lookup + exact
  * verify + insert-novel-only), at document granularity. */
object MinhashIndex {

  /** One index handle: both tables, their paths and the CURRENT
    * bucket count (a [[compact]] returns the grown handle).
    * `bandExtra` names the band-row passthru columns every write
    * carries (q138's content fingerprint `sg`). */
  final case class Handle(spark: SparkSession, docTable: String,
                          bandTable: String, docPath: String,
                          bandPath: String, buckets: Int,
                          bandExtra: Seq[String] = Nil)

  /** The handle of the index `create` lays out under `root` (tables
    * `<name>_docs` / `<name>_bands`); no I/O. */
  def open(spark: SparkSession, name: String, root: String,
           buckets: Int = graft.functions.DedupConfig.IndexBuckets,
           bandExtra: Seq[String] = Nil): Handle =
    Handle(spark, s"${name}_docs", s"${name}_bands", s"$root/idx_docs",
      s"$root/idx_bands", buckets, bandExtra)

  private def docRows(df: DataFrame, epoch: Int): DataFrame =
    df.select(col("doc_id"), col("lang"), col("hl"), col("sz"))
      .withColumn("epoch", lit(epoch))

  /** Drop both tables, clear `root`, and write `seed` — a
    * [[graft.functions.MinhashPipeline.signedDocs]] frame the caller
    * has materialized (it feeds both writes) — as epoch 0. */
  def create(name: String, root: String, seed: DataFrame,
             bandExtra: Seq[String] = Nil,
             buckets: Int = graft.functions.DedupConfig.IndexBuckets): Handle = {
    val h = open(seed.sparkSession, name, root, buckets, bandExtra)
    Bucketed.reset(h.spark, Seq(h.docTable, h.bandTable), root)
    Bucketed.writeBucketed(docRows(seed, 0), h.docTable, buckets,
      Seq("doc_id"), path = Some(h.docPath))
    Bucketed.writeBucketed(bandKeysOf(seed, bandExtra), h.bandTable, buckets,
      Seq("bkey"), path = Some(h.bandPath))
    h
  }

  /** Commit accepted signed docs as `epoch`: bands BEFORE docs.
    * Novelty is judged against the doc table, so a crash between the
    * appends leaves bands committed but docs not — the retry
    * re-appends both, and the duplicate band rows are absorbed by the
    * candidate `distinct()`. The reverse order would leave committed
    * docs with NO band entries: unfindable, silently missed duplicates
    * forever after. */
  def commit(h: Handle, acc: DataFrame, epoch: Int): Unit = {
    Bucketed.writeBucketed(bandKeysOf(acc, h.bandExtra), h.bandTable,
      h.buckets, Seq("bkey"), mode = "append", path = Some(h.bandPath))
    Bucketed.writeBucketed(docRows(acc, epoch), h.docTable, h.buckets,
      Seq("doc_id"), mode = "append", path = Some(h.docPath))
    h.spark.catalog.refreshByPath(h.docPath)
    h.spark.catalog.refreshByPath(h.bandPath)
  }

  /** Staged rows whose doc_id is not committed yet — what makes a
    * commit-level retry add 0 rows independently of staging. */
  def uncommitted(h: Handle, staged: DataFrame): DataFrame =
    staged.join(h.spark.table(h.docTable).select("doc_id"), Seq("doc_id"),
      "left_anti")

  /** Compact both tables to `buckets` ([[Bucketed.compact]]: epoch file
    * sets collapsed, crash-safe staged swap). Returns the handle later
    * commits and retractions must use. */
  def compact(h: Handle, buckets: Int): Handle = {
    Bucketed.compact(h.spark, h.docTable, buckets, Seq("doc_id"), h.docPath)
    Bucketed.compact(h.spark, h.bandTable, buckets, Seq("bkey"), h.bandPath)
    h.copy(buckets = buckets)
  }

  /** RETRACT a tombstone set of doc_ids from BOTH tables (a band row
    * left behind is a ghost match that wrongly rejects a future copy),
    * each a filtered rewrite through the crash-safe staged swap. */
  def retract(h: Handle, tombstones: DataFrame): Unit =
    Seq((h.docTable, "doc_id", h.docPath), (h.bandTable, "bkey", h.bandPath))
      .foreach { case (t, key, p) =>
        Bucketed.replaceWith(h.spark, t,
          h.spark.table(t).join(tombstones, Seq("doc_id"), "left_anti"),
          h.buckets, Seq(key), p)
      }

  /** The gate rollup: per (epoch, lang) doc count, shingle-set size
    * sum and id sum. */
  def rollup(h: Handle): DataFrame =
    h.spark.table(h.docTable)
      .groupBy(col("epoch"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("sz")).as("sum_sz"),
        sum(col("doc_id")).as("sum_id"))
      .orderBy(col("epoch"), col("lang"))
}
