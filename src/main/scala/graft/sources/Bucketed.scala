package graft.sources

import org.apache.spark.sql.DataFrame

/** Bucketed-table plumbing for co-located joins.
  *
  * The reference's biggest repeated join is new-vs-existing variants on
  * the natural key (`VariantLoad3.saveVariants:483-532` — rebuilt as an
  * in-memory hash map per chromosome, capped by one JVM's heap). At
  * 100 TB the existing-variants side is far too large to broadcast and
  * re-shuffling it on every incremental load wave is the dominant cost:
  * both sides of every load-wave join pay a full shuffle.
  *
  * Bucketing is the standing answer: write the persistent table once,
  * hash-bucketed (and sorted) by the join key. Every subsequent join
  * against a table bucketed on the same key with the same bucket count
  * — or against a freshly shuffled small side — reads bucket files
  * whose partitioning Catalyst recognizes (`HashPartitioning` reported
  * by the scan), so the sort-merge join plans with NO Exchange on the
  * bucketed side(s): the shuffle is paid once at write time, amortized
  * over every future load wave. Bucket count sizes the parallelism:
  * pick `tableBytes / ~256 MB` at write time.
  *
  * `BucketedJoinSpec` asserts the zero-exchange plan.
  */
object Bucketed {

  /** Write `df` as a managed parquet table bucketed and sorted by
    * `keys` — the once-per-table shuffle that makes all later joins on
    * `keys` exchange-free. Pass `path` to pin the table's files to an
    * external location (the catalog entry still carries the bucket
    * spec, which is what the planner reads).
    *
    * Parallelism note (ADVICE r16): the pre-write repartition caps
    * write parallelism at the bucket count and funnels every row of a
    * hash-colliding key set through one task (sort + write spill risk
    * for a large table with few buckets). That is the intended
    * production trade — the bucket count is a CAPACITY parameter
    * chosen as tableBytes / ~256 MB at write time, so one task per
    * bucket IS the target file size; a table that outgrows it is
    * rewritten at a higher count via [[compact]] (the
    * IndexBucketsGrowthSpec contract). Callers writing a large frame
    * into deliberately few buckets should grow the bucket count, not
    * skip the repartition. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    keys: Seq[String], mode: String = "overwrite",
                    path: Option[String] = None): Unit = {
    // r16 (guide §6 file sizing): repartition by the bucket keys into
    // exactly `buckets` partitions before the write. Spark's bucket id
    // (pmod(Murmur3(keys), buckets)) is the same mapping as this
    // HashPartitioning, so each task then holds exactly one bucket and
    // the write emits ONE file per bucket (per append) instead of
    // (upstream partitions x buckets) small files — without it a
    // 32-partition frame wrote up to 32 files per bucket, paying
    // task-commit overhead per file at write time and open/list
    // overhead on every later bucket scan. At production scale the
    // bucket count is chosen as tableBytes / ~256 MB, so one-task-per-
    // bucket is also the intended output file size.
    import org.apache.spark.sql.functions.col
    val w = df.repartition(buckets, keys.map(col): _*)
      .write.mode(mode).format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Replace the contents of a path-backed bucketed table with `df`
    * (which may — and normally does — read the table's CURRENT files)
    * under a possibly-new bucket spec, staged crash-safely:
    *
    *  1. `df` is written as a staging table at a sibling path — this
    *     reads the OLD file set and writes a NEW location, so there is
    *     no read-own-files hazard and no point at which the data
    *     exists only in executor memory (the r8 form localCheckpoint'd
    *     the table between drop and rewrite — a crash there lost the
    *     index permanently);
    *  2. only once the staged file set is complete on disk are the old
    *     catalog entries dropped, the old files deleted, and the
    *     staged directory renamed into place (Hadoop FileSystem API,
    *     so the same sequence works on HDFS/S3A);
    *  3. the catalog entry is re-created over the renamed files with
    *     the new bucket spec (bucket ids live in the file NAMES, which
    *     the rename preserves).
    *
    * At every step the full table exists at the live path or the
    * staging path; the only crash window is the catalog ENTRY between
    * the DROP and the CREATE, which is rebuildable from either file
    * set — and on a real metastore steps 2-3 collapse into one atomic
    * rename swap so readers never observe the gap. */
  def replaceWith(spark: org.apache.spark.sql.SparkSession, table: String,
                  df: DataFrame, buckets: Int, keys: Seq[String],
                  p: String): Unit = {
    import org.apache.hadoop.fs.Path
    val stagingTable = s"${table}_staging"
    val stagingPath = s"${p}_staging"
    val fs = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    spark.sql(s"DROP TABLE IF EXISTS $stagingTable")
    fs.delete(new Path(stagingPath), true)
    val ddl = df.schema.toDDL
    writeBucketed(df, stagingTable, buckets, keys, path = Some(stagingPath))
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"DROP TABLE $stagingTable")
    fs.delete(new Path(p), true)
    require(fs.rename(new Path(stagingPath), new Path(p)),
      s"rename $stagingPath -> $p failed; staged file set left intact")
    val cols = keys.mkString(", ")
    spark.sql(s"CREATE TABLE $table ($ddl) USING PARQUET " +
      s"CLUSTERED BY ($cols) SORTED BY ($cols) INTO $buckets BUCKETS " +
      s"LOCATION '$p'")
    spark.catalog.refreshByPath(p)
  }

  /** Drop `tables` from the catalog and delete `root` (Hadoop
    * FileSystem API, as [[replaceWith]]) — the fresh start an index
    * build takes before writing its epoch 0. */
  def reset(spark: org.apache.spark.sql.SparkSession, tables: Seq[String],
            root: String): Unit = {
    import org.apache.hadoop.fs.Path
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val p = new Path(root)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  /** Compact a bucketed table: rewrite it under a fresh bucket spec,
    * collapsing the one-file-set-per-append accumulation back to one
    * file set and (optionally) changing the bucket count.
    *
    * The maintenance job for append-grown index tables (q99/q109's
    * epoch commits, q91's streaming store): every `mode="append"`
    * write lands its own file set per bucket, so after E epochs each
    * bucket scan opens E files; and the bucket count itself is a
    * capacity parameter ([[graft.functions.DedupConfig.IndexBuckets]])
    * that the corpus eventually outgrows. One paid shuffle here
    * restores single-file buckets at the new parallelism, after which
    * every subsequent join on `keys` is exchange-free again —
    * identical rows, identical downstream plans. Run it at an epoch
    * barrier (q109) or between waves (q99/q91), where the table is
    * frozen by construction. `path` is required: compaction always
    * goes through the crash-safe staged swap ([[replaceWith]]), so at
    * no point does the table exist only in executor memory (the old
    * managed-table branch localCheckpoint'd between drop and rewrite —
    * a crash there lost the table; it had no production caller and is
    * deleted). */
  def compact(spark: org.apache.spark.sql.SparkSession, table: String,
              buckets: Int, keys: Seq[String], path: String): Unit =
    replaceWith(spark, table, spark.table(table), buckets, keys, path)
}
