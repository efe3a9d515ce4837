package graft

import org.apache.spark.sql.SparkSession

/** The one local session every entry point and the test suite share,
  * so the bench, the correctness gate and the specs all run one
  * configuration. The load-bearing confs are listed in DEPLOYMENT.md. */
object GraftSession {
  /** Core count for the measured entry points (Bench, Verify,
    * EngineRun, Prof): `SPARK_GRAFT_CPUS`, default 32. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def local(cpus: Int): SparkSession = SparkSession.builder()
    .withExtensions(new graft.plans.GraftExtensions)
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    // subset co-partitioning (public Spark conf, default true since
    // 3.3): a join keyed (bkey, grp) with both sides already
    // hash-partitioned on bkey must NOT re-shuffle the bucketed
    // store to the full key — the capped wave-vs-index join
    // (MinhashPipeline.verifiedDupPairsCapped) depends on this to
    // keep the band table exchange-free under its widened join key
    .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    // timestamp gates assume it (the oracle renders naive timestamps)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
