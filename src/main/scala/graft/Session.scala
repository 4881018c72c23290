package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession shape: every main and the test suites run the
  * same confs, so Verify, Bench, the probes and the specs plan queries
  * identically. */
object Session {

  /** Local thread count of the mains: `$SPARK_GRAFT_CPUS`, default 4. */
  private def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def local(cores: Int = envCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // events.ts is written tz-naive (isAdjustedToUTC=false); read it as
      // TIMESTAMP (session tz is UTC, so values are identical) so that
      // withWatermark / window accept it — NTZ has no streaming event time.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // the SQL front door (graft_* scalar + table functions) and the
      // VectorFusion rewrite — the x_sql_* queries prove SQL-path ≡
      // Scala-path on shared oracles
      .withExtensions(new graft.plans.GraftExtensions())
      // 220 queries × many codegen'd stages in ONE JVM: the default
      // 100-entry generated-class cache evicts constantly, so later
      // queries pay Janino recompiles the warmup already did (static
      // conf — must be set before the session exists). A cluster never
      // sees this: each executor compiles its own stages once. Sized
      // WELL past the query count: at 2000 the r10 220-query sweep
      // thrashed it and the deepest pipeline (x_cluster_store: clone +
      // admission + label maintenance + read, dozens of stages per
      // attempt) re-Janino'd every attempt, 6.2 s → 26.7 s.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // AQE coalescing inside cached plans (guide §2.2): operator
      // caches (CacheRegistry) otherwise materialize at the static
      // shuffle width and every downstream stage inherits that layout;
      // no operator depends on cached output partitioning, and results
      // are partition-count independent (decimal-sum discipline).
      // Measured −24% on x_neardup_append, r14 opt round.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
