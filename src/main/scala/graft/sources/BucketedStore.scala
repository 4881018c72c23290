package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Bucketed table layout — the co-located-join story at 100 TB.
  *
  * A fact-to-fact join (too big to broadcast either side) normally
  * shuffles BOTH sides on the join key every time it runs. Bucketing
  * pays that shuffle ONCE at write time: rows are hash-clustered into a
  * fixed number of buckets on the key, the layout is recorded in the
  * catalog, and every later equi-join or aggregation on that key reads
  * the clustering straight from the scan — zero exchanges at query
  * time (PlanSpec pins this for `x_bucketed_join`). Both join sides
  * must use the same bucket count; per-bucket files are sorted on the
  * key so merge joins need at most an in-partition sort, never a
  * shuffle. This is Spark's native (DataSource) bucketing — no Hive
  * dependency; the in-memory session catalog carries the bucket spec. */
object BucketedStore {

  /** Write `df` as a bucketed external parquet table registered under
    * `table`, hash-clustered and sorted by `key` into `buckets`
    * buckets at `path`. Re-registers (drop + create) so repeated runs
    * in one session are idempotent. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, path: String): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    df.write.format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .option("path", path)
      .mode(SaveMode.Overwrite)
      .saveAsTable(table)
  }

  /** [[writeBucketed]] behind the build-once gate
    * ([[StoreFiles.markerGate]]) — the bucketed write IS the
    * amortized once shuffle bucketing exists for; paying it inside
    * every query run times the build, not the co-located join the
    * entry demonstrates. The DATA lands once per (path, recipe); the
    * session-catalog REGISTRATION is re-issued per call as pure DDL
    * over the existing files (one session benches several scale-factor
    * dirs under one table name, so the catalog entry must follow the
    * path). Returns build seconds, or None when the files were warm. */
  def ensureBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, path: String): Option[Double] = {
    val spark = df.sparkSession
    // The recipe identifies the DATASET, not just the layout (r14
    // ADVICE): callers key `path` on a 32-bit dir hash, so a marker
    // matching only (table, key, buckets) would serve stale or foreign
    // rows after an in-place dataset regeneration or a path hash
    // collision. Include a format version, the projected schema, and a
    // cheap input fingerprint (every source file path + its byte size
    // — driver metadata only, no jobs); any change rebuilds.
    val hconf = spark.sessionState.newHadoopConf()
    val inputs = df.inputFiles.sorted.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val len =
        try p.getFileSystem(hconf).getFileStatus(p).getLen
        catch { case _: java.io.IOException => -1L }
      s"$f#$len"
    }.mkString(";")
    val recipe =
      s"""{"v":2,"table":"$table","key":"$key","buckets":$buckets,""" +
        s""""schema":"${df.schema.toDDL}","inputs":"$inputs"}"""
    val built = StoreFiles.markerGate(spark, path, recipe)(
      writeBucketed(df, table, key, buckets, path))
    if (built.isEmpty) {
      // warm files: (re)register the external bucketed table over them
      // — catalog-only DDL, no data moves and no footer-inference job
      // (the caller's projection IS the written schema; the old
      // spark.read.parquet(path).schema here re-paid the per-read
      // inference cost r14 eliminated for manifest stores)
      spark.sql(s"DROP TABLE IF EXISTS `$table`")
      spark.sql(
        s"""CREATE TABLE `$table` (${df.schema.toDDL}) USING parquet
           |CLUSTERED BY (`$key`) SORTED BY (`$key`) INTO $buckets BUCKETS
           |LOCATION '$path'""".stripMargin)
    }
    built
  }
}
