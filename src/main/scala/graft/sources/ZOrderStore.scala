package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.{LayoutExpressions, LayoutKernels}

/** Z-ordered table layout — multi-column file skipping at 100 TB.
  *
  * A range-sorted layout serves ONE filter column; a rectangle
  * predicate on two columns leaves the second unclustered and every
  * file a candidate. Writing in Morton (Z-curve) order interleaves the
  * bits of both keys, so rows close in (a, b) space land in the same
  * files and parquet min/max footer stats on the stored `zval` column
  * prune files for 2-D rectangle scans — the layout Delta's
  * OPTIMIZE ZORDER produces, expressed as repartitionByRange + sorted
  * parquet. The scan path exploits Z-curve monotonicity in each
  * coordinate: every point of `[aLo,aHi]×[bLo,bHi]` has
  * `zval ∈ [z(aLo,bLo), z(aHi,bHi)]`, so that single pushed-down range
  * predicate is a correct superset prefilter (the classic BIGMIN
  * refinement would split it tighter; the two exact residual
  * predicates make correctness independent of it either way).
  *
  * Single-writer, like [[StateStore]]: concurrent writers to one
  * layout path are not supported. Each rewrite lands as the next
  * [[SnapshotDir]] version (atomic marker publish; the previous
  * version survives one rewrite as the in-flight-reader grace
  * window), so "which exact layout served this run" stays answerable
  * via [[zRangeScanAt]] until GC ages the pin out — the same
  * time-travel contract the other versioned families carry.
  */
object ZOrderStore {

  private val VersionPrefix = "z-"
  val FormatVersion = 2 // v2: SnapshotDir-versioned layout dirs

  /** Write `df` Z-clustered on the two bounded non-negative grid
    * columns (values must already sit in `[0, 2^bits)` — production
    * normalizes/bins first, which keeps the layout math integer-exact
    * and engine-replayable) as the next committed version. `files`
    * range-partitions the Z-space, so each output file covers a
    * compact Z-interval. */
  def writeZOrdered(df: DataFrame, path: String, aCol: String,
      bCol: String, bits: Int, files: Int): Unit = {
    SnapshotDir.publish(df.sparkSession, path, VersionPrefix)(dir =>
      df.withColumn("zval",
          LayoutExpressions.zValue(col(aCol).cast("long"),
            col(bCol).cast("long"), bits))
        .repartitionByRange(files, col("zval"))
        .sortWithinPartitions("zval")
        .write.parquet(dir))
    ()
  }

  /** [[writeZOrdered]] behind the build-once gate
    * ([[SnapshotDir.ensureBuilt]]); a format bump rebuilds
    * pre-versioned flat layouts clean. Returns build seconds, or None
    * when warm. */
  def ensureZOrdered(df: DataFrame, path: String, aCol: String,
      bCol: String, bits: Int, files: Int): Option[Double] = {
    val recipe = s"""{"fmt":$FormatVersion,"a":"$aCol","b":"$bCol",""" +
      s""""bits":$bits,"files":$files}"""
    SnapshotDir.ensureBuilt(df.sparkSession, path, VersionPrefix, recipe)(
      writeZOrdered(df, path, aCol, bCol, bits, files))
  }

  /** TAKEDOWN on the layout: anti-join the removed `ids` out of the
    * current version and republish the survivors as the next
    * committed version at the same file width (rows carry their
    * `zval`, so no re-derivation). A layout store persists the fact
    * rows it clusters — content, not just arrangement — so the
    * compliance sweep reaches it like every other persisted family;
    * idempotent (anti-join form); pre-takedown versions age out
    * through the normal GC grace window. */
  def takedown(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String): Unit = {
    SnapshotDir.publish(spark, path, VersionPrefix) { dir =>
      val cur = currentDir(spark, path)
      val (fs, _) = StoreFiles.fsOf(spark, path)
      val files = math.max(1, fs.listStatus(
          new org.apache.hadoop.fs.Path(cur))
        .count(s => s.isFile &&
          s.getPath.getName.endsWith(".parquet")))
      spark.read.parquet(cur)
        .join(ids.select(col(idCol)).distinct(), Seq(idCol),
          "left_anti")
        .repartitionByRange(files, col("zval"))
        .sortWithinPartitions("zval")
        .write.parquet(dir)
    }
    ()
  }

  /** The current committed layout directory — loud when none. */
  private def currentDir(spark: SparkSession, path: String): String =
    SnapshotDir.current(spark, path, VersionPrefix).getOrElse(
      throw new IllegalStateException(
        s"no committed z-order layout under $path — build first"))

  /** Committed layout versions at `path`, ascending. */
  def committedVersions(spark: SparkSession, path: String): Seq[Long] =
    SnapshotDir.committed(spark, path, VersionPrefix)

  /** Rectangle scan over a Z-ordered layout: one pushed-down `zval`
    * range predicate does the file/row-group skipping, the two exact
    * column predicates cut the Z-range's false positives. Pins the
    * current committed version for the whole scan. */
  def zRangeScan(spark: SparkSession, path: String, aCol: String,
      bCol: String, aLo: Long, aHi: Long, bLo: Long, bHi: Long,
      bits: Int): DataFrame =
    zScanDir(spark, currentDir(spark, path), aCol, bCol,
      aLo, aHi, bLo, bHi, bits)

  /** TIME TRAVEL: [[zRangeScan]] against a SPECIFIC committed version
    * — "which exact layout served this run" stays answerable until
    * retention GC. Fails loudly on an expired pin. */
  def zRangeScanAt(spark: SparkSession, path: String, version: Long,
      aCol: String, bCol: String, aLo: Long, aHi: Long, bLo: Long,
      bHi: Long, bits: Int): DataFrame =
    SnapshotDir.atVersion(spark, path, VersionPrefix, version) match {
      case Some(dir) => zScanDir(spark, dir, aCol, bCol,
        aLo, aHi, bLo, bHi, bits)
      case None => throw new IllegalStateException(
        s"z-order version $version at $path is not committed or has " +
          "been GC'd — pin expired; committed: " +
          committedVersions(spark, path).mkString("[", ", ", "]"))
    }

  private def zScanDir(spark: SparkSession, dir: String, aCol: String,
      bCol: String, aLo: Long, aHi: Long, bLo: Long, bHi: Long,
      bits: Int): DataFrame = {
    val zLo = LayoutKernels.interleave(aLo, bLo, bits)
    val zHi = LayoutKernels.interleave(aHi, bHi, bits)
    spark.read.parquet(dir)
      .filter(col("zval").between(zLo, zHi))
      .filter(col(aCol).between(aLo, aHi) &&
        col(bCol).between(bLo, bHi))
  }
}
