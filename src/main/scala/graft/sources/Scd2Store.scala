package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted SCD2 dimension with incremental maintenance — the
  * MERGE-INTO twin of [[AggStore]] (facts get mergeable partials;
  * dimensions get this): the compacted validity-interval history
  * persists under the [[SnapshotDir]] commit protocol, and a batch of
  * LATER change events folds in without recompacting history —
  * close each touched key's open row at its first new change, append
  * the batch's own compacted changes, leave every other row byte-
  * identical. The first new event of a key is compacted against the
  * key's CURRENT stored attribute, so a batch that opens with the
  * same value extends the open interval instead of splitting it (the
  * cross-boundary duplicate collapse a naive append gets wrong).
  *
  * Cost shape at 100 TB: O(|batch|) for the batch's own lag-compact
  * (one batch-keyed window), plus a keys-sized join against the
  * stored CURRENT rows — history is never rescanned, never reopened.
  * Precondition (the SCD2 append contract): the batch's events are
  * later than every stored interval for their key; out-of-order
  * history repair is a rebuild, not a merge.
  *
  * The reference rebuilds its audit-derived views from the full sheet
  * every sync; this store is the dimension maintained incrementally.
  */
object Scd2Store {

  private val Prefix = "scd2-"
  val FormatVersion = 1

  private def currentDir(spark: SparkSession, path: String): String =
    SnapshotDir.current(spark, path, Prefix).getOrElse(
      throw new IllegalStateException(
        s"no committed scd2 state under $path"))

  /** Compact `events` from scratch (the bootstrap / rebuild path). */
  def compact(events: DataFrame): DataFrame =
    graft.operators.Olap.scd2History(events)

  /** Publish the compacted history of `events` as the next version. */
  def writeState(events: DataFrame, path: String): Unit = {
    SnapshotDir.publish(events.sparkSession, path, Prefix)(
      compact(events).write.mode(SaveMode.Overwrite).parquet(_))
    ()
  }

  /** [[writeState]] behind the build-once gate
    * ([[SnapshotDir.ensureBuilt]]); `baseTag` names the base slice
    * (rebuild on change). */
  def ensureState(events: DataFrame, path: String,
      baseTag: String = ""): Option[Double] = {
    val recipe =
      s"""{"v":$FormatVersion,"dim":"user_event_type","base":"$baseTag"}"""
    SnapshotDir.ensureBuilt(events.sparkSession, path, Prefix, recipe)(
      writeState(events, path))
  }

  /** Stored history of the current committed version. */
  def readState(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(currentDir(spark, path))

  /** The maintained dimension with a batch of LATER change events
    * folded in at read time (stored state untouched — idempotent).
    * Exactly equals [[compact]] over base ∪ delta under the
    * later-than precondition. */
  def mergedView(spark: SparkSession, path: String,
      delta: DataFrame): DataFrame =
    merge(readState(spark, path), delta)

  /** Fold `delta` in as the next committed version. */
  def applyChanges(spark: SparkSession, path: String,
      delta: DataFrame): Unit = {
    SnapshotDir.publish(spark, path, Prefix)(
      merge(spark.read.parquet(currentDir(spark, path)), delta)
        .write.mode(SaveMode.Overwrite).parquet(_))
    ()
  }

  /** TAKEDOWN on the maintained dimension: drop EVERY history row of
    * the removed subjects (the right-to-be-forgotten shape — a
    * dimension's history is per-subject content, so removal means the
    * subject's whole timeline, not a row) and republish the survivors
    * as the next committed version. Anti-join form — idempotent; the
    * pre-takedown version ages out through the normal GC grace
    * window, retention policy governing history as on every family. */
  def takedown(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String = "user_id"): Unit = {
    SnapshotDir.publish(spark, path, Prefix)(
      spark.read.parquet(currentDir(spark, path))
        .join(ids.select(col(idCol)).distinct(), Seq(idCol),
          "left_anti")
        .write.mode(SaveMode.Overwrite).parquet(_))
    ()
  }

  private def merge(stored: DataFrame, delta: DataFrame): DataFrame = {
    // each key's current stored attribute seeds the batch compaction:
    // the batch's FIRST event compacts against it, so a same-value
    // opener extends the open interval instead of splitting it
    val currents = stored.filter(col("is_current"))
      .select(col("user_id"), col("event_type").as("cur_type"))
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val changes = delta
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .join(currents, Seq("user_id"), "left")
      .withColumn("prev_type",
        coalesce(lag(col("event_type"), 1).over(byUser),
          col("cur_type")))
      .filter(col("prev_type").isNull ||
        col("prev_type") =!= col("event_type"))
    // (valid_from, event_id) order matches Olap.scd2History's
    // deterministic same-timestamp tiebreak, so two changes for one
    // key at the same ts chain identically in both paths
    val nextFrom = Window.partitionBy(col("user_id"))
      .orderBy(col("valid_from"), col("event_id"))
    val newRows = changes
      .select(col("user_id"), col("event_type"),
        col("ts").as("valid_from"), col("event_id"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(nextFrom))
      .withColumn("is_current", col("valid_to").isNull)
      .drop("event_id")
    // close each touched key's open row at its first new change;
    // untouched keys (and keys whose whole batch was a no-change
    // extension) keep their open row byte-identical
    val firstNew = newRows.groupBy(col("user_id"))
      .agg(min(col("valid_from")).as("first_from"))
    val closed = stored.join(firstNew, Seq("user_id"), "left")
      .select(col("user_id"), col("event_type"), col("valid_from"),
        when(col("is_current") && col("first_from").isNotNull,
          col("first_from")).otherwise(col("valid_to")).as("valid_to"),
        (col("is_current") && col("first_from").isNull)
          .as("is_current"))
    closed.unionByName(newRows
      .select(col("user_id"), col("event_type"), col("valid_from"),
        col("valid_to"), col("is_current")))
  }
}
