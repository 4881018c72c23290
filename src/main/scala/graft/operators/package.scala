package graft

import org.apache.spark.sql.DataFrame

package object operators {

  /** A small parquet input arrives as one partition, while the stages that
    * follow (pair generation, hashing, inverted-index joins, wide
    * aggregates, per-row decode) are compute-bound — so fan the rows out
    * to the session's shuffle width first. GUARDED on the input's actual
    * partition count (r14, guide §2.4): at real scale the scan is already
    * wide and the repartition would shuffle the whole payload for
    * nothing. Callers pass scan-shaped frames (no upstream exchange), so
    * reading the partition count plans the scan without running a job. */
  private[graft] def fanOut(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions >= want) df else df.repartition(want)
  }
}
