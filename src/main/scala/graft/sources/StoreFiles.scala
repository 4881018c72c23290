package graft.sources

import org.apache.spark.sql.SparkSession

/** Shared sidecar-file I/O and the build-once gate: small text files
  * through the Hadoop FS API (so any scheme works), and [[markerGate]],
  * the one place that reads or writes a store's `_built.json` recipe
  * marker. Every recipe-gated store and fixture builds through it, the
  * versioned ones via [[SnapshotDir.ensureBuilt]]. */
private[graft] object StoreFiles {

  def fsOf(spark: SparkSession, p: String) = {
    val hp = new org.apache.hadoop.fs.Path(p)
    (hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp)
  }

  /** Run independent Spark write actions concurrently on a bounded
    * pool (guide §2.6: the scheduler happily runs several jobs at once
    * — actions are only serial because caller code calls them
    * serially). Callers must ensure shared upstream frames are cached
    * AND already materialized (or cheap), so concurrent first-compute
    * does not duplicate expensive work. First failure propagates. */
  def inParallel(thunks: Seq[() => Unit]): Unit =
    if (thunks.size <= 1) thunks.foreach(_.apply())
    else {
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(4, thunks.size))
      try {
        val futs = thunks.map(t =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = t()
          }))
        futs.foreach(_.get()) // propagate the first failure loudly
      } finally pool.shutdown()
    }

  def writeText(spark: SparkSession, p: String, s: String): Unit = {
    val (fs, hp) = fsOf(spark, p)
    val out = fs.create(hp, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  def readText(spark: SparkSession, p: String): Option[String] = {
    val (fs, hp) = fsOf(spark, p)
    if (!fs.exists(hp)) None
    else {
      val buf = new Array[Byte](fs.getFileStatus(hp).getLen.toInt)
      val in = fs.open(hp)
      try in.readFully(0, buf) finally in.close()
      Some(new String(buf, "UTF-8"))
    }
  }

  private def markerOf(path: String): String = s"$path/_built.json"

  /** The recipe the store at `path` was last built with, if any. */
  def recipeOf(spark: SparkSession, path: String): Option[String] =
    readText(spark, markerOf(path))

  /** Run `build` unless `path/_built.json` already records `recipe` and
    * `live` holds; returns build seconds, or None when warm. The marker
    * is written LAST: a build that dies leaves no matching marker, so
    * the next call rebuilds instead of serving a half-written store. */
  def markerGate(spark: SparkSession, path: String, recipe: String,
      live: => Boolean = true)(build: => Unit): Option[Double] =
    if (recipeOf(spark, path).contains(recipe) && live) None
    else {
      val t0 = System.nanoTime()
      build
      writeText(spark, markerOf(path), recipe)
      Some((System.nanoTime() - t0) / 1e9)
    }
}
