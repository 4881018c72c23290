package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, struct, xxhash64}
object Bench {
  /** Force every output column to be computed: count() lets Catalyst prune
    * the projection under test (a scalar query would be timed as a bare
    * parquet scan), so reduce a hash over the full row instead. XOR, not
    * sum — summing xxhash64 longs overflows under ANSI mode once row
    * counts grow (the silent killer behind round-2's unreliable tail). */
  def consume(df: DataFrame): Unit =
    df.agg(bit_xor(xxhash64(struct(df.columns.map(df.col): _*)))).collect()

  /** Warm the JIT/codegen paths of every query at the smallest scale
    * factor first: 43 distinct whole-stage-codegen plans otherwise
    * saturate the compile queue and charge minutes of interpreter time
    * to whichever heavy query runs next. Warmup is not timed, and its
    * caches must not serve the timed run. */
  def warmUp(spark: SparkSession,
      queries: Seq[(SparkSession, String) => DataFrame]): Unit = {
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    queries.foreach { fn =>
      try consume(fn(spark, warmDir)) catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()
    System.gc() // settle warmup garbage before any timing starts
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    warmUp(spark, ordered.map(_._2))
    // The ANN serving entries time the SERVE path (that is the number a
    // 100 TB deployment lives on): build the persisted indexes once
    // here — marker-gated, so a warm box skips it entirely — and ship
    // the build seconds as their own field, where a build regression is
    // visible without drowning the per-query serve timings.
    val indexBuilds =
      try graft.operators.ExtQueries.ensureServingStores(spark, sfDir)
      catch { case t: Throwable =>
        System.err.println(s"[bench] index pre-build failed: " +
          Option(t.getMessage).getOrElse(t.getClass.getName))
        Map("ensure_failed" -> -1.0)
      }
    // The cold build path, measured EVERY run: the warm stores above
    // are marker-gated (paid once per box), so a regression in Lloyd /
    // PQ codebook training / fingerprint shingling / the Z-order sort
    // would otherwise be invisible to the bench. Scratch-dir rebuilds,
    // deleted after timing — the warm serving stores are never touched,
    // and cold_* seconds ship alongside any warm-ensure times so
    // index_build_sec is never empty. Opt out (e.g. a quick local
    // iteration loop) with SPARK_GRAFT_SKIP_COLD_BUILD=1.
    val coldBuilds =
      if (sys.env.get("SPARK_GRAFT_SKIP_COLD_BUILD").contains("1"))
        Map.empty[String, Double]
      else
        try graft.operators.ExtQueries.coldBuildSample(spark, sfDir)
        catch { case t: Throwable =>
          System.err.println(s"[bench] cold build sample failed: " +
            Option(t.getMessage).getOrElse(t.getClass.getName))
          Map("cold_build_failed" -> -1.0)
        }
    // The hermetic takedown sweep is memoized per (process, dataset):
    // the nine x_takedown* entries below time the SERVE of ~50
    // collected rows. Pay and SHIP the sweep itself here, measured
    // every run like the cold builds — without this the min-of-3
    // protocol reports the memo-read time while the sweep's seconds
    // hide in the discarded max (the r14 bench inflated ~8 s that way).
    val takedownSweep =
      try {
        val t0 = System.nanoTime()
        graft.operators.ExtQueries.takedownRows(spark, sfDir).count()
        Map("cold_takedown_sweep" -> (System.nanoTime() - t0) / 1e9)
      } catch { case t: Throwable =>
        System.err.println(s"[bench] takedown sweep failed: " +
          Option(t.getMessage).getOrElse(t.getClass.getName))
        Map("takedown_sweep_failed" -> -1.0)
      }
    val allBuilds = indexBuilds ++ coldBuilds ++ takedownSweep
    allBuilds.foreach { case (k, v) =>
      System.err.println(f"[bench] index build $k%-22s $v%8.2f s") }
    // the pre-build caches corpus-level frames (centroids, assignments)
    // through CacheRegistry; clear them so attempt 1 of the ANN queries
    // cannot serve the identical in-query plan from a warm cache — the
    // same invariant the post-warmup clear enforces
    spark.catalog.clearCache()
    // The box is shared: a single timing can be 10x inflated by a
    // neighbor's load spike (BENCH_r04 recorded 24.3 s for a query that
    // re-runs at 2.2 s). Run each query 3 times, record the min, and
    // ship the [min, median, max] spread plus /proc/loadavg so a
    // contended run is self-identifying instead of silently poisoning
    // the round's numbers.
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      catch { case _: Throwable => "" }
    val loadBefore = loadavg()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val retried = scala.collection.mutable.LinkedHashMap[String, String]()
    val spreads =
      scala.collection.mutable.LinkedHashMap[String, (Double, Double, Double)]()
    val results = ordered.map {
      case (name, fn) =>
        // A failed query must be distinguishable from a fast success: the
        // box is shared, so one transient task abort gets ONE clean retry
        // (noted in the output); a repeat failure records a -1 sentinel
        // plus the error, and the process exits nonzero at the end.
        def attempt(): Either[String, Double] = {
          val t0 = System.nanoTime()
          try { consume(fn(spark, sfDir))
            Right((System.nanoTime() - t0) / 1e9) }
          catch {
            case t: Throwable =>
              Left(Option(t.getMessage).getOrElse(t.getClass.getName)
                .linesIterator.next().take(200))
          }
        }
        val times = scala.collection.mutable.ArrayBuffer[Double]()
        val fails = scala.collection.mutable.ArrayBuffer[String]()
        while (times.length < 3 && fails.length < 2) {
          attempt() match {
            case Right(t) => times += t
            case Left(msg) => fails += msg
          }
          // operator-internal caches are per-query; each repeat must be a
          // cold run of the same plan, not a cache hit on the first one
          spark.catalog.clearCache()
        }
        // a query is an ERROR only if it never succeeded — a transient
        // abort alongside at least one good timing is flaky, not broken
        // (recording both would fail the run AND report a valid number)
        if (times.isEmpty) errors(name) = fails.last
        else if (fails.nonEmpty) retried(name) = fails.last
        // record the MIN of the successful runs: repeated-timing minimum
        // is the standard noise-robust estimator on a shared box (the
        // median still absorbs a load spike when 2 of 3 runs hit one —
        // observed 7.4 s median vs 2.1 s min under a neighbor's burst);
        // the full [min, median, max] spread ships alongside.
        val dt = if (times.isEmpty) -1.0 else times.min
        if (times.nonEmpty)
          spreads(name) =
            (times.min, times.sorted.apply(times.length / 2), times.max)
        System.err.println(
          if (dt >= 0)
            f"[bench] $name%-28s $dt%8.2f s  (min ${times.min}%.2f / max ${times.max}%.2f)" +
              (if (retried.contains(name)) " (retried)" else "")
          else f"[bench] $name%-28s FAILED: ${errors(name)}")
        // 86 queries x 3 runs in one JVM: without a nudge, allocation-heavy
        // late queries pay the accumulated old-gen debt of everything
        // before them (observed as 10x bimodal md5-query times)
        System.gc()
        name -> dt
    }
    val loadAfter = loadavg()
    def jsonObj(m: scala.collection.Map[String, String]): String =
      m.map { case (k, v) =>
        s"\"" + k + "\":\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      }.mkString("{", ",", "}")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // Locale.ROOT: the f-interpolator renders %.3f with the JVM default
    // locale, and a comma decimal separator would corrupt the JSON line
    def d3(x: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))
    val sp = spreads.map { case (k, (lo, med, hi)) =>
      s""""$k":[${d3(lo)},${d3(med)},${d3(hi)}]""" }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val ib = allBuilds.map { case (k, v) => s""""$k":${d3(v)}""" }
      .mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","timing":"min-of-3","queries":$qs,"spread":$sp,"index_build_sec":$ib,"loadavg_before":"$loadBefore","loadavg_after":"$loadAfter","errors":${jsonObj(errors)},"retried":${jsonObj(retried)},"sf":"$sfDir"}"""
    println(line)
    // The driver captures a bounded stdout tail, which has truncated the
    // head of the per-query map before — persist the full line to a file
    // so every round's numbers survive regardless of log capture.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")),
      (line + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () } // the stdout line remains the contract
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
