package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** sf0.1 → sf1 scaling probe: runs the suite's heaviest NON-streaming
  * queries at both scales and reports per-query ratios — the direct
  * evidence behind the plan audits' 100× claims, which otherwise argue
  * from shuffle shape alone. (Streaming entries are excluded by
  * design: their cost is a fixed count of micro-batch triggers, flat
  * in data volume by construction — the batch twins ARE probed.)
  *
  * The sf1 dataset derives from sf0.1 by 10× replication under
  * structure-preserving transforms, because naive replication would
  * poison exactly the queries worth probing: ten verbatim copies of
  * every document make every doc a near-dup of nine others, so pair
  * counts grow ~100× for a DATA reason and any dedup ratio reads as a
  * fake super-linearity. Instead:
  *
  *  - documents: replica r shifts `doc_id` by r·stride and suffixes
  *    every word with `xr` — a per-replica bijection of the
  *    vocabulary, so WITHIN-replica shingle/gram structure (Jaccard,
  *    span repeats, substring dups) is isomorphic to the base corpus
  *    while no shingle ever matches across replicas;
  *  - embeddings: replica r shifts `vec_id` and multiplies each
  *    dimension by a deterministic ±1 pattern — within-replica
  *    cosines are EXACTLY preserved (the flips cancel pairwise), and
  *    cross-replica cosines scramble to ~0, far below the near-dup
  *    threshold, so the similarity graph is 10 isomorphic copies.
  *
  * Timing protocol = Bench's: hash-consume (no pruning), 3 runs, min
  * recorded with the [min, median, max] spread; in-query ensure gates
  * pay store builds on run 1 and serve warm after, exactly like a
  * first bench on a cold box. One JSON line on stdout, persisted to
  * BENCH_sf1_probe.json. Linear-ish work should land near 10×
  * (modulo fixed per-query overheads that make small queries look
  * sub-linear); anything far above is a scale smell the plan audit
  * must explain. */
object ScaleProbe {

  /** The heaviest batch queries of the committed bench artifact. */
  private val ProbeQueries = Seq(
    "x_community_l2", "x_edge_branch", "x_cluster_store",
    "x_neardup_append", "x_diversity_sample", "x_scrub_spans_phased",
    "x_embed_near_dup", "x_ann_ivfpq_append", "x_ann_delete",
    "x_substring_dup_hashed")

  private val Replicas = 10
  private val Stride = 1000000L

  /** Deterministic ±1 per (replica, dimension) — a Rademacher pattern
    * from a Weyl-style integer mix (no RNG state, replayable). */
  private def sign(r: Int, i: Int): Float =
    if ((((r * 1000003L + i) * 2654435761L) >>> 16 & 1L) == 0L) 1.0f
    else -1.0f

  private def ensureSf1(spark: SparkSession, src: String,
      dst: String): Unit = {
    graft.sources.StoreFiles.markerGate(spark, dst,
        s"""{"replicas":$Replicas,"stride":$Stride}""") {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dst))
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val embs = spark.read.parquet(s"$src/embeddings.parquet")
      val docReps = (0 until Replicas).map { r =>
        docs.select(
          (col("doc_id") + lit(r * Stride)).as("doc_id"),
          concat_ws(" ", transform(split(col("text"), "\\s+"),
            w => when(w === "", w).otherwise(concat(w, lit(s"x$r")))))
            .as("text"),
          col("lang"), col("source"), col("n_chars"))
      }
      docReps.reduce(_ unionByName _)
        .repartition(8).write.parquet(s"$dst/documents.parquet")
      val embReps = (0 until Replicas).map { r =>
        val signs = typedLit((0 until 64).map(sign(r, _)))
        embs.select(
          (col("vec_id") + lit(r * Stride)).as("vec_id"),
          zip_with(col("embedding"), signs, (x, s) => x * s)
            .as("embedding"),
          col("label"))
      }
      embReps.reduce(_ unionByName _)
        .repartition(4).write.parquet(s"$dst/embeddings.parquet")
    }
    ()
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val sf1 = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR",
      java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft-sf1").toString)
    val spark = Session.local()
    ensureSf1(spark, src, sf1)
    // optional args(0) regex: probe a subset (e.g. re-measure one
    // mover after a fix). Filtered runs keep the committed full
    // artifact intact unless SPARK_GRAFT_PROBE_OUT overrides.
    val probeQueries = args.headOption match {
      case Some(re) => ProbeQueries.filter(_.matches(re))
      case None => ProbeQueries
    }
    val outPath = sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT",
      if (probeQueries == ProbeQueries) "BENCH_sf1_probe.json"
      else "/tmp/BENCH_sf1_probe_subset.json")
    // JIT/codegen warmup at the smallest sf, exactly like Bench
    Bench.warmUp(spark, probeQueries.map(SparkEntry.queries))
    def d3(x: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))
    val rows = probeQueries.map { name =>
      val a = Probe.timeRuns(spark, SparkEntry.queries(name), src)
      val b = Probe.timeRuns(spark, SparkEntry.queries(name), sf1)
      System.gc()
      val line = (name, a.min, b.min, b.min / a.min, a.sorted, b.sorted)
      System.err.println(f"[probe] $name%-24s sf0.1 ${a.min}%7.2f s   " +
        f"sf1 ${b.min}%7.2f s   ratio ${b.min / a.min}%5.2f")
      line
    }
    val q01 = rows.map(r => s""""${r._1}":${d3(r._2)}""")
      .mkString("{", ",", "}")
    val q1 = rows.map(r => s""""${r._1}":${d3(r._3)}""")
      .mkString("{", ",", "}")
    val ratio = rows.map(r => s""""${r._1}":${d3(r._4)}""")
      .mkString("{", ",", "}")
    val spread = rows.map(r =>
      s""""${r._1}":[[${r._5.map(d3).mkString(",")}],""" +
        s"""[${r._6.map(d3).mkString(",")}]]""")
      .mkString("{", ",", "}")
    val line = s"""{"metric":"sf1_probe","unit":"sec",""" +
      s""""timing":"min-of-3","replicas":$Replicas,""" +
      s""""sf01":$q01,"sf1":$q1,"ratio":$ratio,"spread":$spread,""" +
      s""""sf01_dir":"$src","sf1_dir":"$sf1"}"""
    println(line)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
  }
}
