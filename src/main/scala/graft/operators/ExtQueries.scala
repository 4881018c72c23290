package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Driver-facing queries for the training-data-pipeline extension track
  * (dedup, similarity search, text analysis, streaming-style windowed agg)
  * over `documents` / `embeddings` / `events`, with DuckDB oracles where
  * the operator is SQL-expressible. SimHash and the xxhash64-based LSH
  * bucketing have no DuckDB equivalent → rows-only checks + ScalaTest.
  */
object ExtQueries {

  val JaccardThreshold = 0.1
  val CosineThreshold = 0.4
  val TopK = 10
  val QueryMod = 50 // vec_id % QueryMod == 0 defines the ANN query set
  val AnnPlanes = 6
  val EmbeddingDim = 64
  val NearDupBands = 32
  val NearDupRows = 6
  val CompactionTargetBytes = 2048L
  val ContainmentThreshold = 0.4
  val BfsMaxHops = 4
  val KCoreK = 2
  val KCoreRounds = 8
  val PageRankIters = 5
  val PageRankScale = 1000000000000L // unweighted: micro-units at 1e12
  val PageRankWScale = 1000000000L // weighted: 1e9 keeps score·ppm in int64
  val CupedPreDays = 31
  val IvfCentroidMod = 37
  val IvfNprobe = 2
  val LloydIters = 2
  val PqCentroidMod = 41
  val AppendHoldoutMod = 10 // vec_id % 10 == 9 arrives AFTER the index build
  val PqSubspaces = 8
  val MediaResizeW = 24
  val MediaResizeH = 24
  val DecontamMod = 50 // doc_id % DecontamMod == 0 defines the benchmark set
  val DecontamN = 5
  val IncrBatchMod = 10 // doc_id % 10 == 0 arrives AFTER the store build
  val IvmDeltaMod = 10 // event_id % 10 == 0 arrives AFTER the agg state
  val BloomFpp = 0.01
  val HeavyHitterMapSize = 1024 // sketch counters; err ≤ 3.5n/1024
  val HeavyHitterPhi = 64 // heavy = count > n/64 (4.5× above the err line)
  val FunnelSteps = Seq("view", "click", "purchase")
  val FunnelWindow = "7 days"
  val CepWithinSeconds = 86400L // the CEP chain must span <= 1 day
  val BpeTrainMerges = 8 // learned merge count for x_bpe_train
  val UnigramVocabSize = 200 // top-V substring pieces kept (plus chars)
  val UnigramMaxPiece = 4 // longest candidate piece (code points)
  // Candidate enumeration caps substring STARTS at 128 code points per
  // word (TextExpressions.UnigramMaxWordStarts; the oracle's
  // range(0, 128)) — the documented >128-code-point-word assumption:
  // longer "words" are junk/URLs, and both engines share the cap so
  // the candidate vocabularies cannot diverge on one.
  val KAnonK = 5 // k-anonymity release gate
  val LDiverseL = 3 // l-diversity release gate
  val DpEpsilon = 1.0 // Laplace ε for the noisy count release
  val RecallFloor = 0.5 // per-query recall@k gate for x_ann_recall_eval
  val HotWindowMin = 6L // purchases/hour that open an alert window
  val RangeBinSeconds = 1800L // bin width for the binned range join
  val PmiTopK = 50 // collocations kept by x_pmi_colloc
  val PmiMinCount = 5L // bigram count floor (hapax-pair guard)
  val DriftTopK = 40 // most-drifted words kept by x_unigram_drift
  val WSampleK = 20 // weighted reservoir sample size per source
  val ZBits = 8 // Z-order grid bits per dimension (256 × 256 cells)
  val ZFiles = 16 // Z-range partitions (files) in the layout
  // rectangle scan bounds on the (user_id % 256, event_id % 256) grid
  // (ZALo low enough that sf0.001's user_id range 0..14 still matches —
  // an empty-vs-empty compare would be a vacuous PASS at that sf)
  val ZALo = 2L; val ZAHi = 191L; val ZBLo = 32L; val ZBHi = 159L
  val RpDim = 32 // JL-reduced dimensionality (64 → 32)
  val RpShortlist = 150 // reduced-space candidates per query before refine
  val SpanWidth = 3
  val SpanMaxDf = 4
  // exact duplicated-substring dedup (x_substring_dup): window width
  // in tokens and the global occurrence floor, shared by the Spark
  // operator and the generated oracle SQL
  val SubstrWidth = 4
  val SubstrMinCount = 2
  // the compensated-MV filter (x_mv_rewrite_filtered): a mid-corpus
  // day range + type IN, shared by the Spark query and the generated
  // oracle SQL
  val MvFilterDayLo = "2024-01-10"
  val MvFilterDayHi = "2024-01-20"
  val MvFilterTypes: Seq[String] = Seq("view", "click", "purchase")
  val NumShards = 8
  val SketchParts = 4
  val DiversityPerCluster = 3
  val SessionGap = "4 hours"
  val StreamSessionGap = "12 hours" // streaming replay's merge gap
  val FuzzyMaxDist = 2 // edit-distance join threshold (ED1 is vacuous
  // on this corpus: the 31 dictionary words differ pairwise by >= 2)
  val ProfileCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")
  val PathTopK = 20 // most frequent session paths kept
  val SparseDfCap = 10 // prune terms present in > 1/10 of the corpus
  val DeleteMod = 10; val DeleteRem = 3 // vec_id % 10 == 3 deleted
  val Scd2Cutoff = "2024-01-24 00:00:00" // base | delta time split
  val CorrCols = Seq("l_quantity", "l_extendedprice", "l_discount")
  val MadK = 3 // anomaly when |total - median| > MadK × MAD
  val Bm25Terms = Seq("spark", "merge", "dup", "window") // fixed query
  val Bm25K = 10
  val SceneCutThreshold = 120L // signature jump that flags a cut
  val ThetaNomEntries = 256 // exact below 256 users, estimating above
  val ThetaNSd = 3 // bound width for the in-bounds audit booleans
  val ThetaParts = 4 // sketch-state rows in the merge audit
  val CmsDepth = 3 // Count-Min rows (independent md5-seeded hashes)
  val CmsWidth = 1024 // Count-Min buckets per row (24 KB sketch)
  val LinkMinCommon = 1L // shared-neighbor floor for predicted links
  // (the verified near-dup clusters are near-cliques: pairs sharing
  // TWO unlinked neighbors don't occur at the driver SFs — one shared
  // neighbor is already the "band missed it" signal this query ranks)
  val LinkMaxDeg = 64L // wedge-pivot degree cap (hub exclusion)
  val HashedNgramBuckets = 4096 // weight slots for the hashed scorer
  val ScorerBinWidth = 2000L // margin-bin width for the calibration
  val BootstrapReps = 40 // Poisson-bootstrap replicates per key
  val StratifiedTotal = 100 // exact stratified-sample size
  val TruncDim = 16 // Matryoshka prefix length evaluated vs full 64
  val HistBuckets = 4 // equi-depth histogram bins per key
  val BenfordTol = 0.02 // |freq − log10(1+1/d)| bound for the screen
  val AcfMaxLag = 7 // autocorrelation lags probed (weekly cycle peak)
  val KmHorizonDays = 14 // inactivity horizon that marks churn vs censor
  val PipelineMinQuality = 0.3
  val VocabTopK = 100
  val BestPerSourceK = 5
  val IntervalLookback = "1 hour"
  val TfidfTopK = 3
  val MixtureBudget = 20000L
  val BoilerplateMinDf = 4
  val BoilerplateMaxCoverage = 0.15
  val BpePairTopK = 50
  val ChunkWidth = 24
  val ChunkStride = 16
  val PackBudget = 1024
  val TruncMaxToks = 48
  val TruncHead = 32
  val TruncTail = 8
  /** Even-numbered sources are "high-value" (4× the weight) — covers
    * more source names than any scale factor ships so the mixture is
    * total over the corpus. */
  val MixtureWeights: Map[String, Double] =
    (0 until 64).map(i => s"src$i" -> (if (i % 2 == 0) 0.08 else 0.02))
      .toMap

  /** Persisted-index paths, keyed on the dataset dir so each scale
    * factor gets its own warm index. Shared by the serving queries and
    * by [[ensureAnnIndexes]] (Bench pre-builds through it so the timed
    * entries measure the serve path, not the build). */
  private[graft] def ivfPqIndexPath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-ivfpq-${Integer.toHexString(d.hashCode)}").toString
  private[graft] def ivfPqBasePath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-ivfpq-base-${Integer.toHexString(d.hashCode)}").toString
  private[graft] def ivfPqWorkPath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-ivfpq-work-${Integer.toHexString(d.hashCode)}").toString

  private[graft] def ivfPqDelWorkPath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-ivfpq-del-${Integer.toHexString(d.hashCode)}").toString

  /** Build (or confirm warm) the two persisted ANN indexes the serving
    * queries read: the full-corpus index (`x_ann_ivfpq_read`) and the
    * append-holdout base index (`x_ann_ivfpq_append`). Returns the
    * build seconds per index — empty when both were already warm. */
  private[graft] def ensureAnnIndexes(s: SparkSession,
      d: String): Map[String, Double] = {
    val e = Tables.embeddings(s, d)
    val base = e.filter(
      col("vec_id") % AppendHoldoutMod =!= AppendHoldoutMod - 1)
    val full = graft.sources.VectorIndexStore.ensureIvfPq(
      e, ivfPqIndexPath(d), ivfCentroidMod = IvfCentroidMod,
      pqCentroidMod = PqCentroidMod, m = PqSubspaces, dim = EmbeddingDim)
    val holdout = graft.sources.VectorIndexStore.ensureIvfPq(
      base, ivfPqBasePath(d), ivfCentroidMod = IvfCentroidMod,
      pqCentroidMod = PqCentroidMod, m = PqSubspaces, dim = EmbeddingDim)
    (full.map("ivfpq_full" -> _) ++ holdout.map("ivfpq_base" -> _)).toMap
  }

  private[graft] def fpStorePath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-fpstore-${Integer.toHexString(d.hashCode)}").toString

  private[graft] def fpBranchWorkPath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-fpbranch-work-${Integer.toHexString(d.hashCode)}").toString

  private[graft] def aggBranchWorkPath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-aggbranch-work-${Integer.toHexString(d.hashCode)}").toString

  private[graft] def lmBranchWorkPath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-lmbranch-work-${Integer.toHexString(d.hashCode)}").toString

  private[graft] def tokBranchWorkPath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-tokbranch-work-${Integer.toHexString(d.hashCode)}").toString

  private[graft] def takedownWorkPath(d: String, store: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-takedown-$store-${Integer.toHexString(d.hashCode)}")
      .toString

  /** The key set of the takedown store families (base/work roots), in
    * summary order. `hilb`/`zorder` are the two LAYOUT stores — one
    * split query (`x_takedown_layout`) covers both. */
  private[graft] val TakedownStoreKeys =
    Seq("fp", "edges", "ann", "agg", "lm", "tok", "hilb", "zorder",
      "scd2")

  /** The split-query key set — store families grouped as the driver
    * queries slice them ([[TakedownRelsOf]]/`tdCtesOf` share keys). */
  private[graft] val TakedownSplitKeys =
    Seq("fp", "edges", "ann", "agg", "lm", "tok", "layout", "scd2")

  /** The `x_takedown` computation, parameterized on BOTH path sets so
    * the determinism spec can replay it against scratch roots: ensure
    * the six base stores at `base(k)` for k in [[TakedownStoreKeys]],
    * clone each to `work(...)` ([[graft.sources.StoreClone]] — pinned
    * + lock-held, so a clone is always a committed state), run ONE
    * [[graft.sources.Takedown.sweep]] over the clones, and reduce
    * every rewritten relation to per-column `(rel, col, n_rows,
    * order-independent 60-bit md5 bit_xor, min/max rendered value)`
    * rows. The rows NAME their relation AND column, so a mismatch —
    * driver-side or in the repeat-run spec — identifies which store
    * and column moved instead of a bare boolean. Deterministic by
    * construction: ensure-builds are recipe-gated and deterministic,
    * clones are version-pinned, the sweep's algebra is exact (md5
    * anti-joins, decimal/integer subtraction, deterministic BPE
    * retrain). */
  private[graft] def takedownSummary(s: SparkSession, d: String,
      base: Map[String, String], work: String => String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val events = Tables.events(s, d)
    val docDel = Tables.documents(s, d)
      .filter(col("doc_id") % DeleteMod === DeleteRem)
    val vecDel = e.filter(col("vec_id") % DeleteMod === DeleteRem)
    val factDel = events
      .filter(col("event_id") % DeleteMod === DeleteRem)
    // warm bases (all ensure-gated), cloned so the base stores stay
    // pristine for their own queries. The nine family builds write
    // DISJOINT store roots from independent inputs — overlap them on a
    // bounded pool (guide §2.6: the scheduler runs concurrent jobs
    // fine; the builds were only serial because this code called them
    // serially). The ONE build kept out of the batch is the cluster
    // LABELS build: its connected-components fixpoint scopes a
    // session-global shuffle-width conf (Dedup.scala), which must not
    // race concurrent planning — it runs alone, after the batch.
    graft.sources.StoreFiles.inParallel(Seq(
      () => graft.sources.FingerprintStore.ensureFingerprints(
        incrCorpus(s, d), base("fp")),
      () => graft.sources.EdgeStore.ensureNearDupPairs(e, base("edges"),
        CosineThreshold, bands = NearDupBands,
        rowsPerBand = NearDupRows, dim = EmbeddingDim),
      () => graft.sources.VectorIndexStore.ensureIvfPq(e, base("ann"),
        ivfCentroidMod = IvfCentroidMod, pqCentroidMod = PqCentroidMod,
        m = PqSubspaces, dim = EmbeddingDim),
      () => graft.sources.AggStore.ensureState(events, base("agg"),
        baseTag = "mv-full"),
      () => graft.sources.LmStore.ensureModel(Tables.documents(s, d),
        base("lm")),
      () => graft.sources.TokenizerStore.ensureVocab(
        Tables.documents(s, d), base("tok"), BpeTrainMerges),
      () => graft.sources.HilbertStore.ensureHilbert(zGrid(events),
        base("hilb"), "za", "zb", ZBits, ZFiles),
      () => graft.sources.ZOrderStore.ensureZOrdered(zGrid(events),
        base("zorder"), "za", "zb", ZBits, ZFiles),
      () => graft.sources.Scd2Store.ensureState(events, base("scd2"))))
    graft.sources.ClusterStore.ensureLabels(s, base("edges"))
    val fpW = work("fp")
    val edgeW = work("edges")
    val annW = work("ann")
    val aggW = work("agg")
    val lmW = work("lm")
    val tokW = work("tok")
    val hilbW = work("hilb")
    val zordW = work("zorder")
    val scd2W = work("scd2")
    TakedownStoreKeys.foreach(k =>
      graft.sources.StoreClone.cloneStore(s, base(k), work(k)))
    graft.sources.Takedown.sweep(s,
      docIds = Some(docDel), vecIds = Some(vecDel),
      removedFacts = Some(factDel),
      fingerprintStores = Seq(fpW), edgeStores = Seq(edgeW),
      vectorIndexes = Seq(annW), aggStores = Seq(aggW),
      lmStores = Seq(lmW), tokenizerStores = Seq(tokW),
      retrainCorpus = Some(Tables.documents(s, d)
        .filter(col("doc_id") % DeleteMod =!= DeleteRem)),
      hilbertStores = Seq(hilbW), zorderStores = Seq(zordW),
      scd2Stores = Seq(scd2W),
      subjectIds = Some(events
        .filter(col("user_id") % DeleteMod === DeleteRem)
        .select(col("user_id"))),
      takedownTag = Some("x_takedown"))
    def h60(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    // One output row PER RENDERED KEY COLUMN plus a '*' full-key row:
    // (rel, col, n_rows, hashx, vmin, vmax). hashx is an
    // order-independent BIT_XOR fold of 60-bit md5 values —
    // deliberately BIGINT, never a decimal sum: the pre-r15 decimal
    // (38,0) hashsum was the ONLY decimal output column in the whole
    // query surface and exactly the nine queries carrying it were
    // driver-red for three rounds with rows/schema green (a compare
    // path that narrows wide decimals through float64 corrupts a
    // ~1e22 sum; a sub-2^60 int64 is exact on every path). vmin/vmax
    // carry the extreme rendered values so any residual divergence
    // NAMES its column and SHOWS sample values instead of hiding
    // behind a relation-level checksum. One aggregation pass per
    // relation (same as the old single-hashsum shape).
    def summ(rel: String, df: DataFrame,
        cols: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
      val all = cols :+ ("*" ->
        concat_ws("|", cols.map(_._2): _*))
      val aggs = count(lit(1)).as("n_rows") +:
        all.zipWithIndex.flatMap { case ((_, c), i) =>
          val r = c.cast("string")
          Seq(bit_xor(h60(r)).as(s"hx$i"), min(r).as(s"mn$i"),
            max(r).as(s"mx$i"))
        }
      val entries = all.zipWithIndex.map { case ((n, _), i) =>
        struct(lit(n).as("col"), col(s"hx$i").as("hashx"),
          col(s"mn$i").as("vmin"), col(s"mx$i").as("vmax"))
      }
      df.agg(aggs.head, aggs.tail: _*)
        .select(lit(rel).as("rel"), col("n_rows"),
          explode(array(entries: _*)).as("e"))
        .select(col("rel"), col("e.col").as("col"), col("n_rows"),
          col("e.hashx").as("hashx"), col("e.vmin").as("vmin"),
          col("e.vmax").as("vmax"))
    }
    val ppm = (c: org.apache.spark.sql.Column) =>
      (c.cast(DecimalType(18, 6)) * 1000000).cast("long")
    summ("fp_buckets",
        graft.sources.FingerprintStore.readBuckets(s, fpW),
        Seq("id" -> col("id"), "band" -> col("band"),
          "key" -> col("key")))
      .unionByName(summ("fp_arrays",
        graft.sources.FingerprintStore.readArrays(s, fpW)
          .select(col("id"), explode(col("shs")).as("sh")),
        Seq("id" -> col("id"), "sh" -> col("sh"))))
      .unionByName(summ("edge_pairs",
        graft.sources.EdgeStore.read(s, edgeW),
        Seq("id_a" -> col("id_a"), "id_b" -> col("id_b"),
          "cos_ppm" -> ppm(col("cos")))))
      .unionByName(summ("edge_bands",
        graft.sources.EdgeStore.readBands(s, edgeW),
        Seq("id" -> col("id"), "band" -> col("band"),
          "bkey" -> col("bkey"))))
      .unionByName(summ("edge_labels",
        graft.sources.ClusterStore.readLabels(s, edgeW),
        Seq("id" -> col("id"), "label" -> col("label"))))
      .unionByName(summ("agg_rollup",
        graft.sources.AggStore.readState(s, aggW),
        Seq("day" -> date_format(col("day"), "yyyy-MM-dd"),
          "event_type" -> col("event_type"), "cnt" -> col("cnt"),
          "total_c" -> (col("total") * 100).cast("long"))))
      .unionByName(summ("ann_topk",
        graft.sources.VectorIndexStore.ivfPqTopKFromIndex(s, annW,
          e.filter(col("vec_id") % QueryMod === 0), e, TopK,
          nprobe = IvfNprobe, m = PqSubspaces, dim = EmbeddingDim),
        Seq("query_id" -> col("query_id"),
          "match_id" -> col("match_id"), "rank" -> col("rank"),
          "cos_ppm" -> ppm(col("cos")))))
      .unionByName(summ("lm_unigrams",
        graft.sources.LmStore.readUnigrams(s, lmW),
        Seq("term" -> col("term"), "ucnt" -> col("ucnt"))))
      .unionByName(summ("lm_bigrams",
        graft.sources.LmStore.readBigrams(s, lmW),
        Seq("bg" -> col("bg"), "bcnt" -> col("bcnt"))))
      .unionByName(summ("tok_merges",
        graft.sources.TokenizerStore.readMerges(s, tokW),
        Seq("merge_rank" -> col("merge_rank"), "left" -> col("left"),
          "right" -> col("right"), "cnt" -> col("cnt"))))
      .unionByName(summ("hilb_rows",
        graft.sources.HilbertStore.rectScan(s, hilbW, "za", "zb",
          0, (1L << ZBits) - 1, 0, (1L << ZBits) - 1, ZBits),
        Seq("event_id" -> col("event_id"), "hval" -> col("hval"))))
      .unionByName(summ("zorder_rows",
        graft.sources.ZOrderStore.zRangeScan(s, zordW, "za", "zb",
          0, (1L << ZBits) - 1, 0, (1L << ZBits) - 1, ZBits),
        Seq("event_id" -> col("event_id"), "zval" -> col("zval"))))
      .unionByName(summ("scd2_rows",
        graft.sources.Scd2Store.readState(s, scd2W),
        Seq("user_id" -> col("user_id"),
          "event_type" -> col("event_type"),
          "vf_us" -> unix_micros(col("valid_from")),
          "vt_us" -> coalesce(unix_micros(col("valid_to")),
            lit(-1L)))))
  }

  /** Summary rows per takedown store key — the split driver queries'
    * slicing map; union = the full `x_takedown` surface. */
  private[graft] val TakedownRelsOf: Map[String, Seq[String]] = Map(
    "fp" -> Seq("fp_buckets", "fp_arrays"),
    "edges" -> Seq("edge_pairs", "edge_bands", "edge_labels"),
    "ann" -> Seq("ann_topk"),
    "agg" -> Seq("agg_rollup"),
    "lm" -> Seq("lm_unigrams", "lm_bigrams"),
    "tok" -> Seq("tok_merges"),
    "layout" -> Seq("hilb_rows", "zorder_rows"),
    "scd2" -> Seq("scd2_rows"))

  private val takedownMemo =
    new java.util.concurrent.ConcurrentHashMap[String,
      Array[org.apache.spark.sql.Row]]()

  private val takedownSchema = org.apache.spark.sql.types.StructType(
    Seq(
      org.apache.spark.sql.types.StructField("rel",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("col",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("n_rows",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("hashx",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("vmin",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("vmax",
        org.apache.spark.sql.types.StringType, nullable = true)))

  /** HERMETIC, memoized takedown rows — the driver-facing form of
    * [[takedownSummary]]. Hermetic: the base stores live under a
    * FRESH `createTempDirectory` root owned by this process alone and
    * are built from scratch once per session, so the result depends
    * on nothing but the input tables — no ensure-state shared with
    * other queries, no leftover store generations from prior runs on
    * the same box, no sequencing. Memoized: the sweep runs ONCE per
    * session and dataset; `x_takedown` and its per-store splits all
    * serve from the same collected rows (~50 tiny rows — bounded
    * driver state), so a re-entered query cannot observe a different
    * store state either. The bench charges the sweep's cold cost
    * explicitly (`cold_takedown_sweep` in `index_build_sec`) so the
    * memo can never hide it from the timing protocol. */
  private[graft] def takedownRows(s: SparkSession, d: String)
      : DataFrame = {
    val rows = takedownMemo.computeIfAbsent(d, _ => {
      // A UNIQUE per-process scratch root (not a fixed /tmp path wiped
      // with deleteQuietly, which swallows failures): if a stale root
      // from a prior run/uid survived a silent failed wipe, the
      // recipe-gated ensure-builds would serve stores built by OLD
      // code and every relation here would diverge at once. A fresh
      // createTempDirectory can never see prior state; the root is
      // deleted after the collect (the memo keeps only the rows).
      val root = java.nio.file.Files
        .createTempDirectory("graft-takedown-run-").toString
      try takedownSummary(s, d,
        TakedownStoreKeys.map(k => k -> s"$root/base-$k").toMap,
        k => s"$root/work-$k").collect()
      finally org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(root))
    })
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(rows: _*)), takedownSchema)
  }

  private[graft] def nearDupPairsPath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-ndpairs-${Integer.toHexString(d.hashCode)}").toString

  private[graft] def ndPairsBasePath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-ndpairs-base-${Integer.toHexString(d.hashCode)}").toString
  private[graft] def ndPairsWorkPath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-ndpairs-work-${Integer.toHexString(d.hashCode)}").toString
  private[graft] def ndClusterWorkPath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-ndcluster-work-${Integer.toHexString(d.hashCode)}").toString
  private[graft] def ndBranchWorkPath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-ndbranch-work-${Integer.toHexString(d.hashCode)}").toString

  /** The embedding near-dup pair list served from the committed
    * [[graft.sources.EdgeStore]] (marker-gated build on first touch):
    * the pair list is the expensive artifact of the similarity graph,
    * and its four consumers (triangle census, cluster labeling, BFS,
    * PageRank) read the store instead of re-running the LSH chain
    * per query. Identical rows to an inline
    * `Similarity.nearDupPairsLsh` — cos is 6dp-rounded before
    * persisting and doubles round-trip parquet exactly — so the
    * oracle keeps recomputing the pairs from first principles. */
  private def storedNearDupPairs(s: SparkSession, d: String): DataFrame = {
    graft.sources.EdgeStore.ensureNearDupPairs(Tables.embeddings(s, d),
      nearDupPairsPath(d), CosineThreshold, bands = NearDupBands,
      rowsPerBand = NearDupRows, dim = EmbeddingDim)
    graft.sources.EdgeStore.read(s, nearDupPairsPath(d))
  }

  /** Cluster assignments served from the COMMITTED label table
    * ([[graft.sources.ClusterStore]]): the label-propagation cost is
    * paid once at build (and maintained incrementally on admission),
    * so the census, keep-best, and dedup-group consumers each run one
    * left join against the resolved labels instead of re-propagating
    * over the stored pairs per query. Bit-identical to the inline
    * `Dedup.clusterAssignments` — the oracle keeps recomputing the
    * components from first principles. */
  private def storedClusterAssignments(s: SparkSession, d: String)
      : DataFrame = {
    graft.sources.EdgeStore.ensureNearDupPairs(Tables.embeddings(s, d),
      nearDupPairsPath(d), CosineThreshold, bands = NearDupBands,
      rowsPerBand = NearDupRows, dim = EmbeddingDim)
    graft.sources.ClusterStore.assignments(Tables.embeddings(s, d),
      nearDupPairsPath(d), idCol = "vec_id")
  }

  /** The end-to-end training-data pipeline over one arriving batch —
    * the composition every stage query exercises alone: TSV ingest
    * with quarantine → fingerprint admission against the warm corpus
    * store → quality floor → exact 5-gram decontamination (benchmark
    * rows excluded; the Bloom probe is the scan-speed prefilter of the
    * same set — `x_bloom_decontam` pins its no-false-negative
    * guarantee, so the exact overlap here is what it verifies down to)
    * → token-budget mixture → shard assignment. Returns every stage
    * frame by name so the driver query can hash per-stage counts and
    * the spec can pin that quarantined / duplicate / contaminated docs
    * never reach the shards. All stages are scan-speed filters,
    * broadcast probes, or keyed joins — the chain shuffles once per
    * keyed stage and never widens. */
  private[graft] def pipelineStages(s: SparkSession, d: String)
      : (DataFrame, Map[String, DataFrame]) = {
    val (clean0, quarantine) = graft.sources.TsvCorpus.read(
      s, tsvFixture(s, d))
    val clean = CacheRegistry.tracked(clean0)
    graft.sources.FingerprintStore.ensureFingerprints(
      incrCorpus(s, d), fpStorePath(d))
    val batch = CacheRegistry.tracked(
      clean.filter(col("doc_id") % IncrBatchMod === 0))
    val verdicts = graft.sources.FingerprintStore.dedupBatchAgainst(
      s, fpStorePath(d), batch, JaccardThreshold)
    val admitted = CacheRegistry.tracked(batch.join(
      verdicts.filter(col("survived"))
        .select(col("batch_id").as("doc_id")),
      Seq("doc_id"), "left_semi"))
    val quality = CacheRegistry.tracked(admitted.filter(
      TextAnalysis.qualityScore(col("text")) >= PipelineMinQuality))
    val bench = clean.filter(col("doc_id") % DecontamMod === 0)
    val nonBench = quality.filter(col("doc_id") % DecontamMod =!= 0)
    val decontam = CacheRegistry.tracked(nonBench.join(
      Contamination.ngramOverlap(nonBench, bench, n = DecontamN)
        .select(col("doc_id")),
      Seq("doc_id"), "left_anti"))
    val mixed = CacheRegistry.tracked(
      CorpusStats.mixtureSample(decontam, MixtureWeights, MixtureBudget)
        .select(col("doc_id")).join(decontam, Seq("doc_id")))
    val sharded = CorpusStats.shardOrder(mixed, NumShards)
    (quarantine, Map(
      "ingest" -> clean, "batch" -> batch, "admitted" -> admitted,
      "quality" -> quality, "decontam" -> decontam, "mixed" -> mixed,
      "sharded" -> sharded))
  }

  /** TSV and JSONL round-trip fixtures: the documents table exported
    * plus one malformed line and one contract-violating (id-less but
    * well-formed) line, built once per dataset dir behind the
    * build-once gate. */
  private def tsvFixture(s: SparkSession, d: String): String =
    textFixture(s, d, "tsv") { data =>
      graft.sources.TsvCorpus.write(Tables.documents(s, d), data)
      ("bad-lines.tsv", "notanumber\tsome text\ten\tweb\t10\n" +
        "\twell-formed but no id\ten\tweb\t5\n")
    }

  private def jsonlFixture(s: SparkSession, d: String): String =
    textFixture(s, d, "jsonl") { data =>
      graft.sources.JsonlCorpus.write(Tables.documents(s, d), data)
      ("bad-lines.json", "this is not json {\n" +
        """{"text": "well-formed but no id", "lang": "en"}""" + "\n")
    }

  /** `write` exports into the data dir and names one extra file of bad
    * lines; the root is deleted before every build. */
  private def textFixture(s: SparkSession, d: String, fmt: String)(
      write: String => (String, String)): String = {
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-$fmt-${Integer.toHexString(d.hashCode)}")
    val data = root.resolve("data")
    graft.sources.StoreFiles.markerGate(s, root.toString,
        s"""{"fixture":"$fmt"}""") {
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
      val (bad, lines) = write(data.toString)
      java.nio.file.Files.write(data.resolve(bad), lines.getBytes("UTF-8"))
    }
    data.toString
  }

  /** The accepted-corpus side of the incremental dedup split: everything
    * NOT in the arriving batch (`doc_id % IncrBatchMod == 0`). */
  private def incrCorpus(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") % IncrBatchMod =!= 0)

  /** Ensure-gated bucketed join sides (x_bucketed_join + the bench
    * pre-build): data written once per dataset dir behind a recipe
    * marker, catalog registration re-issued per call (DDL only).
    * Returns build seconds per table, empty when warm. */
  private[graft] def ensureBucketedTables(s: SparkSession,
      d: String): Map[String, Double] = {
    val base = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"),
      s"graft-bucketed-${Integer.toHexString(d.hashCode)}").toString
    graft.sources.BucketedStore.ensureBucketed(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
        "graft_orders_bkt", "o_orderkey", 8, s"$base/orders")
      .map("bucketed_orders" -> _).toMap ++
      graft.sources.BucketedStore.ensureBucketed(
        Tables.lineitem(s, d).select(col("l_orderkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "graft_lineitem_bkt", "l_orderkey", 8, s"$base/lineitem")
        .map("bucketed_lineitem" -> _).toMap
  }

  /** Build (or confirm warm) every persisted serving store the bench's
    * serve-path entries read: the two ANN indexes plus the incremental
    * dedup fingerprint store. Returns build seconds per store — empty
    * when everything was already warm. */
  private[graft] def ensureServingStores(s: SparkSession,
      d: String): Map[String, Double] =
    ensureAnnIndexes(s, d) ++
      graft.sources.FingerprintStore
        .ensureFingerprints(incrCorpus(s, d), fpStorePath(d))
        .map("fp_store" -> _).toMap ++
      graft.sources.EdgeStore
        .ensureNearDupPairs(Tables.embeddings(s, d), nearDupPairsPath(d),
          CosineThreshold, bands = NearDupBands,
          rowsPerBand = NearDupRows, dim = EmbeddingDim)
        .map("neardup_pairs" -> _).toMap ++
      graft.sources.EdgeStore
        .ensureNearDupPairs(Tables.embeddings(s, d)
            .filter(col("vec_id") % AppendHoldoutMod =!=
              AppendHoldoutMod - 1), ndPairsBasePath(d),
          CosineThreshold, bands = NearDupBands,
          rowsPerBand = NearDupRows, dim = EmbeddingDim)
        .map("neardup_pairs_base" -> _).toMap ++
      graft.sources.ClusterStore.ensureLabels(s, nearDupPairsPath(d))
        .map("cluster_labels" -> _).toMap ++
      graft.sources.ClusterStore.ensureLabels(s, ndPairsBasePath(d))
        .map("cluster_labels_base" -> _).toMap ++
      graft.sources.ClusterStore.ensureL1Labels(s, nearDupPairsPath(d))
        .map("l1_labels" -> _).toMap ++
      graft.sources.ZOrderStore
        .ensureZOrdered(zGrid(Tables.events(s, d)), zOrderPath(d),
          "za", "zb", ZBits, ZFiles)
        .map("zorder_layout" -> _).toMap ++
      graft.sources.OrcCorpus
        .ensureEvolvedFixture(Tables.documents(s, d), orcFixturePath(d),
          "lang")
        .map("orc_fixture" -> _).toMap ++
      graft.sources.AvroCorpus
        .ensureEvolvedFixture(Tables.documents(s, d), avroFixturePath(d),
          "lang")
        .map("avro_fixture" -> _).toMap ++
      graft.sources.TokenizerStore
        .ensureVocab(Tables.documents(s, d), bpeVocabPath(d),
          BpeTrainMerges)
        .map("bpe_vocab" -> _).toMap ++
      graft.sources.LmStore
        .ensureModel(Tables.documents(s, d), lmStorePath(d))
        .map("lm_model" -> _).toMap ++
      graft.sources.AggStore
        .ensureState(Tables.events(s, d)
          .filter(col("event_id") % IvmDeltaMod =!= 0), aggStorePath(d),
          baseTag = s"deltaMod=$IvmDeltaMod")
        .map("agg_store" -> _).toMap ++
      ensureBucketedTables(s, d)

  /** Measure the COLD build path once per bench run: rebuild each
    * expensive persisted store from scratch into a throwaway scratch
    * dir (deleted before and after), timing each build. The serving
    * stores above are marker-gated — paid once per box lifetime — so
    * without this a regression in the build path (Lloyd refinement, PQ
    * codebook training, fingerprint shingling, the Z-order sort) is
    * invisible to every warm bench. The scratch builds never touch the
    * warm stores the serve-path queries read; each runs in its own
    * cache scope so corpus-level frames don't outlive the measurement. */
  private[graft] def coldBuildSample(s: SparkSession,
      d: String): Map[String, Double] = {
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-coldbuild-${Integer.toHexString(d.hashCode)}").toString
    def scrub(): Unit = org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(root))
    def timed(body: => Unit): Double = graft.operators.CacheRegistry
      .scoped {
        val t0 = System.nanoTime()
        body
        val dt = (System.nanoTime() - t0) / 1e9
        s.catalog.clearCache()
        dt
      }
    scrub()
    try Map(
      "cold_ivfpq" -> timed(graft.sources.VectorIndexStore.writeIvfPq(
        Tables.embeddings(s, d), s"$root/ivfpq",
        ivfCentroidMod = IvfCentroidMod, pqCentroidMod = PqCentroidMod,
        m = PqSubspaces, dim = EmbeddingDim)),
      "cold_fp_store" -> timed(graft.sources.FingerprintStore
        .writeFingerprints(incrCorpus(s, d), s"$root/fp")),
      "cold_zorder" -> timed(graft.sources.ZOrderStore.writeZOrdered(
        zGrid(Tables.events(s, d)), s"$root/zorder", "za", "zb",
        ZBits, ZFiles)),
      "cold_bpe_vocab" -> timed(graft.sources.TokenizerStore.writeVocab(
        Tables.documents(s, d), s"$root/bpevocab", BpeTrainMerges)),
      "cold_lm_model" -> timed(graft.sources.LmStore.writeModel(
        Tables.documents(s, d), s"$root/lmstore")),
      "cold_agg_store" -> timed(graft.sources.AggStore.writeState(
        Tables.events(s, d).filter(col("event_id") % IvmDeltaMod =!= 0),
        s"$root/aggstore")),
      // the bucketed-join sides moved to ensure-gating in r14 (the
      // write is bucketing's pay-once shuffle); keep the build cost
      // measured every run like the other ensured stores
      "cold_bucketed" -> timed {
        graft.sources.BucketedStore.writeBucketed(
          Tables.orders(s, d).select(col("o_orderkey"),
            col("o_orderdate")),
          "graft_orders_bkt_cold", "o_orderkey", 8, s"$root/bkt-orders")
        graft.sources.BucketedStore.writeBucketed(
          Tables.lineitem(s, d).select(col("l_orderkey"),
            col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "graft_lineitem_bkt_cold", "l_orderkey", 8,
          s"$root/bkt-lineitem")
        s.sql("DROP TABLE IF EXISTS `graft_orders_bkt_cold`")
        s.sql("DROP TABLE IF EXISTS `graft_lineitem_bkt_cold`")
        ()
      })
    finally scrub()
  }

  private[graft] def orcFixturePath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-orc-${Integer.toHexString(d.hashCode)}").toString

  private[graft] def avroFixturePath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-avro-${Integer.toHexString(d.hashCode)}").toString

  private[graft] def bpeVocabPath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-bpevocab-${Integer.toHexString(d.hashCode)}").toString

  private[graft] def uniVocabPath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-univocab-${Integer.toHexString(d.hashCode)}").toString

  private[graft] def lmStorePath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-lmstore-${Integer.toHexString(d.hashCode)}").toString

  private[graft] def aggStorePath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-aggstore-${Integer.toHexString(d.hashCode)}").toString

  private[graft] def scd2StorePath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-scd2store-${Integer.toHexString(d.hashCode)}").toString

  private[graft] def hilbApdBasePath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-hilb-base-${Integer.toHexString(d.hashCode)}").toString
  private[graft] def hilbApdWorkPath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-hilb-work-${Integer.toHexString(d.hashCode)}").toString

  private[graft] def hilbStreamWorkPath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-hilb-stream-${Integer.toHexString(d.hashCode)}").toString

  private[graft] def zOrderPath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-zorder-${Integer.toHexString(d.hashCode)}").toString

  private[graft] def hilbertPath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-hilbert-${Integer.toHexString(d.hashCode)}").toString

  private[graft] def aggMvPath(d: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-aggmv-${Integer.toHexString(d.hashCode)}").toString

  /** The events table binned onto the Z-grid: two bounded integer keys
    * (production would range-normalize real columns first). */
  private def zGrid(events: DataFrame): DataFrame =
    events.select(col("event_id"), col("user_id"), col("event_type"),
      (col("user_id") % (1L << ZBits)).as("za"),
      (col("event_id") % (1L << ZBits)).as("zb"))

  /** Shared PQ-oracle CTEs mirroring `Similarity.pqCodebooks` /
    * `pqEncode` / `pqLut`: sampled codebooks, rounded-L2 argmin with
    * the cent_id tie-break, per-query lookup table. Used by both
    * `x_ann_pq_adc` and `x_ann_ivfpq_topk`. */
  private val PqSub = EmbeddingDim / PqSubspaces
  private val PqCtes =
    s"""corp AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |psub AS (
       |  SELECT vec_id, j,
       |    list_slice(v, j * $PqSub + 1, j * $PqSub + $PqSub) AS s
       |  FROM corp CROSS JOIN range($PqSubspaces) AS jr(j)),
       |cb AS (
       |  SELECT j, vec_id AS cent_id, s AS subc,
       |    list_dot_product(s, s) AS cn2
       |  FROM psub WHERE vec_id % $PqCentroidMod = 0),
       |enc AS (
       |  SELECT vec_id AS match_id, j, cent_id AS code, cn2 FROM (
       |    SELECT su.vec_id, su.j, cb.cent_id, cb.cn2, row_number()
       |      OVER (PARTITION BY su.vec_id, su.j
       |        ORDER BY round(list_dot_product(su.s, su.s)
       |          - 2.0 * list_dot_product(su.s, cb.subc) + cb.cn2, 6),
       |        cb.cent_id) AS rnk
       |    FROM psub su JOIN cb ON su.j = cb.j)
       |  WHERE rnk = 1),
       |pq AS (SELECT vec_id AS query_id, v AS qv,
       |        sqrt(list_dot_product(v, v)) AS qn
       |      FROM corp WHERE vec_id % $QueryMod = 0),
       |lut AS (
       |  SELECT pq.query_id, pq.qn, cb.j, cb.cent_id AS code,
       |    list_dot_product(
       |      list_slice(pq.qv, cb.j * $PqSub + 1, cb.j * $PqSub + $PqSub),
       |      cb.subc) AS qdot
       |  FROM pq CROSS JOIN cb)""".stripMargin

  /** ADC + shortlist + exact-re-rank tail over `enc`/`lut` (from
    * [[PqCtes]]); `adcFrom` supplies the restricted join chain. The m
    * subspace terms pivot into fixed-order additions — a bare SUM over
    * doubles would be shuffle-order-dependent. */
  private def pqTailSql(adcFrom: String): String = {
    val qPiv = (0 until PqSubspaces).map(j =>
      s"sum(CASE WHEN l.j = $j THEN l.qdot END) AS q$j")
      .mkString(",\n    ")
    val cPiv = (0 until PqSubspaces).map(j =>
      s"sum(CASE WHEN e.j = $j THEN e.cn2 END) AS c$j")
      .mkString(",\n    ")
    val num = (0 until PqSubspaces).map(j => s"q$j").mkString(" + ")
    val rn2 = (0 until PqSubspaces).map(j => s"c$j").mkString(" + ")
    s"""adc AS (
       |  SELECT l.query_id, e.match_id,
       |    $qPiv,
       |    $cPiv,
       |    max(l.qn) AS qn
       |  FROM $adcFrom
       |  WHERE l.query_id <> e.match_id
       |  GROUP BY l.query_id, e.match_id),
       |scored AS (
       |  SELECT query_id, match_id,
       |    round(($num) / (qn * sqrt($rn2)), 6) AS approx
       |  FROM adc),
       |short AS (
       |  SELECT query_id, match_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY approx DESC, match_id) AS srnk
       |    FROM scored)
       |  WHERE srnk <= ${3 * TopK}),
       |exact AS (
       |  SELECT s.query_id, s.match_id,
       |    round(list_cosine_similarity(pq.qv, c.v), 6) AS cos
       |  FROM short s JOIN pq USING (query_id)
       |  JOIN corp c ON s.match_id = c.vec_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, match_id) AS rank
       |  FROM exact)
       |SELECT query_id, match_id, cos, rank FROM ranked
       |WHERE rank <= $TopK""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_tok_count" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))),

    "x_tok_bpe" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_subwords"))),

    "x_lang_id" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))),

    "x_quality_score" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("score"))),

    "x_fingerprint" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"))),

    "x_fingerprint_winnow" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.winnowFingerprint(col("text")).as("winnow_fp"))),

    "x_dedup_exact" -> ((s, d) =>
      Dedup.exactGroups(Tables.documents(s, d))),

    // the applied form: corpus reduced to keeper rows (ids only — the
    // text column is oracle-checked via x_fingerprint already)
    "x_dedup_apply" -> ((s, d) =>
      Dedup.dedupedCorpus(Tables.documents(s, d)).select(col("doc_id"))),

    "x_dedup_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), JaccardThreshold)),

    "x_dedup_minhash_lsh" -> ((s, d) =>
      Dedup.minhashLshPairs(Tables.documents(s, d), JaccardThreshold)),

    // INCREMENTAL dedup — the 100 TB recurring shape: a new batch is
    // checked against the persisted fingerprint store (band index +
    // capped shingle arrays) of everything already accepted, without
    // ever rescanning the accepted text. The store build is
    // marker-gated (warm across runs, like the ANN indexes); the timed
    // path is the batch-sized admission check: broadcast batch-bucket
    // join against the stored index + exact-Jaccard verify on the
    // candidates' stored array rows. The oracle replays both sides'
    // md5 minhash pipelines over the corpus/batch split.
    "x_dedup_incremental" -> ((s, d) => {
      val batch = Tables.documents(s, d)
        .filter(col("doc_id") % IncrBatchMod === 0)
      graft.sources.FingerprintStore.ensureFingerprints(
        incrCorpus(s, d), fpStorePath(d))
      graft.sources.FingerprintStore.dedupBatchAgainst(
        s, fpStorePath(d), batch, JaccardThreshold)
    }),

    // ZERO-COPY BRANCHING on the FINGERPRINT store — the generic
    // Branches lineage layer (hoisted from EdgeStore) on the dedup
    // side: the arriving batch admits into the 'exp' branch only
    // (one manifest copy at creation, no data moves); main keeps
    // serving the corpus-only index, the branch serves corpus ∪
    // batch. Both lineages' bucket relations read back in one
    // result, each oracled by its own first-principles md5 minhash
    // chain (the batch side df-capped over itself, exactly as the
    // admission fingerprints it). This is the end-to-end experiment
    // the store exists for: admit a crawl batch on a branch, compare
    // dedup rates, promote or drop.
    "x_fp_branch" -> ((s, d) => {
      val batch = Tables.documents(s, d)
        .filter(col("doc_id") % IncrBatchMod === 0)
      graft.sources.FingerprintStore.ensureFingerprints(
        incrCorpus(s, d), fpStorePath(d))
      val work = fpBranchWorkPath(d)
      graft.sources.StoreClone.cloneStore(s, fpStorePath(d),
        work)
      graft.sources.FingerprintStore.createBranch(s, work, "exp")
      graft.sources.FingerprintStore.appendBatch(s, work, batch,
        branch = Some("exp"))
      graft.sources.FingerprintStore.readBuckets(s, work)
        .withColumn("ref", lit("main"))
        .unionByName(graft.sources.FingerprintStore
          .readBuckets(s, work, branch = Some("exp"))
          .withColumn("ref", lit("exp")))
    }),

    // branch isolation on the ROLLUP store (the Branches layer adopted
    // by AggStore): retract a takedown slice on the 'exp' branch only
    // — main still serves the full maintained view, the branch the
    // exact algebraic subtraction. The oracle replays both lineages
    // from the raw facts: full rollup (main) and filtered rollup (exp).
    "x_agg_branch" -> ((s, d) => {
      val events = Tables.events(s, d)
      graft.sources.AggStore.ensureState(events, aggMvPath(d),
        baseTag = "mv-full")
      val work = aggBranchWorkPath(d)
      graft.sources.StoreClone.cloneStore(s, aggMvPath(d), work)
      graft.sources.AggStore.createBranch(s, work, "exp")
      graft.sources.AggStore.retractDelta(s, work,
        events.filter(col("event_id") % DeleteMod === DeleteRem),
        batchTag = Some("x_agg_branch"), branch = Some("exp"))
      def side(ref: String, b: Option[String]) =
        graft.sources.AggStore.readState(s, work, b)
          .select(col("day"), col("event_type"), col("cnt"),
            col("total").cast("double").as("total"), lit(ref).as("ref"))
      side("main", None).unionByName(side("exp", Some("exp")))
    }),

    // branch isolation on the LANGUAGE MODEL store: retract a takedown
    // slice of documents on the 'exp' branch — main keeps the full
    // frozen model, the branch equals a retrain over the filtered
    // corpus (count additivity). The oracle replays both unigram
    // tables from the raw text.
    "x_lm_branch" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.sources.LmStore.ensureModel(docs, lmStorePath(d))
      val work = lmBranchWorkPath(d)
      graft.sources.StoreClone.cloneStore(s, lmStorePath(d), work)
      graft.sources.LmStore.createBranch(s, work, "exp")
      graft.sources.LmStore.retractDocs(s, work,
        docs.filter(col("doc_id") % DeleteMod === DeleteRem),
        batchTag = Some("x_lm_branch"), branch = Some("exp"))
      graft.sources.LmStore.readUnigrams(s, work)
        .withColumn("ref", lit("main"))
        .unionByName(graft.sources.LmStore
          .readUnigrams(s, work, branch = Some("exp"))
          .withColumn("ref", lit("exp")))
    }),

    // branch isolation on the TOKENIZER store — the documented
    // tokenizer takedown story driven end-to-end: top-V cuts are not
    // algebraic, so removal = RETRAIN, and the retrain lands on a
    // branch first (compare tokenizations, then promote). Main keeps
    // the full-corpus merge list; 'exp' retrains on the corpus minus
    // the takedown slice. The oracle replays BOTH argmax merge chains.
    "x_tok_branch" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.sources.TokenizerStore.ensureVocab(docs, bpeVocabPath(d),
        BpeTrainMerges)
      val work = tokBranchWorkPath(d)
      graft.sources.StoreClone.cloneStore(s, bpeVocabPath(d), work)
      graft.sources.TokenizerStore.createBranch(s, work, "exp")
      graft.sources.TokenizerStore.writeVocab(
        docs.filter(col("doc_id") % DeleteMod =!= DeleteRem), work,
        BpeTrainMerges, branch = Some("exp"))
      graft.sources.TokenizerStore.readMerges(s, work)
        .withColumn("ref", lit("main"))
        .unionByName(graft.sources.TokenizerStore
          .readMerges(s, work, branch = Some("exp"))
          .withColumn("ref", lit("exp")))
    }),

    // takedown across a BRANCHED root: a branch that admitted its own
    // crawl batch is the same compliance surface as main, and ONE
    // sweep must rewrite BOTH lineages' serve paths. The oracle builds
    // each lineage's banded index from first principles (corpus chain
    // for main; corpus + batch chains for 'exp') and drops the removed
    // ids from each.
    "x_takedown_branch" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.sources.FingerprintStore.ensureFingerprints(
        incrCorpus(s, d), fpStorePath(d))
      val work = takedownWorkPath(d, "fpbranch")
      graft.sources.StoreClone.cloneStore(s, fpStorePath(d), work)
      graft.sources.FingerprintStore.createBranch(s, work, "exp")
      graft.sources.FingerprintStore.appendBatch(s, work,
        docs.filter(col("doc_id") % IncrBatchMod === 0),
        branch = Some("exp"))
      graft.sources.Takedown.sweep(s,
        docIds = Some(docs
          .filter(col("doc_id") % DeleteMod === DeleteRem)),
        fingerprintStores = Seq(work))
      graft.sources.FingerprintStore.readBuckets(s, work)
        .withColumn("ref", lit("main"))
        .unionByName(graft.sources.FingerprintStore
          .readBuckets(s, work, branch = Some("exp"))
          .withColumn("ref", lit("exp")))
    }),

    // PIPELINE COMPOSITION end-to-end: one arriving batch flows
    // ingest(quarantine) → fingerprint admission → quality floor →
    // exact decontam → mixture → shards, and the result hashes every
    // stage's row count plus each final shard's in-order doc-id
    // fingerprint. The oracle chains the existing per-stage CTEs over
    // the same split; ExtSpec pins that quarantined, duplicate, and
    // contaminated docs never reach a shard.
    "x_pipeline_e2e" -> ((s, d) => {
      val (quarantine, st) = pipelineStages(s, d)
      def cnt(stage: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n"))
          .select(lit(stage).as("stage"), col("n"),
            lit(null).cast("string").as("fp"))
      // the quarantine count rides the SAME single action as every
      // other stage count (guide §1.2: fold per-stage driver actions)
      // instead of an eager .count() job at plan-construction time
      cnt("s1_ingest", st("ingest"))
        .unionByName(cnt("s1_quarantine", quarantine))
        .unionByName(cnt("s2_batch", st("batch")))
        .unionByName(cnt("s2_admitted", st("admitted")))
        .unionByName(cnt("s3_quality", st("quality")))
        .unionByName(cnt("s4_decontam", st("decontam")))
        .unionByName(cnt("s5_mixture", st("mixed")))
        .unionByName(st("sharded").groupBy(col("shard"))
          .agg(count(lit(1)).as("n"),
            md5(concat_ws(" ", transform(
              sort_array(collect_list(struct(col("pos"),
                col("doc_id")))),
              e => e.getField("doc_id").cast("string")))).as("fp"))
          .select(concat(lit("s6_shard_"), col("shard")).as("stage"),
            col("n"), col("fp")))
    }),

    // TAKEDOWN PROPAGATION — the compliance sweep: given removed
    // doc/vector/fact ids (% DeleteMod == DeleteRem), one call
    // rewrites EVERY persisted family (fingerprint buckets+arrays
    // anti-join; edge pairs/bands anti-join + touched-group label
    // repair, where a removed bridge can SPLIT a component; ANN
    // tombstones; exact algebraic subtraction on the rollup), each
    // store committing atomically through its own protocol. The
    // result is one summary row per rewritten relation AND KEY COLUMN
    // — row count, an order-independent 60-bit md5 BIT_XOR content
    // hash, and the min/max rendered values (so a driver-side
    // mismatch names the diverging column and shows sample values) —
    // and the oracle rebuilds every relation FROM THE FILTERED INPUTS
    // from first principles: post-delete store reads ≡
    // rebuild-from-filtered, per relation. (The fp relations' oracle
    // is the corpus chain filtered to surviving ids: the store's df
    // cap is admission-path state over the build corpus, exactly as
    // in the incremental-admission contract.)
    // HERMETIC + MEMOIZED ([[takedownRows]]): private fresh-built base
    // roots (no store shared with any other query or prior run), ONE
    // sweep per session. The per-store splits below slice the same
    // rows, so a driver-side mismatch NAMES its store family instead
    // of hiding behind one whole-sweep boolean.
    "x_takedown" -> ((s, d) => takedownRows(s, d)),
    "x_takedown_fp" -> ((s, d) => takedownRows(s, d)
      .filter(col("rel").isin(TakedownRelsOf("fp"): _*))),
    "x_takedown_edges" -> ((s, d) => takedownRows(s, d)
      .filter(col("rel").isin(TakedownRelsOf("edges"): _*))),
    "x_takedown_ann" -> ((s, d) => takedownRows(s, d)
      .filter(col("rel").isin(TakedownRelsOf("ann"): _*))),
    "x_takedown_agg" -> ((s, d) => takedownRows(s, d)
      .filter(col("rel").isin(TakedownRelsOf("agg"): _*))),
    "x_takedown_lm" -> ((s, d) => takedownRows(s, d)
      .filter(col("rel").isin(TakedownRelsOf("lm"): _*))),
    "x_takedown_tok" -> ((s, d) => takedownRows(s, d)
      .filter(col("rel").isin(TakedownRelsOf("tok"): _*))),
    "x_takedown_layout" -> ((s, d) => takedownRows(s, d)
      .filter(col("rel").isin(TakedownRelsOf("layout"): _*))),
    "x_takedown_scd2" -> ((s, d) => takedownRows(s, d)
      .filter(col("rel").isin(TakedownRelsOf("scd2"): _*))),


    // Span-level dedup APPLIED: drop every exact width-word span
    // repeated across more than SpanMaxDf docs and reassemble the
    // survivors — the rewrite form of boilerplate removal (C4's
    // repeated-span pass). Keyed aggregations only; the hot span set
    // is tiny by construction.
    "x_scrub_spans" -> ((s, d) =>
      Dedup.scrubRepeatedSpans(Tables.documents(s, d),
        width = SpanWidth, maxDf = SpanMaxDf)),

    // Two-phase scrub: pass 2 re-runs on pass-1's cleaned text with
    // the span grid shifted by w/2, catching repeats that straddle
    // pass 1's boundaries (the aligned-span contract's blind spot —
    // phase coverage doubles; full coverage would cost w passes).
    "x_scrub_spans_phased" -> ((s, d) =>
      Dedup.scrubRepeatedSpansPhased(Tables.documents(s, d),
        width = SpanWidth, maxDf = SpanMaxDf)),

    // EXACT duplicated-substring spans (the suffix-array family,
    // keyed-aggregation shape): every maximal token span covered by a
    // >=SubstrWidth-token substring occurring >=SubstrMinCount times
    // corpus-wide — the exactness rung the phased scrub's 2-phase
    // grid approximates (ExtSpec holds a repeat both grids miss).
    "x_substring_dup" -> ((s, d) =>
      Dedup.duplicatedSubstrings(Tables.documents(s, d),
        width = SubstrWidth, minCount = SubstrMinCount)),

    // ... with the 100 TB shuffle shape: the gram key is the suite's
    // seeded md5 long (8 bytes through the exchange instead of
    // width tokens of text); the oracle rebuilds the same hashes, so
    // the spans hash-match the text-keyed run on this corpus.
    "x_substring_dup_hashed" -> ((s, d) =>
      Dedup.duplicatedSubstrings(Tables.documents(s, d),
        width = SubstrWidth, minCount = SubstrMinCount,
        hashGrams = true)),

    // ... APPLIED: drop every token covered by a duplicated
    // >=width-token substring (any offset, within-doc repeats
    // included) and reassemble the survivors in order — Lee et al.'s
    // dedup action, where the aligned scrubs only remove grid-phase
    // boilerplate. Every doc emits a row.
    "x_substring_scrub" -> ((s, d) =>
      Dedup.scrubDuplicatedSubstrings(Tables.documents(s, d),
        width = SubstrWidth, minCount = SubstrMinCount)),

    // One-sided containment (doc-in-doc): |A∩B| / min(|A|,|B|) from
    // the same shared-shingle pair expansion — the quote-farm /
    // boilerplate-wrapper signal symmetric Jaccard misses.
    "x_containment" -> ((s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d),
        ContainmentThreshold)),

    // SimHash: md5-seeded 60-bit signatures; maxHamming=3 matches the
    // 4-band exhaustiveness guarantee (Dedup.simhashPairs).
    "x_dedup_simhash" -> ((s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), maxHamming = 3)),

    // INCREMENTAL near-dup admission: a held-out embedding batch folds
    // into a pristine base pair store with batch-sized work (batch
    // bands vs the STORED corpus bands — the corpus is never re-banded),
    // and the committed result equals a from-scratch rebuild over the
    // union: the oracle is the very same full-corpus pair chain.
    "x_neardup_append" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val base = e.filter(
        col("vec_id") % AppendHoldoutMod =!= AppendHoldoutMod - 1)
      val batch = e.filter(
        col("vec_id") % AppendHoldoutMod === AppendHoldoutMod - 1)
      graft.sources.EdgeStore.ensureNearDupPairs(base, ndPairsBasePath(d),
        CosineThreshold, bands = NearDupBands, rowsPerBand = NearDupRows,
        dim = EmbeddingDim)
      val work = ndPairsWorkPath(d)
      graft.sources.StoreClone.cloneStore(s, ndPairsBasePath(d),
        work)
      graft.sources.EdgeStore.appendBatch(batch, e, work,
        CosineThreshold, bands = NearDupBands, rowsPerBand = NearDupRows,
        dim = EmbeddingDim)
      graft.sources.EdgeStore.read(s, work)
    }),

    // ZERO-COPY BRANCHING (the Iceberg/Delta branch-ref shape): a
    // branch is a second version lineage over the SAME immutable
    // segment pool — creation copies one manifest, no data. The
    // held-out batch admits into the 'exp' branch only; main keeps
    // serving the base pairs untouched, the branch serves the union —
    // both lineages read back in one result, each against its own
    // from-first-principles oracle chain.
    "x_edge_branch" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val base = e.filter(
        col("vec_id") % AppendHoldoutMod =!= AppendHoldoutMod - 1)
      val batch = e.filter(
        col("vec_id") % AppendHoldoutMod === AppendHoldoutMod - 1)
      graft.sources.EdgeStore.ensureNearDupPairs(base, ndPairsBasePath(d),
        CosineThreshold, bands = NearDupBands, rowsPerBand = NearDupRows,
        dim = EmbeddingDim)
      val work = ndBranchWorkPath(d)
      graft.sources.StoreClone.cloneStore(s, ndPairsBasePath(d),
        work)
      graft.sources.EdgeStore.createBranch(s, work, "exp")
      graft.sources.EdgeStore.appendBatch(batch, e, work,
        CosineThreshold, bands = NearDupBands,
        rowsPerBand = NearDupRows, dim = EmbeddingDim,
        branch = Some("exp"))
      graft.sources.EdgeStore.read(s, work)
        .withColumn("ref", lit("main"))
        .unionByName(graft.sources.EdgeStore
          .read(s, work, branch = Some("exp"))
          .withColumn("ref", lit("exp")))
    }),

    // Banded-LSH candidates + exact verify: the 100 TB path (equi-join on
    // band keys, never a nested loop). The oracle mirrors the banding.
    // DERIVED geometry (the operator default): rowsPerBand grows with
    // the corpus count so the band key space never saturates (the
    // measured sf1 quadratic-candidate mover), bands with the
    // threshold so design recall holds. At the test scales this
    // derives exactly the old fixed (32, 6); the oracle mirrors the
    // same integer-exact derivation.
    "x_embed_near_dup" -> ((s, d) =>
      Similarity.nearDupPairsLsh(Tables.embeddings(s, d), CosineThreshold,
        dim = EmbeddingDim)),

    // The LSH family's recall telemetry (the ANN family's
    // recall_eval counterpart): pair-level recall of the
    // derived-geometry banded chain vs the exact pair list, per
    // cosine tenth — the operating evidence behind the scale-aware
    // default's documented trade (decay concentrates near the
    // threshold; high-similarity pairs stay found). Exact side is
    // corpus² — an offline gate run on samples at scale.
    "x_lsh_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.pairRecallByBand(
        Similarity.nearDupPairsExact(e, CosineThreshold),
        Similarity.nearDupPairsLsh(e, CosineThreshold,
          dim = EmbeddingDim))
    }),

    // Per-dimension embedding corpus stats (whitening prep): decimal
    // sums → order-independent, engine-exact; 64 output rows.
    "x_embed_dim_stats" -> ((s, d) =>
      Similarity.embedDimStats(Tables.embeddings(s, d), EmbeddingDim)),

    // Embedding near-dup pairs → connected components, served from the
    // COMMITTED ClusterStore label table (built once over the EdgeStore
    // pairs, maintained incrementally on admission): the consumer plan
    // is one left join against the resolved labels — no per-query
    // label propagation, no pair scan.
    "x_embed_dedup_cluster" -> ((s, d) =>
      storedClusterAssignments(s, d)),

    // INCREMENTAL cluster maintenance: a held-out embedding batch folds
    // into a pristine base store whose LABELS are already committed;
    // the admission merges only the components the new pairs touch
    // (quotient-graph union-find + touched-row delta append — never a
    // corpus relabel), and the served assignment over the full corpus
    // equals the from-scratch relabel the oracle computes.
    "x_cluster_store" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val base = e.filter(
        col("vec_id") % AppendHoldoutMod =!= AppendHoldoutMod - 1)
      val batch = e.filter(
        col("vec_id") % AppendHoldoutMod === AppendHoldoutMod - 1)
      graft.sources.EdgeStore.ensureNearDupPairs(base, ndPairsBasePath(d),
        CosineThreshold, bands = NearDupBands, rowsPerBand = NearDupRows,
        dim = EmbeddingDim)
      // labels must exist BEFORE the admission so the append exercises
      // the incremental-maintain path, not a post-hoc full build
      graft.sources.ClusterStore.ensureLabels(s, ndPairsBasePath(d))
      val work = ndClusterWorkPath(d)
      graft.sources.StoreClone.cloneStore(s, ndPairsBasePath(d),
        work)
      graft.sources.EdgeStore.appendBatch(batch, e, work,
        CosineThreshold, bands = NearDupBands, rowsPerBand = NearDupRows,
        dim = EmbeddingDim)
      graft.sources.ClusterStore.assignments(e, work, idCol = "vec_id")
    }),

    "x_ann_cosine_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") % QueryMod === 0), e, TopK)
    }),

    // Matryoshka read-out: recall@k of the first 16 dims against the
    // full 64-dim exact top-k — how many dimensions does the serving
    // index actually need? Exact ppm recall, replayable.
    "x_ann_dim_truncate" -> ((s, d) =>
      Similarity.dimTruncateRecall(Tables.embeddings(s, d), TopK,
        QueryMod, TruncDim)),

    // Hard-negative mining: per anchor the k highest-cosine docs
    // BELOW the near-dup threshold — close-but-wrong contrastive
    // negatives; near-dups are excluded as false negatives.
    "x_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(Tables.embeddings(s, d), TopK,
        QueryMod, CosineThreshold)),

    // kNN label prediction + neighborhood purity over the labeled
    // embedding corpus: majority vote of the exact top-k (ties → lowest
    // label), n_agree = neighbors sharing the query's own label.
    "x_knn_label" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.knnClassify(
        e.filter(col("vec_id") % QueryMod === 0), e, TopK)
    }),

    // Nearest-centroid classification: |labels| broadcast mean vectors,
    // one map-side argmax pass — no per-query candidate scan. Decimal
    // element sums make the centroids order-independent.
    "x_centroid_label" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.centroidClassify(
        e.filter(col("vec_id") % QueryMod === 0), e, dim = EmbeddingDim)
    }),

    // LSH ANN: md5-derived hyperplane signs → the DuckDB oracle recomputes
    // the buckets exactly. 6 planes = 64 buckets: enough selectivity to
    // prove the bucketed path at this corpus size; at 100 TB you'd raise
    // planes with the corpus.
    "x_ann_lsh_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.lshTopK(e.filter(col("vec_id") % QueryMod === 0), e, TopK,
        planes = AnnPlanes, dim = EmbeddingDim)
    }),

    // IVF ANN: deterministic corpus-sample centroids (so the oracle can
    // rebuild the index exactly); nprobe=2 lists searched per query.
    "x_ann_ivf_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfTopK(e.filter(col("vec_id") % QueryMod === 0), e, TopK,
        centroidMod = IvfCentroidMod, nprobe = IvfNprobe)
    }),

    // Recall@k evaluation of the IVF rung against the exact top-k —
    // the post-(re)build gate an ANN deployment runs before raising
    // traffic; queries below RecallFloor are the tail a nprobe bump
    // would chase. Both inputs are deterministic, so every value
    // (counts, ratio, flag) hashes against the oracle.
    "x_ann_recall_eval" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") % QueryMod === 0)
      Similarity.recallEval(
        Similarity.ivfTopK(q, e, TopK, centroidMod = IvfCentroidMod,
          nprobe = IvfNprobe),
        Similarity.bruteForceTopK(q, e, TopK), RecallFloor)
    }),

    // RANK-AWARE retrieval quality: MRR and NDCG@k of the IVF ranking
    // against the exact top-k — recall@k treats rank 1 and rank k the
    // same; a serving stack cares WHERE the neighbors landed.
    // Reciprocal ranks ride ×2520 (lcm 1..10) and the DCG discounts
    // are a shared integer table, so every sum is an exact long.
    "x_ann_rank_metrics" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") % QueryMod === 0)
      Similarity.rankMetrics(
        Similarity.ivfTopK(q, e, TopK, centroidMod = IvfCentroidMod,
          nprobe = IvfNprobe),
        Similarity.bruteForceTopK(q, e, TopK), TopK)
    }),

    // The same gate over the PERSISTED index's serve path — what a
    // deployment actually grades after a rebuild/append/compaction:
    // recall of ivfPqTopKFromIndex (partition-pruned codes, ADC
    // shortlist, exact re-rank) against brute force, every value
    // hashed. Composes the x_ann_ivfpq_read oracle chain with the
    // recall math.
    "x_ann_recall_served" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") % QueryMod === 0)
      val path = ivfPqIndexPath(d)
      graft.sources.VectorIndexStore.ensureIvfPq(e, path,
        ivfCentroidMod = IvfCentroidMod, pqCentroidMod = PqCentroidMod,
        m = PqSubspaces, dim = EmbeddingDim)
      Similarity.recallEval(
        graft.sources.VectorIndexStore.ivfPqTopKFromIndex(s, path, q, e,
          TopK, nprobe = IvfNprobe, m = PqSubspaces, dim = EmbeddingDim),
        Similarity.bruteForceTopK(q, e, TopK), RecallFloor)
    }),

    // IVF over TRAINED centroids: the sampled seeds refined by the
    // deterministic spherical Lloyd pass (decimal-mean updates, round-6
    // boundaries — fully replayed by the oracle, unlike spark.ml
    // k-means). Same IVF search; better lists per probe.
    "x_ann_ivf_lloyd" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfTopKWith(
        e.filter(col("vec_id") % QueryMod === 0), e, TopK,
        Similarity.lloydRefineCentroids(e, IvfCentroidMod, LloydIters,
          EmbeddingDim),
        nprobe = IvfNprobe)
    }),

    // Cluster-balanced diversity sampling: nearest trained centroid per
    // document embedding, then the best perCluster docs per cluster by
    // quality — keeps embedding-space coverage instead of letting one
    // dense mode dominate the quality cut. Composes the Lloyd-trained
    // centroids with the curation rank; every stage oracle-replayable.
    "x_diversity_sample" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.diversitySample(Tables.documents(s, d), e,
        Similarity.lloydRefineCentroids(e, IvfCentroidMod, LloydIters,
          EmbeddingDim),
        perCluster = DiversityPerCluster, dim = EmbeddingDim)
    }),

    // SQ8+refine ANN (asymmetric distance computation): stage 1 scores
    // reconstructed int8 vectors, stage 2 re-ranks the 3k shortlist
    // exactly — full-precision reads drop to the shortlist join.
    "x_ann_sq8_refine" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.sq8RefineTopK(
        e.filter(col("vec_id") % QueryMod === 0), e, TopK)
    }),

    // The dimensionality rung of the ANN ladder: JL sign-matrix
    // reduction 64→32, brute shortlist in the reduced space (2× less
    // memory bandwidth per comparison), exact cosine refine — the
    // PCA/OPQ pre-transform made engine-replayable.
    "x_ann_rp_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.rpRefineTopK(
        e.filter(col("vec_id") % QueryMod === 0), e, TopK,
        rDim = RpDim, shortlist = RpShortlist, dim = EmbeddingDim)
    }),

    // Product-quantization ADC ANN (the faiss IVFPQ code path): m
    // bytes per vector, search via a broadcast query LUT joined on
    // (subspace, code), exact re-rank of the shortlist. Deterministic
    // sampled codebooks so the oracle rebuilds the index exactly.
    "x_ann_pq_adc" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.pqAdcTopK(
        e.filter(col("vec_id") % QueryMod === 0), e, TopK,
        centroidMod = PqCentroidMod, m = PqSubspaces, dim = EmbeddingDim)
    }),

    // The full faiss IVFPQ shape: coarse lists + PQ codes; ADC scores
    // only the codes in a query's nprobe probed lists, then the exact
    // shortlist re-rank. Both centroid sets deterministic samples.
    "x_ann_ivfpq_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfPqTopK(
        e.filter(col("vec_id") % QueryMod === 0), e, TopK,
        ivfCentroidMod = IvfCentroidMod, nprobe = IvfNprobe,
        pqCentroidMod = PqCentroidMod, m = PqSubspaces,
        dim = EmbeddingDim)
    }),

    // The 100 TB SERVING shape for IVFPQ: build once, persist with the
    // codes table PARTITIONED BY list id, then serve probes off the
    // stored index — the codes scan prunes to the nprobe probed
    // partitions via static PartitionFilters (PlanSpec pins this).
    // Same deterministic index as x_ann_ivfpq_topk, so the same oracle.
    // The build is marker-gated (ensureIvfPq): the first run pays it,
    // every later run serves the WARM index — so the bench times the
    // serve path, which is the number a serving deployment lives on.
    "x_ann_ivfpq_read" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val path = ivfPqIndexPath(d)
      graft.sources.VectorIndexStore.ensureIvfPq(e, path,
        ivfCentroidMod = IvfCentroidMod, pqCentroidMod = PqCentroidMod,
        m = PqSubspaces, dim = EmbeddingDim)
      graft.sources.VectorIndexStore.ivfPqTopKFromIndex(s, path,
        e.filter(col("vec_id") % QueryMod === 0), e, TopK,
        nprobe = IvfNprobe, m = PqSubspaces, dim = EmbeddingDim)
    }),

    // kNN labeling composed with the APPROXIMATE neighbor provider a
    // production pipeline would actually use: majority vote + own-label
    // agreement over ivfPqTopK's neighbor set (knnClassifyFrom accepts
    // any top-k provider; x_knn_label exercises the exact one).
    "x_knn_ann_label" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") % QueryMod === 0)
      Similarity.knnClassifyFrom(
        Similarity.ivfPqTopK(q, e, TopK,
          ivfCentroidMod = IvfCentroidMod, nprobe = IvfNprobe,
          pqCentroidMod = PqCentroidMod, m = PqSubspaces,
          dim = EmbeddingDim), q, e)
    }),

    // Compression-ratio quality signal (the "too repetitive" filter),
    // SELF-VALIDATING: zlib has no SQL replay, so instead of shipping
    // the raw ratio un-checked, the query projects the byte length and
    // two always-TRUE-when-correct booleans (stored-block expansion
    // bound; deflating text‖text costs ≈ one copy — the repetition-
    // detection property itself), all of which the DuckDB oracle hashes.
    // ExtSpec still bounds the signal VALUES on crafted fixtures.
    "x_compress_ratio" -> ((s, d) =>
      TextAnalysis.compressionSelfCheck(Tables.documents(s, d))),

    // JSONL round-trip through the PERMISSIVE quarantine reader: the
    // clean frame must be byte-lossless vs the parquet original (text
    // checked by md5), and exactly the two injected bad lines — one
    // malformed, one well-formed-but-id-less — land in quarantine,
    // surfaced as a hashed count.
    "x_jsonl_ingest" -> ((s, d) => {
      val (clean, quarantine) = graft.sources.JsonlCorpus.read(
        s, jsonlFixture(s, d))
      clean.select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), md5(col("text")).as("text_fp"))
        .crossJoin(quarantine.agg(count(lit(1)).as("n_quarantined")))
    }),

    // TSV ingest with the same lossless-round-trip + quarantine
    // contract as x_jsonl_ingest but the flat-file failure modes:
    // type-garbage lines quarantine as malformed, id-less lines as
    // contract violations; embedded tabs/newlines survive via the
    // line-splittable escape (no multiLine single-task scan).
    "x_tsv_ingest" -> ((s, d) => {
      val (clean, quarantine) = graft.sources.TsvCorpus.read(
        s, tsvFixture(s, d))
      clean.select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), md5(col("text")).as("text_fp"))
        .crossJoin(quarantine.agg(count(lit(1)).as("n_quarantined")))
    }),

    // Incremental profiling with MERGEABLE persisted sketches: each
    // deterministic corpus part is sketched independently, states
    // merge at read time (DataSketches HLL union — associative, a
    // tree-merge at 1000 executors), and the hashed output proves the
    // merge lossless (== the whole-corpus sketch) and within bound of
    // the exact distinct. Sketch bytes themselves stay un-hashed.
    "x_sketch_merge" -> ((s, d) =>
      CorpusStats.sketchMergeProfile(Tables.documents(s, d),
        parts = SketchParts)),

    // Sketch-based per-source profiling (HLL++ uniques + GK quantiles,
    // one map-side-combining shuffle), SELF-VALIDATING: sketch
    // registers are engine-specific, so the query projects the EXACT
    // answers (count, distinct, nearest-rank percentiles — DuckDB
    // replays all of them) plus one boolean per estimate saying it
    // landed inside its published error bound; the estimates stay
    // un-hashed. ExtSpec keeps the repartition-invariance pin.
    "x_sketch_profile" -> ((s, d) =>
      CorpusStats.sketchProfileValidated(Tables.documents(s, d))),

    // Incremental index maintenance — the rest of the lifecycle: build
    // the persisted index on the base corpus, APPEND the holdout batch
    // against the frozen centroids/codebooks (only its list partitions
    // are touched), then serve queries over the full index. The oracle
    // restricts the centroid/codebook samples to the base corpus —
    // encoding base rows at build and holdout rows at append against
    // the same frozen metadata is one and the same computation.
    // The base index is marker-gated and PRISTINE — each run clones it
    // (metadata-scale copy; the test-harness idempotency device, since
    // a real deployment appends in place) and appends the holdout
    // batch into the clone, so what this entry times is append+serve
    // off a warm base, not a fresh index build per attempt.
    "x_ann_ivfpq_append" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val base = e.filter(
        col("vec_id") % AppendHoldoutMod =!= AppendHoldoutMod - 1)
      val batch = e.filter(
        col("vec_id") % AppendHoldoutMod === AppendHoldoutMod - 1)
      graft.sources.VectorIndexStore.ensureIvfPq(base, ivfPqBasePath(d),
        ivfCentroidMod = IvfCentroidMod, pqCentroidMod = PqCentroidMod,
        m = PqSubspaces, dim = EmbeddingDim)
      val work = ivfPqWorkPath(d)
      graft.sources.StoreClone.cloneStore(s, ivfPqBasePath(d), work)
      graft.sources.VectorIndexStore.appendIvfPq(s, work, batch,
        m = PqSubspaces, dim = EmbeddingDim)
      graft.sources.VectorIndexStore.ivfPqTopKFromIndex(s, work,
        e.filter(col("vec_id") % QueryMod === 0), e, TopK,
        nprobe = IvfNprobe, m = PqSubspaces, dim = EmbeddingDim)
    }),

    // Index DELETES served correctly: clone the warm full index,
    // tombstone 10% of the vectors (no list rewrite at delete time),
    // and serve — the shaded ids must vanish from every top-k while
    // ranks re-close over the survivors. Completes the serving
    // lifecycle: build, append, compact, and now remove.
    "x_ann_delete" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      graft.sources.VectorIndexStore.ensureIvfPq(e, ivfPqIndexPath(d),
        ivfCentroidMod = IvfCentroidMod, pqCentroidMod = PqCentroidMod,
        m = PqSubspaces, dim = EmbeddingDim)
      val work = ivfPqDelWorkPath(d)
      graft.sources.StoreClone.cloneStore(s, ivfPqIndexPath(d),
        work)
      graft.sources.VectorIndexStore.deleteIvfPq(s, work,
        e.filter(col("vec_id") % DeleteMod === DeleteRem))
      graft.sources.VectorIndexStore.ivfPqTopKFromIndex(s, work,
        e.filter(col("vec_id") % QueryMod === 0), e, TopK,
        nprobe = IvfNprobe, m = PqSubspaces, dim = EmbeddingDim)
    }),

    // Co-located fact-to-fact join: both sides bucketed on the join key
    // at write time (BucketedStore), so the merge join AND the keyed
    // aggregation after it run with ZERO exchanges — the 100 TB shape
    // for a join too big to broadcast either side (PlanSpec pins the
    // exchange-free plan). The merge hint forces the co-located SMJ at
    // every SF; decimal sums keep the doubles order-independent.
    "x_bucketed_join" -> ((s, d) => {
      // ensure-gated build (r14): bucketing exists to pay the layout
      // shuffle ONCE at write time — the per-run rewrite was ~75% of
      // this entry's measured seconds and timed the build, not the
      // exchange-free join the entry demonstrates. Build seconds ship
      // via ensureServingStores/coldBuildSample in index_build_sec.
      ensureBucketedTables(s, d)
      val o = s.table("graft_orders_bkt")
      val l = s.table("graft_lineitem_bkt")
      l.hint("merge").join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast("double").as("sum_qty"),
          // price has 2 decimal digits, discount 2 → the exact product
          // has ≤ 4; rounding the double to 6 recovers that exact value
          // identically on both engines (a scale-18 cast would expose
          // engine-specific binary→decimal expansion at digit 15)
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(18, 6))).cast("double").as("revenue"))
    }),

    // Z-ordered layout rectangle scan: the persisted events layout is
    // Morton-clustered on (user_id, event_id) grid keys, so ONE pushed
    // zval range predicate skips files for a TWO-column rectangle; the
    // exact residual predicates cut the curve's false positives.
    // Marker-gated build (Bench pre-builds, so this times the scan).
    "x_zorder_scan" -> ((s, d) => {
      graft.sources.ZOrderStore.ensureZOrdered(
        zGrid(Tables.events(s, d)), zOrderPath(d), "za", "zb",
        ZBits, ZFiles)
      graft.sources.ZOrderStore.zRangeScan(s, zOrderPath(d),
          "za", "zb", ZALo, ZAHi, ZBLo, ZBHi, ZBits)
        .select(col("event_id"), col("za"), col("zb"), col("zval"))
    }),

    // Hilbert-clustered layout, same grid and rectangle: consecutive
    // curve indices are always grid NEIGHBORS (no Z-curve diagonal
    // jumps), so each range-partitioned file covers one connected
    // blob; the rectangle scan pushes a driver-decomposed covering
    // OR-of-BETWEEN prefilter plus exact residual predicates.
    "x_hilbert_scan" -> ((s, d) => {
      graft.sources.HilbertStore.ensureHilbert(
        zGrid(Tables.events(s, d)), hilbertPath(d), "za", "zb",
        ZBits, ZFiles)
      graft.sources.HilbertStore.rectScan(s, hilbertPath(d),
          "za", "zb", ZALo, ZAHi, ZBLo, ZBHi, ZBits)
        .select(col("event_id"), col("za"), col("zb"), col("hval"))
    }),

    // Incremental Hilbert layout (the lakehouse OPTIMIZE shape): a
    // held-out batch appends UNCLUSTERED into the current version's
    // tail; the rectangle scan unions clustered + tail under the same
    // pushed prefilter and exact residuals; compaction re-sorts the
    // tail into the next committed version. The query emits the scan
    // BEFORE and AFTER optimize — identical row sets (phase-tagged),
    // which is the scan-parity contract; the oracle computes the
    // full-grid rectangle once and duplicates it per phase.
    "x_hilbert_append" -> ((s, d) => {
      val grid = zGrid(Tables.events(s, d))
      val base = grid.filter(col("event_id") % 10 =!= 7)
      val batch = grid.filter(col("event_id") % 10 === 7)
      graft.sources.HilbertStore.ensureHilbert(base, hilbApdBasePath(d),
        "za", "zb", ZBits, ZFiles)
      val work = hilbApdWorkPath(d)
      graft.sources.StoreClone.cloneStore(s, hilbApdBasePath(d),
        work)
      graft.sources.HilbertStore.appendTail(batch, work, "za", "zb",
        ZBits)
      def scan() = graft.sources.HilbertStore.rectScan(s, work,
          "za", "zb", ZALo, ZAHi, ZBLo, ZBHi, ZBits)
        .select(col("event_id"), col("za"), col("zb"), col("hval"))
      // pin the pre-optimize rows as data: the lazy plan holds the
      // version dir it resolved, but materializing first keeps the
      // parity claim independent of GC timing
      val pre = scan().withColumn("phase", lit("pre")).localCheckpoint()
      graft.sources.HilbertStore.optimize(s, work, ZFiles)
      val post = scan().withColumn("phase", lit("post"))
      pre.unionByName(post)
        .select(col("phase"), col("event_id"), col("za"), col("zb"),
          col("hval"))
    }),

    // Streaming layout maintenance: the held-out batch arrives as TWO
    // real micro-batch triggers through hilbertMaintSink (per-batchId
    // overwrite tail subdirs — redelivery idempotent by construction,
    // StreamingSyncSpec-pinned), then the rectangle scan over
    // clustered ∪ tail serves the full grid — the same rows as the
    // all-at-once build, which is the oracle.
    "x_stream_hilbert" -> ((s, d) => {
      val grid = zGrid(Tables.events(s, d))
      val base = grid.filter(col("event_id") % 10 =!= 7)
      val batch = grid.filter(col("event_id") % 10 === 7)
      graft.sources.HilbertStore.ensureHilbert(base, hilbApdBasePath(d),
        "za", "zb", ZBits, ZFiles)
      val work = hilbStreamWorkPath(d)
      graft.sources.StoreClone.cloneStore(s, hilbApdBasePath(d),
        work)
      val rep = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft-hilbrep-${Integer.toHexString(d.hashCode)}").toString
      graft.streaming.StreamingSync.hilbertMaintReplay(s, batch, work,
        "za", "zb", ZBits, orderCol = "event_id", nBatches = 2,
        workDir = rep)
      graft.sources.HilbertStore.rectScan(s, work,
          "za", "zb", ZALo, ZAHi, ZBLo, ZBHi, ZBits)
        .select(col("event_id"), col("za"), col("zb"), col("hval"))
    }),

    // Real javax.imageio decode inside batched mapPartitions: the media
    // fixture renders a solid-gray PNG per image row from doc_id, so the
    // decoded (width, height, brightness) are oracle-predictable without
    // an image library on the oracle side.
    "x_media_decode" -> ((s, d) =>
      Multimodal.extractFeatures(Multimodal.mediaTable(s, d))
        .filter(col("kind") === "image")
        .select(col("media_id"), col("width"), col("height"),
          col("brightness"))),

    // Batched decode → bilinear resize → re-encode, then decode the
    // RESIZED payload: dims become the target, and a solid-gray source
    // stays solid gray through bilinear scaling, so brightness is still
    // the doc_id-derived gray — fully oracle-predictable.
    "x_media_resize" -> ((s, d) =>
      Multimodal.extractFeatures(
        Multimodal.resizeImages(Multimodal.mediaTable(s, d),
          MediaResizeW, MediaResizeH)
          .filter(col("resized")))
        .select(col("media_id"), col("width"), col("height"),
          col("brightness"))),

    // Header-only metadata peek (PNG IHDR parse for images, fake header
    // for the stubbed kinds) — the pushdown path that skips full decode.
    // Perceptual image near-dup: aHash banding (4×16-bit keys, exact
    // by pigeonhole at hamming ≤ 3) over the pattern fixture + exact
    // re-uploaded duplicates — candidates from an equi-join, verified
    // by codegen'd bit_count hamming.
    "x_media_near_dup" -> ((s, d) =>
      Multimodal.imageNearDupPairs(Multimodal.patternDupTable(s, d))),

    // Perceptual average-hash over the PATTERNED png fixture (2-D
    // structure, so the hash is non-degenerate): 8×8 cell-mean bits by
    // integer cross-multiplication — engine-bit-identical; PNG is
    // lossless, so the oracle replays the pixel formula per cell.
    "x_media_ahash" -> ((s, d) =>
      Multimodal.imageAHash(Multimodal.patternTable(s, d))),

    "x_media_header" -> ((s, d) =>
      Multimodal.headerMetadata(Multimodal.mediaTable(s, d))
        .select(col("media_id"), col("kind"), col("width"), col("height"))),

    // Frame sampling: every stride-th fixed-size block of the video
    // payload body → one frame row (the video→frame-table fan-out);
    // frames surface as md5 digests (the driver compare can't hash raw
    // binary cells).
    "x_media_frames" -> ((s, d) =>
      Multimodal.sampleFrames(Multimodal.mediaTable(s, d))
        .select(col("media_id"), col("n_frames"), col("frame_idx"),
          md5(col("frame")).as("frame_fp"))),

    // Batched PCM16LE DSP features over the audio rows — the audio
    // half of the decode pipeline: exact integer energy/peak/frame
    // counts from the closed-form fixture wave.
    "x_media_audio" -> ((s, d) =>
      Multimodal.audioFeatures(Multimodal.mediaTable(s, d)).toDF()),

    // Silence detection per audio clip: quiet = frame energy strictly
    // below the clip mean (division-free integer compare), plus the
    // longest consecutive quiet run (gaps-and-islands). One row per
    // source clip even when the payload decodes to zero frames.
    "x_media_quiet" -> ((s, d) =>
      Multimodal.quietSpans(Multimodal.mediaTable(s, d))),

    "x_stream_hourly" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hora"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          // decimal sum (order-independent), double in the final projection
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total"))),

    // Bounded-state streaming dedup, batch-parity checked: events run
    // through the REAL dropDuplicatesWithinWatermark as 4 time-ordered
    // micro-batches; the hashed output is the per-key emission count
    // (one emission per watermark era). The oracle replays the pinned
    // state semantics — no expiry extension on dropped dups, eviction
    // at expiry <= watermark, eviction lagging one batch — as 4
    // unrolled state-transition steps.
    "x_stream_wm_dedup" -> ((s, d) => {
      val work = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft-wmdedup-${Integer.toHexString(d.hashCode)}").toString
      graft.streaming.StreamingSync.dedupWithinWatermarkReplay(
        s, Tables.events(s, d), Seq("user_id", "event_type"),
        tsCol = "ts", delay = "2 hours", nBatches = 4, workDir = work)
    }),

    // Pairwise similarity → actual dedup groups: connected components
    // (min-label propagation) over the verified MinHash-LSH pair list.
    "x_dedup_cluster" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.clusterAssignments(docs,
        Dedup.minhashLshPairs(docs, JaccardThreshold))
    }),

    // The DISTRIBUTED rung of the same operator, under the same oracle:
    // localEdgeThreshold = 0 forces the log-round label propagation
    // with path-halving (the 100 TB path — the sf0.1 pair list would
    // otherwise always take the driver union-find), hashed against the
    // identical recursive-CTE transitive closure. Labels must match
    // exactly: union-by-min-root and min-label propagation both
    // converge to the component minimum.
    "x_dedup_cluster_dist" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.clusterAssignments(docs,
        Dedup.minhashLshPairs(docs, JaccardThreshold),
        localEdgeThreshold = 0L)
    }),

    // Native session windows (the same expression streams under a
    // watermark); end = last event + gap, Spark's convention.
    "x_sessionize" -> ((s, d) =>
      Temporal.sessionize(Tables.events(s, d), SessionGap)),

    // CEP sequence detection: every purchase whose view->click->purchase
    // chain (latest-predecessor binding) completes within a day -- the
    // alert/trigger form of the funnel. One user-keyed exchange.
    "x_cep_pattern" -> ((s, d) =>
      Temporal.cepPattern(Tables.events(s, d), FunnelSteps,
        CepWithinSeconds)),

    // Ordered 3-step funnel (view → click → purchase within 7 days of
    // the first view): k keyed min-aggregations, no per-user sort, no
    // window function — the ClickHouse windowFunnel shape as joins.
    "x_funnel" -> ((s, d) =>
      Temporal.funnel(Tables.events(s, d), FunnelSteps, FunnelWindow)),

    // Daily retention cohorts anchored on first signup: the
    // (cohort_date, day_offset) distinct-user triangle.
    "x_retention" -> ((s, d) =>
      Temporal.retentionCohorts(Tables.events(s, d))),

    // Backward as-of join: each click sees the user's most recent
    // purchase at-or-before it. Union + carry-forward window — one
    // shuffle per side, no range join.
    "x_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      Temporal.asofJoinBackward(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"),
          "user_id", "ts", "event_id", "event_id")
        .select(col("l_id").as("click_id"), col("user_id"), col("ts"),
          col("asof_id").as("last_purchase_id"))
    }),

    // Benchmark decontamination: corpus docs sharing any 5-gram with the
    // deterministic benchmark subset (doc_id % DecontamMod == 0).
    "x_decontam" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Contamination.ngramOverlap(
        docs.filter(col("doc_id") % DecontamMod =!= 0),
        docs.filter(col("doc_id") % DecontamMod === 0),
        n = DecontamN)
    }),

    // The web-scale decontamination shape: the benchmark vocabulary
    // compressed to a broadcast Bloom filter, the corpus probed at scan
    // speed with no explode/join/shuffle (PlanSpec pins the join-free
    // probe). SELF-VALIDATING — Bloom bits are engine-specific, so the
    // hashed output is the exact overlap plus the no-false-negative
    // guarantee boolean; ExtSpec bounds the false-positive rate.
    "x_bloom_decontam" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Contamination.bloomDecontamSelfCheck(
        docs.filter(col("doc_id") % DecontamMod =!= 0),
        docs.filter(col("doc_id") % DecontamMod === 0),
        n = DecontamN, fpp = BloomFpp)
    }),

    // The capstone composition — what a training-data pipeline actually
    // ships: quality floor, language known, exact-dedup keeper, not
    // benchmark-contaminated, benchmark rows excluded. All scan-speed
    // filters plus two semi/anti joins against small derived sets.
    "x_pipeline_keep" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      docs
        .filter(TextAnalysis.qualityScore(col("text")) >= PipelineMinQuality)
        .filter(TextAnalysis.langId(col("text")) =!= "unknown")
        .filter(col("doc_id") % DecontamMod =!= 0)
        .join(Dedup.dedupedCorpus(docs).select(col("doc_id")),
          Seq("doc_id"), "left_semi")
        .join(Contamination.ngramOverlap(
            docs.filter(col("doc_id") % DecontamMod =!= 0),
            docs.filter(col("doc_id") % DecontamMod === 0),
            n = DecontamN).select(col("doc_id")),
          Seq("doc_id"), "left_anti")
        .select(col("doc_id"))
    }),

    // Gopher-style repetition signals: top-bigram occupancy + duplicate
    // word fraction — the cheap "is this doc boilerplate" pre-filters.
    "x_rep_signals" -> ((s, d) =>
      CorpusStats.repetitionSignals(Tables.documents(s, d))),

    // Gopher-style format rules: word-count bounds, mean word length,
    // alphabetic-word fraction → keep decision. Scan-speed per-row
    // expressions, the classic pre-training format filter.
    "x_gopher_rules" -> ((s, d) =>
      CorpusStats.gopherRules(Tables.documents(s, d))),

    // Sequence-length histogram (power-of-two BPE-token buckets) — the
    // max-seq-len / packing planning profile; exact bit-length
    // bucketing, no floating log2.
    "x_len_hist" -> ((s, d) =>
      CorpusStats.lengthHistogram(Tables.documents(s, d))),

    // Unigram-LM cross-entropy per doc (the CCNet perplexity-filter
    // signal, reduced to its unigram term for oracle replay).
    "x_unigram_xent" -> ((s, d) =>
      CorpusStats.unigramLogProb(Tables.documents(s, d))),

    // Bigram-LM cross-entropy per doc — one model order up: flags
    // improbable token ORDER, not just rare tokens. Model counts are
    // corpus-derived; fully oracle-replayable (add-α conditional,
    // decimal-summed).
    "x_bigram_xent" -> ((s, d) =>
      CorpusStats.bigramLogProb(Tables.documents(s, d))),

    // The SERVING shape of the perplexity filter: the bigram model
    // trains once into the persisted LmStore, and scoring is one
    // bigram explode + two vocabulary-sized joins + a per-doc
    // aggregate against the frozen counts — comparable scores across
    // crawl snapshots, no retraining. Scored here on the training
    // corpus itself, so it shares x_bigram_xent's oracle (counts
    // round-trip parquet exactly).
    "x_bigram_xent_stored" -> ((s, d) => {
      val path = lmStorePath(d)
      graft.sources.LmStore.ensureModel(Tables.documents(s, d), path)
      graft.sources.LmStore.scoreFromStore(s, path,
        Tables.documents(s, d))
    }),

    // Heavy hitters from ONE bounded frequency sketch (Misra-Gries
    // family — the third sketch next to HLL uniques and GK quantiles),
    // SELF-VALIDATING: rows are the EXACT heavy hitters (count·phi >
    // n), and the two booleans pin the sketch's published contract —
    // no-false-negatives candidacy and the [lb, ub] count bounds. The
    // merge-order-dependent estimates stay un-hashed; the exchange in
    // the sketch branch carries sketch bytes, never token rows.
    "x_heavy_hitters" -> ((s, d) =>
      CorpusStats.heavyHittersValidated(Tables.documents(s, d),
        maxMapSize = HeavyHitterMapSize, phi = HeavyHitterPhi)),

    // Incremental heavy hitters via MERGEABLE persisted frequency
    // sketches: each deterministic corpus part is sketched
    // independently (the batch-state row a pipeline persists), states
    // merge at read time, and the hashed output proves the merged
    // candidate list still honors the sketch contract vs the exact
    // heavy hitters. The frequency sibling of x_sketch_merge.
    "x_freq_merge" -> ((s, d) =>
      CorpusStats.freqMergeValidated(Tables.documents(s, d),
        parts = SketchParts, maxMapSize = HeavyHitterMapSize,
        phi = HeavyHitterPhi)),

    // Misra-Gries TAKEDOWN-BY-REBUILD: the one sweep path that is not
    // algebraically invertible (MG error admissions are stream-order
    // state, not sums — Takedown's documented rebuild case), driven as
    // a query: the sketch state rebuilds over the corpus MINUS the
    // takedown slice and must satisfy the same validated
    // heavy-hitter contract x_freq_merge pins, now against the
    // filtered corpus's own token mass.
    "x_mg_rebuild" -> ((s, d) =>
      CorpusStats.freqMergeValidated(
        Tables.documents(s, d)
          .filter(col("doc_id") % DeleteMod =!= DeleteRem),
        parts = SketchParts, maxMapSize = HeavyHitterMapSize,
        phi = HeavyHitterPhi)),

    // GROUPED heavy hitters: one bounded sketch PER SOURCE (top tokens
    // per domain), thresholds against each source's own token mass —
    // still no token-level shuffle on the sketch side (one
    // ObjectHashAggregate keyed on source).
    "x_heavy_by_source" -> ((s, d) =>
      CorpusStats.heavyHittersBySourceValidated(Tables.documents(s, d),
        maxMapSize = HeavyHitterMapSize, phi = HeavyHitterPhi)),

    // CCNet head/middle/tail quality tiers per language (exact ntile
    // reference shape; production swaps in approx thresholds).
    "x_quality_tiers" -> ((s, d) =>
      CorpusStats.qualityBuckets(Tables.documents(s, d))),

    // Repeated-phrase (boilerplate) coverage: fraction of shingle
    // occurrences that are corpus-common, plus the keep decision.
    "x_boilerplate" -> ((s, d) =>
      CorpusStats.boilerplateCoverage(Tables.documents(s, d),
        BoilerplateMinDf, BoilerplateMaxCoverage)),

    // BPE merge statistic: adjacent symbol-pair frequencies over the
    // word-frequency table (the argmax of one tokenizer-training step).
    "x_bpe_pairs" -> ((s, d) =>
      CorpusStats.bpePairCounts(Tables.documents(s, d), BpePairTopK)),

    // FULL BPE training: the first N learned merges (argmax pair per
    // iteration, symbol arrays rewritten by the codegen'd merge
    // kernel). Corpus touched once; every iteration is vocab-sized.
    "x_bpe_train" -> ((s, d) =>
      CorpusStats.bpeTrainMerges(Tables.documents(s, d),
        BpeTrainMerges)),

    // Tokenizer losslessness at corpus scale: apply ∘ train must
    // reconstruct every word (BPE merges only concatenate) — the
    // per-doc conjunction plus word/subword counts hash.
    "x_bpe_roundtrip" -> ((s, d) =>
      CorpusStats.bpeRoundtrip(Tables.documents(s, d),
        BpeTrainMerges)),

    // Stratified eval-set sampling: exact largest-remainder quotas
    // per language (ties to lower name), each stratum filled by its
    // md5-lowest documents — precisely StratifiedTotal rows, unlike
    // the rate-based temperature/mixture samplers.
    "x_stratified_sample" -> ((s, d) =>
      CorpusStats.stratifiedSample(Tables.documents(s, d),
        StratifiedTotal)),

    // BPE ENCODE with the trained vocabulary: corpus word explode,
    // broadcast vocab join, per-doc aggregate with an order-exact
    // token-stream fingerprint.
    "x_bpe_encode" -> ((s, d) =>
      CorpusStats.bpeEncode(Tables.documents(s, d), BpeTrainMerges)),

    // The SERVING shape of the tokenizer: train once into the
    // persisted vocabulary store (marker-gated; Bench pre-builds), then
    // encode as scan + broadcast join + per-doc aggregate — no training
    // passes in the query. Output must equal the in-query train+encode
    // bit-for-bit (the vocabulary round-trips parquet exactly), so it
    // shares x_bpe_encode's oracle.
    "x_bpe_encode_stored" -> ((s, d) => {
      val path = bpeVocabPath(d)
      graft.sources.TokenizerStore.ensureVocab(
        Tables.documents(s, d), path, BpeTrainMerges)
      graft.sources.TokenizerStore.encodeFromStore(
        s, path, Tables.documents(s, d))
    }),

    // UNIGRAM tokenizer (SentencePiece's model family, Kudo 2018)
    // beside the BPE rungs — EM step: substring-candidate vocab over
    // the distinct-word frame (top-V by count + all chars for
    // coverage), integer-scaled log scores so the Viterbi DP is exact
    // long arithmetic, per-piece usage recount from the best
    // segmentations (the M-step statistic / pruning signal).
    "x_unigram_tok_train" -> ((s, d) =>
      CorpusStats.unigramTokenEm(Tables.documents(s, d),
        UnigramVocabSize, UnigramMaxPiece)),

    // ... SECOND EM iteration with pruning: unused pieces drop
    // (chars survive at floor 1 — coverage outlives pruning), counts
    // renormalize to round-1 usage, scores re-derive, the corpus
    // re-segments; cnt_r2 ≈ cnt_r1 is convergence made hashable.
    "x_unigram_tok_em2" -> ((s, d) =>
      CorpusStats.unigramTokenEm2(Tables.documents(s, d),
        UnigramVocabSize, UnigramMaxPiece)),

    // ... ENCODE: per-doc word/piece counts + the in-order
    // token-stream fingerprint, served through the same broadcast
    // word→toks join as the BPE encode; the corpus never enters the
    // DP (it runs on the distinct-word frame).
    "x_unigram_tok_encode" -> ((s, d) =>
      CorpusStats.unigramTokenEncode(Tables.documents(s, d),
        UnigramVocabSize, UnigramMaxPiece)),

    // ... SERVING shape: the piece table persists once (marker-gated,
    // SnapshotDir-committed; integer counts AND integer scores
    // round-trip parquet exactly, and sTot re-derives from the stored
    // counts — the table IS the model), later corpora encode with no
    // vocab-seeding passes. Must equal the in-query train+encode
    // bit-for-bit, so it shares x_unigram_tok_encode's oracle.
    "x_unigram_tok_stored" -> ((s, d) => {
      val path = uniVocabPath(d)
      graft.sources.TokenizerStore.ensureUnigramVocab(
        Tables.documents(s, d), path, UnigramVocabSize, UnigramMaxPiece)
      graft.sources.TokenizerStore.encodeUnigramFromStore(
        s, path, Tables.documents(s, d), UnigramMaxPiece)
    }),

    // RAG indexing chunks: overlapping word windows, one row per chunk
    // with a content fingerprint — pure per-row explode, scan speed.
    "x_chunk_windows" -> ((s, d) =>
      CorpusStats.chunkWindows(Tables.documents(s, d), ChunkWidth,
        ChunkStride)),

    // Sequence packing: concat-then-chunk at the token budget; per-bin
    // doc count, token mass, fill fraction.
    "x_seq_pack" -> ((s, d) =>
      CorpusStats.packSequences(Tables.documents(s, d), PackBudget)),

    // The PRODUCTION tier path (approx-percentile thresholds +
    // broadcast join — no per-language sort window), self-validating:
    // the hashed output carries the exact ntile tiles (replayable) plus
    // the adjacency contract boolean — the approx assignment may only
    // ever disagree with the exact one by a single neighboring tile
    // (threshold quantiles are order-respecting; a bigger jump needs a
    // tie run spanning an entire tier). ExtSpec pins the plan shape and
    // the tie-bounded disagreement count.
    "x_quality_tiers_approx" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // adjacency is judged against the doc's (lang, q) TIE GROUP's
      // exact-tile span, not its own arbitrary ntile slot: threshold
      // semantics put every tied doc in ONE tile while exact ntile
      // splits ties by doc_id, so when a tie run spans a whole tier
      // the per-doc distance is meaningless (and could exceed 1 even
      // with EXACT thresholds) — the group-span form is the contract
      // that provably holds whenever the quantile is within one rank
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"), col("q"))
      CorpusStats.qualityBuckets(docs)
        .select(col("doc_id"), col("lang"), col("q"),
          col("tile").as("tile_exact"))
        .join(CorpusStats.qualityBucketsApprox(docs)
          .select(col("doc_id"), col("tile").as("tile_approx")),
          Seq("doc_id"))
        .withColumn("gmin", min(col("tile_exact")).over(w))
        .withColumn("gmax", max(col("tile_exact")).over(w))
        .select(col("doc_id"), col("lang"), col("q"), col("tile_exact"),
          (col("tile_approx") >= col("gmin") - 1 &&
            col("tile_approx") <= col("gmax") + 1).as("adjacent_ok"))
    }),

    // Head+tail truncation to a token budget (middle dropped) — the
    // standard long-doc squeeze before tokenization.
    "x_truncate" -> ((s, d) =>
      CorpusStats.truncateHeadTail(Tables.documents(s, d), TruncMaxToks,
        TruncHead, TruncTail)),

    // Deterministic 80/10/10 split from the md5 hash of doc_id: stable
    // under corpus growth, reproducible in any engine with md5.
    "x_split_assign" -> ((s, d) => {
      val (bucket, split) = CorpusStats.splitAssign(col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), bucket.as("bucket"), split.as("split"))
    }),

    // Deterministic shard + within-shard order for the training export
    // (the "global shuffle"): md5-hash shard assignment, per-shard rank
    // — one shuffle + in-partition sort, never a global sort.
    "x_shard_order" -> ((s, d) =>
      CorpusStats.shardOrder(Tables.documents(s, d), NumShards)),

    // Temperature-rebalanced sampling (α = 1/2) across LANGUAGES (the
    // skewed axis of this corpus — sources are uniform by construction):
    // keep rate √(n_min/n_lang) flattens the head language; √ is the
    // one cross-engine correctly-rounded power. md5-seeded selection.
    "x_temperature_sample" -> ((s, d) =>
      CorpusStats.temperatureSample(Tables.documents(s, d),
        groupCol = "lang")),

    // Bin-packing compaction plan: per-source running-byte window →
    // stable first-fit bins (earlier bins never re-shuffle when items
    // append). At 100 TB the items are file-manifest rows, so the
    // window runs over metadata, never data.
    "x_compaction_plan" -> ((s, d) =>
      CorpusStats.compactionPlan(Tables.documents(s, d),
        CompactionTargetBytes)),

    // Vocabulary document frequency: top tokens by df (df desc, token
    // asc — a total order, so the top-k cut is deterministic).
    "x_vocab_top_df" -> ((s, d) =>
      CorpusStats.vocabTopDf(Tables.documents(s, d), VocabTopK)),

    // Per-(source, lang) corpus health: counts, volume, exact length
    // percentiles.
    "x_source_stats" -> ((s, d) =>
      CorpusStats.sourceStats(Tables.documents(s, d))),

    // Per-vector int8 scalar quantization (the faiss SQ8 layout): 4×
    // memory cut for the ANN corpus, error bounded by half a step. The
    // codes array surfaces as an md5 digest of its CSV rendering — the
    // driver's compare sorts/hashes result cells and cannot hash a raw
    // array (the x_pii_scrub scrubbed_fp pattern); max_abs_err stays the
    // semantic reconstruction check.
    "x_embed_quantize" -> ((s, d) =>
      Similarity.quantizeInt8(Tables.embeddings(s, d))
        .select(col("vec_id"), col("qmin"), col("qmax"),
          md5(concat_ws(",", col("codes").cast("array<string>")))
            .as("codes_fp"),
          col("max_abs_err"))),

    // Curation: the k best docs per source by quality score (ties by
    // ascending id) — one shuffle on the group key, ranked per group.
    "x_best_per_source" -> ((s, d) =>
      CorpusStats.topKPerGroup(Tables.documents(s, d), BestPerSourceK,
        "source", TextAnalysis.qualityScore(col("text")))),

    // Interval join: all purchases in the hour before each click — the
    // Flink pattern; same expression streams with two watermarks.
    "x_interval_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      Temporal.intervalJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        IntervalLookback, "user_id", "ts", "event_id", "event_id")
    }),

    // PURE range join (no equi key), bin-bucketed: every event joins
    // the hot-hour alert windows containing it through a shuffled
    // equi-join on the bucket key — never a nested loop.
    "x_range_join_binned" -> ((s, d) => {
      val e = Tables.events(s, d)
      val hot = e.filter(col("event_type") === "purchase")
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= HotWindowMin)
        .select((col("h") - expr("INTERVAL 30 MINUTES")).as("wstart"),
          (col("h") + expr("INTERVAL 90 MINUTES")).as("wend"), col("n"))
      Temporal.binnedRangeJoin(e, hot, RangeBinSeconds)
        .select(col("event_id"), col("wstart"), col("n"))
    }),

    // TF-IDF top terms per document — the classic relevance / feature
    // extraction step; df joins in as a dimension-sized frame.
    "x_tfidf_top" -> ((s, d) =>
      CorpusStats.tfidfTopTerms(Tables.documents(s, d), TfidfTopK)),

    // Data-mixture sampling: per-source rates from target weights + a
    // token budget, membership by deterministic id hash.
    "x_mixture_sample" -> ((s, d) =>
      CorpusStats.mixtureSample(Tables.documents(s, d), MixtureWeights,
        MixtureBudget)),

    // Collocation extraction: top PMI bigrams with a count floor —
    // the phrase-mining statistic over the corpus.
    "x_pmi_colloc" -> ((s, d) =>
      CorpusStats.pmiCollocations(Tables.documents(s, d), PmiTopK,
        PmiMinCount)),

    // Corpus drift monitor: KL contributions of the union vocabulary
    // between the two doc_id-parity halves (Laplace-smoothed).
    "x_unigram_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      CorpusStats.unigramDrift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), DriftTopK)
    }),

    // Weighted reservoir sample (Efraimidis–Spirakis A-ES): k docs per
    // source, inclusion probability ∝ n_chars, priority from the
    // md5-seeded uniform — deterministic, partition-invariant.
    "x_sample_weighted" -> ((s, d) =>
      CorpusStats.weightedSamplePerGroup(Tables.documents(s, d),
        WSampleK, col("n_chars"))),

    // Schema-on-read over the JSON event payload: typed from_json
    // extraction, then a per-type aggregate.
    "x_json_props" -> ((s, d) =>
      SemiStructured.propsStats(Tables.events(s, d))),

    // ORC ingest across a schema generation: the legacy shard predates
    // `lang`, name-based evolution fills it as NULL, and the read
    // flags those rows — the columnar format's quarantine analogue.
    "x_orc_ingest" -> ((s, d) => {
      val path = orcFixturePath(d)
      graft.sources.OrcCorpus.ensureEvolvedFixture(
        Tables.documents(s, d), path, "lang")
      graft.sources.OrcCorpus.read(s,
          Tables.documents(s, d).schema,
          s"$path/legacy", s"$path/current")
        .select(col("doc_id"),
          coalesce(col("lang"), lit("(missing)")).as("lang_read"),
          col("lang").isNull.as("needs_backfill"),
          md5(col("text")).as("text_fp"), col("n_chars"))
    }),

    // Avro ingest, completing the interchange family (JSONL/TSV/ORC/
    // parquet): mixed writer generations resolve against one explicit
    // reader schema — the legacy shard backfills `lang` from its null
    // default, the lenient shard's null-id record quarantines (the
    // union-null contract), text round-trips by md5 losslessly.
    "x_avro_ingest" -> ((s, d) => {
      val path = avroFixturePath(d)
      graft.sources.AvroCorpus.ensureEvolvedFixture(
        Tables.documents(s, d), path, "lang")
      val (clean, quarantine) = graft.sources.AvroCorpus.readDocs(
        s, s"$path/legacy", s"$path/current", s"$path/lenient")
      clean.select(col("doc_id"),
          coalesce(col("lang"), lit("(missing)")).as("lang_read"),
          col("lang").isNull.as("needs_backfill"),
          md5(col("text")).as("text_fp"), col("n_chars"))
        .crossJoin(quarantine.agg(count(lit(1)).as("n_quarantined")))
    }),

    // View→click attribution: the STREAM-STREAM interval join run in
    // its batch form (same code path; watermarks are no-ops in batch —
    // StreamingSyncSpec pins stream/batch parity).
    "x_attribution" -> ((s, d) => {
      val e = Tables.events(s, d)
      graft.streaming.StreamingSync.attributionJoin(
        e.filter(col("event_type") === "view"),
        e.filter(col("event_type") === "click"))
    }),

    // The left-outer attribution: views that converted to NOTHING keep
    // a NULL click — streaming emits them once the watermark proves no
    // click can still arrive (StreamingSyncSpec pins that timing);
    // batch form here.
    "x_attribution_outer" -> ((s, d) => {
      val e = Tables.events(s, d)
      graft.streaming.StreamingSync.attributionJoin(
        e.filter(col("event_type") === "view"),
        e.filter(col("event_type") === "click"),
        joinType = "left_outer")
    }),

    // Sliding windows (rolling hour, refreshed every 15 min) — native
    // window(); completes the tumbling/sliding/session family.
    "x_sliding_window" -> ((s, d) =>
      Temporal.slidingCounts(Tables.events(s, d))),

    // PII scrub over text augmented with deterministic synthetic PII
    // (the corpus itself is clean word-salad): count + redacted digest.
    "x_pii_scrub" -> ((s, d) => {
      val aug = concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com or call "),
        (lit(5550000000L) + col("doc_id")).cast("string"))
      Tables.documents(s, d).select(col("doc_id"),
        Contamination.piiCount(aug).as("n_pii"),
        md5(Contamination.piiScrub(aug)).as("scrubbed_fp"))
    }),

    // k-ANONYMITY release audit: distinct individuals per
    // quasi-identifier cell (type × dow × $100 value band) — record
    // counts overstate anonymity when one user repeats; the release
    // gate is min(n_users) >= k, the rows name the blocking cells.
    "x_k_anonymity" -> ((s, d) =>
      Privacy.kAnonymity(Tables.events(s, d), k = KAnonK)),

    // l-DIVERSITY: a k-anonymous cell whose sensitive attribute is
    // constant still discloses it for everyone inside — distinct
    // sensitive values per cell, flag at l.
    "x_l_diversity" -> ((s, d) =>
      Privacy.lDiversity(Tables.events(s, d), l = LDiverseL)),

    // Laplace-mechanism noisy count release: md5-replayed inverse-CDF
    // draws (NOT an RNG — which is exactly what makes the release
    // auditable here; production swaps in a secret source), Δ=1
    // count sensitivity, ε=1.
    "x_dp_release" -> ((s, d) =>
      Privacy.dpNoisyCounts(Tables.events(s, d), epsilon = DpEpsilon)),

    // STREAMING session windows replayed for real: 4 time-ordered
    // micro-batches + a sentinel flush batch through the native
    // session_window streaming aggregation — sessions straddling batch
    // boundaries are merged by the state store, the property the batch
    // x_sessionize can't show. Hashed against the same gap-islands
    // oracle shape.
    "x_stream_sessions" -> ((s, d) => {
      val work = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft-sessrep-${Integer.toHexString(d.hashCode)}").toString
      graft.streaming.StreamingSync.sessionWindowReplay(
        s, Tables.events(s, d), gap = StreamSessionGap,
        delay = "1 hour", nBatches = 4, workDir = work)
    }),

    // Streaming CEP replayed over 4 time-ordered micro-batches:
    // matches emit the moment their final event arrives, chains
    // straddle batch boundaries through O(1)-per-user state — and the
    // result equals the batch operator bit for bit (same oracle SQL).
    "x_stream_cep" -> ((s, d) => {
      val work = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft-ceprep-${Integer.toHexString(d.hashCode)}").toString
      graft.streaming.StreamingSync.cepStreamReplay(
        s, Tables.events(s, d), FunnelSteps, CepWithinSeconds,
        nBatches = 4, workDir = work)
    }),

    // The BOUNDED-STATE CEP deployment: same replay, event-time
    // eviction on — users idle past max(anchor)+within are removed
    // from the state store (provably match-preserving; the replay's
    // time order makes the 0s watermark exact), and the output still
    // equals the batch operator bit for bit (same oracle SQL).
    "x_stream_cep_evict" -> ((s, d) => {
      val work = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft-cepevict-${Integer.toHexString(d.hashCode)}").toString
      graft.streaming.StreamingSync.cepStreamReplay(
        s, Tables.events(s, d), FunnelSteps, CepWithinSeconds,
        nBatches = 4, workDir = work, evictIdle = true)
    }),

    // Streaming heavy hitters: 4 document micro-batches each fold
    // into ONE appended Misra-Gries sketch row (batch-sized
    // ObjectHashAggregate, redelivery-tagged by batchId); the merged
    // store validates against the exact heavy hitters — the sketch
    // contract is merge-order-free, so the stream-maintained state
    // hashes against the SAME oracle as the batch merge audit.
    "x_stream_heavy" -> ((s, d) => {
      val work = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft-freqrep-${Integer.toHexString(d.hashCode)}").toString
      val states = graft.streaming.StreamingSync.freqMaintReplay(
        s, Tables.documents(s, d), nBatches = 4, workDir = work,
        maxMapSize = HeavyHitterMapSize)
      CorpusStats.freqStatesValidated(Tables.documents(s, d), states,
        maxMapSize = HeavyHitterMapSize, phi = HeavyHitterPhi)
    }),

    // fastText-style hashed-feature linear scorer: unigrams + bigrams
    // hashed into 4096 weight slots, per-doc margin summed in one
    // codegen'd scan + doc-keyed combine — the learned-quality-filter
    // SERVING path with a fixed reproducible weight table, so the
    // oracle replays every margin exactly.
    "x_hashed_ngram_score" -> ((s, d) =>
      TextAnalysis.hashedNgramScore(Tables.documents(s, d),
        buckets = HashedNgramBuckets)),

    // CALIBRATION of the learned scorer against the rule-based
    // filter: per margin bin, how often the Gopher rules agree the
    // doc is keepable — a flat keep_rate profile means the learned
    // threshold is theater. Integer margins/bins, exact counts, two
    // closing divisions.
    "x_scorer_calibration" -> ((s, d) =>
      TextAnalysis.scorerCalibration(Tables.documents(s, d),
        buckets = HashedNgramBuckets, binWidth = ScorerBinWidth)),

    // ROLLUP over (source, lang): one Expand-backed hash aggregate
    // (one scan, one shuffle) produces every level; grouping_id
    // disambiguates rolled-up NULLs from genuine NULL keys.
    "x_rollup_stats" -> ((s, d) =>
      Olap.rollupStats(Tables.documents(s, d))),

    // CUBE adds the per-lang marginal — same single-aggregate plan.
    "x_cube_stats" -> ((s, d) =>
      Olap.cubeStats(Tables.documents(s, d))),

    // Pivot with a DECLARED value list: one aggregate, no
    // distinct-scan discovery job, zero cells explicit.
    "x_pivot_daily" -> ((s, d) =>
      Olap.pivotDaily(Tables.events(s, d))),

    // The inverse reshape — pivot then melt back to long (zero cells
    // included), a zero-shuffle projection over the pivot.
    "x_unpivot_daily" -> ((s, d) =>
      Olap.unpivotDaily(Tables.events(s, d))),

    // Change-log → SCD2 validity intervals; both window passes share
    // one user_id partitioning (single shuffle + sort).
    "x_scd2_history" -> ((s, d) =>
      Olap.scd2History(Tables.events(s, d))),

    // Dense per-user date spine with LOCF fill; generated spine +
    // shared-partitioning window, never a self-join.
    "x_gap_fill_locf" -> ((s, d) =>
      Olap.gapFillLocf(Tables.events(s, d))),

    // Deequ-style expectations report: row-level checks + key
    // uniqueness fused into ONE scan, RI as a broadcast anti-join.
    "x_expectations" -> ((s, d) =>
      Olap.expectations(Tables.lineitem(s, d), Tables.orders(s, d))),

    // Fuzzy (edit-distance) string join over the corpus's distinct
    // word bigrams: symmetric-delete candidate equi-join + exact
    // levenshtein verify, never all-pairs. The oracle IS the
    // all-pairs ground truth, so every run proves the deletion
    // filter's completeness.
    "x_fuzzy_join" -> ((s, d) => {
      val bigrams = Tables.documents(s, d)
        .select(explode(TextAnalysis.shingles(col("text"), 2)).as("s"))
        .distinct()
      FuzzyJoin.editDistancePairs(bigrams, "s", FuzzyMaxDist)
    }),

    // Schema-driven column profiler over orders: one scan, long-format
    // per-column stats (rows/nulls/exact distincts/min/max rendered).
    "x_profile_orders" -> ((s, d) =>
      Olap.profile(Tables.orders(s, d), ProfileCols)),

    // Clickstream path mining: gap-islanded sessions rendered as
    // ordered a>b>c paths, top-k by frequency (deterministic
    // tiebreak). Path order is sorted INSIDE the aggregate —
    // collect_list alone has no cross-partition ordering guarantee.
    "x_session_paths" -> ((s, d) =>
      Temporal.sessionPaths(Tables.events(s, d), SessionGap,
        PathTopK)),

    // Running balance per user: keys-sized daily aggregate + a
    // decimal window prefix sum (order-independent bit-for-bit; a
    // double running sum would drift).
    "x_running_total" -> ((s, d) =>
      Temporal.runningTotals(Tables.events(s, d))),

    // Time-weighted average per user: integer-microsecond holding
    // durations × decimal values, one IEEE division at the end.
    "x_twap" -> ((s, d) =>
      Temporal.timeWeightedAvg(Tables.events(s, d))),

    // Sparse cosine top-k through a df-pruned inverted index — the
    // sparse complement to the dense ANN ladder: candidates only via
    // shared postings (term equi-join), integer tf dots and norms
    // (exact), bit-identical IEEE cosine on both engines.
    "x_sparse_topk" -> ((s, d) =>
      SparseSim.sparseCosineTopK(Tables.documents(s, d), TopK,
        QueryMod, SparseDfCap)),

    // Hybrid retrieval: RRF fusion of the sparse (bigram postings)
    // and dense (embedding cosine) rankings over the SAME query set —
    // reciprocal ranks in exact ppm integers, full-outer on
    // (query, doc) so single-system hits still score. The RAG
    // retrieval shape: lexical catches terminology, dense catches
    // paraphrase, rank fusion needs no score calibration.
    "x_hybrid_rrf" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      SparseSim.rrfFuse(
        SparseSim.sparseCosineTopK(Tables.documents(s, d), TopK,
          QueryMod, SparseDfCap),
        Similarity.bruteForceTopK(
          e.filter(col("vec_id") % QueryMod === 0), e, TopK),
        k = TopK)
    }),

    // Pairwise Pearson correlation from decimal-exact sufficient
    // statistics in ONE scan (the corr() built-in streams doubles in
    // arrival order — unusable under a hash oracle).
    "x_corr_matrix" -> ((s, d) =>
      Olap.corrMatrix(Tables.lineitem(s, d), CorrCols)),

    // MATCH_RECOGNIZE-lite: per-user session conversion (a view
    // followed by a purchase within the same session), position
    // arithmetic over the rendered paths — dialect-neutral, and the
    // rate is an exact small-int IEEE division (no rounding step).
    "x_path_conversion" -> ((s, d) =>
      Temporal.pathConversion(Tables.events(s, d), SessionGap)),

    // Seasonal-naive forecast backtest: tomorrow = the value 7 days
    // earlier, via a calendar-shift equi self-join of the keys-sized
    // daily frame (a row LAG would mis-shift across gap days); LEFT
    // keeps the warm-up week with NULL forecasts.
    "x_forecast_snaive" -> ((s, d) =>
      Temporal.seasonalNaiveBacktest(Tables.events(s, d))),

    // Split-conformal intervals around the seasonal-naive forecast:
    // finite-sample 90% coverage from rank statistics over exact-cents
    // calibration residuals — every output column an exact long or
    // boolean, chronological 3/4 split and the ⌈9(n+1)/10⌉ index both
    // integer arithmetic, so no engine can disagree on a boundary.
    "x_conformal_interval" -> ((s, d) =>
      Temporal.conformalSnaive(Tables.events(s, d))),

    // SCD2 dimension MAINTENANCE — MERGE INTO, not recompute: the
    // compacted history of the first ~3 weeks persists (Scd2Store),
    // and the last week's change events fold in at read time —
    // close-open-row + append-batch-changes, history never
    // recompacted; a batch opening with the key's current value
    // extends the open interval (cross-boundary dup collapse).
    // Equals the full recompute, so it shares x_scd2_history's
    // oracle shape over ALL events.
    "x_scd2_store" -> ((s, d) => {
      val cutoff = lit(Scd2Cutoff).cast("timestamp")
      val base = Tables.events(s, d).filter(col("ts") < cutoff)
      val delta = Tables.events(s, d).filter(col("ts") >= cutoff)
      graft.sources.Scd2Store.ensureState(base, scd2StorePath(d),
        baseTag = s"cutoff=$Scd2Cutoff")
      graft.sources.Scd2Store.mergedView(s, scd2StorePath(d), delta)
    }),

    // Point-in-time lookup against the SCD2 dimension: the attribute
    // in effect at each event's DAY START (not its own timestamp —
    // that lookup is vacuously the event's own value). Equi-join on
    // user with the interval residual; LEFT keeps first-day facts
    // with no prior state.
    "x_pit_join" -> ((s, d) => {
      val events = Tables.events(s, d)
      val dim = Olap.scd2History(events)
      val facts = events.select(col("event_id"), col("user_id"),
        date_trunc("day", col("ts")).as("day_start"))
      Temporal.pitJoin(facts, dim, "user_id", "day_start",
        Seq("event_id", "user_id", "day_start"), "event_type",
        "type_at_day_start")
    }),

    // Canonical-term map over the fuzzy pairs: connected components
    // (the repo's adaptive CC rung on lexicographically-dense ids) →
    // every bigram mapped to its component's min string.
    "x_fuzzy_canon" -> ((s, d) => {
      val bigrams = Tables.documents(s, d)
        .select(explode(TextAnalysis.shingles(col("text"), 2)).as("s"))
        .distinct()
      FuzzyJoin.canonicalMap(bigrams, "s", FuzzyMaxDist)
    }),

    // Snapshot diff — the audit face of incremental maintenance:
    // which rollup rows the pending delta would add or change,
    // old/new side by side. A keys-sized full-outer join; the fact
    // history is never rescanned (same store-read shape as
    // x_ivm_daily).
    "x_snapshot_diff" -> ((s, d) => {
      val base = Tables.events(s, d)
        .filter(col("event_id") % IvmDeltaMod =!= 0)
      val delta = Tables.events(s, d)
        .filter(col("event_id") % IvmDeltaMod === 0)
      graft.sources.AggStore.ensureState(base, aggStorePath(d),
        baseTag = s"deltaMod=$IvmDeltaMod")
      val stored = graft.sources.AggStore
        .readState(s, aggStorePath(d))
        .withColumn("total", col("total").cast("double"))
      val next = graft.sources.AggStore
        .mergedView(s, aggStorePath(d), delta)
        .withColumn("total", col("total").cast("double"))
      Olap.tableDiff(stored, next, Seq("day", "event_type"),
        Seq("cnt", "total"))
    }),

    // Incremental view maintenance: the daily rollup persists as
    // mergeable partials (AggStore, SnapshotDir-committed); the
    // held-out delta folds in at read time — O(|delta|) + a
    // keys-sized merge, the fact history never rescanned. Equals the
    // full recompute exactly (decimal partials merge
    // order-independently).
    // Transparent materialized-view routing: the canonical daily
    // rollup written as a PLAIN declarative aggregate — the
    // AggStoreRewrite optimizer rule reroutes it to the committed IVM
    // partials (keys-sized read, zero fact scan; PlanSpec-pinned) —
    // while the oracle recomputes from the raw facts, proving the
    // store serves the identical rows. Registration confs are scoped
    // to this query (eager localCheckpoint materializes THROUGH the
    // rewrite, then the confs unset).
    "x_mv_rewrite" -> ((s, d) => {
      graft.sources.AggStore.ensureState(Tables.events(s, d),
        aggMvPath(d), baseTag = "mv-full")
      s.conf.set(graft.plans.AggStoreRewrite.PathKey, aggMvPath(d))
      s.conf.set(graft.plans.AggStoreRewrite.SourceKey,
        s"$d/events.parquet")
      try {
        Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast(org.apache.spark.sql.types
              .DecimalType(18, 2))).as("total"))
          .select(col("day"), col("event_type"), col("cnt"),
            col("total").cast("double").as("total"))
          .localCheckpoint()
      } finally {
        s.conf.unset(graft.plans.AggStoreRewrite.PathKey)
        s.conf.unset(graft.plans.AggStoreRewrite.SourceKey)
      }
    }),

    // MV routing WITH filter compensation: the common dashboard shape
    // — the registered rollup under a group-key filter (day range +
    // event_type IN) — reroutes to the committed partials with the
    // predicate pushed onto them (group-key filters commute with the
    // keyed aggregation; PlanSpec pins the fact scan is gone and that
    // non-key filters still block). The oracle recomputes from the
    // raw facts under the same filter.
    "x_mv_rewrite_filtered" -> ((s, d) => {
      graft.sources.AggStore.ensureState(Tables.events(s, d),
        aggMvPath(d), baseTag = "mv-full")
      s.conf.set(graft.plans.AggStoreRewrite.PathKey, aggMvPath(d))
      s.conf.set(graft.plans.AggStoreRewrite.SourceKey,
        s"$d/events.parquet")
      try {
        Tables.events(s, d)
          .filter(to_date(col("ts")).between(
              lit(MvFilterDayLo), lit(MvFilterDayHi)) &&
            col("event_type").isin(MvFilterTypes: _*))
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast(org.apache.spark.sql.types
              .DecimalType(18, 2))).as("total"))
          .select(col("day"), col("event_type"), col("cnt"),
            col("total").cast("double").as("total"))
          .localCheckpoint()
      } finally {
        s.conf.unset(graft.plans.AggStoreRewrite.PathKey)
        s.conf.unset(graft.plans.AggStoreRewrite.SourceKey)
      }
    }),

    // MV routing for a COARSER rollup — aggregate-on-aggregate: the
    // monthly view of the registered daily store is a plain
    // declarative monthly aggregate over the FACTS; the rule routes
    // it to a re-aggregation of the committed daily partials
    // (count/sum states are algebraic, so regrouping them by
    // trunc(day, 'month') is exact). The oracle recomputes from the
    // raw facts; PlanSpec pins the fact scan is gone.
    "x_mv_rewrite_coarse" -> ((s, d) => {
      graft.sources.AggStore.ensureState(Tables.events(s, d),
        aggMvPath(d), baseTag = "mv-full")
      s.conf.set(graft.plans.AggStoreRewrite.PathKey, aggMvPath(d))
      s.conf.set(graft.plans.AggStoreRewrite.SourceKey,
        s"$d/events.parquet")
      try {
        Tables.events(s, d)
          .groupBy(trunc(to_date(col("ts")), "month").as("month"),
            col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast(org.apache.spark.sql.types
              .DecimalType(18, 2))).as("total"))
          .select(col("month"), col("event_type"), col("cnt"),
            col("total").cast("double").as("total"))
          .localCheckpoint()
      } finally {
        s.conf.unset(graft.plans.AggStoreRewrite.PathKey)
        s.conf.unset(graft.plans.AggStoreRewrite.SourceKey)
      }
    }),

    "x_ivm_daily" -> ((s, d) => {
      val base = Tables.events(s, d)
        .filter(col("event_id") % IvmDeltaMod =!= 0)
      val delta = Tables.events(s, d)
        .filter(col("event_id") % IvmDeltaMod === 0)
      graft.sources.AggStore.ensureState(base, aggStorePath(d),
        baseTag = s"deltaMod=$IvmDeltaMod")
      graft.sources.AggStore.mergedView(s, aggStorePath(d), delta)
        .select(col("day"), col("event_type"), col("cnt"),
          col("total").cast("double").as("total"))
    }),

    // CDC log apply: the events stream recast as a Debezium-style
    // op-coded change log (I/U/D per event type), folded into the
    // final per-key snapshot by ONE struct-max aggregate — no window,
    // keys-sized exchange, delete wins by vanishing. Commutative, so
    // out-of-order arrival lands the same snapshot columns.
    "x_cdc_apply" -> ((s, d) => {
      val log = Tables.events(s, d).select(col("user_id"), col("ts"),
        col("event_id"),
        when(col("event_type") === "error", "D")
          .when(col("event_type") === "view", "I")
          .otherwise("U").as("op"),
        col("value"))
      Olap.cdcApply(log, keyCol = "user_id", tsCol = "ts",
        seqCol = "event_id", opCol = "op", valueCol = "value")
    }),

    // First-order Markov transition matrix over per-user event
    // streams: P(next | current) + successor rank — one user-keyed
    // lead(), then states-sized aggregates; the probability is a
    // small-int IEEE division (bit-identical across engines).
    "x_markov_next" -> ((s, d) =>
      Temporal.transitionMatrix(Tables.events(s, d))),

    // Robust daily anomalies: |day total − median| > 3 × MAD per
    // event type, nearest-rank medians over exact decimals — the
    // outlier-resistant monitor a spike day cannot corrupt (unlike
    // mean/stddev z-scores).
    "x_anomaly_mad" -> ((s, d) =>
      Temporal.madAnomalies(Tables.events(s, d), k = MadK)),

    // Triangle census of the embedding near-dup graph:
    // degree-oriented wedge join (bounded fan-out on hubs, never
    // all-pairs) + global clustering coefficient — the structural
    // health probe of a similarity pair list. Served off the
    // committed EdgeStore: the census pays edge-list cost only, not
    // the LSH chain.
    "x_triangle_count" -> ((s, d) =>
      GraphStats.triangleStats(storedNearDupPairs(s, d))),

    // Link prediction off the committed pair store: non-adjacent
    // pairs sharing a neighbor, scored by common-neighbor count,
    // exact-ppm Resource Allocation, and neighborhood Jaccard — the
    // pairs the LSH bands MISSED, ranked for a second verify pass.
    // Hub pivots above LinkMaxDeg are excluded by contract (their
    // quadratic wedge fan-out vs ~0 RA evidence).
    "x_link_predict" -> ((s, d) =>
      GraphStats.linkPredict(storedNearDupPairs(s, d),
        minCommon = LinkMinCommon, maxDeg = LinkMaxDeg)),

    // Single-source BFS reach over the near-dup graph (seed = minimum
    // vertex id — replayable), ≤ 4 hops: frontier-sized equi-joins
    // per round, the Pregel shape. How far does a contamination seed
    // spread through the similarity graph?
    "x_bfs_hops" -> ((s, d) =>
      GraphStats.bfsHops(storedNearDupPairs(s, d), maxHops = BfsMaxHops)),

    // PageRank in exact integer micro-units over the near-dup graph:
    // 17/20 damping, floor division everywhere — bit-identical on any
    // engine/partitioning, so the oracle unrolls the same five rounds.
    "x_pagerank_int" -> ((s, d) =>
      GraphStats.pageRankIntScaled(storedNearDupPairs(s, d),
        iters = PageRankIters, scale = PageRankScale)),

    // Weighted PageRank with cosine edge weights (ppm fixed-point):
    // the dedup-cluster authority score — strong-cosine ties outrank
    // marginal ones at equal degree. Same exact-integer discipline;
    // the score·weight product widens through decimal(38,0) before
    // the floor division brings it back under scale.
    "x_pagerank_weighted" -> ((s, d) =>
      GraphStats.pageRankWeighted(storedNearDupPairs(s, d),
        iters = PageRankIters, scale = PageRankWScale)),

    // PERSONALIZED PageRank: teleport only to the even-id seed set —
    // proximity to known-good documents, the seeded-curation ranking.
    // Same integer rounds; the seed flag rides the cached vertex frame.
    "x_pagerank_seeded" -> ((s, d) => {
      val pairs = storedNearDupPairs(s, d)
      val seeds = pairs
        .select(explode(array(col("id_a"), col("id_b"))).as("v"))
        .filter(pmod(col("v"), lit(2)) === 0).distinct()
      GraphStats.pageRankPersonalized(pairs, seeds,
        iters = PageRankIters, scale = PageRankScale)
    }),

    // BM25 lexical retrieval for a fixed query term set: tf at scan
    // time, df/avgdl as broadcast dims, TakeOrdered top-k; per-term
    // contributions in mirrored IEEE op order, fixed-order sum, 6dp
    // round before the (score, doc_id) rank.
    "x_bm25_topk" -> ((s, d) =>
      SparseSim.bm25TopK(Tables.documents(s, d), Bm25Terms, Bm25K)),

    // Scene-change detection over the sampled video frames: integer
    // frame signatures, one per-clip lag(), cut when the jump exceeds
    // the threshold. Completes the multimodal quartet's temporal axis.
    "x_media_scene_cut" -> ((s, d) =>
      Multimodal.sceneCuts(Multimodal.mediaTable(s, d),
        threshold = SceneCutThreshold)),

    // Theta-sketch audience overlap: big-spender purchasers vs
    // low-value error hitters — exact sizes of A/B/A∩B/A∪B hashed,
    // plus one in-bounds boolean per sketch estimate (set
    // INTERSECTION with published bounds is what HLL cannot do).
    // Crosses from exact mode (sf ≤ 0.01, users < 256) into genuine
    // estimation (sf0.1, 1500 users).
    "x_sketch_intersect" -> ((s, d) =>
      SketchAlgebra.audienceOverlap(Tables.events(s, d),
        "purchase_gt80", "error_lt20",
        col("event_type") === "purchase" && col("value") > 80.0,
        col("event_type") === "error" && col("value") < 20.0,
        nomEntries = ThetaNomEntries, nSd = ThetaNSd)),

    // Theta sketch-state merge audit (the x_freq_merge pattern for
    // the set-algebra family): per-part sketch rows unioned back —
    // the hashed contract is the one that survives any merge order,
    // exact-distinct inside the merged bounds.
    "x_theta_merge" -> ((s, d) =>
      SketchAlgebra.thetaMergeProfile(Tables.events(s, d),
        parts = ThetaParts, nomEntries = ThetaNomEntries,
        nSd = ThetaNSd)),

    // Count-Min point-frequency audit: exact heavy hitters each
    // carrying the sketch's estimate — the md5 counter matrix replays
    // in SQL, so the ESTIMATE hashes (unique among the sketch
    // families), plus the deterministic est >= exact guarantee.
    "x_cms_point" -> ((s, d) =>
      CountMin.cmsPointValidated(Tables.documents(s, d),
        depth = CmsDepth, width = CmsWidth, phi = HeavyHitterPhi)),

    // Count-Min merge audit: per-part sketch states unioned back ≡
    // the single-pass matrix BIT-FOR-BIT (CMS merge is lossless —
    // counters add; the property that makes per-batch states safe to
    // persist), same replayable estimates.
    "x_cms_merge" -> ((s, d) =>
      CountMin.cmsMergeValidated(Tables.documents(s, d),
        parts = SketchParts, depth = CmsDepth, width = CmsWidth,
        phi = HeavyHitterPhi)),

    // TAKEDOWN on sketch state: CMS is a LINEAR sketch, so
    // subtracting the removed docs' own sketch yields BIT-FOR-BIT the
    // filtered-corpus rebuild (retract_exact carries the
    // byte-compare) — the takedown sweep's answer for the maintained
    // frequency states, at one-24KB-row cost per window after
    // sketching just the removed docs. Audit rows: the filtered
    // corpus's exact heavy hitters with the retracted sketch's
    // replayable estimates.
    "x_cms_retract" -> ((s, d) =>
      CountMin.cmsRetractValidated(Tables.documents(s, d),
        col("doc_id") % DeleteMod === DeleteRem,
        depth = CmsDepth, width = CmsWidth, phi = HeavyHitterPhi)),

    // Sketch-served drift: the 40 tokens whose ppm rate moved most
    // between corpus halves, carrying both sketches' replayable
    // estimates — production diffs two 24 KB daily sketches; the
    // exact counts here only pin the estimates against truth.
    "x_cms_drift" -> ((s, d) =>
      CountMin.cmsDriftValidated(Tables.documents(s, d),
        depth = CmsDepth, width = CmsWidth, k = DriftTopK)),

    // Join-order advisor: three candidate equi-joins profiled by the
    // CMS inner-product estimate (all a planner has at planning time)
    // beside the exact cardinalities (the audit's proof); chosen =
    // minimum estimate, the cheapest-first rule.
    "x_join_advisor" -> ((s, d) => {
      val o = Tables.orders(s, d)
      CountMin.joinSizeAdvisor(Seq(
        CountMin.joinSizeProfile("orders_customer", o, "o_custkey",
          Tables.customer(s, d), "c_custkey", CmsDepth, CmsWidth),
        CountMin.joinSizeProfile("lineitem_orders",
          Tables.lineitem(s, d), "l_orderkey", o, "o_orderkey",
          CmsDepth, CmsWidth),
        CountMin.joinSizeProfile("events_orders_cust",
          Tables.events(s, d), "user_id", o, "o_custkey",
          CmsDepth, CmsWidth)))
    }),

    // Count-Min inner-product self-join size (the F2 moment): the
    // cardinality a cost-based planner wants for a skewed equi-join,
    // from one 24 KB sketch instead of a keyed shuffle — estimate
    // replayed exactly by the oracle, deterministic no-underestimate.
    "x_cms_selfjoin" -> ((s, d) =>
      CountMin.cmsSelfJoinProfile(Tables.events(s, d),
        depth = CmsDepth, width = CmsWidth)),

    // CUSUM changepoint per event type: the day where the cumulative
    // deviation from the key's mean peaks — division-free scaled form
    // (|n·prefix − t·total|), exact decimals, earliest-day tiebreak.
    "x_changepoint_cusum" -> ((s, d) =>
      Temporal.cusumChangepoint(Tables.events(s, d))),

    // Equi-depth histogram of daily totals per event type: ntile bins
    // over a total order — the skew-adaptive profile (equi-width bins
    // collapse under skew).
    "x_equidepth_hist" -> ((s, d) =>
      Olap.equiDepthHist(Tables.events(s, d), buckets = HistBuckets)),

    // Market-basket association rules over (user, day) baskets:
    // support/confidence/lift per directed event-type pair — one
    // corpus shuffle into cached basket sets, everything downstream
    // explodes off that frame; ratios are single IEEE divisions of
    // exact bigints.
    "x_assoc_rules" -> ((s, d) =>
      Olap.associationRules(Tables.events(s, d))),

    // Per-key OLS trend slope of daily totals: exact bigint sufficient
    // statistics over (day-offset, cents), one closing IEEE division.
    // Completes the monitoring trio (MAD = which day, CUSUM = where
    // the regime changed, OLS = which way it is heading).
    "x_trend_ols" -> ((s, d) =>
      Temporal.trendOls(Tables.events(s, d))),

    // Theil–Sen robust trend: median pairwise day-slope in exact ppm
    // integers (div truncation probed identical on both engines) —
    // the 29%-breakdown companion to the OLS line, as MAD is to the
    // z-score. Pairs are days², not rows.
    "x_theilsen_trend" -> ((s, d) =>
      Temporal.theilSenTrend(Tables.events(s, d))),

    // EWMA smoothed level per key (α = 1/2): sequential add-then-halve
    // fold over day-ordered integer-cent totals — bit-deterministic
    // without rounding, the "where is it NOW" companion to the slope.
    "x_ewma_level" -> ((s, d) =>
      Temporal.ewmaLevel(Tables.events(s, d))),

    // Holt level+trend (α=β=1/2): the EWMA's exact add-then-halve fold
    // extended to the (level, trend) pair — "where is it now AND which
    // way is it headed", closing with the one-step forecast. Every
    // step mirrors the oracle's list_reduce association bit for bit.
    "x_holt_level_trend" -> ((s, d) =>
      Temporal.holtLevelTrend(Tables.events(s, d))),

    // Holt-Winters weekly (α=β=γ=1/2): level + trend + seven
    // day-of-week seasonal slots, gap-tolerant (a missing day skips
    // its slot), every step an exact halving — the full "where, which
    // way, and what does this weekday add" forecast.
    "x_holt_winters" -> ((s, d) =>
      Temporal.holtWintersWeekly(Tables.events(s, d))),

    // Benford first-digit screen over order totals: leading digit via
    // integer-cents rendering, exact count ratios, bound booleans
    // against log10(1+1/d) — the books-audit fraud test (synthetic
    // uniform amounts correctly FAIL it).
    "x_benford" -> ((s, d) =>
      Olap.benfordProfile(Tables.orders(s, d), "o_totalprice",
        tol = BenfordTol)),

    // 2-D skyline of orders (maximize price AND recency): descending
    // sweep over the distinct-price frame with a running strictly-
    // greater max — never the O(n²) dominance anti-join the oracle
    // brute-forces.
    "x_skyline" -> ((s, d) =>
      Olap.skyline2D(
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderdate")),
        "o_totalprice", "o_orderdate",
        Seq("o_orderkey", "o_totalprice", "o_orderdate"))
        .select(col("o_orderkey"), col("o_totalprice"),
          to_date(col("o_orderdate")).as("order_day"))),

    // Gini revenue-concentration index per market segment: exact
    // bigint rank-weighted sums (tie-permutation-invariant), one
    // closing IEEE division.
    "x_gini_segment" -> ((s, d) =>
      Olap.giniIndex(
        Tables.orders(s, d).join(
          broadcast(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("segment"),
            col("o_totalprice")),
        "segment", "o_totalprice")),

    // RFM quartile segmentation: exact ntile(4) scores over the
    // customer-sized frame (custkey tiebreak = engine-exact
    // boundaries), corpus-max-day recency anchor, named segments.
    "x_rfm_segment" -> ((s, d) =>
      Olap.rfmSegment(Tables.orders(s, d))),

    // Pearson χ² independence screen between order priority and
    // status: exact integer marginals, mirrored single-division
    // cells — bit-deterministic with no rounding step.
    "x_chisq_indep" -> ((s, d) =>
      Olap.chiSquareIndep(Tables.orders(s, d), "o_orderpriority",
        "o_orderstatus")),

    // k-core of the near-dup graph (k=2): iterative peel strips
    // pendant tails, leaving the densely-connected duplicate mass —
    // fixed-round unrolled on both engines, converged on every corpus.
    "x_kcore" -> ((s, d) =>
      GraphStats.kCore(storedNearDupPairs(s, d), k = KCoreK,
        rounds = KCoreRounds)),

    // One synchronous Louvain sweep (ppm-exact modularity gains) over
    // the stored weighted pairs: components say "reachable", this says
    // "densely tied" — weak bridges score negative gain and never
    // merge. Deterministic argmax (gain desc, lowest neighbor id).
    "x_community_l1" -> ((s, d) =>
      GraphStats.communityOneLevel(storedNearDupPairs(s, d))),

    // The sweep's accepted moves closed into components (parallel-
    // Louvain composition): mutual-argmax swaps become one community,
    // weak-bridge endpoints stay singletons — the communities
    // themselves, not the raw moves.
    "x_community_merge" -> ((s, d) =>
      GraphStats.communityMerge(storedNearDupPairs(s, d))),

    // Two-level Louvain: the accepted level-1 communities coarsen
    // into the quotient graph (cross weights summed, internal mass as
    // self-weight, degrees = member-degree sums, 2m invariant) and
    // one more exact-ppm sweep runs at community granularity —
    // merging bridged communities the vertex-level sweep cannot
    // (GraphStatsSpec holds the fixture). Level 1 is SERVED from the
    // committed l1labels relation (built once per pair-table state by
    // ClusterStore.ensureL1Labels, invalidated by admissions), so the
    // query prices only the communities-sized quotient re-sweep — the
    // in-query recompute remains as GraphStats.communityTwoLevel (the
    // cold path, spec-pinned ≡ this routing). Oracle = the full
    // two-level chain unrolled over the shared CTEs.
    "x_community_l2" -> ((s, d) => {
      val pairs = storedNearDupPairs(s, d)
      graft.sources.ClusterStore.ensureL1Labels(s, nearDupPairsPath(d))
      GraphStats.communityTwoLevelFrom(pairs,
        graft.sources.ClusterStore.readL1Labels(s, nearDupPairsPath(d))
          .select(col("id").as("vec_id"), col("label").as("c1")))
    }),

    // SemDeDup: cluster the near-dup graph, keep each cluster's
    // HIGHEST-QUALITY member (ties → lowest id) — the curation form
    // of semantic dedup (min-id keep discards arbitrary members).
    "x_semantic_keep" -> ((s, d) => {
      val clusters = storedClusterAssignments(s, d)
        .select(col("vec_id").as("doc_id"), col("cluster_id"))
      val scores = Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("score"))
      Dedup.keepBestPerCluster(clusters, scores)
    }),

    // Welch's unequal-variance t-test per event type over the
    // md5-seeded 50/50 user split: exact per-arm sufficient stats in
    // one aggregate, the t/df chain in mirrored IEEE op order.
    "x_welch_ttest" -> ((s, d) =>
      Hypothesis.welchTTest(Tables.events(s, d),
        Hypothesis.variantOf(col("user_id")))),

    // Mann–Whitney U (tie-corrected) per event type: doubled rank
    // sums stay exact integers over the distinct-value frame; only
    // the closing normal-approximation z is floating point.
    "x_mannwhitney_u" -> ((s, d) =>
      Hypothesis.mannWhitneyU(Tables.events(s, d),
        Hypothesis.variantOf(col("user_id")))),

    // Two-sample Kolmogorov–Smirnov distance per event type: the sup
    // numerator is an exact bigint (cross-multiplied CDF counts), d
    // is one closing division, at_cents pins the sup location.
    "x_ks_two_sample" -> ((s, d) =>
      Hypothesis.ksTwoSample(Tables.events(s, d),
        Hypothesis.variantOf(col("user_id")))),

    // CUPED variance reduction: θ from n-scaled exact covariance over
    // pre-period (first 31 days) vs post-period per-user totals,
    // per-arm adjusted means computed algebraically — no per-user
    // double ever enters a sum.
    "x_cuped" -> ((s, d) =>
      Hypothesis.cuped(Tables.events(s, d),
        Hypothesis.variantOf(col("user_id")), preDays = CupedPreDays)),

    // Experiment design: minimum detectable effect per key at
    // α=0.05 / power 0.8 from the same exact per-arm stats — "is the
    // experiment big enough" before the t answers "did it move".
    "x_power_mde" -> ((s, d) =>
      Hypothesis.powerMde(Tables.events(s, d),
        Hypothesis.variantOf(col("user_id")))),

    // Two-proportion z on the binary "did the user purchase" metric —
    // the conversion test most experiments actually run; pooled SE,
    // exact integer inputs, mirrored closing chain.
    "x_prop_ztest" -> ((s, d) =>
      Hypothesis.propZTest(Tables.events(s, d),
        Hypothesis.variantOf(col("user_id")))),

    // Benjamini–Hochberg FDR across the (event_type × dow) family of
    // between-arm z tests — the joint adjustment without which 5% of
    // per-segment "winners" are false. Ranks by the exactly-rounded
    // |z| surrogate (p is monotone in it), so the exp()-built p never
    // feeds an ordering; the reverse-cumulative-min window runs over
    // the #hypotheses-sized frame.
    "x_fdr_bh" -> ((s, d) =>
      Hypothesis.fdrBh(Tables.events(s, d),
        Hypothesis.variantOf(col("user_id")))),

    // Always-valid sequential mSPRT p per key and day — the p-value a
    // dashboard may peek at daily without inflating false positives:
    // cumulative exact per-arm stats via running windows, the
    // normal-mixture likelihood ratio, and the monotone running-min p.
    "x_msprt_seq" -> ((s, d) =>
      Hypothesis.msprtSeq(Tables.events(s, d),
        Hypothesis.variantOf(col("user_id")))),

    // ... maintained as a STREAM: per-trigger mergeable (n, Σc, Σc²)
    // partials appended batchId-idempotently, the always-valid p
    // served from the re-summed store — merged sums equal the
    // one-shot aggregate exactly, so this shares x_msprt_seq's oracle
    // bit for bit. "May I stop the experiment yet?", continuously.
    "x_stream_msprt" -> ((s, d) => {
      val work = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft-msprtrep-${Integer.toHexString(d.hashCode)}").toString
      graft.streaming.StreamingSync.msprtMaintReplay(
        s, Tables.events(s, d), nBatches = 4, workDir = work)
    }),

    // Rolling 7-day median level per key on the dense daily spine:
    // the robust windowed level beside the EWMA — one corrupted day
    // can never BE the median of its windows. Pure sort-and-pick,
    // zero arithmetic, exact longs.
    "x_rolling_median" -> ((s, d) =>
      Temporal.rollingMedian(Tables.events(s, d))),

    // Mann–Kendall monotone-trend test on the observed daily series:
    // exact pair-sign S, tie-adjusted var18 integer, continuity-
    // corrected z through the mirrored ÷-√-÷ chain — the "is there a
    // trend at all" gate in front of Theil–Sen's "how steep".
    "x_mann_kendall" -> ((s, d) =>
      Temporal.mannKendall(Tables.events(s, d))),

    // Kendall τ-b between daily money and daily volume per key: exact
    // concordant/discordant/tie counts, the mirrored ×-√-÷ close —
    // the robust companion to x_corr_matrix's Pearson r, on the
    // Mann–Kendall machinery (MK is τ against time).
    "x_kendall_tau" -> ((s, d) =>
      Temporal.kendallTau(Tables.events(s, d))),

    // Poisson-bootstrap percentile CI for the between-arm mean diff:
    // md5-seeded Poisson(1) replicate weights (engine-replayable, no
    // RNG), one exact-int division per replicate arm, integer
    // order-statistic endpoints — the distribution-free companion to
    // the Welch t for skewed per-user metrics.
    "x_bootstrap_ci" -> ((s, d) =>
      Hypothesis.bootstrapCiDiff(Tables.events(s, d),
        Hypothesis.variantOf(col("user_id")), reps = BootstrapReps)),

    // Winsorized robust stats per order priority: nearest-rank
    // p05/p95 clip bounds from pure integer ceil indexes, exact
    // clipped sums, one closing mean division.
    "x_winsorized" -> ((s, d) =>
      Olap.winsorizedStats(Tables.orders(s, d), "o_orderpriority",
        "o_totalprice")),

    // Autocorrelation of the global daily series at lags 1..7 — the
    // seasonality probe; exact n-scaled decimal sufficient statistics,
    // one closing division per lag.
    "x_acf_daily" -> ((s, d) =>
      Temporal.autocorrelation(Tables.events(s, d), AcfMaxLag)),

    // Day-of-week seasonality profile (STL-lite): dense-spine daily
    // cents, centered 7-day detrend kept EXACT (7·cents − Σ₇, a long),
    // per-weekday mean — the "is Monday always low" monitoring view.
    "x_seasonal_dow" -> ((s, d) =>
      Temporal.seasonalDow(Tables.events(s, d))),

    // Forecast-model tournament: naive vs snaive vs trailing-7 mean,
    // one-step errors on the SAME scored days, exact-long totals
    // (ma7 rides ×7), winner by cross-multiplied rational compare —
    // the model-selection read-out on top of the family's baselines.
    "x_forecast_tournament" -> ((s, d) =>
      Temporal.forecastTournament(Tables.events(s, d))),

    // FULL additive decomposition per key and day (classical STL
    // shape): y = trend (centered exact 7-day MA) + seasonal (dow mean
    // of the detrended series, integer numerator) + residual — the
    // series MAD/CUSUM should monitor once a weekly cycle exists;
    // x_seasonal_dow's global profile generalized to the per-row
    // three-way split.
    "x_stl_decompose" -> ((s, d) =>
      Temporal.stlDecompose(Tables.events(s, d))),

    // Higher-moment profile per key: skewness and excess kurtosis
    // from ONE combining aggregate of exact decimal power sums —
    // "which tail is heavy, and how heavy", the two numbers the
    // mean/stddev profile cannot see.
    "x_moments" -> ((s, d) =>
      Olap.momentsProfile(Tables.events(s, d))),

    // Component-size census of the near-dup graph: how much of the
    // corpus sits in duplicate clusters vs singletons — the one-row
    // dedup-health dashboard (reads the committed ClusterStore labels).
    "x_component_stats" -> ((s, d) => {
      val clusters = storedClusterAssignments(s, d)
      clusters.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_components"),
          sum(when(col("sz") === 1, 1L).otherwise(0L)).as("n_singletons"),
          max(col("sz")).as("max_size"),
          sum(when(col("sz") > 1, col("sz")).otherwise(0L))
            .as("n_in_dup_clusters"))
    }),

    // Kaplan–Meier user-lifetime survival with right censoring at the
    // corpus edge: exact integer life table, running ln-sum product
    // with an explicit zero-survival carry (DuckDB refuses ln(0)).
    "x_survival_km" -> ((s, d) =>
      Temporal.kaplanMeier(Tables.events(s, d), KmHorizonDays)),

    // ---- SQL front door: the same operators through spark.sql(...)
    // table functions (GraftExtensions.injectTableFunction). Each
    // builder returns the Scala operator's own logical plan, so this
    // is path-EQUALITY, not re-implementation — the oracles below are
    // the Scala queries' oracles, shared verbatim.
    "x_sql_funnel" -> ((s, d) => s.sql(
      s"SELECT * FROM graft_funnel('$d', '$FunnelWindow', " +
        FunnelSteps.map(st => s"'$st'").mkString(", ") + ")")),
    "x_sql_neardup_pairs" -> ((s, d) => s.sql(
      s"SELECT * FROM graft_neardup_pairs('$d', $CosineThreshold, " +
        s"$NearDupBands, $NearDupRows, $EmbeddingDim)")),
    "x_sql_profile" -> ((s, d) => s.sql(
      s"SELECT * FROM graft_profile('$d', 'orders', " +
        ProfileCols.map(c => s"'$c'").mkString(", ") + ")")),
    "x_sql_retention" -> ((s, d) => s.sql(
      s"SELECT * FROM graft_retention('$d')")),
    "x_sql_hard_negatives" -> ((s, d) => s.sql(
      s"SELECT * FROM graft_hard_negatives('$d', $TopK, $QueryMod, " +
        s"$CosineThreshold)")),
    "x_sql_dedup_apply" -> ((s, d) => s.sql(
      s"SELECT * FROM graft_dedup_apply('$d')")),

    // Store observability: the graft_stores() catalog over the four
    // canonical base stores, first driven to their deterministic
    // steady state (all ensure-gates are idempotent, so the row set is
    // run-order independent). Hashed columns are exact metadata
    // (versions, retained count, recipe, manifest relation count,
    // label freshness); the environment-sized file/byte counts are
    // reduced to must-be-TRUE contract booleans.
    "x_sql_stores" -> ((s, d) => {
      graft.sources.EdgeStore.ensureNearDupPairs(Tables.embeddings(s, d),
        nearDupPairsPath(d), CosineThreshold, bands = NearDupBands,
        rowsPerBand = NearDupRows, dim = EmbeddingDim)
      graft.sources.ClusterStore.ensureLabels(s, nearDupPairsPath(d))
      // part of the edges store's steady state since L1 serving landed:
      // without this, the row depends on whether x_community_l2 ran
      // first (build v1 + labels v2 + l1labels v3)
      graft.sources.ClusterStore.ensureL1Labels(s, nearDupPairsPath(d))
      graft.sources.FingerprintStore.ensureFingerprints(
        incrCorpus(s, d), fpStorePath(d))
      ensureAnnIndexes(s, d)
      graft.sources.AggStore.ensureState(Tables.events(s, d),
        aggMvPath(d), baseTag = "mv-full")
      s.sql(s"""
        |SELECT family, version, n_versions, n_branches, recipe,
        |  n_relations,
        |  labels_fresh, n_files > 0 AS has_files, bytes > 0 AS has_bytes
        |FROM graft_stores(
        |  'agg', '${aggMvPath(d)}',
        |  'edges', '${nearDupPairsPath(d)}',
        |  'fingerprints', '${fpStorePath(d)}',
        |  'vectors', '${ivfPqIndexPath(d)}')""".stripMargin)
    })
  )

  // ---------------------------------------------------------------- oracles

  /** Shared CTEs mirroring `Dedup.cappedPostings`'s semantics: words, raw
    * shingle arrays, inverted index, then the document-frequency cap from
    * [[Dedup.DefaultMaxShingleDf]] applied to the vocabulary (expressed
    * here as a hot-set anti-join — same capped index, the Spark side
    * filters posting-list length instead). `ex` is the capped index every
    * downstream stage reads; `sh` rebuilds the capped per-doc arrays;
    * `sizes` are capped set sizes. */
  private val ShingleCtes =
    s"""w AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
       |  FROM documents),
       |sh0 AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN len(ws) >= 3 THEN
       |      list_transform(range(1, len(ws)-1),
       |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
       |      ELSE []::varchar[] END) AS shs
       |  FROM w),
       |ex0 AS (SELECT doc_id AS id, unnest(shs) AS s FROM sh0),
       |hot AS (SELECT s FROM ex0 GROUP BY s
       |        HAVING count(*) > ${Dedup.DefaultMaxShingleDf}),
       |ex AS (SELECT ex0.* FROM ex0 ANTI JOIN hot USING (s)),
       |sh AS (SELECT id AS doc_id, list(s) AS shs FROM ex GROUP BY id),
       |sizes AS (SELECT id, count(*) AS nsh FROM ex GROUP BY id)"""
      .stripMargin

  /** Banded-hyperplane near-dup candidate + verify CTE chain over the
    * embeddings table, ending in `epairs (id_a, id_b, cos)` — mirrors
    * `Similarity.nearDupPairsLsh`; shared by the pair query and the
    * cluster composition. */
  /** The unigram-tokenizer chain (vocab seeding → integer-score table
    * → per-word Viterbi DP as a recursive CTE carrying the last
    * [[UnigramMaxPiece]] best/segmentation slots — the Holt-Winters
    * slot-carrying dodge, since the DP needs a bounded lookback the
    * recursion row cannot otherwise see). GENERATED from
    * [[UnigramVocabSize]] / [[UnigramMaxPiece]]: the candidate joins,
    * lag columns, and tie-break CASE all unroll from the same
    * constants the Spark operator runs on. Scores are integer-scaled
    * logs, so every DP comparison the oracle makes is exact bigint
    * arithmetic — the argmax segmentation cannot drift between
    * engines. */
  /** One instantiation of the Viterbi DP recursion against a given
    * score table `$vsCte` (columns piece, cnt, s), CTE names suffixed
    * `$sfx` — the em2 oracle runs the chain TWICE (seed scores, then
    * the pruned re-scored vocabulary) in one statement. */
  /** Unrolled EXACT-INTEGER log-score chain mirroring
    * [[CorpusStats.fixLogScore]]: fixed-point binary logarithm (20
    * shift-square-truncate steps over bigints, then one multiply by
    * ⌊1e6·ln2⌋ and a closing shift). CTEs `fl0$sfx..fl20$sfx` over
    * `src` (which must expose a positive BIGINT-castable `cnt` plus
    * the carry-through `cols`), ending in `fl$sfx (cols…, cnt, s)`.
    * Every operation is 64-bit integer arithmetic, so the oracle's
    * scores equal the Spark side's BY CONSTRUCTION — the previous
    * `round(1e6·ln cnt)` ran each engine's own libm, a latent
    * 1-ulp-at-.5 argmax flake. */
  private def fixLogCtes(src: String, sfx: String,
      cols: Seq[String]): String = {
    val cl = cols.map(_ + ", ").mkString
    val sb = new StringBuilder
    sb ++= s"""fl0$sfx AS (
              |  SELECT ${cl}cnt, ip,
              |    CASE WHEN ip >= 30 THEN cnt >> (ip - 30)
              |         ELSE cnt << (30 - ip) END AS m,
              |    0::bigint AS r
              |  FROM (SELECT ${cl}cnt::bigint AS cnt,
              |          length(bin(cnt::bigint)) - 1 AS ip
              |        FROM $src))""".stripMargin
    (1 to 20).foreach { k =>
      sb ++= s""",
                |fl$k$sfx AS (
                |  SELECT ${cl}cnt, ip,
                |    CASE WHEN mm >= 2147483648 THEN mm >> 1
                |         ELSE mm END AS m,
                |    CASE WHEN mm >= 2147483648 THEN r*2 + 1
                |         ELSE r*2 END AS r
                |  FROM (SELECT ${cl}cnt, ip, (m*m) >> 30 AS mm, r
                |        FROM fl${k - 1}$sfx))""".stripMargin
    }
    sb ++= s""",
              |fl$sfx AS (SELECT ${cl}cnt,
              |  ((ip::bigint * 1048576 + r) * 693147) >> 20 AS s
              |  FROM fl20$sfx)""".stripMargin
    sb.toString
  }

  private def unigramDpChain(vsCte: String, sfx: String): String = {
    val L = UnigramMaxPiece
    val minv = "-4611686018427387904"
    // state slots: b0..b{L-1} = best at positions i, i-1, ...;
    // g0..g{L-1} the matching segmentation strings
    val bCols = (0 until L).map(k => s"b$k")
    val gCols = (0 until L).map(k => s"g$k")
    val seed = s"SELECT w, 0, 0::bigint, " +
      (1 until L).map(_ => "NULL::bigint").mkString(", ") + ", ''," +
      (1 until L).map(_ => " NULL::varchar").mkString(",") + " FROM wl"
    // candidate l consumes a piece of length l ending at position i+1
    val joins = (1 to L).map { l =>
      val guard = if (l > 1) s"r.i >= ${l - 1} AND " else ""
      s"LEFT JOIN $vsCte v$l ON $guard" +
        s"v$l.piece = substr(r.w, r.i + ${2 - l}, $l)"
    }.mkString("\n      ")
    val cands = (1 to L).map(l =>
      s"r.b${l - 1} + v$l.s - t.stot AS c$l").mkString(",\n        ")
    val pExprs = (1 to L).map(l =>
      s"substr(r.w, r.i + ${2 - l}, $l) AS p$l").mkString(", ")
    val gBest = s"greatest(${(1 to L).map(l =>
      s"coalesce(c$l, $minv)").mkString(", ")})"
    val pick = (L to 1 by -1).map(l =>
      s"WHEN c$l IS NOT NULL AND c$l = $gBest THEN $l")
      .mkString("CASE ", "\n           ", " END")
    val newg = (L to 1 by -1).map(l =>
      s"WHEN $l THEN CASE WHEN g${l - 1} = '' THEN p$l " +
        s"ELSE g${l - 1} || ' ' || p$l END").mkString(
      "CASE pick ", "\n      ", " END")
    s"""${fixLogCtes(s"(SELECT sum(cnt)::bigint AS cnt FROM $vsCte)",
          s"_t$sfx", Nil)},
       |tot$sfx AS (SELECT s AS stot FROM fl_t$sfx),
       |rec$sfx(w, i, ${bCols.mkString(", ")}, ${gCols.mkString(", ")})
       |AS (
       |  $seed
       |  UNION ALL
       |  SELECT w, i + 1,
       |    CASE WHEN pick IS NOT NULL THEN nb END,
       |    ${bCols.dropRight(1).mkString(", ")},
       |    $newg,
       |    ${gCols.dropRight(1).mkString(", ")}
       |  FROM (
       |    SELECT *, $gBest AS nb, $pick AS pick
       |    FROM (
       |      SELECT r.w, r.i, ${bCols.map(b => s"r.$b").mkString(", ")},
       |        ${gCols.map(g => s"r.$g").mkString(", ")},
       |        $cands,
       |        $pExprs
       |      FROM rec$sfx r
       |      CROSS JOIN tot$sfx t
       |      $joins
       |      WHERE r.i < length(r.w)))),
       |fin$sfx AS (SELECT w, g0 AS seg FROM rec$sfx
       |  WHERE i = length(w))""".stripMargin
  }

  private lazy val UnigramTokCtes: String = {
    val L = UnigramMaxPiece
    s"""wl AS (
       |  SELECT w, count(*)::bigint AS freq FROM (
       |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+'))
       |      AS w
       |    FROM documents) WHERE w <> '' GROUP BY w),
       |subs AS (
       |  SELECT substr(wl.w, st.st + 1, l.l) AS piece,
       |    sum(wl.freq)::bigint AS cnt
       |  FROM wl
       |  CROSS JOIN range(0, 128) AS st(st)
       |  CROSS JOIN range(1, ${L + 1}) AS l(l)
       |  WHERE st.st + l.l <= length(wl.w)
       |  GROUP BY 1),
       |topv AS (SELECT piece, cnt FROM subs
       |  ORDER BY cnt DESC, piece LIMIT $UnigramVocabSize),
       |vocab AS (
       |  SELECT piece, max(cnt)::bigint AS cnt FROM (
       |    SELECT * FROM topv UNION ALL
       |    SELECT piece, cnt FROM subs WHERE length(piece) = 1)
       |  GROUP BY piece),
       |${fixLogCtes("vocab", "_v", Seq("piece"))},
       |vs AS (SELECT piece, cnt, s FROM fl_v),
       |${unigramDpChain("vs", "_r1")},
       |fin AS (SELECT w, seg FROM fin_r1)""".stripMargin
  }

  /** The mSPRT oracle, shared verbatim by the in-query sequence
    * (`x_msprt_seq`) and the stream-maintained store serve
    * (`x_stream_msprt`) — merged partials re-sum to the one-shot
    * aggregate exactly, so both must land identical bits. */
  private lazy val MsprtOracle: String =
      s"""WITH base AS (
         |  SELECT event_type AS key, cast(ts AS date) AS day,
         |    CASE WHEN ('0x' || substr(md5(user_id::varchar || '#0'),
         |        1, 15))::bigint % 2 = 0 THEN 'a' ELSE 'b' END AS v,
         |    CAST(CAST(value AS decimal(18,2)) * 100 AS bigint) AS c
         |  FROM events),
         |pda AS (
         |  SELECT key, day, v, count(*)::bigint AS n,
         |    sum(c)::bigint AS s,
         |    sum(c::decimal(19,0) * c::decimal(19,0)) AS ss
         |  FROM base GROUP BY 1, 2, 3),
         |wide AS (
         |  SELECT key, day,
         |    coalesce(max(CASE WHEN v = 'a' THEN n END), 0)::bigint
         |      AS dn_a,
         |    coalesce(max(CASE WHEN v = 'b' THEN n END), 0)::bigint
         |      AS dn_b,
         |    coalesce(max(CASE WHEN v = 'a' THEN s END), 0)::bigint
         |      AS ds_a,
         |    coalesce(max(CASE WHEN v = 'b' THEN s END), 0)::bigint
         |      AS ds_b,
         |    coalesce(max(CASE WHEN v = 'a' THEN ss END), 0) AS dss_a,
         |    coalesce(max(CASE WHEN v = 'b' THEN ss END), 0) AS dss_b
         |  FROM pda GROUP BY key, day),
         |cum AS (
         |  SELECT key, day,
         |    (sum(dn_a) OVER w)::bigint AS n_a,
         |    (sum(dn_b) OVER w)::bigint AS n_b,
         |    sum(ds_a) OVER w AS s_a, sum(ds_b) OVER w AS s_b,
         |    sum(dss_a) OVER w AS ss_a, sum(dss_b) OVER w AS ss_b
         |  FROM wide
         |  WINDOW w AS (PARTITION BY key ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |st AS (
         |  SELECT key, day, n_a, n_b,
         |    s_a::double / n_a::double - s_b::double / n_b::double
         |      AS theta,
         |    CASE WHEN n_a >= 2 AND n_b >= 2 THEN
         |      ((ss_a::double - (s_a::double * s_a::double)
         |          / n_a::double) +
         |       (ss_b::double - (s_b::double * s_b::double)
         |          / n_b::double)) / (n_a + n_b - 2)::double
         |    END AS sig2
         |  FROM cum),
         |lm AS (
         |  SELECT key, day, n_a, n_b, theta,
         |    CASE WHEN sig2 IS NOT NULL AND sig2 > 0.0 THEN
         |      sig2 * (1.0 / n_a::double + 1.0 / n_b::double)
         |    END AS vv
         |  FROM st),
         |pi AS (
         |  SELECT key, day, n_a, n_b, theta,
         |    CASE WHEN vv IS NOT NULL THEN least(1.0, 1.0 /
         |      (sqrt(vv / (vv + ${Hypothesis.MsprtTau2})) *
         |       exp((theta * theta * ${Hypothesis.MsprtTau2}) /
         |         ((2.0 * vv) * (vv + ${Hypothesis.MsprtTau2})))))
         |    END AS p_inst_full
         |  FROM lm),
         |pa AS (
         |  SELECT *, coalesce(min(p_inst_full) OVER (
         |    PARTITION BY key ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0)
         |  AS p_always_full
         |  FROM pi)
         |SELECT key, day, n_a, n_b,
         |  CASE WHEN p_inst_full IS NOT NULL
         |    THEN round(theta, 6) END AS theta,
         |  round(p_inst_full, 6) AS p_inst,
         |  round(p_always_full, 6) AS p_always,
         |  p_always_full <= 0.05 AS reject_05
         |FROM pa""".stripMargin

  /** The per-doc unigram encode, shared verbatim by the in-query
    * (`x_unigram_tok_encode`) and stored-vocabulary
    * (`x_unigram_tok_stored`) paths — the store round-trips the exact
    * integer model, so both must land identical fingerprints. */
  private lazy val UnigramEncodeOracle: String =
    s"""WITH RECURSIVE $UnigramTokCtes,
       |dw AS (
       |  SELECT doc_id, ws[i + 1] AS w, i AS pos FROM (
       |    SELECT doc_id, ws, unnest(range(0, len(ws))) AS i
       |    FROM (SELECT doc_id,
       |            string_split_regex(lower(trim(text)), '\\s+') AS ws
       |          FROM documents))
       |  WHERE ws[i + 1] <> ''),
       |enc AS (
       |  SELECT d.doc_id, d.pos,
       |    coalesce(string_split(f.seg, ' '), [d.w]) AS toks
       |  FROM dw d LEFT JOIN fin f ON f.w = d.w)
       |SELECT doc_id, count(*)::bigint AS n_words,
       |  sum(len(toks))::bigint AS n_pieces,
       |  md5(array_to_string(flatten(list(toks ORDER BY pos)), ' '))
       |    AS token_fp
       |FROM enc GROUP BY doc_id""".stripMargin

  /** The hyperplane table is source-independent; [[embedChain]]
    * instantiates the banding→candidates→verified-pairs chain over a
    * given source relation with a CTE-name suffix, so one statement
    * can carry TWO chains (the branch oracle compares the base-subset
    * lineage against the full-corpus lineage). */
  private lazy val EmbedPlanesCte =
    s"""planes AS (
       |  SELECT p, i,
       |    CASE WHEN (('0x' || substr(md5('p' || p::varchar || '#' ||
       |        i::varchar), 1, 15))::bigint & 1) = 1
       |      THEN 1.0 ELSE -1.0 END AS sgn
       |  FROM range(${NearDupBands * NearDupRows}) AS pr(p)
       |  CROSS JOIN range($EmbeddingDim) AS ir(i))""".stripMargin

  private def embedChain(src: String, sfx: String) =
    s"""proj$sfx AS (
       |  SELECT vec_id, p, sum((embedding::DOUBLE[])[i + 1] * sgn) AS proj
       |  FROM $src CROSS JOIN planes GROUP BY vec_id, p),
       |bkeys$sfx AS (
       |  SELECT vec_id, p // $NearDupRows AS band,
       |    sum(CASE WHEN proj > 0
       |          THEN (1::bigint << (p % $NearDupRows)::int)
       |          ELSE 0 END) AS bkey
       |  FROM proj$sfx GROUP BY vec_id, band),
       |cand$sfx AS (
       |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM bkeys$sfx x JOIN bkeys$sfx y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id),
       |epairs$sfx AS MATERIALIZED (
       |  SELECT c.id_a, c.id_b,
       |    round(list_cosine_similarity(a.embedding::DOUBLE[],
       |      b.embedding::DOUBLE[]), 6) AS cos
       |  FROM cand$sfx c
       |  JOIN $src a ON a.vec_id = c.id_a
       |  JOIN $src b ON b.vec_id = c.id_b
       |  WHERE cos >= $CosineThreshold)""".stripMargin

  private lazy val EmbedNearDupCtes =
    s"""$EmbedPlanesCte,
       |${embedChain("embeddings", "")}""".stripMargin

  /** The seeded-hash 50/50 arm split + exact-cents base relation the
    * four hypothesis-test oracles share — mirrors
    * `Hypothesis.variantOf` (seed-0 md5, the x_split_assign form) and
    * the decimal(18,2)·100 cents quantization. */
  private lazy val HypothesisBaseCte =
    """base AS (
      |  SELECT event_type AS key,
      |    CASE WHEN ('0x' || substr(md5(user_id::varchar || '#0'),
      |        1, 15))::bigint % 2 = 0 THEN 'a' ELSE 'b' END AS v,
      |    CAST(CAST(value AS decimal(18,2)) * 100 AS bigint) AS c
      |  FROM events)""".stripMargin

  /** base + per-arm exact stats + pivot — shared by the Welch and MDE
    * oracles. */
  private lazy val HypoWideCtes =
    s"""$HypothesisBaseCte,
       |perarm AS (
       |  SELECT key, v, count(*)::bigint AS n, sum(c)::bigint AS s,
       |    sum(c::decimal(19,0) * c::decimal(19,0)) AS ss
       |  FROM base GROUP BY 1, 2),
       |wide AS (
       |  SELECT key,
       |    max(CASE WHEN v = 'a' THEN n END) AS n_a,
       |    max(CASE WHEN v = 'b' THEN n END) AS n_b,
       |    max(CASE WHEN v = 'a' THEN s END) AS sum_a_cents,
       |    max(CASE WHEN v = 'b' THEN s END) AS sum_b_cents,
       |    max(CASE WHEN v = 'a' THEN ss END) AS ss_a,
       |    max(CASE WHEN v = 'b' THEN ss END) AS ss_b
       |  FROM perarm GROUP BY key)""".stripMargin

  /** Embedding near-dup components from first principles (recursive
    * reach over the banded+verified pair list) — shared by the
    * stored-label serve (`x_embed_dedup_cluster`) and the incremental
    * maintenance exercise (`x_cluster_store`), which must both land on
    * these exact components. */
  private lazy val EmbedClusterOracle =
    s"""WITH RECURSIVE $EmbedNearDupCtes,
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM epairs
       |  UNION ALL SELECT id_b, id_a FROM epairs),
       |reach(v, l) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT e.b, r.l FROM reach r JOIN edges e ON e.a = r.v)
       |SELECT v AS vec_id, min(l) AS cluster_id FROM reach GROUP BY v"""
      .stripMargin

  /** The Louvain-sweep CTE chain (through the per-vertex argmax `r`),
    * shared by the raw-move oracle (`x_community_l1`) and the
    * component-closure oracle (`x_community_merge`). */
  private lazy val CommunitySweepCtes =
    s"""$EmbedNearDupCtes,
       |we AS (
       |  SELECT a, b, max(w)::bigint AS w FROM (
       |    SELECT id_a AS a, id_b AS b,
       |      CAST(CAST(cos AS decimal(18,6)) * 1000000 AS bigint) AS w
       |    FROM epairs)
       |  WHERE a <> b AND w > 0 GROUP BY a, b),
       |wadj AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM we
       |         UNION ALL SELECT b, a, w FROM we),
       |wdeg AS (SELECT src AS v, sum(w)::bigint AS wd
       |         FROM wadj GROUP BY 1),
       |m AS (SELECT sum(w)::hugeint AS m2 FROM wadj),
       |scored AS (
       |  SELECT src, dst,
       |    m2 * w - ks.wd::hugeint * kd.wd AS gain
       |  FROM wadj JOIN wdeg ks ON ks.v = src
       |  JOIN wdeg kd ON kd.v = dst CROSS JOIN m),
       |r AS (SELECT *, row_number() OVER (
       |    PARTITION BY src ORDER BY gain DESC, dst) AS rn
       |  FROM scored)""".stripMargin

  /** The Holt-Winters weekly oracle: the (l, b, s1..s7) recursion as
    * a recursive CTE stepping the per-key day index — the same
    * recursive-CTE dodge as the Holt oracle (DuckDB list_reduce
    * mutates struct accumulators field-by-field), with the weekday
    * slot CASEs generated so the seven columns stay in lockstep with
    * the Spark fold. DuckDB `dayofweek` is 0=Sunday; +1 matches
    * Spark's convention. */
  private lazy val HoltWintersOracle = {
    def sCase(dowExpr: String, pfx: String) = (1 to 7)
      .map(k => s"WHEN $k THEN $pfx.s$k")
      .mkString(s"CASE $dowExpr ", " ", " END")
    val zeros = Seq.fill(8)("0.0::double").mkString(", ")
    val carry = (1 to 7).map(k => s"h.s$k").mkString(", ")
    val slotUpd = (1 to 7).map(k =>
      s"CASE WHEN dow = $k THEN (x - newl + s$k) / 2.0 ELSE s$k END")
      .mkString(",\n         |    ")
    val sOut = (1 to 7).map(k => s"h.s$k AS s$k").mkString(", ")
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type, ts::date AS day,
       |    sum(CAST(CAST(value AS decimal(18,2)) * 100 AS bigint))
       |      ::bigint AS cents
       |  FROM events GROUP BY 1, 2),
       |idx AS (
       |  SELECT event_type,
       |    row_number() OVER (PARTITION BY event_type ORDER BY day)
       |      ::bigint AS rn,
       |    count(*) OVER (PARTITION BY event_type)::bigint AS n_days,
       |    max(day) OVER (PARTITION BY event_type) AS last_day,
       |    cents::double AS x, dayofweek(day) + 1 AS dow
       |  FROM daily),
       |hw(event_type, rn, l, b, s1, s2, s3, s4, s5, s6, s7) AS (
       |  SELECT event_type, rn, x, $zeros FROM idx WHERE rn = 1
       |  UNION ALL
       |  SELECT event_type, rn, newl, (newl - l + b) / 2.0,
       |    $slotUpd
       |  FROM (
       |    SELECT i.event_type, i.rn, i.x, i.dow, h.l, h.b, $carry,
       |      (i.x - ${sCase("i.dow", "h")} + h.l + h.b) / 2.0 AS newl
       |    FROM hw h JOIN idx i
       |      ON i.event_type = h.event_type AND i.rn = h.rn + 1))
       |SELECT i.event_type, i.n_days, i.last_day,
       |  h.l AS level_cents, h.b AS trend_cents, $sOut,
       |  h.l + h.b +
       |    ${sCase("(dayofweek(i.last_day + INTERVAL 1 DAY) + 1)", "h")}
       |    AS forecast_cents
       |FROM hw h JOIN (
       |  SELECT DISTINCT event_type, n_days, last_day FROM idx) i
       |  ON i.event_type = h.event_type AND h.rn = i.n_days""".stripMargin
  }

  /** The CEP packed-window chain — shared by the batch query and
    * the streaming replay (bit-identical outputs by design). Step
    * CTEs are GENERATED from [[FunnelSteps]] (the same constant the
    * Spark query runs on), so changing the pattern re-derives the
    * oracle instead of silently desyncing it — the same discipline as
    * [[PageRankIntOracle]]'s round unrolling. */
  private lazy val CepOracleSql = {
    val stepCtes = (1 until FunnelSteps.size).map { k =>
      s"""v$k AS (SELECT *, CASE WHEN typ = '${FunnelSteps(k)}'
         |    AND p$k IS NOT NULL
         |    THEN rn * 1000000 + p$k % 1000000 END AS v$k
         |  FROM (SELECT *, max(v${k - 1}) OVER (PARTITION BY u ORDER BY rn
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS p$k
         |    FROM v${k - 1}))""".stripMargin
    }.mkString(",\n")
    val last = s"v${FunnelSteps.size - 1}"
    s"""WITH b AS (
       |  SELECT user_id AS u, ts AS t, event_id AS q,
       |    event_type AS typ,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS rn
       |  FROM events),
       |v0 AS (SELECT *, CASE WHEN typ = '${FunnelSteps.head}'
       |    THEN rn * 1000000 + rn END AS v0 FROM b),
       |$stepCtes,
       |m AS (SELECT u, t AS end_ts, q AS end_id, $last % 1000000 AS rn0
       |      FROM $last WHERE $last IS NOT NULL)
       |SELECT m.u AS user_id, st.q AS start_id, st.t AS start_ts,
       |  m.end_id, m.end_ts,
       |  epoch_us(m.end_ts) - epoch_us(st.t) AS dur_us
       |FROM m JOIN b st ON st.u = m.u AND st.rn = m.rn0
       |WHERE epoch_us(m.end_ts) - epoch_us(st.t)
       |  <= $CepWithinSeconds::bigint * 1000000""".stripMargin
  }

  /** Undirected adjacency CTEs over the near-dup `epairs` — shared by
    * the BFS and PageRank oracles (appended after
    * [[EmbedNearDupCtes]]). */
  private lazy val GraphAdjCtes =
    """ge AS (SELECT id_a AS a, id_b AS b FROM epairs),
      |adj AS MATERIALIZED (SELECT a AS src, b AS dst FROM ge
      |        UNION ALL SELECT b, a FROM ge)""".stripMargin

  /** The unweighted integer PageRank oracle: the same five rounds the
    * Spark side runs, unrolled as chained CTEs — floor division and
    * exact integers everywhere, so the scores match bit for bit. */
  private lazy val PageRankIntOracle = {
    val rounds = (1 to PageRankIters).map { i =>
      s"""s$i AS (
         |  SELECT v, (tele + (17 * insum) // 20)::bigint AS score FROM (
         |    SELECT a.dst AS v, sum(s.score // a.d)::bigint AS insum
         |    FROM adjd a JOIN s${i - 1} s ON s.v = a.src GROUP BY a.dst)
         |  CROSS JOIN meta)""".stripMargin
    }.mkString(",\n")
    s"""WITH $EmbedNearDupCtes,
       |$GraphAdjCtes,
       |deg AS (SELECT src AS v, count(*)::bigint AS d
       |        FROM adj GROUP BY 1),
       |meta AS (SELECT count(*)::bigint AS n,
       |  ((3 * $PageRankScale) // (20 * count(*)))::bigint AS tele
       |  FROM deg),
       |adjd AS MATERIALIZED (SELECT adj.src, adj.dst, deg.d
       |         FROM adj JOIN deg ON deg.v = adj.src),
       |s0 AS (SELECT v, ($PageRankScale // n)::bigint AS score
       |       FROM deg CROSS JOIN meta),
       |$rounds
       |SELECT v AS vec_id, score AS score_micro,
       |  score::double / $PageRankScale.0 AS score
       |FROM s$PageRankIters""".stripMargin
  }

  /** The personalized-PageRank oracle: even-id seeds, teleport only
    * onto the seed flag, same unrolled floor-division rounds. */
  private lazy val PageRankSeededOracle = {
    val rounds = (1 to PageRankIters).map { i =>
      s"""s$i AS (
         |  SELECT v, (CASE WHEN is_seed THEN tele ELSE 0 END
         |      + (17 * insum) // 20)::bigint AS score FROM (
         |    SELECT a.dst AS v, sum(s.score // a.d)::bigint AS insum
         |    FROM adjd a JOIN s${i - 1} s ON s.v = a.src GROUP BY a.dst)
         |  JOIN flagged USING (v) CROSS JOIN meta)""".stripMargin
    }.mkString(",\n")
    s"""WITH $EmbedNearDupCtes,
       |$GraphAdjCtes,
       |deg AS (SELECT src AS v, count(*)::bigint AS d
       |        FROM adj GROUP BY 1),
       |flagged AS (SELECT v, v % 2 = 0 AS is_seed FROM deg),
       |meta AS (SELECT count(*)::bigint AS n_s,
       |  ((3 * $PageRankScale) //
       |    (20 * count(*)))::bigint AS tele
       |  FROM flagged WHERE is_seed),
       |adjd AS (SELECT adj.src, adj.dst, deg.d
       |         FROM adj JOIN deg ON deg.v = adj.src),
       |s0 AS (SELECT v, (CASE WHEN is_seed THEN $PageRankScale // n_s
       |         ELSE 0 END)::bigint AS score
       |       FROM flagged CROSS JOIN meta
       |       WHERE n_s > 0),
       |$rounds
       |SELECT v AS vec_id, score AS score_micro,
       |  score::double / $PageRankScale.0 AS score
       |FROM s$PageRankIters""".stripMargin
  }

  /** The k-core oracle: the identical fixed-round peel, UNROLLED from
    * [[KCoreRounds]] — the round count drives both the Spark loop and
    * this CTE chain, so changing it cannot desync them. */
  private lazy val KCoreOracle = {
    val rounds = (1 to KCoreRounds).map { i =>
      s"""d$i AS (SELECT v, count(*)::bigint AS d FROM (
         |  SELECT a AS v FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
         |  GROUP BY v),
         |a$i AS MATERIALIZED (SELECT v FROM d$i WHERE d >= $KCoreK),
         |e$i AS MATERIALIZED (SELECT * FROM e0 WHERE a IN (SELECT v FROM a$i)
         |         AND b IN (SELECT v FROM a$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH $EmbedNearDupCtes,
       |e0 AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM epairs),
       |$rounds,
       |df AS (SELECT v, count(*)::bigint AS d FROM (
       |  SELECT a AS v FROM e$KCoreRounds
       |  UNION ALL SELECT b FROM e$KCoreRounds) GROUP BY v)
       |SELECT v AS vec_id, d AS core_degree FROM df
       |WHERE d >= $KCoreK""".stripMargin
  }

  /** The weighted PageRank oracle: cosine weights ppm-quantized via
    * the same decimal(18,6)·10⁶ form, weighted degree, the identical
    * floor-division rounds at the weighted scale. */
  private lazy val PageRankWeightedOracle = {
    val rounds = (1 to PageRankIters).map { i =>
      s"""s$i AS (
         |  SELECT v, (tele + (17 * insum) // 20)::bigint AS score FROM (
         |    SELECT a.dst AS v,
         |      sum((s.score * a.w) // a.wd)::bigint AS insum
         |    FROM wadjd a JOIN s${i - 1} s ON s.v = a.src GROUP BY a.dst)
         |  CROSS JOIN meta)""".stripMargin
    }.mkString(",\n")
    s"""WITH $EmbedNearDupCtes,
       |we AS (
       |  SELECT a, b, max(w)::bigint AS w FROM (
       |    SELECT id_a AS a, id_b AS b,
       |      CAST(CAST(cos AS decimal(18,6)) * 1000000 AS bigint) AS w
       |    FROM epairs)
       |  WHERE a <> b AND w > 0 GROUP BY a, b),
       |wadj AS (SELECT a AS src, b AS dst, w FROM we
       |         UNION ALL SELECT b, a, w FROM we),
       |wdeg AS (SELECT src AS v, sum(w)::bigint AS wd
       |         FROM wadj GROUP BY 1),
       |meta AS (SELECT count(*)::bigint AS n,
       |  ((3::bigint * $PageRankWScale) // (20 * count(*)))::bigint AS tele
       |  FROM wdeg),
       |wadjd AS MATERIALIZED (SELECT wadj.src, wadj.dst, wadj.w, wdeg.wd
       |          FROM wadj JOIN wdeg ON wdeg.v = wadj.src),
       |s0 AS (SELECT v, ($PageRankWScale::bigint // n)::bigint AS score
       |       FROM wdeg CROSS JOIN meta),
       |$rounds
       |SELECT v AS vec_id, score AS score_micro,
       |  score::double / $PageRankWScale.0 AS score
       |FROM s$PageRankIters""".stripMargin
  }

  /** Exact-Jaccard verification of a `cand (id_a, id_b)` CTE against the
    * capped per-doc shingle arrays — mirrors `Dedup.verifyJaccard`. */
  private val VerifyPairsSql =
    s"""SELECT id_a, id_b, inter, size_a, size_b, jaccard FROM (
       |  SELECT c.id_a, c.id_b,
       |    len(list_intersect(sa.shs, sb.shs))::bigint AS inter,
       |    len(sa.shs)::bigint AS size_a, len(sb.shs)::bigint AS size_b,
       |    len(list_intersect(sa.shs, sb.shs))::double /
       |      (len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)))
       |      AS jaccard
       |  FROM cand c
       |  JOIN sh sa ON c.id_a = sa.doc_id
       |  JOIN sh sb ON c.id_b = sb.doc_id)
       |WHERE jaccard >= $JaccardThreshold""".stripMargin

  private def stop(lang: String): String =
    TextAnalysis.Stopwords.toMap.apply(lang)
      .map(w => s"'$w'").mkString("[", ", ", "]")

  private val LangScores =
    s"""SELECT doc_id,
       |  len(list_intersect(ws, ${stop("en")})) AS s_en,
       |  len(list_intersect(ws, ${stop("es")})) AS s_es,
       |  len(list_intersect(ws, ${stop("de")})) AS s_de,
       |  len(list_intersect(ws, ${stop("fr")})) AS s_fr
       |FROM (SELECT doc_id,
       |        string_split_regex(lower(trim(text)), '\\s+') AS ws
       |      FROM documents)""".stripMargin

  /** Quality-score oracle, reused verbatim by the pipeline query. */
  private lazy val QualitySelect =
    s"""SELECT doc_id,
       |  round((0.25 * least(n_chars / 500.0, 1.0)
       |      + 0.25 * (alpha / greatest(n_chars, 1.0))
       |      + 0.25 * least(s_en / 5.0, 1.0)
       |      + 0.25 * (CASE WHEN n_chars / greatest(n_tokens, 1.0)
       |                  BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.5 END))
       |    * 10000) / 10000.0 AS score
       |FROM (
       |  SELECT doc_id,
       |    length(text)::double AS n_chars,
       |    len(string_split_regex(lower(trim(text)), '\\s+'))::double
       |      AS n_tokens,
       |    length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::double
       |      AS alpha,
       |    len(list_intersect(
       |      string_split_regex(lower(trim(text)), '\\s+'),
       |      ${stop("en")}))::double AS s_en
       |  FROM documents)""".stripMargin

  /** Language-ID oracle, reused verbatim by the pipeline query. */
  private lazy val LangSelect =
    s"""SELECT doc_id,
       |  CASE WHEN best = 0 THEN 'unknown'
       |       WHEN s_en = best THEN 'en'
       |       WHEN s_es = best THEN 'es'
       |       WHEN s_de = best THEN 'de'
       |       ELSE 'fr' END AS lang_pred
       |FROM (SELECT *, greatest(s_en, s_es, s_de, s_fr) AS best
       |      FROM ($LangScores))""".stripMargin

  /** Decontamination CTE chain + final select, shared with the pipeline
    * oracle (5-gram overlap of corpus docs vs the benchmark subset). */
  private lazy val DecontamCtes =
    s"""w5 AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
       |  FROM documents),
       |g5 AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN len(ws) >= $DecontamN THEN
       |      list_transform(range(1, len(ws) - ${DecontamN - 2}),
       |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
       |             ws[i+3] || ' ' || ws[i+4])
       |      ELSE []::varchar[] END) AS shs
       |  FROM w5),
       |ex5 AS (SELECT doc_id, unnest(shs) AS s FROM g5),
       |bench AS (SELECT doc_id AS bench_id, s FROM ex5
       |          WHERE doc_id % $DecontamMod = 0),
       |corp AS (SELECT doc_id, s FROM ex5 WHERE doc_id % $DecontamMod <> 0)"""
      .stripMargin

  private lazy val DecontamSelect =
    """SELECT c.doc_id, count(DISTINCT c.s) AS n_shared,
      |  min(b.bench_id) AS first_bench_id
      |FROM corp c JOIN bench b ON c.s = b.s
      |GROUP BY c.doc_id""".stripMargin

  private def minhashSigSql(numHashes: Int, bands: Int): String = {
    val rows = numHashes / bands
    val mins = (0 until numHashes).map(k =>
      s"min(('0x' || substr(md5(s || '#${k / 2}'), ${1 + (k % 2) * 16}, " +
        s"15))::bigint) AS mh$k")
      .mkString(",\n    ")
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rows).map(r => s"mh${b * rows + r}")
        .mkString(" || ',' || ")
      s"md5($parts) AS band$b"
    }.mkString(",\n    ")
    val buckets = (0 until bands).map(b =>
      s"SELECT id, $b AS band, band$b AS key FROM banded")
      .mkString("\n  UNION ALL\n  ")
    s"""sig AS (
       |  SELECT id,
       |    $mins
       |  FROM ex GROUP BY id),
       |banded AS (
       |  SELECT id,
       |    $bandCols
       |  FROM sig),
       |buckets AS (
       |  $buckets),
       |cand AS (
       |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |  FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.key = y.key AND x.id < y.id)""".stripMargin
  }

  /** Unrolled per-bit replay of [[graft.plans.LayoutKernels.hilbertD]]
    * as chained CTEs `h1..h_ZBits` off `h0(event_id, za, zb, x, y, d)`:
    * each step adds the quadrant digit `(3·rx) xor ry` (written
    * arithmetically: `3rx + ry − 2·rx·ry` — rx, ry ∈ {0,1}) scaled by
    * s², then reflects (`n−1−·`) and swaps the frame exactly as the
    * kernel does, reading rx/ry from the PREVIOUS step's columns. */
  private lazy val HilbertStepCtes: String = {
    val n = 1L << ZBits
    (ZBits - 1 to 0 by -1).zipWithIndex.map { case (b, i) =>
      val s = 1L << b
      s"""h${i + 1} AS (
         |  SELECT event_id, za, zb,
         |    CASE WHEN ((y >> $b) & 1) = 0 THEN
         |      CASE WHEN ((x >> $b) & 1) = 1
         |        THEN ${n - 1} - y ELSE y END
         |    ELSE x END AS x,
         |    CASE WHEN ((y >> $b) & 1) = 0 THEN
         |      CASE WHEN ((x >> $b) & 1) = 1
         |        THEN ${n - 1} - x ELSE x END
         |    ELSE y END AS y,
         |    d + ${s * s} * (3 * ((x >> $b) & 1) + ((y >> $b) & 1)
         |      - 2 * ((x >> $b) & 1) * ((y >> $b) & 1)) AS d
         |  FROM h$i)""".stripMargin
    }.mkString(",\n")
  }

  /** Per-join CTE block of the advisor oracle: exact per-key counts
    * per side, both rebuilt md5 counter matrices, the row-wise dot
    * (LEFT join keeps zero-overlap rows at 0 — the engine's min sees
    * them), and the exact Σ cnt_l·cnt_r. */
  private def cmsJoinOracle(tag: String, leftTbl: String, lKey: String,
      rightTbl: String, rKey: String): String = {
    val l = s"${tag}l"
    val r = s"${tag}r"
    s"""$l AS (SELECT $lKey::varchar AS item, count(*)::bigint AS cnt
       |       FROM $leftTbl WHERE $lKey IS NOT NULL GROUP BY 1),
       |$r AS (SELECT $rKey::varchar AS item, count(*)::bigint AS cnt
       |       FROM $rightTbl WHERE $rKey IS NOT NULL GROUP BY 1),
       |${tag}ba AS (${cmsBucketRows(l, "cnt")}),
       |${tag}ma AS (SELECT r, bucket, sum(w)::bigint AS m
       |             FROM ${tag}ba GROUP BY r, bucket),
       |${tag}bb AS (${cmsBucketRows(r, "cnt")}),
       |${tag}mb AS (SELECT r, bucket, sum(w)::bigint AS m
       |             FROM ${tag}bb GROUP BY r, bucket),
       |${tag}d AS (SELECT a.r, coalesce(sum(a.m * b.m), 0)::bigint
       |              AS dot
       |            FROM ${tag}ma a LEFT JOIN ${tag}mb b
       |              ON a.r = b.r AND a.bucket = b.bucket
       |            GROUP BY a.r),
       |${tag}e AS (SELECT min(dot)::bigint AS est FROM ${tag}d),
       |${tag}x AS (SELECT coalesce(sum(a.cnt * b.cnt), 0)::bigint
       |              AS exact
       |            FROM $l a JOIN $r b USING (item))""".stripMargin
  }

  /** Brute-force dense cosine top-k oracle — shared verbatim by
    * `x_ann_cosine_topk` and (as a subquery) the RRF fusion. */
  private lazy val AnnCosineTopkOracle: String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |  FROM embeddings WHERE vec_id % $QueryMod = 0),
       |c AS (SELECT vec_id AS match_id, embedding::DOUBLE[] AS cv
       |      FROM embeddings),
       |scored AS (
       |  SELECT query_id, match_id,
       |    round(list_cosine_similarity(qv, cv), 6) AS cos
       |  FROM c CROSS JOIN q WHERE query_id <> match_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, match_id) AS rank
       |  FROM scored)
       |SELECT query_id, match_id, cos, rank FROM ranked
       |WHERE rank <= $TopK""".stripMargin

  /** Sparse (bigram-postings) cosine top-k oracle — shared verbatim by
    * `x_sparse_topk` and (as a subquery) the RRF fusion. */
  private lazy val SparseTopkOracle: String =
    s"""WITH ws AS (
       |  SELECT doc_id,
       |    string_split_regex(lower(trim(text)), '\\s+') AS w
       |  FROM documents),
       |post0 AS (
       |  SELECT doc_id, w[i] || ' ' || w[i+1] AS term,
       |    count(*)::bigint AS tf
       |  FROM ws, unnest(range(1, len(w))) AS t(i)
       |  WHERE len(w) >= 2 GROUP BY 1, 2),
       |stats AS (SELECT term, count(*) AS df FROM post0 GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM documents),
       |post AS (
       |  SELECT p.* FROM post0 p JOIN stats s USING (term), nn
       |  WHERE s.df * $SparseDfCap <= nn.n),
       |norms AS (
       |  SELECT doc_id, sum(tf*tf)::bigint AS n2 FROM post
       |  GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS qid, b.doc_id AS nid,
       |    sum(a.tf*b.tf)::bigint AS dot
       |  FROM post a JOIN post b USING (term)
       |  WHERE a.doc_id % $QueryMod = 0 AND b.doc_id <> a.doc_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT p.qid, p.nid, p.dot,
       |    p.dot / (sqrt(na.n2) * sqrt(nb.n2)) AS cosine
       |  FROM pairs p JOIN norms na ON na.doc_id = p.qid
       |    JOIN norms nb ON nb.doc_id = p.nid),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY cosine DESC, nid) AS rk
       |  FROM scored)
       |SELECT qid, nid, rk, dot, cosine FROM r WHERE rk <= $TopK"""
      .stripMargin

  /** UNION-ALL enumeration of the Count-Min rows over `src(item, …)`:
    * for each row r in 0..CmsDepth-1 the md5 bucket of `item` — the
    * exact construction [[graft.plans.CmsSketch.bucket]] computes
    * (15 hex chars per md5 half, two rows per digest), so DuckDB
    * rebuilds the IDENTICAL counter matrix. `weightCol` is the item's
    * exact count (surfaced as `w`). */
  private def cmsBucketRows(src: String, weightCol: String): String =
    (0 until CmsDepth).map(r =>
      s"SELECT item, $weightCol AS w, $r AS r, " +
        s"('0x' || substr(md5(item || '#${r / 2}'), " +
        s"${1 + (r % 2) * 16}, 15))::bigint % $CmsWidth AS bucket " +
        s"FROM $src")
      .mkString("\n  UNION ALL ")

  /** Shared CTE chain of the two Count-Min token audits: exact token
    * frequencies, the rebuilt depth×width counter matrix, and the
    * min-over-rows point estimate per token. */
  private lazy val CmsTokenMatrixSql: String = cmsTokenMatrixSql("TRUE")

  /** The same chain over a doc-filtered corpus — the retraction
    * oracle's form (CMS is linear, so the retracted matrix IS the
    * filtered rebuild). */
  private def cmsTokenMatrixSql(where: String): String =
    s"""WITH tok AS (
       |  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+'))
       |    AS item
       |  FROM documents WHERE $where),
       |tf AS (SELECT item, count(*)::bigint AS exact_cnt FROM tok
       |       WHERE item <> '' GROUP BY item),
       |n AS (SELECT sum(exact_cnt)::bigint AS n_tokens FROM tf),
       |b AS (${cmsBucketRows("tf", "exact_cnt")}),
       |c AS (SELECT r, bucket, sum(w)::bigint AS cnt
       |      FROM b GROUP BY r, bucket),
       |e AS (SELECT item, min(cnt)::bigint AS est
       |      FROM b JOIN c USING (r, bucket) GROUP BY item)""".stripMargin

  /** Side-suffixed variant of [[ShingleCtes]] restricted by `where` —
    * the incremental-dedup oracle builds one chain per side of the
    * corpus/batch split, each with its OWN df cap (matching the Spark
    * side, where the store is capped over the corpus and the arriving
    * batch over itself). */
  private def sideShingleCtes(sfx: String, where: String): String =
    s"""w$sfx AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
       |  FROM documents WHERE $where),
       |sh0$sfx AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN len(ws) >= 3 THEN
       |      list_transform(range(1, len(ws)-1),
       |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
       |      ELSE []::varchar[] END) AS shs
       |  FROM w$sfx),
       |ex0$sfx AS (SELECT doc_id AS id, unnest(shs) AS s FROM sh0$sfx),
       |hot$sfx AS (SELECT s FROM ex0$sfx GROUP BY s
       |        HAVING count(*) > ${Dedup.DefaultMaxShingleDf}),
       |ex$sfx AS (
       |  SELECT ex0$sfx.* FROM ex0$sfx ANTI JOIN hot$sfx USING (s)),
       |sh$sfx AS (SELECT id AS doc_id, list(s) AS shs
       |           FROM ex$sfx GROUP BY id)""".stripMargin

  /** Side-suffixed variant of [[minhashSigSql]]'s sig→banded→buckets
    * chain reading `ex<sfx>`, without the self-join cand step. */
  private def sideSigSql(sfx: String, numHashes: Int,
      bands: Int): String = {
    val rows = numHashes / bands
    val mins = (0 until numHashes).map(k =>
      s"min(('0x' || substr(md5(s || '#${k / 2}'), ${1 + (k % 2) * 16}, " +
        s"15))::bigint) AS mh$k")
      .mkString(",\n    ")
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rows).map(r => s"mh${b * rows + r}")
        .mkString(" || ',' || ")
      s"md5($parts) AS band$b"
    }.mkString(",\n    ")
    val buckets = (0 until bands).map(b =>
      s"SELECT id, $b AS band, band$b AS key FROM banded$sfx")
      .mkString("\n  UNION ALL\n  ")
    s"""sig$sfx AS (
       |  SELECT id,
       |    $mins
       |  FROM ex$sfx GROUP BY id),
       |banded$sfx AS (
       |  SELECT id,
       |    $bandCols
       |  FROM sig$sfx),
       |buckets$sfx AS (
       |  $buckets)""".stripMargin
  }

  /** IVF search CTE chain + final select mirroring
    * `Similarity.ivfTopKWith` against a caller-provided centroid CTE
    * (`cent_id`, `centv DOUBLE[]`); expects a `corp (vec_id, v)` CTE in
    * scope. Shared by the sampled-centroid and Lloyd-refined oracles. */
  private def ivfSearchSql(cents: String): String =
    ivfSearchCtes(cents) +
      s"""
         |SELECT query_id, match_id, cos, rank FROM ranked
         |WHERE rank <= $TopK""".stripMargin

  /** The IVF search chain as a reusable CTE block ending in `ranked`
    * (assignment → nprobe lists → scored → ranked) — shared by the
    * topk oracles and the recall-eval oracle, which needs `ranked` as
    * an input relation rather than a final projection. */
  private def ivfSearchCtes(cents: String): String =
    s"""casg AS (
       |  SELECT vec_id AS match_id, v AS cv, cent_id FROM (
       |    SELECT c.vec_id, c.v, ct.cent_id, row_number() OVER (
       |      PARTITION BY c.vec_id
       |      ORDER BY round(list_cosine_similarity(c.v, ct.centv), 6)
       |        DESC, ct.cent_id) AS rnk
       |    FROM corp c CROSS JOIN $cents ct)
       |  WHERE rnk = 1),
       |qasg AS (
       |  SELECT vec_id AS query_id, v AS qv, cent_id FROM (
       |    SELECT c.vec_id, c.v, ct.cent_id, row_number() OVER (
       |      PARTITION BY c.vec_id
       |      ORDER BY round(list_cosine_similarity(c.v, ct.centv), 6)
       |        DESC, ct.cent_id) AS rnk
       |    FROM corp c CROSS JOIN $cents ct
       |    WHERE c.vec_id % $QueryMod = 0)
       |  WHERE rnk <= $IvfNprobe),
       |scored AS (
       |  SELECT q.query_id, l.match_id,
       |    round(list_cosine_similarity(q.qv, l.cv), 6) AS cos
       |  FROM casg l JOIN qasg q ON l.cent_id = q.cent_id
       |  WHERE q.query_id <> l.match_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, match_id) AS rank
       |  FROM scored)""".stripMargin

  /** Unrolled BPE-training oracle: one CTE stage per merge. Stage r
    * picks the argmax adjacent pair `b{r}` (same tie-break as the
    * Spark TakeOrdered: count desc, then pair text), and — for every
    * stage but the last — rewrites the symbol table via a RECURSIVE
    * merge-first-occurrence-until-fixpoint CTE `m{r}` (provably equal
    * to the kernel's greedy left-to-right pass: the merged pair cannot
    * recur through its own fused token). Non-recursive stages are
    * MATERIALIZED — without the hint DuckDB re-inlines each stage into
    * every later one and the chain goes exponential (11 s → 0.2 s at
    * sf0.01). If the vocabulary exhausts before rank n (`b{r}` empty),
    * stage r LEFT-JOIN-carries `s{r-1}` forward unchanged — matching
    * `bpeTrainLoop`'s keep-last-vocab exhaustion behavior — instead of
    * cross-join-emptying every later stage (and with it `token_fp`). */
  private def bpeTrainSql(n: Int): String =
    bpeStagesSql(n, withFinalVocab = false) + "\n" + bpeMergeSelect(n)

  /** The merge-list projection over a (possibly suffixed) stage chain. */
  private def bpeMergeSelect(n: Int, sfx: String = ""): String =
    (1 to n)
      .map(r => s"""SELECT $r AS merge_rank, l AS "left", r AS "right",
                   |  cnt FROM b$r$sfx""".stripMargin)
      .mkString("\nUNION ALL\n")

  private def bpeStagesSql(n: Int, withFinalVocab: Boolean): String =
    "WITH RECURSIVE " + bpeStagesBody(n, withFinalVocab)

  /** The BPE training CTE chain WITHOUT the `WITH RECURSIVE` prefix,
    * parameterized on a seed-corpus predicate and a CTE-name suffix so
    * TWO chains (e.g. full corpus vs takedown-filtered) can share one
    * statement — the branch-retrain oracle's shape. */
  private def bpeStagesBody(n: Int, withFinalVocab: Boolean,
      where: String = "", sfx: String = ""): String = {
    val seed =
      s"""wf$sfx AS MATERIALIZED (
        |  SELECT w, count(*)::bigint AS freq FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+'))
        |      AS w
        |    FROM documents$where)
        |  WHERE w <> '' AND length(w) >= 2 GROUP BY w),
        |s0$sfx AS MATERIALIZED (
        |  SELECT w, freq,
        |    list_transform(range(1, len(w) + 1), i -> w[i]) AS syms
        |  FROM wf$sfx)""".stripMargin
    val stages = (1 to n).map { r =>
      val argmax =
        s"""p$r$sfx AS MATERIALIZED (
           |  SELECT syms[i] AS l, syms[i + 1] AS r,
           |    sum(freq)::bigint AS cnt
           |  FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i
           |        FROM s${r - 1}$sfx)
           |  GROUP BY 1, 2),
           |b$r$sfx AS MATERIALIZED (
           |  SELECT l, r, cnt FROM p$r$sfx ORDER BY cnt DESC, l, r LIMIT 1)"""
          .stripMargin
      val rewrite =
        s"""m$r$sfx AS (
           |  SELECT w, freq, syms FROM s${r - 1}$sfx
           |  UNION ALL
           |  SELECT w, freq,
           |    syms[1:idx - 1] || [syms[idx] || syms[idx + 1]]
           |      || syms[idx + 2:]
           |  FROM (
           |    SELECT m.w, m.freq, m.syms,
           |      list_filter(range(1, len(m.syms)),
           |        i -> m.syms[i] = b.l AND m.syms[i + 1] = b.r)[1] AS idx
           |    FROM m$r$sfx m, b$r$sfx b)
           |  WHERE idx IS NOT NULL),
           |s$r$sfx AS MATERIALIZED (
           |  SELECT m.w, m.freq, m.syms
           |  FROM m$r$sfx m LEFT JOIN b$r$sfx b ON true
           |  WHERE b.l IS NULL OR list_filter(range(1, len(m.syms)),
           |    i -> m.syms[i] = b.l AND m.syms[i + 1] = b.r)[1] IS NULL)"""
          .stripMargin
      if (r < n || withFinalVocab) s"$argmax,\n$rewrite" else argmax
    }
    (seed +: stages).mkString(",\n")
  }

  /** Spherical-Lloyd refinement CTE chain mirroring
    * `Similarity.lloydRefineCentroids`: seed sample → per-iteration
    * (argmax assign → decimal-sum per-dim means → decimal normalizer →
    * round-6 unit centroids). Ends in `lcents<iters>`; expects `corp`
    * in scope. */
  private def lloydCentsSql(iters: Int): String = {
    val seed =
      s"""lcents0 AS (
         |  SELECT vec_id AS cent_id, embedding::DOUBLE[] AS centv
         |  FROM embeddings WHERE vec_id % $IvfCentroidMod = 0)"""
        .stripMargin
    val steps = (1 to iters).map { t =>
      s"""lasg$t AS (
         |  SELECT vec_id, v, cent_id FROM (
         |    SELECT c.vec_id, c.v, ct.cent_id, row_number() OVER (
         |      PARTITION BY c.vec_id
         |      ORDER BY round(list_cosine_similarity(c.v, ct.centv), 6)
         |        DESC, ct.cent_id) AS rnk
         |    FROM corp c CROSS JOIN lcents${t - 1} ct)
         |  WHERE rnk = 1),
         |ldims$t AS (
         |  SELECT cent_id, i,
         |    round((sum(x::decimal(38,18)))::double / count(*), 6) AS mean
         |  FROM (SELECT cent_id, unnest(v) AS x,
         |          unnest(range(len(v))) AS i
         |        FROM lasg$t)
         |  GROUP BY cent_id, i),
         |lnorm$t AS (
         |  SELECT cent_id,
         |    sqrt((sum((mean*mean)::decimal(38,18)))::double) AS nrm
         |  FROM ldims$t GROUP BY cent_id),
         |lcents$t AS (
         |  SELECT d.cent_id, list(round(d.mean / n.nrm, 6) ORDER BY d.i)
         |    AS centv
         |  FROM ldims$t d JOIN lnorm$t n USING (cent_id)
         |  GROUP BY d.cent_id)""".stripMargin
    }
    (seed +: steps).mkString(",\n")
  }

  /** Residual-IVFPQ oracle CTE chain mirroring
    * `Similarity.buildIvfPqIndex` + `ivfPqSearch`, ending in `ranked`
    * (query_id, match_id, cos, rank). Shared by `x_ann_ivfpq_topk`,
    * `x_ann_ivfpq_read` (the persisted list-partitioned index replays
    * bit-identically: the build is deterministic and doubles
    * round-trip parquet exactly) and `x_knn_ann_label` (majority vote
    * over the same ranked top-k). */
  private def ivfPqRankedCtes(centSample: String,
      cbSample: String, encFilter: String = ""): String = {
      val mm = PqSubspaces
      val qPiv = (0 until mm).map(j =>
        s"sum(CASE WHEN l.j = $j THEN l.qdot END) AS q$j")
        .mkString(",\n    ")
      val cPiv = (0 until mm).map(j =>
        s"sum(CASE WHEN e.j = $j THEN e.cn2 END) AS c$j")
        .mkString(",\n    ")
      val xPiv = (0 until mm).map(j =>
        s"sum(CASE WHEN cr.j = $j THEN cr.crossv END) AS x$j")
        .mkString(",\n    ")
      val qn = (0 until mm).map(j => s"q$j").mkString(" + ")
      val cn = (0 until mm).map(j => s"c$j").mkString(" + ")
      val xn = (0 until mm).map(j => s"x$j").mkString(" + ")
      s"""corp AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |u AS (
         |  SELECT vec_id,
         |    list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
         |      AS uv
         |  FROM corp),
         |cents AS (
         |  SELECT vec_id AS cent_id, uv AS centv FROM u
         |  WHERE vec_id % $IvfCentroidMod = 0$centSample),
         |asg AS (
         |  SELECT vec_id AS match_id, uv, cent_id, centv FROM (
         |    SELECT c.vec_id, c.uv, ct.cent_id, ct.centv, row_number()
         |      OVER (PARTITION BY c.vec_id
         |        ORDER BY round(list_dot_product(c.uv, ct.centv), 6)
         |          DESC, ct.cent_id) AS rnk
         |    FROM u c CROSS JOIN cents ct)
         |  WHERE rnk = 1),
         |res AS (
         |  SELECT match_id, cent_id,
         |    list_transform(range(1, len(uv) + 1),
         |      i -> uv[i] - centv[i]) AS rv
         |  FROM asg),
         |rsub AS (
         |  SELECT match_id, cent_id, j,
         |    list_slice(rv, j * $PqSub + 1, j * $PqSub + $PqSub) AS s
         |  FROM res CROSS JOIN range($PqSubspaces) AS jr(j)),
         |cb AS (
         |  SELECT j, match_id AS code_id, s AS subc,
         |    list_dot_product(s, s) AS cn2
         |  FROM rsub WHERE match_id % $PqCentroidMod = 0$cbSample),
         |enc AS (
         |  SELECT match_id, j, code, cn2 FROM (
         |    SELECT rs.match_id, rs.j, cb.code_id AS code, cb.cn2,
         |      row_number() OVER (PARTITION BY rs.match_id, rs.j
         |        ORDER BY round(list_dot_product(rs.s, rs.s)
         |          - 2.0 * list_dot_product(rs.s, cb.subc) + cb.cn2, 6),
         |        cb.code_id) AS rnk
         |    FROM rsub rs JOIN cb ON rs.j = cb.j)
         |  WHERE rnk = 1),
         |q AS (SELECT vec_id AS query_id, uv AS qv FROM u
         |      WHERE vec_id % $QueryMod = 0),
         |qc AS (
         |  SELECT q.query_id, ct.cent_id,
         |    list_dot_product(q.qv, ct.centv) AS qcdot
         |  FROM q CROSS JOIN cents ct),
         |probes AS (
         |  SELECT query_id, cent_id, qcdot FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY round(qcdot, 6) DESC, cent_id) AS rnk
         |    FROM qc)
         |  WHERE rnk <= $IvfNprobe),
         |lut AS (
         |  SELECT q.query_id, cb.j, cb.code_id AS code,
         |    list_dot_product(
         |      list_slice(q.qv, cb.j * $PqSub + 1, cb.j * $PqSub + $PqSub),
         |      cb.subc) AS qdot
         |  FROM q CROSS JOIN cb),
         |crossr AS (
         |  SELECT ct.cent_id, cb.j, cb.code_id AS code,
         |    list_dot_product(
         |      list_slice(ct.centv,
         |        cb.j * $PqSub + 1, cb.j * $PqSub + $PqSub),
         |      cb.subc) AS crossv
         |  FROM cents ct CROSS JOIN cb),
         |adc AS (
         |  SELECT p.query_id, e.match_id,
         |    $qPiv,
         |    $cPiv,
         |    $xPiv,
         |    max(p.qcdot) AS qcdot
         |  FROM enc e
         |  JOIN asg a ON e.match_id = a.match_id
         |  JOIN probes p ON a.cent_id = p.cent_id
         |  JOIN crossr cr ON a.cent_id = cr.cent_id AND e.j = cr.j
         |    AND e.code = cr.code
         |  JOIN lut l ON p.query_id = l.query_id AND e.j = l.j
         |    AND e.code = l.code
         |  WHERE p.query_id <> e.match_id$encFilter
         |  GROUP BY p.query_id, e.match_id),
         |scored AS (
         |  SELECT query_id, match_id,
         |    round((qcdot + ($qn)) /
         |      sqrt(1.0 + 2.0 * ($xn) + ($cn)), 6) AS approx
         |  FROM adc),
         |short AS (
         |  SELECT query_id, match_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY approx DESC, match_id) AS srnk
         |    FROM scored)
         |  WHERE srnk <= ${3 * TopK}),
         |exact AS (
         |  SELECT s.query_id, s.match_id,
         |    round(list_cosine_similarity(q.qv, c.v), 6) AS cos
         |  FROM short s JOIN q USING (query_id)
         |  JOIN corp c ON s.match_id = c.vec_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, match_id) AS rank
         |  FROM exact)""".stripMargin
  }

  private val IvfPqRankedCtes: String = ivfPqRankedCtes("", "")

  /** The delete scenario: the index was built over the FULL corpus
    * (samples unrestricted), then the tombstoned ids vanish from the
    * CANDIDATE side only — queries and the exact re-rank corpus are
    * untouched. */
  private val IvfPqDeleteRankedCtes: String = ivfPqRankedCtes("", "",
    s" AND e.match_id % $DeleteMod <> $DeleteRem")

  /** The append scenario: centroid and codebook SAMPLES come only from
    * the base corpus (the holdout batch arrived after the build and was
    * encoded against frozen metadata), while assignments/codes cover
    * every vector — encoding base rows at build time and holdout rows
    * at append time against the same metadata is one and the same
    * computation. */
  private val IvfPqAppendRankedCtes: String = ivfPqRankedCtes(
    s" AND vec_id % $AppendHoldoutMod <> ${AppendHoldoutMod - 1}",
    s" AND match_id % $AppendHoldoutMod <> ${AppendHoldoutMod - 1}")

  private val IvfPqOracle: String =
    s"""WITH $IvfPqRankedCtes,
       |topk AS (SELECT query_id, match_id, cos, rank FROM ranked
       |         WHERE rank <= $TopK)
       |SELECT query_id, match_id, cos, rank FROM topk""".stripMargin

  private val KnnAnnOracle: String =
    s"""WITH $IvfPqRankedCtes,
       |ql AS (
       |  SELECT vec_id AS query_id, label FROM embeddings
       |  WHERE vec_id % $QueryMod = 0),
       |topk AS (
       |  SELECT query_id, match_id FROM ranked WHERE rank <= $TopK),
       |nbr AS (
       |  SELECT t.query_id, e.label AS nbr_label
       |  FROM topk t JOIN embeddings e ON t.match_id = e.vec_id),
       |votes AS (
       |  SELECT query_id, nbr_label, count(*) AS votes
       |  FROM nbr GROUP BY query_id, nbr_label),
       |pred AS (
       |  SELECT query_id, nbr_label AS pred_label, votes FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY votes DESC, nbr_label) AS rnk
       |    FROM votes)
       |  WHERE rnk = 1),
       |agree AS (
       |  SELECT v.query_id, v.votes AS n_agree
       |  FROM votes v JOIN ql ON v.query_id = ql.query_id
       |    AND v.nbr_label = ql.label)
       |SELECT p.query_id, ql.label, p.pred_label, p.votes,
       |  coalesce(a.n_agree, 0) AS n_agree
       |FROM pred p JOIN ql ON p.query_id = ql.query_id
       |LEFT JOIN agree a ON p.query_id = a.query_id""".stripMargin

  /** One span-scrub pass as a reusable CTE block over `inRel(doc_id,
    * text)`, ending in `out{p}(doc_id, clean_text, n_spans,
    * n_removed)` — mirrors `Dedup.scrubRepeatedSpans` including its
    * `offset` grid shift (offset > 0: an offset-word head span, then
    * width-word spans). Shared by the single-pass and phased oracles
    * so both replay the exact same segmentation arithmetic. */
  private def scrubSpansCtes(inRel: String, p: String, width: Int,
      offset: Int, maxDf: Int): String = {
    val segs =
      if (offset == 0)
        s"""unnest(list_transform(
           |      range(0, cast(ceil(len(ws) / $width.0) AS int)),
           |      i -> {'pos': i,
           |            'seg': array_to_string(
           |              list_slice(ws, i*$width+1, i*$width+$width),
           |              ' ')})) AS u""".stripMargin
      else
        s"""unnest(list_transform(
           |      range(0, CASE WHEN len(ws) = 0 THEN 0
           |        ELSE 1 + greatest(cast(ceil(
           |          (len(ws) - $offset) / $width.0) AS int), 0) END),
           |      i -> {'pos': i,
           |            'seg': array_to_string(
           |              CASE WHEN i = 0 THEN list_slice(ws, 1, $offset)
           |                ELSE list_slice(ws,
           |                  i*$width + $offset - $width + 1,
           |                  i*$width + $offset) END, ' ')})) AS u"""
          .stripMargin
    s"""w$p AS (
       |  SELECT doc_id,
       |    CASE WHEN trim(text) = '' THEN []::varchar[]
       |         ELSE string_split_regex(trim(text), '\\s+') END AS ws
       |  FROM $inRel),
       |sp$p AS (
       |  SELECT doc_id,
       |    $segs
       |  FROM w$p),
       |s$p AS (SELECT doc_id, u.pos AS pos, u.seg AS seg FROM sp$p),
       |hotsp$p AS (SELECT seg FROM s$p
       |          WHERE len(string_split(seg, ' ')) = $width
       |          GROUP BY seg
       |          HAVING count(DISTINCT doc_id) > $maxDf),
       |kept$p AS (SELECT s.* FROM s$p s ANTI JOIN hotsp$p USING (seg)),
       |reb$p AS (
       |  SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS clean_text,
       |    count(*)::bigint AS n_kept
       |  FROM kept$p GROUP BY doc_id),
       |tot$p AS (SELECT doc_id, count(*)::bigint AS n_spans
       |        FROM s$p GROUP BY doc_id),
       |out$p AS (
       |  SELECT w$p.doc_id, coalesce(reb$p.clean_text, '') AS clean_text,
       |    coalesce(tot$p.n_spans, 0)::bigint AS n_spans,
       |    (coalesce(tot$p.n_spans, 0) - coalesce(reb$p.n_kept, 0))::bigint
       |      AS n_removed
       |  FROM w$p LEFT JOIN tot$p USING (doc_id)
       |  LEFT JOIN reb$p USING (doc_id))""".stripMargin
  }

  /** Shared by `x_bigram_xent` (model derived in-query) and
    * `x_bigram_xent_stored` (model from the persisted
    * [[graft.sources.LmStore]]): same codegen'd 2-shingle occurrence
    * stream, same add-0.5 conditional model, same decimal-summed
    * mean. */
  private val BigramXentOracle: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\s+') AS ws
      |  FROM documents),
      |occ AS (
      |  SELECT doc_id, unnest(CASE WHEN len(ws) >= 2 THEN
      |    list_transform(range(1, len(ws)),
      |      i -> ws[i] || ' ' || ws[i+1])
      |    ELSE []::varchar[] END) AS bg
      |  FROM w),
      |btf AS (SELECT doc_id AS id, bg, count(*) AS tf
      |        FROM occ GROUP BY 1, 2),
      |bcnt AS (SELECT bg, sum(tf)::bigint AS bcnt FROM btf GROUP BY bg),
      |toks AS (SELECT unnest(ws) AS term FROM w),
      |uni AS (SELECT term, count(*)::bigint AS ucnt FROM toks
      |        WHERE term <> '' GROUP BY term),
      |v AS (SELECT count(*)::double AS v FROM uni)
      |SELECT id AS doc_id, sum(tf)::bigint AS n_big,
      |  round(sum((tf * ln((ucnt + 0.5 * v.v) / (bcnt + 0.5)))
      |      ::decimal(38,18))::double / sum(tf), 4) AS xent2
      |FROM btf t
      |JOIN bcnt b USING (bg)
      |JOIN uni u ON string_split(t.bg, ' ')[1] = u.term
      |CROSS JOIN v
      |GROUP BY id""".stripMargin

  /** Shared by `x_bpe_encode` (vocab trained in-query) and
    * `x_bpe_encode_stored` (vocab from the persisted
    * [[graft.sources.TokenizerStore]]): the trained stages produce the
    * final vocab `s{N}`; docs explode words with position, left-join
    * the vocab (OOV = the word itself), and the fingerprint reassembles
    * the token stream in document order. (Concatenated, NOT
    * interpolated into the stripMargin literal — the outer stripMargin
    * would re-strip the helper's embedded `||`-continuation lines into
    * syntax errors.) */
  private lazy val BpeEncodeOracle: String =
    bpeStagesSql(BpeTrainMerges, withFinalVocab = true) + ",\n" +
      s"""dw AS MATERIALIZED (
         |  SELECT doc_id, ws[i + 1] AS w, i AS pos FROM (
         |    SELECT doc_id, ws, unnest(range(0, len(ws))) AS i
         |    FROM (SELECT doc_id,
         |            string_split_regex(lower(trim(text)), '\\s+') AS ws
         |          FROM documents))
         |  WHERE ws[i + 1] <> ''),
         |enc AS (
         |  SELECT d.doc_id, d.pos, coalesce(s.syms, [d.w]) AS toks
         |  FROM dw d LEFT JOIN s$BpeTrainMerges s ON d.w = s.w)
         |SELECT doc_id, count(*)::bigint AS n_words,
         |  sum(len(toks))::bigint AS n_subwords,
         |  md5(array_to_string(flatten(list(toks ORDER BY pos)), ' '))
         |    AS token_fp
         |FROM enc GROUP BY doc_id""".stripMargin

  /** Shared by `x_dedup_cluster` (adaptive union-find front end) and
    * `x_dedup_cluster_dist` (forced log-round distributed propagation):
    * one transitive-closure oracle, two implementation rungs. */
  private lazy val DedupClusterOracle: String =
    s"""WITH RECURSIVE $ShingleCtes,
       |${minhashSigSql(8, 4)},
       |vp AS ($VerifyPairsSql),
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM vp
       |  UNION ALL SELECT id_b, id_a FROM vp),
       |reach(v, l) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.b, r.l FROM reach r JOIN edges e ON e.a = r.v)
       |SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v"""
      .stripMargin

  /** Order-independent 60-bit md5 BIT_XOR fold — the takedown
    * oracles' reduction, mirroring `takedownSummary`'s `h60` xor
    * exactly. BIGINT on purpose (see the summ comment there): the
    * old decimal(38,0) sum was the only decimal output column in the
    * query surface and exactly its nine carriers were driver-red. */
  private def tdH(x: String): String =
    s"bit_xor(('0x' || substr(md5($x), 1, 15))::bigint)"

  /** One summary SELECT per rendered key column plus a '*' full-key
    * row, mirroring the Spark side's per-column diagnosable shape:
    * (rel, col, n_rows, hashx, vmin, vmax). `cols` pairs the Spark
    * column name with the DuckDB varchar rendering of that column. */
  private def tdSumm(rel: String, from: String,
      cols: Seq[(String, String)]): String = {
    val all = cols :+ ("*" -> cols.map(_._2).mkString(" || '|' || "))
    all.map { case (n, e) =>
      s"""SELECT '$rel' AS rel, '$n' AS col,
         |  count(*)::bigint AS n_rows, ${tdH(e)} AS hashx,
         |  min($e) AS vmin, max($e) AS vmax FROM $from""".stripMargin
    }.mkString("\nUNION ALL ")
  }

  /** Per-store CTE blocks of the takedown oracle: every relation
    * rebuilt FROM THE FILTERED INPUTS from first principles — fp
    * chains over the corpus side filtered to survivors, edge chains
    * over the full corpus with removed endpoints dropped, labels
    * re-derived as components of the surviving pairs (a removed
    * bridge splits), the rollup recomputed over surviving facts, the
    * ANN top-k with tombstoned candidates gone, the LM counts and the
    * BPE merge list retrained over the surviving documents. Keyed by
    * store family so each split oracle carries ONLY its own chains
    * (`takedownOracle`) — the full query unions all of them. */
  private lazy val tdCtesOf: Map[String, String] = Map(
    "fp" ->
      s"""${sideShingleCtes("c", s"doc_id % $IncrBatchMod <> 0")},
         |${sideSigSql("c", 8, 4)},
         |fpb AS (SELECT id, band, key FROM bucketsc
         |        WHERE id % $DeleteMod <> $DeleteRem),
         |fpa AS (SELECT id, s FROM exc
         |        WHERE id % $DeleteMod <> $DeleteRem)""".stripMargin,
    "edges" ->
      s"""$EmbedPlanesCte,
         |${embedChain("embeddings", "")},
         |epf AS (SELECT id_a, id_b, cos FROM epairs
         |        WHERE id_a % $DeleteMod <> $DeleteRem
         |          AND id_b % $DeleteMod <> $DeleteRem),
         |ebf AS (SELECT vec_id AS id, band, bkey::bigint AS bkey
         |        FROM bkeys WHERE vec_id % $DeleteMod <> $DeleteRem),
         |ledges AS (SELECT id_a AS a, id_b AS b FROM epf
         |           UNION ALL SELECT id_b, id_a FROM epf),
         |lreach(v, l) AS (
         |  SELECT a, a FROM ledges
         |  UNION
         |  SELECT e.b, r.l FROM lreach r JOIN ledges e ON e.a = r.v),
         |elab AS (SELECT v AS id, min(l) AS label FROM lreach
         |         GROUP BY v)""".stripMargin,
    "ann" ->
      s"""$IvfPqDeleteRankedCtes,
         |atk AS (SELECT query_id, match_id, cos, rank FROM ranked
         |        WHERE rank <= $TopK)""".stripMargin,
    "agg" ->
      s"""agf AS (
         |  SELECT cast(ts AS date) AS day, event_type,
         |    count(*)::bigint AS cnt,
         |    sum(cast(value AS decimal(18,2)))::decimal(28,2) AS total
         |  FROM events WHERE event_id % $DeleteMod <> $DeleteRem
         |  GROUP BY 1, 2)""".stripMargin,
    "lm" ->
      s"""lmw AS (
         |  SELECT string_split_regex(lower(trim(text)), '\\s+') AS ws
         |  FROM documents WHERE doc_id % $DeleteMod <> $DeleteRem),
         |lmuni AS (
         |  SELECT term, count(*)::bigint AS ucnt FROM (
         |    SELECT unnest(ws) AS term FROM lmw)
         |  WHERE term <> '' GROUP BY term),
         |lmbig AS (
         |  SELECT bg, count(*)::bigint AS bcnt FROM (
         |    SELECT unnest(CASE WHEN len(ws) >= 2 THEN
         |      list_transform(range(1, len(ws)),
         |        i -> ws[i] || ' ' || ws[i+1])
         |      ELSE []::varchar[] END) AS bg
         |    FROM lmw)
         |  GROUP BY bg)""".stripMargin,
    "tok" -> bpeStagesBody(BpeTrainMerges, withFinalVocab = false,
      where = s" WHERE doc_id % $DeleteMod <> $DeleteRem", sfx = "f"),
    "layout" ->
      s"""lg AS (
         |  SELECT event_id, user_id % ${1L << ZBits} AS za,
         |    event_id % ${1L << ZBits} AS zb
         |  FROM events WHERE event_id % $DeleteMod <> $DeleteRem),
         |h0 AS (
         |  SELECT event_id, za, zb, za AS x, zb AS y, 0::bigint AS d
         |  FROM lg),
         |$HilbertStepCtes,
         |zl AS (
         |  SELECT event_id,
         |    list_sum(list_transform(range(0, $ZBits), i ->
         |      (((za >> i) & 1) << (2*i + 1)) +
         |      (((zb >> i) & 1) << (2*i))))::bigint AS zval
         |  FROM lg)""".stripMargin,
    "scd2" ->
      s"""sordered AS (
         |  SELECT user_id, ts, event_type, event_id,
         |    lag(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS prev_type
         |  FROM events WHERE user_id % $DeleteMod <> $DeleteRem),
         |schanges AS (
         |  SELECT user_id, event_type, ts AS valid_from FROM sordered
         |  WHERE prev_type IS NULL OR prev_type <> event_type),
         |sscd2 AS (
         |  SELECT user_id, event_type, valid_from,
         |    lead(valid_from) OVER (PARTITION BY user_id
         |      ORDER BY valid_from) AS valid_to
         |  FROM schanges)""".stripMargin)

  /** Per-relation summary selects of the takedown oracle, each fully
    * aliased so any slice can lead its UNION. Column names and
    * varchar renderings pair 1:1 with `takedownSummary`'s specs. */
  private lazy val tdSelects: Map[String, String] = Map(
    "fp_buckets" -> tdSumm("fp_buckets", "fpb",
      Seq("id" -> "id::varchar", "band" -> "band::varchar",
        "key" -> "key")),
    "fp_arrays" -> tdSumm("fp_arrays", "fpa",
      Seq("id" -> "id::varchar", "sh" -> "s::varchar")),
    "edge_pairs" -> tdSumm("edge_pairs", "epf",
      Seq("id_a" -> "id_a::varchar", "id_b" -> "id_b::varchar",
        "cos_ppm" ->
          "(cast(cos AS decimal(18,6)) * 1000000)::bigint::varchar")),
    "edge_bands" -> tdSumm("edge_bands", "ebf",
      Seq("id" -> "id::varchar", "band" -> "band::varchar",
        "bkey" -> "bkey::varchar")),
    "edge_labels" -> tdSumm("edge_labels", "elab",
      Seq("id" -> "id::varchar", "label" -> "label::varchar")),
    "agg_rollup" -> tdSumm("agg_rollup", "agf",
      Seq("day" -> "day::varchar", "event_type" -> "event_type",
        "cnt" -> "cnt::varchar",
        "total_c" -> "((total * 100)::bigint)::varchar")),
    "ann_topk" -> tdSumm("ann_topk", "atk",
      Seq("query_id" -> "query_id::varchar",
        "match_id" -> "match_id::varchar", "rank" -> "rank::varchar",
        "cos_ppm" ->
          "(cast(cos AS decimal(18,6)) * 1000000)::bigint::varchar")),
    "lm_unigrams" -> tdSumm("lm_unigrams", "lmuni",
      Seq("term" -> "term", "ucnt" -> "ucnt::varchar")),
    "lm_bigrams" -> tdSumm("lm_bigrams", "lmbig",
      Seq("bg" -> "bg", "bcnt" -> "bcnt::varchar")),
    "tok_merges" -> tdSumm("tok_merges",
      s"(${bpeMergeSelect(BpeTrainMerges, "f")})",
      Seq("merge_rank" -> "merge_rank::varchar",
        "left" -> "\"left\"", "right" -> "\"right\"",
        "cnt" -> "cnt::varchar")),
    "hilb_rows" -> tdSumm("hilb_rows", s"h$ZBits",
      Seq("event_id" -> "event_id::varchar", "hval" -> "d::varchar")),
    "zorder_rows" -> tdSumm("zorder_rows", "zl",
      Seq("event_id" -> "event_id::varchar",
        "zval" -> "zval::varchar")),
    "scd2_rows" -> tdSumm("scd2_rows", "sscd2",
      Seq("user_id" -> "user_id::varchar",
        "event_type" -> "event_type",
        "vf_us" -> "epoch_us(valid_from)::varchar",
        "vt_us" -> "coalesce(epoch_us(valid_to), -1)::varchar")))

  /** Assemble the takedown oracle for a subset of store families:
    * only their CTE chains, only their relations' summary rows. */
  private def takedownOracle(keys: Seq[String]): String =
    "WITH RECURSIVE " + keys.map(tdCtesOf).mkString(",\n") + "\n" +
      keys.flatMap(TakedownRelsOf).map(tdSelects)
        .mkString("\nUNION ALL ")

  /** The derived-geometry banded LSH chain (mirrors
    * `Similarity.nearDupPairsLsh`'s DEFAULT geometry — see the
    * x_embed_near_dup oracle comment). Ends in `epairs`. */
  private lazy val EmbedNearDupAutoCtes: String =
    s"""geo AS (
         |  SELECT n,
         |    (SELECT min(r)::int FROM range(6, 17) t(r)
         |     WHERE (${Similarity.LshTargetOccupancy}::bigint
         |              << r::int) >= n OR r = 16) AS rpb
         |  FROM (SELECT count(*)::bigint AS n FROM embeddings)),
         |pidx AS (
         |  SELECT p FROM geo, range(${32 * 16}) pr(p)
         |  WHERE p < 32 * rpb),
         |planes AS (
         |  SELECT p, i,
         |    CASE WHEN (('0x' || substr(md5('p' || p::varchar || '#' ||
         |        i::varchar), 1, 15))::bigint & 1) = 1
         |      THEN 1.0 ELSE -1.0 END AS sgn
         |  FROM pidx CROSS JOIN range($EmbeddingDim) ir(i)),
         |proj AS (
         |  SELECT vec_id, p, sum((embedding::DOUBLE[])[i + 1] * sgn)
         |    AS proj
         |  FROM embeddings CROSS JOIN planes GROUP BY vec_id, p),
         |bkeys AS (
         |  SELECT vec_id, p // (SELECT rpb FROM geo) AS band,
         |    sum(CASE WHEN proj > 0
         |          THEN (1::bigint << (p % (SELECT rpb FROM geo))::int)
         |          ELSE 0 END) AS bkey
         |  FROM proj GROUP BY vec_id, band),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM bkeys x JOIN bkeys y
         |    ON x.band = y.band AND x.bkey = y.bkey
         |      AND x.vec_id < y.vec_id),
         |epairs AS (
         |  SELECT c.id_a, c.id_b,
         |    round(list_cosine_similarity(a.embedding::DOUBLE[],
         |      b.embedding::DOUBLE[]), 6) AS cos
         |  FROM cand c
         |  JOIN embeddings a ON a.vec_id = c.id_a
         |  JOIN embeddings b ON b.vec_id = c.id_b
         |  WHERE cos >= $CosineThreshold)""".stripMargin

  private val BaseOracleSql: Map[String, String] = Map(
    "x_tok_count" ->
      """SELECT doc_id,
        |  len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens
        |FROM documents""".stripMargin,

    // mirrors TextAnalysis.bpeTokenCount piece-for-piece
    "x_tok_bpe" ->
      """SELECT doc_id,
        |  cast(coalesce(list_sum(list_transform(
        |    regexp_extract_all(text,
        |      '[A-Za-z]+|[0-9]+|[^ \t\n\rA-Za-z0-9]'),
        |    p -> CASE
        |      WHEN regexp_matches(p, '^[A-Za-z]+$')
        |        THEN cast(ceil(length(p) / 4.0) AS bigint)
        |      WHEN regexp_matches(p, '^[0-9]+$')
        |        THEN cast(ceil(length(p) / 3.0) AS bigint)
        |      ELSE 1 END)), 0) AS bigint) AS n_subwords
        |FROM documents""".stripMargin,

    "x_lang_id" -> LangSelect,

    "x_quality_score" -> QualitySelect,

    "x_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |    AS fingerprint
        |FROM documents""".stripMargin,

    // mirrors TextAnalysis.winnowFingerprint: k=5 char grams, md5-seeded
    // 60-bit rolling hashes, window-of-4 minima, sorted distinct digest
    "x_fingerprint_winnow" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_transform(list_sort(mins),
        |    h -> h::varchar), ',')) AS winnow_fp
        |FROM (
        |  SELECT doc_id,
        |    CASE WHEN len(hashes) >= 4 THEN
        |      list_distinct(list_transform(range(0, len(hashes) - 3),
        |        j -> list_min(hashes[(j+1):(j+4)])))
        |    WHEN len(hashes) > 0 THEN [list_min(hashes)]
        |    ELSE []::bigint[] END AS mins
        |  FROM (
        |    SELECT doc_id,
        |      list_transform(
        |        CASE WHEN length(norm) >= 5 THEN
        |          list_transform(range(1, length(norm) - 3),
        |            i -> substr(norm, i::int, 5))
        |        ELSE []::varchar[] END,
        |        g -> ('0x' || substr(md5(g || '#0'), 1, 15))::bigint)
        |        AS hashes
        |    FROM (SELECT doc_id,
        |            regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
        |              AS norm
        |          FROM documents)))""".stripMargin,

    "x_dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |    AS fingerprint,
        |  min(doc_id) AS keeper_id, count(*) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,

    // exact path: intersection counts straight from the index self-join
    "x_dedup_apply" ->
      """SELECT doc_id FROM documents
        |WHERE doc_id IN (
        |  SELECT min(doc_id)
        |  FROM documents
        |  GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))"""
        .stripMargin,

    "x_dedup_ngram_jaccard" ->
      s"""WITH $ShingleCtes,
         |inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, inter, size_a, size_b, jaccard FROM (
         |  SELECT i.id_a, i.id_b, i.inter, sa.nsh AS size_a,
         |    sb.nsh AS size_b,
         |    i.inter::double / (sa.nsh + sb.nsh - i.inter) AS jaccard
         |  FROM inter i
         |  JOIN sizes sa ON i.id_a = sa.id
         |  JOIN sizes sb ON i.id_b = sb.id)
         |WHERE jaccard >= $JaccardThreshold""".stripMargin,

    // same shared-shingle pair expansion; score divides by the SMALLER
    // side, contained_id names it (ties -> the canonical lower id)
    "x_containment" ->
      s"""WITH $ShingleCtes,
         |inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, inter, size_a, size_b, containment,
         |  contained_id FROM (
         |  SELECT i.id_a, i.id_b, i.inter, sa.nsh AS size_a,
         |    sb.nsh AS size_b,
         |    i.inter::double / least(sa.nsh, sb.nsh)::double
         |      AS containment,
         |    CASE WHEN sa.nsh <= sb.nsh THEN i.id_a ELSE i.id_b END
         |      AS contained_id
         |  FROM inter i
         |  JOIN sizes sa ON i.id_a = sa.id
         |  JOIN sizes sb ON i.id_b = sb.id)
         |WHERE containment >= $ContainmentThreshold""".stripMargin,

    "x_dedup_minhash_lsh" ->
      s"""WITH $ShingleCtes,
         |${minhashSigSql(8, 4)}
         |$VerifyPairsSql""".stripMargin,

    // mirrors Dedup.scrubRepeatedSpans: non-overlapping word spans,
    // df over DISTINCT docs, anti-join, in-order reassembly
    "x_scrub_spans" ->
      s"""WITH ${scrubSpansCtes("documents", "1", SpanWidth, 0, SpanMaxDf)}
         |SELECT doc_id, clean_text, n_spans, n_removed FROM out1"""
        .stripMargin,

    // mirrors Dedup.scrubRepeatedSpansPhased: the identical scrub CTE
    // block applied twice — pass 2 re-segments pass 1's cleaned text
    // on the w/2-shifted grid, frequencies counted over the CLEANED
    // corpus, so boundary-straddling phases on either grid are caught
    "x_scrub_spans_phased" ->
      s"""WITH ${scrubSpansCtes("documents", "1", SpanWidth, 0, SpanMaxDf)},
         |p2in AS (SELECT doc_id, clean_text AS text FROM out1),
         |${scrubSpansCtes("p2in", "2", SpanWidth, SpanWidth / 2,
            SpanMaxDf)}
         |SELECT doc_id, o2.clean_text, o1.n_spans,
         |  o1.n_removed AS n_removed_p1, o2.n_removed AS n_removed_p2
         |FROM out1 o1 JOIN out2 o2 USING (doc_id)""".stripMargin,

    // full SQL replay of the exact duplicated-substring chain:
    // overlapping width-grams by list slice, global occurrence count,
    // duplicated starts back-joined, per-doc gaps-and-islands merge —
    // every constant generated from the shared SubstrWidth/MinCount
    "x_substring_dup" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
         |  FROM documents WHERE length(trim(text)) > 0),
         |ex AS (
         |  SELECT doc_id,  ws,
         |    unnest(range(greatest(len(ws) - $SubstrWidth + 1, 0)))
         |      ::int AS pos
         |  FROM d),
         |g2 AS (
         |  SELECT doc_id, pos,
         |    array_to_string(ws[pos + 1 : pos + $SubstrWidth], ' ')
         |      AS gram
         |  FROM ex),
         |dup AS (SELECT gram FROM g2
         |        GROUP BY gram HAVING count(*) >= $SubstrMinCount),
         |ds AS (SELECT doc_id, pos FROM g2 JOIN dup USING (gram)),
         |isl AS (SELECT doc_id, pos,
         |  CASE WHEN lag(pos) OVER w IS NULL
         |         OR pos > lag(pos) OVER w + $SubstrWidth
         |       THEN 1 ELSE 0 END AS brk
         |  FROM ds WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |isl2 AS (SELECT doc_id, pos, sum(brk) OVER (
         |    PARTITION BY doc_id ORDER BY pos
         |    ROWS UNBOUNDED PRECEDING) AS island
         |  FROM isl)
         |SELECT doc_id, min(pos)::bigint AS start_pos,
         |  (max(pos) + $SubstrWidth)::bigint AS end_pos,
         |  (max(pos) + $SubstrWidth - min(pos))::bigint AS span_len,
         |  count(*)::bigint AS n_dup_starts
         |FROM isl2 GROUP BY doc_id, island""".stripMargin,

    // the hashed-key variant: identical chain with the gram replaced
    // by the suite's seeded md5 long BEFORE the keyed stages
    "x_substring_dup_hashed" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
         |  FROM documents WHERE length(trim(text)) > 0),
         |ex AS (
         |  SELECT doc_id, ws,
         |    unnest(range(greatest(len(ws) - $SubstrWidth + 1, 0)))
         |      ::int AS pos
         |  FROM d),
         |g2 AS (
         |  SELECT doc_id, pos,
         |    ('0x' || substr(md5(array_to_string(
         |      ws[pos + 1 : pos + $SubstrWidth], ' ') || '#0'),
         |      1, 15))::bigint AS gram
         |  FROM ex),
         |dup AS (SELECT gram FROM g2
         |        GROUP BY gram HAVING count(*) >= $SubstrMinCount),
         |ds AS (SELECT doc_id, pos FROM g2 JOIN dup USING (gram)),
         |isl AS (SELECT doc_id, pos,
         |  CASE WHEN lag(pos) OVER w IS NULL
         |         OR pos > lag(pos) OVER w + $SubstrWidth
         |       THEN 1 ELSE 0 END AS brk
         |  FROM ds WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |isl2 AS (SELECT doc_id, pos, sum(brk) OVER (
         |    PARTITION BY doc_id ORDER BY pos
         |    ROWS UNBOUNDED PRECEDING) AS island
         |  FROM isl)
         |SELECT doc_id, min(pos)::bigint AS start_pos,
         |  (max(pos) + $SubstrWidth)::bigint AS end_pos,
         |  (max(pos) + $SubstrWidth - min(pos))::bigint AS span_len,
         |  count(*)::bigint AS n_dup_starts
         |FROM isl2 GROUP BY doc_id, island""".stripMargin,

    // the scrub form: duplicated starts expand to covered positions,
    // survivors reassemble in order; every document emits a row
    "x_substring_scrub" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
         |  FROM documents WHERE length(trim(text)) > 0),
         |ex AS (
         |  SELECT doc_id, ws,
         |    unnest(range(greatest(len(ws) - $SubstrWidth + 1, 0)))
         |      ::int AS pos
         |  FROM d),
         |g2 AS (
         |  SELECT doc_id, pos,
         |    array_to_string(ws[pos + 1 : pos + $SubstrWidth], ' ')
         |      AS gram
         |  FROM ex),
         |dup AS (SELECT gram FROM g2
         |        GROUP BY gram HAVING count(*) >= $SubstrMinCount),
         |ds AS (SELECT doc_id, pos FROM g2 JOIN dup USING (gram)),
         |cov AS (
         |  SELECT DISTINCT doc_id, pos0 + i AS pos FROM (
         |    SELECT doc_id, pos AS pos0,
         |      unnest(range($SubstrWidth))::int AS i
         |    FROM ds)),
         |tok AS (
         |  SELECT doc_id, ws, unnest(range(len(ws)))::int AS pos
         |  FROM d),
         |tok2 AS (SELECT doc_id, pos, ws[pos + 1] AS tok FROM tok),
         |kept AS (
         |  SELECT t.doc_id, t.pos, t.tok
         |  FROM tok2 t LEFT JOIN cov c
         |    ON c.doc_id = t.doc_id AND c.pos = t.pos
         |  WHERE c.pos IS NULL),
         |rebuilt AS (
         |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos)
         |      AS clean_text,
         |    count(*)::bigint AS n_kept
         |  FROM kept GROUP BY doc_id)
         |SELECT d0.doc_id, coalesce(r.clean_text, '') AS clean_text,
         |  (CASE WHEN length(trim(d0.text)) = 0 THEN 0
         |    ELSE len(string_split_regex(trim(d0.text), '\\s+'))
         |    END)::bigint AS n_tokens,
         |  ((CASE WHEN length(trim(d0.text)) = 0 THEN 0
         |    ELSE len(string_split_regex(trim(d0.text), '\\s+')) END)
         |    - coalesce(r.n_kept, 0))::bigint AS n_removed
         |FROM documents d0
         |LEFT JOIN rebuilt r ON r.doc_id = d0.doc_id""".stripMargin,

    // replays both sides' md5 minhash pipelines over the corpus/batch
    // split: batch buckets × corpus buckets → exact-Jaccard verify
    // against each side's own capped arrays → per-batch-doc verdict
    "x_dedup_incremental" ->
      s"""WITH ${sideShingleCtes("c", s"doc_id % $IncrBatchMod <> 0")},
         |${sideShingleCtes("b", s"doc_id % $IncrBatchMod = 0")},
         |${sideSigSql("c", 8, 4)},
         |${sideSigSql("b", 8, 4)},
         |icand AS (
         |  SELECT DISTINCT bb.id AS id_a, cc.id AS id_b
         |  FROM bucketsb bb JOIN bucketsc cc
         |    ON bb.band = cc.band AND bb.key = cc.key),
         |vp AS (
         |  SELECT id_a, id_b, jaccard FROM (
         |    SELECT c.id_a, c.id_b,
         |      len(list_intersect(sa.shs, sb.shs))::double /
         |        (len(sa.shs) + len(sb.shs)
         |          - len(list_intersect(sa.shs, sb.shs))) AS jaccard
         |    FROM icand c
         |    JOIN shb sa ON c.id_a = sa.doc_id
         |    JOIN shc sb ON c.id_b = sb.doc_id)
         |  WHERE jaccard >= $JaccardThreshold),
         |m AS (
         |  SELECT id_a, count(*)::bigint AS n_dups, min(id_b) AS dup_of,
         |    max(jaccard) AS best_jaccard
         |  FROM vp GROUP BY id_a)
         |SELECT d.doc_id AS batch_id,
         |  coalesce(m.n_dups, 0)::bigint AS n_dups, m.dup_of,
         |  m.best_jaccard, (m.n_dups IS NULL) AS survived
         |FROM documents d LEFT JOIN m ON d.doc_id = m.id_a
         |WHERE d.doc_id % $IncrBatchMod = 0""".stripMargin,

    // branch isolation on the fingerprint store: main must still equal
    // the CORPUS-side banded index, the 'exp' branch the corpus index
    // PLUS the batch's own-capped banded index — two instances of the
    // same first-principles md5 minhash chain over the two sides
    "x_fp_branch" ->
      s"""WITH ${sideShingleCtes("c", s"doc_id % $IncrBatchMod <> 0")},
         |${sideShingleCtes("b", s"doc_id % $IncrBatchMod = 0")},
         |${sideSigSql("c", 8, 4)},
         |${sideSigSql("b", 8, 4)}
         |SELECT id, band, key, 'main' AS ref FROM bucketsc
         |UNION ALL SELECT id, band, key, 'exp' AS ref FROM bucketsc
         |UNION ALL SELECT id, band, key, 'exp' AS ref FROM bucketsb"""
        .stripMargin,

    // both rollup lineages replayed from the raw facts: main = the
    // full maintained view, exp = the view with the takedown slice
    // subtracted (≡ recompute over surviving facts, by algebra)
    "x_agg_branch" ->
      s"""SELECT cast(ts AS date) AS day, event_type, count(*) AS cnt,
         |  cast(sum(cast(value AS decimal(18,2))) AS double) AS total,
         |  'main' AS ref
         |FROM events GROUP BY 1, 2
         |UNION ALL
         |SELECT cast(ts AS date) AS day, event_type, count(*) AS cnt,
         |  cast(sum(cast(value AS decimal(18,2))) AS double) AS total,
         |  'exp' AS ref
         |FROM events WHERE event_id % $DeleteMod <> $DeleteRem
         |GROUP BY 1, 2""".stripMargin,

    // both LM lineages replayed from the raw text: main = unigram
    // counts over the full corpus, exp = counts over the corpus with
    // the takedown slice removed (retraction ≡ retrain, by count
    // additivity)
    "x_lm_branch" ->
      s"""WITH lw AS (
         |  SELECT doc_id,
         |    string_split_regex(lower(trim(text)), '\\s+') AS ws
         |  FROM documents),
         |uni AS (
         |  SELECT term, count(*)::bigint AS ucnt FROM (
         |    SELECT unnest(ws) AS term FROM lw)
         |  WHERE term <> '' GROUP BY term),
         |unx AS (
         |  SELECT term, count(*)::bigint AS ucnt FROM (
         |    SELECT unnest(ws) AS term FROM lw
         |    WHERE doc_id % $DeleteMod <> $DeleteRem)
         |  WHERE term <> '' GROUP BY term)
         |SELECT term, ucnt, 'main' AS ref FROM uni
         |UNION ALL SELECT term, ucnt, 'exp' AS ref FROM unx"""
        .stripMargin,

    // both tokenizer lineages' merge lists replayed from raw text:
    // the full-corpus argmax chain (main) and the chain over the
    // corpus minus the takedown slice (exp) share one statement via
    // suffixed CTEs — retrain ≡ the oracle re-run on the filtered seed
    "x_tok_branch" ->
      ("WITH RECURSIVE " +
        bpeStagesBody(BpeTrainMerges, withFinalVocab = false) + ",\n" +
        bpeStagesBody(BpeTrainMerges, withFinalVocab = false,
          where = s" WHERE doc_id % $DeleteMod <> $DeleteRem",
          sfx = "f") + "\n" +
        s"""SELECT merge_rank, "left", "right", cnt, 'main' AS ref
           |FROM (${bpeMergeSelect(BpeTrainMerges)})
           |UNION ALL
           |SELECT merge_rank, "left", "right", cnt, 'exp' AS ref
           |FROM (${bpeMergeSelect(BpeTrainMerges, "f")})""".stripMargin),

    // the branched-root takedown: each lineage's first-principles
    // banded index with the removed ids dropped — x_fp_branch's
    // two-lineage chain under the takedown filter
    "x_takedown_branch" ->
      s"""WITH ${sideShingleCtes("c", s"doc_id % $IncrBatchMod <> 0")},
         |${sideShingleCtes("b", s"doc_id % $IncrBatchMod = 0")},
         |${sideSigSql("c", 8, 4)},
         |${sideSigSql("b", 8, 4)}
         |SELECT id, band, key, 'main' AS ref FROM bucketsc
         |  WHERE id % $DeleteMod <> $DeleteRem
         |UNION ALL SELECT id, band, key, 'exp' AS ref FROM bucketsc
         |  WHERE id % $DeleteMod <> $DeleteRem
         |UNION ALL SELECT id, band, key, 'exp' AS ref FROM bucketsb
         |  WHERE id % $DeleteMod <> $DeleteRem""".stripMargin,

    // the composed pipeline: the admission chain (x_dedup_incremental),
    // quality (QualitySelect), decontamination (DecontamCtes), mixture
    // (x_mixture_sample's rate grid, totals over THIS stage's docs),
    // and shard order (seed-2 hash) — chained as CTEs over the same
    // batch split, counts + in-order shard fingerprints
    "x_pipeline_e2e" -> {
      val wCase = MixtureWeights.toSeq.sortBy(_._1)
        .map { case (src, w) => s"WHEN '$src' THEN $w" }
        .mkString("CASE source ", " ", " ELSE 0.0 END")
      s"""WITH ${sideShingleCtes("c", s"doc_id % $IncrBatchMod <> 0")},
         |${sideShingleCtes("b", s"doc_id % $IncrBatchMod = 0")},
         |${sideSigSql("c", 8, 4)},
         |${sideSigSql("b", 8, 4)},
         |icand AS (
         |  SELECT DISTINCT bb.id AS id_a, cc.id AS id_b
         |  FROM bucketsb bb JOIN bucketsc cc
         |    ON bb.band = cc.band AND bb.key = cc.key),
         |vp AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT c.id_a, c.id_b,
         |      len(list_intersect(sa.shs, sb.shs))::double /
         |        (len(sa.shs) + len(sb.shs)
         |          - len(list_intersect(sa.shs, sb.shs))) AS jaccard
         |    FROM icand c
         |    JOIN shb sa ON c.id_a = sa.doc_id
         |    JOIN shc sb ON c.id_b = sb.doc_id)
         |  WHERE jaccard >= $JaccardThreshold),
         |dup AS (SELECT DISTINCT id_a AS doc_id FROM vp),
         |batch AS (SELECT * FROM documents
         |          WHERE doc_id % $IncrBatchMod = 0),
         |admitted AS (
         |  SELECT b.* FROM batch b ANTI JOIN dup USING (doc_id)),
         |q AS ($QualitySelect),
         |qual AS (
         |  SELECT a.* FROM admitted a JOIN q USING (doc_id)
         |  WHERE q.score >= $PipelineMinQuality),
         |$DecontamCtes,
         |cont AS ($DecontamSelect),
         |dec AS (
         |  SELECT * FROM qual
         |  WHERE doc_id % $DecontamMod <> 0
         |    AND doc_id NOT IN (SELECT doc_id FROM cont)),
         |totals AS (
         |  SELECT source,
         |    sum(len(string_split_regex(lower(trim(text)), '\\s+')))
         |      AS src_tokens
         |  FROM dec GROUP BY source),
         |rates AS (
         |  SELECT source,
         |    least(1.0, $MixtureBudget.0 * ($wCase) / src_tokens)
         |      AS rate
         |  FROM totals),
         |mix AS (
         |  SELECT d.* FROM dec d JOIN rates r USING (source)
         |  WHERE ('0x' || substr(md5(d.doc_id::varchar || '#0'), 17,
         |      15))::bigint % 1000000
         |    < floor(r.rate * 1000000.0)::bigint),
         |sh AS (
         |  SELECT doc_id, shard,
         |    row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
         |      AS pos
         |  FROM (
         |    SELECT doc_id,
         |      ('0x' || substr(md5(doc_id::varchar || '#1'), 1, 15))
         |        ::bigint AS h,
         |      ('0x' || substr(md5(doc_id::varchar || '#1'), 1, 15))
         |        ::bigint % $NumShards AS shard
         |    FROM mix))
         |SELECT 's1_ingest' AS stage, count(*)::bigint AS n,
         |  NULL::varchar AS fp FROM documents
         |UNION ALL SELECT 's1_quarantine', 2::bigint, NULL
         |UNION ALL SELECT 's2_batch', count(*)::bigint, NULL FROM batch
         |UNION ALL SELECT 's2_admitted', count(*)::bigint, NULL
         |  FROM admitted
         |UNION ALL SELECT 's3_quality', count(*)::bigint, NULL FROM qual
         |UNION ALL SELECT 's4_decontam', count(*)::bigint, NULL FROM dec
         |UNION ALL SELECT 's5_mixture', count(*)::bigint, NULL FROM mix
         |UNION ALL SELECT 's6_shard_' || shard::varchar,
         |  count(*)::bigint,
         |  md5(string_agg(doc_id::varchar, ' ' ORDER BY pos))
         |FROM sh GROUP BY shard""".stripMargin
    },

    // takedown ([[tdCtesOf]]/[[tdSelects]]): every relation rebuilt
    // FROM THE FILTERED INPUTS from first principles, reduced to
    // per-column (rel, col, n_rows, 60-bit md5 bit_xor, min/max
    // rendered value) rows. The full query audits every family in one
    // statement; the per-store splits carry ONLY their own chains, so
    // a driver-side red names its store, column, and sample values.
    "x_takedown" -> takedownOracle(TakedownSplitKeys),
    "x_takedown_fp" -> takedownOracle(Seq("fp")),
    "x_takedown_edges" -> takedownOracle(Seq("edges")),
    "x_takedown_ann" -> takedownOracle(Seq("ann")),
    "x_takedown_agg" -> takedownOracle(Seq("agg")),
    "x_takedown_lm" -> takedownOracle(Seq("lm")),
    "x_takedown_tok" -> takedownOracle(Seq("tok")),
    "x_takedown_layout" -> takedownOracle(Seq("layout")),
    "x_takedown_scd2" -> takedownOracle(Seq("scd2")),

    // mirrors Dedup.simhash/simhashPairs exactly: md5-seeded 60-bit word
    // hashes, tf-weighted bit sums, 4×15-bit band buckets, hamming ≤ 3
    "x_dedup_simhash" ->
      s"""WITH w AS (
         |  SELECT doc_id AS id,
         |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
         |  FROM documents),
         |tf AS (SELECT id, w, count(*) AS tf FROM w GROUP BY id, w),
         |th AS (SELECT id, tf,
         |         ('0x' || substr(md5(w || '#0'), 1, 15))::bigint AS h
         |       FROM tf),
         |bits AS (
         |  SELECT id, b,
         |    sum(CASE WHEN (h >> b::int) & 1 = 1 THEN tf ELSE -tf END) AS s
         |  FROM th CROSS JOIN range(${Dedup.SimhashBits}) AS r(b)
         |  GROUP BY id, b),
         |sig AS (
         |  SELECT id,
         |    sum(CASE WHEN s > 0 THEN (1::bigint << b::int) ELSE 0 END)
         |      AS simhash
         |  FROM bits GROUP BY id),
         |buckets AS (
         |  SELECT id, simhash, b AS band,
         |    (simhash >> (b::int * 15)) & 32767 AS key
         |  FROM sig CROSS JOIN range(${Dedup.SimhashBands}) AS r(b)),
         |pairs AS (
         |  SELECT DISTINCT x.id AS id_a, y.id AS id_b,
         |    cast(bit_count(xor(x.simhash, y.simhash)) AS int) AS hamming
         |  FROM buckets x JOIN buckets y
         |    ON x.band = y.band AND x.key = y.key AND x.id < y.id)
         |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3"""
        .stripMargin,

    // mirrors Similarity.nearDupPairsLsh: md5-derived hyperplane signs,
    // plane p = band * rows + row; candidates share all bits of a band
    // mirrors the DERIVED default geometry of Similarity.nearDupPairsLsh:
    // rpb = smallest r in [6,16] with occupancy·2^r ≥ n (the same
    // integer shift-compare — no float log whose ulp could disagree),
    // bands fixed at the default 32 (candidates stay ~linear; recall
    // at the threshold decays as documented). DuckDB range() takes
    // only constants, so plane indices enumerate the max geometry
    // (32 bands × 16 bits) and filter to 32·rpb.
    "x_embed_near_dup" ->
      s"""WITH $EmbedNearDupAutoCtes
         |SELECT id_a, id_b, cos FROM epairs""".stripMargin,

    // the LSH recall telemetry: exact pair chain bucketed by integer
    // ppm-tenths of the 6dp cosine, LEFT JOINed against the SAME
    // derived-geometry banded chain the x_embed_near_dup oracle runs
    "x_lsh_recall" ->
      s"""WITH $EmbedNearDupAutoCtes,
         |exactp AS (
         |  SELECT id_a, id_b, cos FROM (
         |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |      round(list_cosine_similarity(a.embedding::DOUBLE[],
         |        b.embedding::DOUBLE[]), 6) AS cos
         |    FROM embeddings a JOIN embeddings b
         |      ON a.vec_id < b.vec_id)
         |  WHERE cos >= $CosineThreshold),
         |ebuck AS (
         |  SELECT id_a, id_b,
         |    (((cos::decimal(18,6) * 1000000)::bigint) // 100000)::int
         |      AS cos_bucket
         |  FROM exactp),
         |hits AS (
         |  SELECT cos_bucket, count(*)::bigint AS n_exact,
         |    count(l.id_a)::bigint AS n_hit
         |  FROM ebuck x LEFT JOIN epairs l USING (id_a, id_b)
         |  GROUP BY cos_bucket)
         |SELECT cos_bucket, n_exact, n_hit,
         |  round(n_hit / n_exact, 6) AS recall FROM hits""".stripMargin,

    // incremental admission must equal the from-scratch rebuild: the
    // oracle IS the full-corpus pair chain
    "x_neardup_append" ->
      s"""WITH $EmbedNearDupCtes
         |SELECT id_a, id_b, cos FROM epairs""".stripMargin,

    // branch isolation: main must still equal the BASE-subset pair
    // chain, the 'exp' branch the FULL-corpus chain — two instances
    // of the same first-principles chain over different sources
    "x_edge_branch" ->
      s"""WITH $EmbedPlanesCte,
         |bemb AS (SELECT * FROM embeddings
         |  WHERE vec_id % $AppendHoldoutMod <> ${AppendHoldoutMod - 1}),
         |${embedChain("bemb", "_m")},
         |${embedChain("embeddings", "")}
         |SELECT id_a, id_b, cos, 'main' AS ref FROM epairs_m
         |UNION ALL
         |SELECT id_a, id_b, cos, 'exp' AS ref FROM epairs""".stripMargin,

    // mirrors Similarity.embedDimStats: decimal(38,18) sums (order-
    // independent, engine-exact), the mean/std division in double;
    // DuckDB's parallel unnest aligns value and index positionally
    "x_embed_dim_stats" ->
      """WITH e AS (
        |  SELECT unnest(embedding::DOUBLE[]) AS x,
        |    unnest(range(len(embedding))) AS i
        |  FROM embeddings)
        |SELECT i::int AS dim, count(*) AS n,
        |  round((sum(x::decimal(38,18)))::double / count(*), 6) AS mean,
        |  round(sqrt(greatest(
        |    (sum((x*x)::decimal(38,18)))::double / count(*)
        |      - pow((sum(x::decimal(38,18)))::double / count(*), 2),
        |    0.0)), 6) AS std
        |FROM e GROUP BY i""".stripMargin,

    // embedding near-dup pairs → connected components, the same
    // recursive-reach mirror x_dedup_cluster uses over shingle pairs;
    // shared verbatim by x_cluster_store — the incremental label
    // maintenance must land on the identical from-scratch components
    "x_embed_dedup_cluster" -> EmbedClusterOracle,
    "x_cluster_store" -> EmbedClusterOracle,

    "x_ann_cosine_topk" -> AnnCosineTopkOracle,

    // full-dim oracle reused verbatim; the truncated ranking slices
    // the first TruncDim dims before the same cosine/rank chain
    "x_ann_dim_truncate" ->
      s"""WITH f AS ($AnnCosineTopkOracle),
         |tq AS (
         |  SELECT vec_id AS query_id,
         |    (embedding::DOUBLE[])[1:$TruncDim] AS qv
         |  FROM embeddings WHERE vec_id % $QueryMod = 0),
         |tc AS (
         |  SELECT vec_id AS match_id,
         |    (embedding::DOUBLE[])[1:$TruncDim] AS cv
         |  FROM embeddings),
         |ts AS (
         |  SELECT query_id, match_id,
         |    round(list_cosine_similarity(qv, cv), 6) AS cos
         |  FROM tc CROSS JOIN tq WHERE query_id <> match_id),
         |tr AS (
         |  SELECT query_id, match_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, match_id) AS rank
         |    FROM ts) WHERE rank <= $TopK),
         |j AS (
         |  SELECT f.query_id,
         |    CASE WHEN t.match_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM f LEFT JOIN tr t
         |    ON f.query_id = t.query_id AND f.match_id = t.match_id)
         |SELECT query_id, sum(hit)::bigint AS n_hits,
         |  ((1000000 * sum(hit)) // $TopK)::bigint AS recall_ppm
         |FROM j GROUP BY query_id""".stripMargin,

    // the brute chain with the near-dup band excluded before the cut
    "x_hard_negatives" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |  FROM embeddings WHERE vec_id % $QueryMod = 0),
         |c AS (SELECT vec_id AS match_id, embedding::DOUBLE[] AS cv
         |      FROM embeddings),
         |scored AS (
         |  SELECT query_id, match_id,
         |    round(list_cosine_similarity(qv, cv), 6) AS cos
         |  FROM c CROSS JOIN q WHERE query_id <> match_id),
         |neg AS (SELECT * FROM scored WHERE cos < $CosineThreshold),
         |ranked AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, match_id) AS rank
         |  FROM neg)
         |SELECT query_id, match_id, cos, rank FROM ranked
         |WHERE rank <= $TopK""".stripMargin,

    // the brute-force top-k CTE + integer majority vote (votes desc,
    // label asc) + own-label agreement count — all-integer outputs
    "x_knn_label" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label
         |  FROM embeddings WHERE vec_id % $QueryMod = 0),
         |c AS (SELECT vec_id AS match_id, embedding::DOUBLE[] AS cv,
         |        label AS nbr_label
         |      FROM embeddings),
         |scored AS (
         |  SELECT query_id, match_id, nbr_label,
         |    round(list_cosine_similarity(qv, cv), 6) AS cos
         |  FROM c CROSS JOIN q WHERE query_id <> match_id),
         |topk AS (
         |  SELECT query_id, match_id, nbr_label FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, match_id) AS rank
         |    FROM scored)
         |  WHERE rank <= $TopK),
         |votes AS (
         |  SELECT query_id, nbr_label, count(*) AS votes
         |  FROM topk GROUP BY query_id, nbr_label),
         |pred AS (
         |  SELECT query_id, nbr_label AS pred_label, votes FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY votes DESC, nbr_label) AS rnk
         |    FROM votes)
         |  WHERE rnk = 1),
         |agree AS (
         |  SELECT v.query_id, v.votes AS n_agree
         |  FROM votes v JOIN q ON v.query_id = q.query_id
         |    AND v.nbr_label = q.label)
         |SELECT p.query_id, q.label, p.pred_label, p.votes,
         |  coalesce(a.n_agree, 0) AS n_agree
         |FROM pred p JOIN q ON p.query_id = q.query_id
         |LEFT JOIN agree a ON p.query_id = a.query_id""".stripMargin,

    // mirrors Similarity.centroidClassify: unit vectors, element-wise
    // decimal mean per (label, component), ordered list re-assembly,
    // argmax with the (cos desc, label asc) tie-break
    "x_centroid_label" ->
      s"""WITH corp AS (
         |  SELECT vec_id, label, embedding::DOUBLE[] AS v
         |  FROM embeddings),
         |u AS (
         |  SELECT vec_id, label,
         |    list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
         |      AS uv
         |  FROM corp),
         |comp AS (
         |  SELECT label, i,
         |    sum(uv[i]::decimal(38,18))::double / count(*) AS m
         |  FROM u CROSS JOIN range(1, $EmbeddingDim + 1) AS ir(i)
         |  GROUP BY label, i),
         |cv0 AS (
         |  SELECT label AS clabel, list(m ORDER BY i) AS mv
         |  FROM comp GROUP BY label),
         |cv AS (
         |  SELECT clabel,
         |    list_transform(mv, x -> x / sqrt(list_dot_product(mv, mv)))
         |      AS centv
         |  FROM cv0),
         |scored AS (
         |  SELECT q.vec_id AS query_id, q.label, cv.clabel,
         |    round(list_dot_product(q.uv, cv.centv), 6) AS cos
         |  FROM u q CROSS JOIN cv WHERE q.vec_id % $QueryMod = 0)
         |SELECT query_id, label, clabel AS pred_label, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, clabel) AS rnk
         |  FROM scored)
         |WHERE rnk = 1""".stripMargin,

    // mirrors Similarity.lshSignature/lshTopK: md5-derived ±1 hyperplane
    // signs; projection SIGN is scale-invariant so raw vectors suffice
    "x_ann_lsh_topk" ->
      s"""WITH planes AS (
         |  SELECT p, i,
         |    CASE WHEN (('0x' || substr(md5('p' || p::varchar || '#' ||
         |        i::varchar), 1, 15))::bigint & 1) = 1
         |      THEN 1.0 ELSE -1.0 END AS sgn
         |  FROM range($AnnPlanes) AS pr(p)
         |  CROSS JOIN range($EmbeddingDim) AS ir(i)),
         |proj AS (
         |  SELECT vec_id, p, sum((embedding::DOUBLE[])[i + 1] * sgn) AS proj
         |  FROM embeddings CROSS JOIN planes GROUP BY vec_id, p),
         |bk AS (
         |  SELECT vec_id,
         |    sum(CASE WHEN proj > 0 THEN (1::bigint << p::int) ELSE 0 END)
         |      AS bucket
         |  FROM proj GROUP BY vec_id),
         |q AS (SELECT e.vec_id AS query_id, e.embedding::DOUBLE[] AS qv,
         |        bk.bucket
         |      FROM embeddings e JOIN bk ON e.vec_id = bk.vec_id
         |      WHERE e.vec_id % $QueryMod = 0),
         |c AS (SELECT e.vec_id AS match_id, e.embedding::DOUBLE[] AS cv,
         |        bk.bucket
         |      FROM embeddings e JOIN bk ON e.vec_id = bk.vec_id),
         |scored AS (
         |  SELECT query_id, match_id,
         |    round(list_cosine_similarity(qv, cv), 6) AS cos
         |  FROM c JOIN q ON c.bucket = q.bucket WHERE query_id <> match_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, match_id) AS rank
         |  FROM scored)
         |SELECT query_id, match_id, cos, rank FROM ranked
         |WHERE rank <= $TopK""".stripMargin,

    // mirrors Similarity.rpRefineTopK: same "r{j}#{i}" md5 sign matrix,
    // same sequential reduced dot (list kernels evaluate left-to-right,
    // matching the codegen'd DotProduct loop), same round-6 shortlist
    // cut and exact-cosine refine
    "x_ann_rp_topk" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |r AS (
         |  SELECT vec_id,
         |    list_transform(range(0, $RpDim), j ->
         |      list_sum(list_transform(range(0, $EmbeddingDim), i ->
         |        v[i + 1] * CASE WHEN (('0x' || substr(md5('r' ||
         |            j::varchar || '#' || i::varchar), 1, 15))::bigint
         |            & 1) = 1
         |          THEN 1.0 ELSE -1.0 END))) AS rv
         |  FROM e),
         |q AS (SELECT e.vec_id AS query_id, e.v AS qv, r.rv AS qr
         |      FROM e JOIN r USING (vec_id)
         |      WHERE e.vec_id % $QueryMod = 0),
         |c AS (SELECT e.vec_id AS match_id, e.v AS cv, r.rv AS cr
         |      FROM e JOIN r USING (vec_id)),
         |cand AS (
         |  SELECT query_id, match_id, qv, cv,
         |    round(list_dot_product(qr, cr), 6) AS rp
         |  FROM c CROSS JOIN q WHERE query_id <> match_id),
         |short AS (SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rp DESC, match_id) AS rrank
         |  FROM cand),
         |scored AS (SELECT query_id, match_id,
         |    round(list_cosine_similarity(qv, cv), 6) AS cos
         |  FROM short WHERE rrank <= $RpShortlist),
         |ranked AS (SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, match_id) AS rank
         |  FROM scored)
         |SELECT query_id, match_id, cos, rank FROM ranked
         |WHERE rank <= $TopK""".stripMargin,

    // mirrors Similarity.ivfTopK: centroid sample, argmax assignment with
    // the same (cos desc, cent_id) tie-break, nprobe lists per query
    "x_ann_ivf_topk" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding::DOUBLE[] AS centv
         |  FROM embeddings WHERE vec_id % $IvfCentroidMod = 0),
         |corp AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |${ivfSearchSql("cents")}""".stripMargin,

    // mirrors Similarity.recallEval over the same IVF chain (`ranked`)
    // and the brute-force exact chain: per-query hit count via a
    // (query, match) join, float-division recall, ceil-floored gate
    "x_ann_recall_eval" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding::DOUBLE[] AS centv
         |  FROM embeddings WHERE vec_id % $IvfCentroidMod = 0),
         |corp AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |${ivfSearchCtes("cents")},
         |ivfr AS (SELECT query_id, match_id FROM ranked
         |         WHERE rank <= $TopK),
         |bscored AS (
         |  SELECT q.query_id, c.vec_id AS match_id,
         |    round(list_cosine_similarity(q.qv, c.v), 6) AS cos
         |  FROM corp c CROSS JOIN (
         |    SELECT vec_id AS query_id, v AS qv FROM corp
         |    WHERE vec_id % $QueryMod = 0) q
         |  WHERE q.query_id <> c.vec_id),
         |branked AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, match_id) AS rank
         |  FROM bscored),
         |exact AS (SELECT query_id, match_id FROM branked
         |          WHERE rank <= $TopK),
         |hit AS (
         |  SELECT e.query_id, count(*)::bigint AS n_exact,
         |    count(i.match_id)::bigint AS n_hit
         |  FROM exact e LEFT JOIN ivfr i USING (query_id, match_id)
         |  GROUP BY e.query_id)
         |SELECT query_id, n_exact, n_hit,
         |  round(n_hit / n_exact, 6) AS recall_at_k,
         |  n_hit >= ceil($RecallFloor * n_exact) AS recall_ok
         |FROM hit""".stripMargin,

    // rank-aware metrics over the same IVF-vs-brute chains: the RR and
    // DCG CASE tables are GENERATED from Similarity.dcgPpmTable /
    // MrrScale — the identical integer constants the Spark side sums,
    // no transcendental in either engine at query time
    "x_ann_rank_metrics" -> {
      val dcgCase = graft.operators.Similarity.dcgPpmTable(TopK)
        .zipWithIndex.map { case (v, i) => s"WHEN ${i + 1} THEN $v" }
        .mkString("CASE arank ", " ", " END")
      val idcgCase = graft.operators.Similarity.idcgPpmTable(TopK)
        .zipWithIndex.map { case (v, i) => s"WHEN ${i + 1} THEN $v" }
        .mkString("CASE n_exact ", " ", " END")
      val rrCase = (1 to TopK)
        .map(r => s"WHEN $r THEN ${Similarity.MrrScale / r}")
        .mkString("CASE first_rel_rank ", " ", " END")
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding::DOUBLE[] AS centv
         |  FROM embeddings WHERE vec_id % $IvfCentroidMod = 0),
         |corp AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |${ivfSearchCtes("cents")},
         |ivfr AS (SELECT query_id, match_id, rank FROM ranked
         |         WHERE rank <= $TopK),
         |bscored AS (
         |  SELECT q.query_id, c.vec_id AS match_id,
         |    round(list_cosine_similarity(q.qv, c.v), 6) AS cos
         |  FROM corp c CROSS JOIN (
         |    SELECT vec_id AS query_id, v AS qv FROM corp
         |    WHERE vec_id % $QueryMod = 0) q
         |  WHERE q.query_id <> c.vec_id),
         |branked AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, match_id) AS rank
         |  FROM bscored),
         |exact AS (SELECT query_id, match_id FROM branked
         |          WHERE rank <= $TopK),
         |j AS (
         |  SELECT e.query_id, i.rank AS arank
         |  FROM exact e LEFT JOIN ivfr i USING (query_id, match_id)),
         |agg AS (
         |  SELECT query_id, count(*)::bigint AS n_exact,
         |    count(arank)::bigint AS n_hit,
         |    min(arank)::bigint AS first_rel_rank,
         |    coalesce(sum($dcgCase), 0)::bigint AS dcg_ppm
         |  FROM j GROUP BY query_id)
         |SELECT query_id, n_exact, n_hit, first_rel_rank,
         |  coalesce($rrCase, 0)::bigint AS rr_x2520,
         |  dcg_ppm, ($idcgCase)::bigint AS idcg_ppm,
         |  round(coalesce($rrCase, 0)::double
         |    / ${Similarity.MrrScale}.0, 6) AS rr,
         |  round(dcg_ppm::double / ($idcgCase)::double, 6) AS ndcg_at_k
         |FROM agg""".stripMargin
    },

    // the served-index recall gate: the full IVFPQ serve chain (same
    // CTEs as x_ann_ivfpq_read) against the brute-force exact top-k,
    // then the identical recall math (q.qv is the unit vector;
    // list_cosine_similarity normalizes, so the cut matches the
    // brute-force oracle bit-for-bit)
    "x_ann_recall_served" ->
      s"""WITH $IvfPqRankedCtes,
         |served AS (SELECT query_id, match_id FROM ranked
         |           WHERE rank <= $TopK),
         |bscored AS (
         |  SELECT q.query_id, c.vec_id AS match_id,
         |    round(list_cosine_similarity(q.qv, c.v), 6) AS cos
         |  FROM corp c CROSS JOIN q WHERE q.query_id <> c.vec_id),
         |branked AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, match_id) AS rank
         |  FROM bscored),
         |bex AS (SELECT query_id, match_id FROM branked
         |        WHERE rank <= $TopK),
         |hits AS (
         |  SELECT e.query_id, count(*)::bigint AS n_exact,
         |    count(i.match_id)::bigint AS n_hit
         |  FROM bex e LEFT JOIN served i USING (query_id, match_id)
         |  GROUP BY e.query_id)
         |SELECT query_id, n_exact, n_hit,
         |  round(n_hit / n_exact, 6) AS recall_at_k,
         |  n_hit >= ceil($RecallFloor * n_exact) AS recall_ok
         |FROM hits""".stripMargin,

    // Lloyd-refined assignment + the quality-rank curation chain
    "x_diversity_sample" ->
      s"""WITH corp AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |${lloydCentsSql(LloydIters)},
         |asg AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT c.vec_id, ct.cent_id, row_number() OVER (
         |      PARTITION BY c.vec_id
         |      ORDER BY round(list_cosine_similarity(c.v, ct.centv), 6)
         |        DESC, ct.cent_id) AS rnk
         |    FROM corp c CROSS JOIN lcents$LloydIters ct)
         |  WHERE rnk = 1),
         |q AS ($QualitySelect),
         |r AS (
         |  SELECT a.cent_id, q.doc_id, q.score, row_number() OVER (
         |    PARTITION BY a.cent_id ORDER BY q.score DESC, q.doc_id)
         |    AS rank
         |  FROM asg a JOIN q ON a.vec_id = q.doc_id)
         |SELECT cent_id, doc_id, score, rank FROM r
         |WHERE rank <= $DiversityPerCluster""".stripMargin,

    // the Lloyd chain produces round-6 unit centroids both engines
    // agree on bit-for-bit (decimal-sum means); the search is the same
    // IVF chain as x_ann_ivf_topk over the refined centroid CTE
    "x_ann_ivf_lloyd" ->
      s"""WITH corp AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |${lloydCentsSql(LloydIters)},
         |cents AS (SELECT cent_id, centv FROM lcents$LloydIters),
         |${ivfSearchSql("cents")}""".stripMargin,

    // the PNG fixture is deterministic in doc_id: dims from the header
    // formula, mean luminance = the solid gray (PNG is lossless)
    "x_media_decode" ->
      """SELECT doc_id AS media_id,
        |  (16 + doc_id % 48)::int AS width,
        |  (16 + doc_id % 32)::int AS height,
        |  (doc_id % 256)::double AS brightness
        |FROM documents WHERE doc_id % 3 = 0""".stripMargin,

    // resized dims are the literal target; bilinear scaling of a
    // constant image preserves the constant, so brightness is the gray
    "x_media_resize" ->
      s"""SELECT doc_id AS media_id,
         |  $MediaResizeW::int AS width,
         |  $MediaResizeH::int AS height,
         |  (doc_id % 256)::double AS brightness
         |FROM documents WHERE doc_id % 3 = 0""".stripMargin,

    // every kind's header-derived dims follow the doc_id formulas
    // (Multimodal.fixtureDims)
    "x_media_header" ->
      """SELECT doc_id AS media_id,
        |  CASE cast(doc_id % 3 AS int) WHEN 0 THEN 'image'
        |    WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  (16 + doc_id % 48)::int AS width,
        |  (16 + doc_id % 32)::int AS height
        |FROM documents""".stripMargin,

    // mirrors Multimodal.sampleFrames over the fixture's video payloads:
    // body = the doc's UTF-8 text (ASCII word-soup, so chars == bytes),
    // frames = 16-byte slices every 4th frame (stride 64 chars)
    "x_media_frames" ->
      """WITH v AS (
        |  SELECT doc_id AS media_id, text,
        |    (length(text) // 16)::int AS n_frames
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (
        |  SELECT media_id, n_frames, text,
        |    unnest(range(0, ((n_frames - 1) // 4) + 1)) AS frame_idx
        |  FROM v WHERE n_frames > 0)
        |SELECT media_id, n_frames, frame_idx::int AS frame_idx,
        |  md5(substring(text, frame_idx::int * 64 + 1, 16)) AS frame_fp
        |FROM f""".stripMargin,

    // replays the fixture wave arithmetically: sample(i) =
    // (id·31 + i·7) mod 2001 − 1000 over 256 + id % 256 samples
    "x_media_audio" ->
      """WITH a AS (
        |  SELECT doc_id, (256 + doc_id % 256)::int AS n
        |  FROM documents WHERE doc_id % 3 = 1)
        |SELECT doc_id AS media_id, n AS n_samples,
        |  ((n + 63) // 64)::int AS n_frames,
        |  list_sum(list_transform(range(0, n),
        |    i -> ((doc_id*31 + i*7) % 2001 - 1000)
        |       * ((doc_id*31 + i*7) % 2001 - 1000)))::bigint AS sum_sq,
        |  list_max(list_transform(range(0, n),
        |    i -> abs((doc_id*31 + i*7) % 2001 - 1000)))::int AS peak
        |FROM a""".stripMargin,

    // replays the fixture wave per 64-sample frame, then the same
    // division-free quiet compare (energy·n_frames < total) and
    // gaps-and-islands longest run; anchored on the clip set so a
    // zero-frame clip would still emit its summary row
    "x_media_quiet" ->
      """WITH a AS (
        |  SELECT doc_id AS media_id, (256 + doc_id % 256)::int AS n
        |  FROM documents WHERE doc_id % 3 = 1),
        |fr AS (
        |  SELECT media_id, n,
        |    unnest(range(0, (n + 63) // 64)) AS f
        |  FROM a),
        |fe AS (
        |  SELECT media_id, f::int AS frame_idx,
        |    list_sum(list_transform(range(f*64, least((f+1)*64, n)),
        |      i -> ((media_id*31 + i*7) % 2001 - 1000)
        |         * ((media_id*31 + i*7) % 2001 - 1000)))::bigint AS energy
        |  FROM fr),
        |tot AS (
        |  SELECT media_id, sum(energy)::bigint AS tot,
        |    count(*)::bigint AS n_frames
        |  FROM fe GROUP BY 1),
        |q AS (
        |  SELECT fe.media_id, fe.frame_idx, t.n_frames,
        |    (fe.energy * t.n_frames < t.tot) AS quiet
        |  FROM fe JOIN tot t USING (media_id)),
        |runs AS (
        |  SELECT media_id, frame_idx - row_number() OVER (
        |      PARTITION BY media_id ORDER BY frame_idx) AS g
        |  FROM q WHERE quiet),
        |rl AS (SELECT media_id, g, count(*)::bigint AS run
        |       FROM runs GROUP BY 1, 2),
        |longest AS (SELECT media_id, max(run) AS longest
        |            FROM rl GROUP BY 1),
        |nq AS (SELECT media_id, count(*)::bigint AS nq
        |       FROM q WHERE quiet GROUP BY 1)
        |SELECT a.media_id, coalesce(t.n_frames, 0)::bigint AS n_frames,
        |  coalesce(nq.nq, 0)::bigint AS n_quiet,
        |  coalesce(l.longest, 0)::bigint AS longest_quiet_run
        |FROM a LEFT JOIN tot t USING (media_id)
        |LEFT JOIN nq USING (media_id)
        |LEFT JOIN longest l USING (media_id)""".stripMargin,

    // mirrors Multimodal.imageNearDupPairs: same pattern+dupe fixture
    // and aHash arithmetic; the banding is exact at hamming ≤ 3, so
    // the oracle is BRUTE-FORCE hamming over all image pairs
    "x_media_near_dup" ->
      """WITH d AS (
        |  SELECT doc_id, (16 + doc_id % 48)::int AS w,
        |    (16 + doc_id % 32)::int AS h
        |  FROM documents),
        |imgs AS (
        |  SELECT doc_id AS media_id, doc_id AS seed, w, h FROM d
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, w, h FROM d
        |  WHERE doc_id % 5 = 0),
        |xs AS (SELECT media_id, seed, w, h, unnest(range(0, w)) AS x
        |       FROM imgs),
        |px AS (SELECT media_id, seed, w, h, x, unnest(range(0, h)) AS y
        |       FROM xs),
        |cells AS (
        |  SELECT media_id,
        |    ((y * 8 // h) * 8 + (x * 8 // w))::int AS cell,
        |    sum((seed + x * y) % 256)::bigint AS cs,
        |    count(*)::bigint AS cc
        |  FROM px GROUP BY 1, 2),
        |tot AS (SELECT media_id, sum(cs)::bigint AS ts,
        |          sum(cc)::bigint AS n
        |        FROM cells GROUP BY 1),
        |hsh AS (
        |  SELECT c.media_id,
        |    string_agg(CASE WHEN c.cs * t.n >= t.ts * c.cc
        |      THEN '1' ELSE '0' END, '' ORDER BY c.cell) AS bits
        |  FROM cells c JOIN tot t USING (media_id)
        |  GROUP BY c.media_id)
        |SELECT a_id, b_id, hamming FROM (
        |  SELECT a.media_id AS a_id, b.media_id AS b_id,
        |    len(list_filter(range(1, 65),
        |      i -> a.bits[i:i] <> b.bits[i:i]))::int AS hamming
        |  FROM hsh a JOIN hsh b ON a.media_id < b.media_id)
        |WHERE hamming <= 3""".stripMargin,

    // mirrors Multimodal.imageAHash over the pattern fixture: same
    // pixel formula (doc_id + x·y mod 256), same ⌊·8/dim⌋ cells, same
    // integer cross-multiplied threshold, bits in cell order
    "x_media_ahash" ->
      """WITH d AS (
        |  SELECT doc_id, (16 + doc_id % 48)::int AS w,
        |    (16 + doc_id % 32)::int AS h
        |  FROM documents),
        |xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM d),
        |px AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y
        |       FROM xs),
        |cells AS (
        |  SELECT doc_id, ((y * 8 // h) * 8 + (x * 8 // w))::int AS cell,
        |    sum((doc_id + x * y) % 256)::bigint AS cs,
        |    count(*)::bigint AS cc
        |  FROM px GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(cs)::bigint AS ts,
        |          sum(cc)::bigint AS n
        |        FROM cells GROUP BY doc_id)
        |SELECT c.doc_id AS media_id,
        |  string_agg(CASE WHEN c.cs * t.n >= t.ts * c.cc
        |    THEN '1' ELSE '0' END, '' ORDER BY c.cell) AS ahash_bits
        |FROM cells c JOIN tot t USING (doc_id)
        |GROUP BY c.doc_id""".stripMargin,

    "x_stream_hourly" ->
      """SELECT date_trunc('hour', ts) AS hora, event_type,
        |  count(*) AS n,
        |  cast(sum(cast(value AS decimal(18,2))) AS double) AS total
        |FROM events GROUP BY 1, 2""".stripMargin,

    // replay of the streaming watermark-dedup state machine, unrolled
    // over the 4 time-quartile batches. Pinned semantics (see
    // StreamingSyncSpec): state keeps the EMITTING event's ms-floored
    // time te; an arrival is dropped iff its key's state survived every
    // eviction so far, i.e. iff te + 2*delay > max event time of
    // batches 1..i-2 (eviction lags one batch; fires at equality); a
    // dropped duplicate does NOT extend te. delay = 2h -> the 4-hour
    // interval below.
    "x_stream_wm_dedup" ->
      """WITH ord AS (
        |  SELECT user_id, event_type,
        |    date_trunc('milliseconds', ts) AS ts, event_id,
        |    ntile(4) OVER (ORDER BY date_trunc('milliseconds', ts),
        |      event_id) AS b
        |  FROM events),
        |bb AS (
        |  SELECT user_id, event_type, b, min(ts) AS t
        |  FROM ord GROUP BY user_id, event_type, b),
        |g AS (SELECT b, max(t) AS gmax FROM bb GROUP BY b),
        |s1 AS (
        |  SELECT user_id, event_type, t AS te, 1 AS emits
        |  FROM bb WHERE b = 1),
        |s2 AS (
        |  SELECT coalesce(p.user_id, c.user_id) AS user_id,
        |    coalesce(p.event_type, c.event_type) AS event_type,
        |    CASE WHEN p.te IS NOT NULL THEN p.te ELSE c.t END AS te,
        |    coalesce(p.emits, 0) + CASE WHEN c.t IS NOT NULL
        |      AND p.te IS NULL THEN 1 ELSE 0 END AS emits
        |  FROM s1 p FULL JOIN (SELECT * FROM bb WHERE b = 2) c
        |    ON p.user_id = c.user_id AND p.event_type = c.event_type),
        |s3 AS (
        |  SELECT coalesce(p.user_id, c.user_id) AS user_id,
        |    coalesce(p.event_type, c.event_type) AS event_type,
        |    CASE WHEN c.t IS NULL THEN p.te
        |      WHEN p.te IS NOT NULL AND p.te + INTERVAL '4 hours' >
        |        (SELECT gmax FROM g WHERE b = 1) THEN p.te
        |      ELSE c.t END AS te,
        |    coalesce(p.emits, 0) + CASE WHEN c.t IS NULL THEN 0
        |      WHEN p.te IS NOT NULL AND p.te + INTERVAL '4 hours' >
        |        (SELECT gmax FROM g WHERE b = 1) THEN 0
        |      ELSE 1 END AS emits
        |  FROM s2 p FULL JOIN (SELECT * FROM bb WHERE b = 3) c
        |    ON p.user_id = c.user_id AND p.event_type = c.event_type),
        |s4 AS (
        |  SELECT coalesce(p.user_id, c.user_id) AS user_id,
        |    coalesce(p.event_type, c.event_type) AS event_type,
        |    coalesce(p.emits, 0) + CASE WHEN c.t IS NULL THEN 0
        |      WHEN p.te IS NOT NULL AND p.te + INTERVAL '4 hours' >
        |        (SELECT gmax FROM g WHERE b = 2) THEN 0
        |      ELSE 1 END AS emits
        |  FROM s3 p FULL JOIN (SELECT * FROM bb WHERE b = 4) c
        |    ON p.user_id = c.user_id AND p.event_type = c.event_type)
        |SELECT user_id, event_type, emits::bigint AS n_emissions
        |FROM s4""".stripMargin,

    // the LSH pair list (same CTEs as x_dedup_minhash_lsh), then the
    // transitive closure: reach(v, l) = "l reaches v"; min reachable
    // label per vertex = the component's minimum id — exactly what
    // min-label propagation converges to
    "x_dedup_cluster" -> DedupClusterOracle,

    // identical closure: the distributed log-round path must produce
    // the exact same labels as the union-find path
    "x_dedup_cluster_dist" -> DedupClusterOracle,

    // gaps-and-islands mirror of session_window: a session breaks when
    // the gap from the previous event is >= the window (half-open
    // windows [t, t+gap) merge only on overlap); end = last event + gap
    "x_sessionize" ->
      s"""WITH m AS (
         |  SELECT user_id, ts, value,
         |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
         |           >= INTERVAL '$SessionGap'
         |         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
         |      THEN 1 ELSE 0 END AS new_s
         |  FROM events),
         |s AS (
         |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
         |    ROWS UNBOUNDED PRECEDING) AS sess
         |  FROM m)
         |SELECT user_id, min(ts) AS session_start,
         |  max(ts) + INTERVAL '$SessionGap' AS session_end,
         |  count(*) AS n_events,
         |  cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value
         |FROM s GROUP BY user_id, sess""".stripMargin,

    "x_cep_pattern" -> CepOracleSql,

    "x_stream_cep" -> CepOracleSql,
    "x_stream_cep_evict" -> CepOracleSql,

    // mirrors Temporal.funnel: same strictly-after chaining, same
    // window anchored at t1, min aggregates throughout
    "x_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1
        |    AND e.ts <= s1.t1 + INTERVAL 7 DAY
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN s1 USING (user_id) JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |    AND e.ts <= s1.t1 + INTERVAL 7 DAY
        |  GROUP BY e.user_id)
        |SELECT s1.user_id, t1, t2, t3,
        |  CASE WHEN t3 IS NOT NULL THEN 3
        |       WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS depth
        |FROM s1 LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id)""".stripMargin,

    // mirrors Temporal.retentionCohorts: first-signup cohort date,
    // distinct active days, day-offset triangle
    "x_retention" ->
      """WITH cohort AS (
        |  SELECT user_id, min(ts::date) AS cohort_date FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |active AS (SELECT DISTINCT user_id, ts::date AS d FROM events)
        |SELECT cohort_date, (d - cohort_date)::int AS day_offset,
        |  count(DISTINCT user_id)::bigint AS n_active
        |FROM active JOIN cohort USING (user_id)
        |WHERE d >= cohort_date
        |GROUP BY 1, 2""".stripMargin,

    // union + carry-forward mirror of Temporal.asofJoinBackward: right
    // rows sort before left at equal ts, max r_id wins among ties
    "x_asof_join" ->
      """WITH u AS (
        |  SELECT user_id, ts, 1 AS is_l, event_id AS l_id,
        |    NULL::BIGINT AS r_id
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, ts, 0, NULL, event_id
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT *, last_value(r_id IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts, is_l, r_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_id
        |  FROM u)
        |SELECT l_id AS click_id, user_id, ts, asof_id AS last_purchase_id
        |FROM c WHERE is_l = 1""".stripMargin,

    "x_decontam" -> s"WITH $DecontamCtes\n$DecontamSelect",

    // the exact overlap replays in SQL; `no_false_negative` is the
    // Bloom guarantee the Spark side must always emit TRUE for
    "x_bloom_decontam" ->
      s"""WITH $DecontamCtes,
         |m AS (
         |  SELECT c.doc_id, count(DISTINCT c.s)::bigint AS n_shared
         |  FROM corp c JOIN bench b ON c.s = b.s
         |  GROUP BY c.doc_id)
         |SELECT d.doc_id, coalesce(m.n_shared, 0)::bigint AS n_shared,
         |  (coalesce(m.n_shared, 0) > 0) AS contaminated,
         |  TRUE AS no_false_negative
         |FROM documents d LEFT JOIN m USING (doc_id)
         |WHERE d.doc_id % $DecontamMod <> 0""".stripMargin,

    // the composed pipeline: reuses the quality, lang-id, exact-dedup,
    // and decontamination oracles as CTEs
    "x_pipeline_keep" ->
      s"""WITH $DecontamCtes,
         |cont AS ($DecontamSelect),
         |q AS ($QualitySelect),
         |l AS ($LangSelect),
         |k AS (
         |  SELECT min(doc_id) AS doc_id FROM documents
         |  GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
         |SELECT d.doc_id FROM documents d
         |JOIN q ON d.doc_id = q.doc_id
         |JOIN l ON d.doc_id = l.doc_id
         |WHERE q.score >= $PipelineMinQuality
         |  AND l.lang_pred <> 'unknown'
         |  AND d.doc_id % $DecontamMod <> 0
         |  AND d.doc_id IN (SELECT doc_id FROM k)
         |  AND d.doc_id NOT IN (SELECT doc_id FROM cont)""".stripMargin,

    // mirrors Similarity.quantizeInt8 expression-for-expression (same
    // operation order so doubles are bit-identical)
    "x_embed_quantize" ->
      """WITH v AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS double)) AS v
        |  FROM embeddings),
        |rng AS (
        |  SELECT vec_id, v, list_min(v) AS qmin, list_max(v) AS qmax,
        |    (list_max(v) - list_min(v)) / 255.0 AS scale
        |  FROM v),
        |q AS (
        |  SELECT vec_id, v, qmin, qmax, scale,
        |    CASE WHEN qmax > qmin THEN
        |      list_transform(v, x -> round((x - qmin) / scale)::int)
        |    ELSE list_transform(v, x -> 0) END AS codes
        |  FROM rng)
        |SELECT vec_id, round(qmin, 6) AS qmin, round(qmax, 6) AS qmax,
        |  md5(array_to_string(codes, ',')) AS codes_fp,
        |  round(CASE WHEN qmax > qmin THEN
        |    list_max(list_transform(range(1, len(v) + 1),
        |      i -> abs(v[i] - (qmin + codes[i] * scale))))
        |  ELSE 0.0 END, 6) AS max_abs_err
        |FROM q""".stripMargin,

    // reuses the quality-score oracle; rank window mirrors topKPerGroup
    "x_best_per_source" ->
      s"""WITH q AS ($QualitySelect)
         |SELECT source, doc_id, score, rank FROM (
         |  SELECT d.source, d.doc_id, q.score,
         |    row_number() OVER (PARTITION BY d.source
         |      ORDER BY q.score DESC, d.doc_id) AS rank
         |  FROM documents d JOIN q USING (doc_id))
         |WHERE rank <= $BestPerSourceK""".stripMargin,

    "x_interval_join" ->
      """SELECT l.user_id, l.event_id AS l_id, l.ts AS l_ts,
        |  r.event_id AS r_id, r.ts AS r_ts
        |FROM events l JOIN events r ON l.user_id = r.user_id
        |WHERE l.event_type = 'click' AND r.event_type = 'purchase'
        |  AND r.ts <= l.ts AND r.ts >= l.ts - INTERVAL 1 HOUR"""
        .stripMargin,

    // mirrors Temporal.binnedRangeJoin's containment (the bin meet is
    // an implementation detail — the oracle only needs the exact
    // half-open containment over the same hot windows)
    "x_range_join_binned" ->
      s"""WITH hot AS (
         |  SELECT date_trunc('hour', ts) AS h, count(*)::bigint AS n
         |  FROM events WHERE event_type = 'purchase'
         |  GROUP BY 1 HAVING count(*) >= $HotWindowMin),
         |w AS (SELECT h - INTERVAL 30 MINUTE AS wstart,
         |        h + INTERVAL 90 MINUTE AS wend, n FROM hot)
         |SELECT e.event_id, w.wstart, w.n
         |FROM events e JOIN w
         |  ON e.ts >= w.wstart AND e.ts < w.wend""".stripMargin,

    // mirrors Similarity.sq8RefineTopK: same quantization grid as the
    // x_embed_quantize oracle, cosine of the reconstructed vectors for
    // the shortlist, exact cosine for the final rank
    "x_ann_sq8_refine" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |  FROM embeddings WHERE vec_id % $QueryMod = 0),
         |c AS (SELECT vec_id AS match_id, embedding::DOUBLE[] AS cv
         |      FROM embeddings),
         |sq AS (
         |  SELECT match_id, cv, list_min(cv) AS qmin,
         |    (list_max(cv) - list_min(cv)) / 255.0 AS scale,
         |    list_max(cv) AS qmax
         |  FROM c),
         |recon AS (
         |  SELECT match_id,
         |    CASE WHEN qmax > qmin THEN
         |      list_transform(cv,
         |        x -> qmin + round((x - qmin) / scale)::int * scale)
         |    ELSE list_transform(cv, x -> qmin) END AS rv
         |  FROM sq),
         |approx AS (
         |  SELECT query_id, match_id,
         |    round(list_cosine_similarity(rv, qv), 6) AS approx
         |  FROM recon CROSS JOIN q WHERE query_id <> match_id),
         |short AS (
         |  SELECT query_id, match_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY approx DESC, match_id) AS srnk
         |    FROM approx)
         |  WHERE srnk <= ${3 * TopK}),
         |exact AS (
         |  SELECT s.query_id, s.match_id,
         |    round(list_cosine_similarity(c.cv, q.qv), 6) AS cos
         |  FROM short s JOIN c USING (match_id) JOIN q USING (query_id)),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, match_id) AS rank
         |  FROM exact)
         |SELECT query_id, match_id, cos, rank FROM ranked
         |WHERE rank <= $TopK""".stripMargin,

    // mirrors Similarity.pqAdcTopK: same sampled codebooks, same
    // rounded-L2 argmin with the cent_id tie-break, the same
    // fixed-order pivot sums, exact re-rank (shared CTEs: PqCtes)
    "x_ann_pq_adc" ->
      s"""WITH $PqCtes,
         |${pqTailSql("enc e JOIN lut l ON e.j = l.j AND e.code = l.code")}""".stripMargin,

    // mirrors Similarity.ivfPqTopK (residual IVFPQ): unit-normalized
    // vectors, coarse argmax assignment, PQ over the RESIDUALS of a
    // deterministic sample, ADC = (q·centv + Σ qⱼ·rcⱼ) /
    // √(1 + 2·Σ centvⱼ·rcⱼ + Σ|rcⱼ|²) with fixed-order pivot sums,
    // exact shortlist re-rank
    "x_ann_ivfpq_topk" -> IvfPqOracle,

    // identical replay: the persisted list-partitioned index read path
    // (VectorIndexStore) returns the same rows as the in-query build
    "x_ann_ivfpq_read" -> IvfPqOracle,

    // majority vote (votes desc, label asc) + own-label agreement over
    // the ivfpq approximate top-k instead of the exact brute-force one
    "x_knn_ann_label" -> KnnAnnOracle,

    // the delete scenario: full-corpus samples, tombstoned ids gone
    // from the candidate side, ranks re-closed over survivors
    "x_ann_delete" ->
      s"""WITH $IvfPqDeleteRankedCtes,
         |topk AS (SELECT query_id, match_id, cos, rank FROM ranked
         |         WHERE rank <= $TopK)
         |SELECT query_id, match_id, cos, rank FROM topk""".stripMargin,

    // the append scenario replays with base-corpus-restricted samples
    "x_ann_ivfpq_append" ->
      s"""WITH $IvfPqAppendRankedCtes,
         |topk AS (SELECT query_id, match_id, cos, rank FROM ranked
         |         WHERE rank <= $TopK)
         |SELECT query_id, match_id, cos, rank FROM topk""".stripMargin,

    // mirrors ZOrderStore: same grid binning, same Morton interleave
    // (za bits at odd positions, zb at even), same rectangle — the
    // zval range prefilter is a no-op for correctness (superset), so
    // the oracle only needs the exact rectangle
    "x_zorder_scan" ->
      s"""WITH g AS (
         |  SELECT event_id, user_id % ${1L << ZBits} AS za,
         |    event_id % ${1L << ZBits} AS zb
         |  FROM events)
         |SELECT event_id, za, zb,
         |  list_sum(list_transform(range(0, $ZBits), i ->
         |    (((za >> i) & 1) << (2*i + 1)) + (((zb >> i) & 1) << (2*i))
         |  ))::bigint AS zval
         |FROM g
         |WHERE za BETWEEN $ZALo AND $ZAHi
         |  AND zb BETWEEN $ZBLo AND $ZBHi""".stripMargin,

    // Hilbert index replayed bit-by-bit through the unrolled CTE
    // chain; the rectangle filter runs on the exact grid coords (the
    // covering-range prefilter is a plan device, not a row contract)
    "x_hilbert_scan" ->
      s"""WITH g AS (
         |  SELECT event_id, user_id % ${1L << ZBits} AS za,
         |    event_id % ${1L << ZBits} AS zb
         |  FROM events),
         |h0 AS (
         |  SELECT event_id, za, zb, za AS x, zb AS y, 0::bigint AS d
         |  FROM g
         |  WHERE za BETWEEN $ZALo AND $ZAHi
         |    AND zb BETWEEN $ZBLo AND $ZBHi),
         |$HilbertStepCtes
         |SELECT event_id, za, zb, d AS hval FROM h$ZBits""".stripMargin,

    // scan parity across the tail lifecycle: the rectangle rows (the
    // x_hilbert_scan chain over the FULL grid — base ∪ appended
    // batch) appear once per phase, bit-identical
    "x_hilbert_append" ->
      s"""WITH g AS (
         |  SELECT event_id, user_id % ${1L << ZBits} AS za,
         |    event_id % ${1L << ZBits} AS zb
         |  FROM events),
         |h0 AS (
         |  SELECT event_id, za, zb, za AS x, zb AS y, 0::bigint AS d
         |  FROM g
         |  WHERE za BETWEEN $ZALo AND $ZAHi
         |    AND zb BETWEEN $ZBLo AND $ZBHi),
         |$HilbertStepCtes,
         |rect AS (SELECT event_id, za, zb, d AS hval FROM h$ZBits)
         |SELECT 'pre' AS phase, * FROM rect
         |UNION ALL SELECT 'post', * FROM rect""".stripMargin,

    // the bucketed layout changes the plan, never the rows: plain join
    // + per-order aggregate; decimal sums keep doubles order-independent
    "x_bucketed_join" ->
      """SELECT o_orderkey, count(*) AS n_items,
        |  sum(l_quantity::decimal(18,2))::double AS sum_qty,
        |  sum((l_extendedprice * (1.0 - l_discount))::decimal(18,6))
        |    ::double AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey""".stripMargin,

    // mirrors Temporal.slidingCounts: every event belongs to exactly
    // size/slide = 4 epoch-aligned windows, enumerated via range(4)
    "x_sliding_window" ->
      """SELECT make_timestamp(s * 1000000) AS win_start,
        |  make_timestamp((s + 3600) * 1000000) AS win_end,
        |  event_type, count(*) AS n_events,
        |  sum(value::decimal(18,2))::double AS total_value
        |FROM (SELECT event_type, value,
        |        (floor(epoch(ts) / 900) * 900)::bigint - k * 900 AS s
        |      FROM events CROSS JOIN range(4) r(k))
        |GROUP BY s, event_type""".stripMargin,

    // mirrors SemiStructured.propsStats: JSON k extraction + per-type agg
    "x_json_props" ->
      """SELECT event_type, count(*) AS n_events,
        |  count(k) AS n_parsed,
        |  round(avg(k) * 10000) / 10000.0 AS mean_k,
        |  max(k) AS max_k
        |FROM (SELECT event_type,
        |        try_cast(json_extract_string(props, '$.k') AS int) AS k
        |      FROM events)
        |GROUP BY event_type""".stripMargin,

    // mirrors CorpusStats.mixtureSample: same weight CASE, same op order
    // ((budget · w) / tokens), same integer hash-grid membership test
    "x_mixture_sample" -> {
      val wCase = MixtureWeights.toSeq.sortBy(_._1)
        .map { case (s, w) => s"WHEN '$s' THEN $w" }
        .mkString("CASE source ", " ", " ELSE 0.0 END")
      s"""WITH totals AS (
         |  SELECT source,
         |    sum(len(string_split_regex(lower(trim(text)), '\\s+')))
         |      AS src_tokens
         |  FROM documents GROUP BY source),
         |rates AS (
         |  SELECT source,
         |    least(1.0, $MixtureBudget.0 * ($wCase) / src_tokens) AS rate
         |  FROM totals)
         |SELECT d.doc_id, d.source,
         |  round(r.rate * 1000000) / 1000000.0 AS rate
         |FROM documents d JOIN rates r USING (source)
         |WHERE ('0x' || substr(md5(d.doc_id::varchar || '#0'), 17, 15))
         |    ::bigint % 1000000 < floor(r.rate * 1000000.0)::bigint"""
        .stripMargin
    },

    // mirrors OrcCorpus.ensureEvolvedFixture + read: even ids are the
    // legacy (pre-`lang`) generation, NULL-filled by name-based
    // evolution and flagged
    "x_orc_ingest" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN '(missing)' ELSE lang END
        |    AS lang_read,
        |  doc_id % 2 = 0 AS needs_backfill,
        |  md5(text) AS text_fp, n_chars
        |FROM documents""".stripMargin,

    // same lossless round-trip, Avro path: even ids rode the legacy
    // (pre-lang) shard and backfill from the reader default; the
    // lenient shard's single null-id record is the quarantine count
    "x_avro_ingest" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN '(missing)' ELSE lang END
        |    AS lang_read,
        |  doc_id % 2 = 0 AS needs_backfill,
        |  md5(text) AS text_fp, n_chars, 1::bigint AS n_quarantined
        |FROM documents""".stripMargin,

    // mirrors StreamingSync.attributionJoin in batch form: same key
    // equality and same half-open (view_ts, view_ts + 1h] click window
    "x_attribution" ->
      """SELECT v.user_id, v.event_id AS view_id, v.ts AS view_ts,
        |  c.event_id AS click_id, c.ts AS click_ts
        |FROM events v JOIN events c ON v.user_id = c.user_id
        |WHERE v.event_type = 'view' AND c.event_type = 'click'
        |  AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR"""
        .stripMargin,

    // the interval condition must live in the ON clause — in WHERE it
    // would silently turn the outer join back into an inner one
    "x_attribution_outer" ->
      """SELECT v.user_id, v.event_id AS view_id, v.ts AS view_ts,
        |  c.event_id AS click_id, c.ts AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON v.user_id = c.user_id
        |  AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR"""
        .stripMargin,

    // mirrors CorpusStats.pmiCollocations: same bigram/unigram totals,
    // same division order inside the round-6 ln
    "x_pmi_colloc" ->
      s"""WITH ws AS (
         |  SELECT string_split_regex(lower(trim(text)), '\\s+') AS ws
         |  FROM documents),
         |big AS (
         |  SELECT ws[i] || ' ' || ws[i + 1] AS pair,
         |    count(*)::bigint AS c_xy
         |  FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM ws)
         |  GROUP BY 1),
         |uni AS (
         |  SELECT w, count(*)::bigint AS c
         |  FROM (SELECT unnest(ws) AS w FROM ws)
         |  WHERE w <> '' GROUP BY w),
         |nb AS (SELECT sum(c_xy)::bigint AS nb FROM big),
         |nu AS (SELECT sum(c)::bigint AS nu FROM uni)
         |SELECT pair, c_xy, cx.c AS c_x, cy.c AS c_y,
         |  round(ln((c_xy / nb.nb) /
         |    ((cx.c / nu.nu) * (cy.c / nu.nu))), 6) AS pmi
         |FROM big
         |JOIN uni cx ON cx.w = string_split(pair, ' ')[1]
         |JOIN uni cy ON cy.w = string_split(pair, ' ')[2]
         |CROSS JOIN nb CROSS JOIN nu
         |WHERE c_xy >= $PmiMinCount
         |ORDER BY pmi DESC, pair LIMIT $PmiTopK""".stripMargin,

    // mirrors CorpusStats.unigramDrift: same parity halves, same
    // Laplace smoothing over the union vocabulary, same op order
    "x_unigram_drift" ->
      s"""WITH wt AS (
         |  SELECT doc_id,
         |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
         |  FROM documents),
         |a AS (SELECT w, count(*)::bigint AS c_a FROM wt
         |      WHERE doc_id % 2 = 0 AND w <> '' GROUP BY w),
         |b AS (SELECT w, count(*)::bigint AS c_b FROM wt
         |      WHERE doc_id % 2 = 1 AND w <> '' GROUP BY w),
         |j AS (SELECT coalesce(a.w, b.w) AS w,
         |        coalesce(c_a, 0)::bigint AS c_a,
         |        coalesce(c_b, 0)::bigint AS c_b
         |      FROM a FULL JOIN b ON a.w = b.w),
         |t AS (SELECT sum(c_a)::bigint AS na, sum(c_b)::bigint AS nb,
         |        count(*)::bigint AS v FROM j)
         |SELECT w, c_a, c_b,
         |  round(((c_a + 1.0) / (na + v)) *
         |    ln(((c_a + 1.0) / (na + v)) /
         |       ((c_b + 1.0) / (nb + v))), 6) AS kl_term
         |FROM j CROSS JOIN t
         |ORDER BY kl_term DESC, w LIMIT $DriftTopK""".stripMargin,

    // mirrors CorpusStats.weightedSamplePerGroup: same "#1" seed
    // family, same (hv+1)/2^60 uniform, same round-6 ln-priority and
    // (score desc, doc_id) rank
    "x_sample_weighted" ->
      s"""WITH pri AS (
         |  SELECT source, doc_id,
         |    round(ln((('0x' || substr(md5(doc_id::varchar || '#1'),
         |        1, 15))::bigint + 1) / 1152921504606846976.0)
         |      / n_chars, 6) + 0.0 AS score
         |  FROM documents WHERE n_chars > 0)
         |SELECT source, doc_id, score, rank FROM (
         |  SELECT source, doc_id, score, row_number() OVER (
         |      PARTITION BY source ORDER BY score DESC, doc_id) AS rank
         |  FROM pri)
         |WHERE rank <= $WSampleK""".stripMargin,

    // mirrors CorpusStats.tfidfTopTerms: same op order (n/df inside ln,
    // multiplied by tf, rounded to 6) so doubles are bit-identical
    "x_tfidf_top" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    string_split_regex(lower(trim(text)), '\\s+') AS ws
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id AS id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(ws) AS term FROM toks)
         |  WHERE term <> '' GROUP BY id, term),
         |df AS (
         |  SELECT term, count(*) AS df FROM (
         |    SELECT doc_id, unnest(list_distinct(ws)) AS term FROM toks)
         |  WHERE term <> '' GROUP BY term),
         |n AS (SELECT count(*)::double AS n FROM documents),
         |scored AS (
         |  SELECT tf.id, tf.term,
         |    round(tf.tf * ln(n.n / df.df), 6) AS tfidf
         |  FROM tf JOIN df USING (term) CROSS JOIN n),
         |ranked AS (
         |  SELECT id AS doc_id, term, tfidf,
         |    row_number() OVER (PARTITION BY id
         |      ORDER BY tfidf DESC, term) AS rank
         |  FROM scored)
         |SELECT doc_id, term, tfidf, rank FROM ranked
         |WHERE rank <= $TfidfTopK""".stripMargin,

    // mirrors CorpusStats.repetitionSignals: per-doc bigram mode fraction
    // (0.0 below two words) + duplicate-word fraction
    "x_rep_signals" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(ws)),
        |      i -> ws[i] || ' ' || ws[i+1])) AS bg
        |  FROM w WHERE len(ws) >= 2),
        |cnt AS (SELECT doc_id, bg, count(*) AS n FROM bg GROUP BY doc_id, bg),
        |top AS (
        |  SELECT doc_id,
        |    round(max(n)::double / sum(n) * 10000) / 10000.0
        |      AS top_bigram_frac
        |  FROM cnt GROUP BY doc_id)
        |SELECT w.doc_id,
        |  coalesce(top.top_bigram_frac, 0.0) AS top_bigram_frac,
        |  round((1.0 - len(list_distinct(ws))::double /
        |    greatest(len(ws), 1)) * 10000) / 10000.0 AS dup_word_frac
        |FROM w LEFT JOIN top ON w.doc_id = top.doc_id""".stripMargin,

    // mirrors CorpusStats.gopherRules: same word list, integer length
    // sum, rounded ratios, same bound conjunction
    "x_gopher_rules" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      w -> w <> '') AS ws
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, len(ws)::bigint AS n_words,
        |    round((CASE WHEN len(ws) > 0 THEN
        |      list_sum(list_transform(ws, w -> len(w)))::double / len(ws)
        |      ELSE 0.0 END) * 10000) / 10000.0 AS mean_word_len,
        |    round((CASE WHEN len(ws) > 0 THEN
        |      len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
        |        ::double / len(ws)
        |      ELSE 0.0 END) * 10000) / 10000.0 AS alpha_frac
        |  FROM t)
        |SELECT doc_id, n_words, mean_word_len, alpha_frac,
        |  (n_words >= 5 AND n_words <= 100000
        |   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |   AND alpha_frac >= 0.6) AS keep
        |FROM r""".stripMargin,

    // mirrors CorpusStats.lengthHistogram: the BPE token estimate, then
    // ⌊log₂(n+1)⌋ via binary-string length (exact on both engines)
    "x_len_hist" ->
      """WITH b AS (
        |  SELECT cast(coalesce(list_sum(list_transform(
        |    regexp_extract_all(text,
        |      '[A-Za-z]+|[0-9]+|[^ \t\n\rA-Za-z0-9]'),
        |    p -> CASE
        |      WHEN regexp_matches(p, '^[A-Za-z]+$')
        |        THEN cast(ceil(length(p) / 4.0) AS bigint)
        |      WHEN regexp_matches(p, '^[0-9]+$')
        |        THEN cast(ceil(length(p) / 3.0) AS bigint)
        |      ELSE 1 END)), 0) AS bigint) AS n
        |  FROM documents)
        |SELECT (length(bin(n + 1)) - 1)::bigint AS bucket,
        |  count(*) AS n_docs, sum(n)::bigint AS total_tokens
        |FROM b GROUP BY bucket""".stripMargin,

    // mirrors CorpusStats.unigramLogProb: tf-weighted mean of
    // ln(total/cnt) under the corpus unigram distribution; cnt/total
    // derive from tf, the per-doc sum goes through decimal(38,18)
    "x_unigram_xent" ->
      """WITH toks AS (
        |  SELECT doc_id AS id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |t2 AS (SELECT * FROM toks WHERE term <> ''),
        |tf AS (SELECT id, term, count(*) AS tf FROM t2 GROUP BY id, term),
        |cnt AS (SELECT term, sum(tf)::bigint AS cnt FROM tf GROUP BY term),
        |tot AS (SELECT sum(tf)::double AS total FROM tf)
        |SELECT id AS doc_id, sum(tf)::bigint AS n_tok,
        |  round(sum((tf * ln(total / cnt))::decimal(38,18))::double
        |    / sum(tf), 4) AS xent
        |FROM tf JOIN cnt USING (term) CROSS JOIN tot
        |GROUP BY id""".stripMargin,

    // mirrors CorpusStats.bigramLogProb: same bigram stream (word
    // 2-shingle occurrences), same add-0.5 conditional model, same
    // decimal-summed mean
    "x_bigram_xent" -> BigramXentOracle,

    // scoring the training corpus against the STORED model is the
    // identical computation (counts round-trip parquet exactly; the
    // scorer's left-join coalesces never fire in-model) — one oracle
    "x_bigram_xent_stored" -> BigramXentOracle,

    // mirrors CorpusStats.heavyHittersValidated: the EXACT heavy
    // hitters replay in SQL; the sketch-contract booleans must be TRUE
    // on every row (estimates themselves stay un-hashed — they depend
    // on merge order)
    "x_heavy_hitters" ->
      s"""WITH tok AS (
         |  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+'))
         |    AS item
         |  FROM documents),
         |tf AS (SELECT item, count(*)::bigint AS exact_cnt FROM tok
         |       WHERE item <> '' GROUP BY item),
         |n AS (SELECT sum(exact_cnt)::bigint AS n_tokens FROM tf)
         |SELECT item, exact_cnt, n_tokens,
         |  TRUE AS reported, TRUE AS bounds_hold
         |FROM tf CROSS JOIN n
         |WHERE exact_cnt * $HeavyHitterPhi > n_tokens""".stripMargin,

    // mirrors CorpusStats.freqMergeValidated: identical exact side —
    // the split→sketch→merge path must land on the same contract rows
    // (the x_ann_ivfpq_read same-oracle pattern)
    "x_freq_merge" ->
      s"""WITH tok AS (
         |  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+'))
         |    AS item
         |  FROM documents),
         |tf AS (SELECT item, count(*)::bigint AS exact_cnt FROM tok
         |       WHERE item <> '' GROUP BY item),
         |n AS (SELECT sum(exact_cnt)::bigint AS n_tokens FROM tf)
         |SELECT item, exact_cnt, n_tokens,
         |  TRUE AS reported, TRUE AS bounds_hold
         |FROM tf CROSS JOIN n
         |WHERE exact_cnt * $HeavyHitterPhi > n_tokens""".stripMargin,

    // the MG rebuild over the filtered corpus: x_freq_merge's exact
    // replay and contract booleans, minus the takedown slice
    "x_mg_rebuild" ->
      s"""WITH tok AS (
         |  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+'))
         |    AS item
         |  FROM documents WHERE doc_id % $DeleteMod <> $DeleteRem),
         |tf AS (SELECT item, count(*)::bigint AS exact_cnt FROM tok
         |       WHERE item <> '' GROUP BY item),
         |n AS (SELECT sum(exact_cnt)::bigint AS n_tokens FROM tf)
         |SELECT item, exact_cnt, n_tokens,
         |  TRUE AS reported, TRUE AS bounds_hold
         |FROM tf CROSS JOIN n
         |WHERE exact_cnt * $HeavyHitterPhi > n_tokens""".stripMargin,

    // mirrors CorpusStats.heavyHittersBySourceValidated: per-source
    // exact heavy hitters; per-group contract booleans must be TRUE
    "x_heavy_by_source" ->
      s"""WITH tok AS (
         |  SELECT source,
         |    unnest(string_split_regex(lower(trim(text)), '\\s+'))
         |      AS item
         |  FROM documents),
         |tf AS (SELECT source, item, count(*)::bigint AS exact_cnt
         |       FROM tok WHERE item <> '' GROUP BY source, item),
         |n AS (SELECT source, sum(exact_cnt)::bigint AS n_tokens
         |      FROM tf GROUP BY source)
         |SELECT source, item, exact_cnt, n_tokens,
         |  TRUE AS reported, TRUE AS bounds_hold
         |FROM tf JOIN n USING (source)
         |WHERE exact_cnt * $HeavyHitterPhi > n_tokens""".stripMargin,

    // mirrors CorpusStats.qualityBuckets: ntile(3) by (quality desc,
    // doc_id) within language — the order key is total, so tile
    // assignment is engine-independent
    "x_quality_tiers" ->
      s"""WITH qs AS ($QualitySelect)
         |SELECT doc_id, lang, q, tile,
         |  CASE WHEN tile = 1 THEN 'head'
         |       WHEN tile = 3 THEN 'tail'
         |       ELSE 'middle' END AS tier
         |FROM (
         |  SELECT d.doc_id, d.lang, qs.score AS q,
         |    ntile(3) OVER (PARTITION BY d.lang
         |      ORDER BY qs.score DESC, d.doc_id) AS tile
         |  FROM documents d JOIN qs USING (doc_id))""".stripMargin,

    // the approx tier path hashes the EXACT tiles plus the always-true
    // adjacency contract; the approx tile values themselves are
    // GK-boundary-dependent and stay un-hashed
    "x_quality_tiers_approx" ->
      s"""WITH qs AS ($QualitySelect)
         |SELECT doc_id, lang, q, tile_exact, TRUE AS adjacent_ok
         |FROM (
         |  SELECT d.doc_id, d.lang, qs.score AS q,
         |    ntile(3) OVER (PARTITION BY d.lang
         |      ORDER BY qs.score DESC, d.doc_id) AS tile_exact
         |  FROM documents d JOIN qs USING (doc_id))""".stripMargin,

    // mirrors CorpusStats.boilerplateCoverage: occurrence-level shingle
    // coverage against the df >= BoilerplateMinDf hot set (df over
    // DISTINCT docs)
    "x_boilerplate" ->
      s"""WITH w AS (
         |  SELECT doc_id,
         |    string_split_regex(lower(trim(text)), '\\s+') AS ws
         |  FROM documents),
         |occ AS (
         |  SELECT doc_id, unnest(CASE WHEN len(ws) >= 3 THEN
         |    list_transform(range(1, len(ws)-1),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
         |    ELSE []::varchar[] END) AS s
         |  FROM w),
         |hot AS (
         |  SELECT s FROM (SELECT DISTINCT doc_id, s FROM occ)
         |  GROUP BY s HAVING count(*) >= $BoilerplateMinDf),
         |cov AS (
         |  SELECT o.doc_id, count(*) AS n_sh,
         |    sum(CASE WHEN h.s IS NOT NULL THEN 1 ELSE 0 END) AS n_common
         |  FROM occ o LEFT JOIN hot h ON o.s = h.s
         |  GROUP BY o.doc_id)
         |SELECT d.doc_id,
         |  coalesce(n_sh, 0)::bigint AS n_sh,
         |  coalesce(n_common, 0)::bigint AS n_common,
         |  round(coalesce(n_common, 0)::double
         |    / greatest(coalesce(n_sh, 0), 1) * 1000000) / 1000000.0
         |    AS coverage,
         |  round(coalesce(n_common, 0)::double
         |    / greatest(coalesce(n_sh, 0), 1) * 1000000) / 1000000.0
         |    <= $BoilerplateMaxCoverage AS keep
         |FROM documents d LEFT JOIN cov USING (doc_id)""".stripMargin,

    // mirrors CorpusStats.bpePairCounts: freq-weighted adjacent char
    // pairs over the vocabulary, top-k by (cnt desc, pair)
    "x_bpe_pairs" ->
      s"""WITH wf AS (
         |  SELECT w, count(*) AS freq FROM (
         |    SELECT unnest(
         |      string_split_regex(lower(trim(text)), '\\s+')) AS w
         |    FROM documents)
         |  WHERE w <> '' AND length(w) >= 2 GROUP BY w),
         |pairs AS (
         |  SELECT unnest([substring(w, i, 2)
         |    for i in range(1, length(w))]) AS pair, freq
         |  FROM wf)
         |SELECT pair, sum(freq)::bigint AS cnt FROM pairs
         |GROUP BY pair ORDER BY cnt DESC, pair
         |LIMIT $BpePairTopK""".stripMargin,

    // mirrors CorpusStats.bpeTrainMerges: same tokenization as
    // x_bpe_pairs, same (cnt desc, pair) argmax, recursive rewrite per
    // stage (= the kernel's greedy left-to-right pass)
    "x_bpe_train" -> bpeTrainSql(BpeTrainMerges),

    // mirrors CorpusStats.bpeEncode: the same trained stages produce
    // the final vocab s{N}; docs explode words with position, left-join
    // the vocab (OOV = the word itself), and the fingerprint reassembles
    // the token stream in document order
    // (concatenated, NOT interpolated into the stripMargin literal —
    // the outer stripMargin would re-strip the helper's embedded
    // `||`-continuation lines into syntax errors)
    "x_bpe_encode" -> BpeEncodeOracle,

    // same merge-stage CTEs; the hashed contract is the round-trip:
    // gluing a word's subwords reproduces the word, every word
    "x_bpe_roundtrip" ->
      (bpeStagesSql(BpeTrainMerges, withFinalVocab = true) + ",\n" +
        s"""dw AS MATERIALIZED (
           |  SELECT doc_id, ws[i + 1] AS w, i AS pos FROM (
           |    SELECT doc_id, ws, unnest(range(0, len(ws))) AS i
           |    FROM (SELECT doc_id,
           |            string_split_regex(lower(trim(text)), '\\s+') AS ws
           |          FROM documents))
           |  WHERE ws[i + 1] <> ''),
           |enc AS (
           |  SELECT d.doc_id, d.pos, d.w,
           |    coalesce(s.syms, [d.w]) AS toks
           |  FROM dw d LEFT JOIN s$BpeTrainMerges s ON d.w = s.w)
           |SELECT doc_id, count(*)::bigint AS n_words,
           |  sum(len(toks))::bigint AS n_subwords,
           |  bool_and(array_to_string(toks, '') = w) AS lossless
           |FROM enc GROUP BY doc_id""".stripMargin),

    // exact largest-remainder quotas + md5-lowest fill per stratum
    "x_stratified_sample" ->
      s"""WITH c AS (
         |  SELECT lang AS g, count(*)::bigint AS ng FROM documents
         |  GROUP BY lang),
         |t AS (SELECT g, ng, sum(ng) OVER ()::bigint AS nn FROM c),
         |q0 AS (
         |  SELECT g, ng, nn, ($StratifiedTotal * ng) // nn AS base,
         |    ($StratifiedTotal * ng) % nn AS rem
         |  FROM t),
         |q1 AS (
         |  SELECT *, $StratifiedTotal - sum(base) OVER () AS deficit,
         |    row_number() OVER (ORDER BY rem DESC, g) AS rr
         |  FROM q0),
         |q AS (
         |  SELECT g AS lang,
         |    (base + CASE WHEN rr <= deficit THEN 1 ELSE 0 END)::bigint
         |      AS quota
         |  FROM q1),
         |r AS (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang ORDER BY
         |      ('0x' || substr(md5(doc_id::varchar || '#0'), 1, 15))
         |        ::bigint, doc_id) AS rk
         |  FROM documents)
         |SELECT r.doc_id, r.lang, r.rk, q.quota
         |FROM r JOIN q USING (lang) WHERE r.rk <= q.quota""".stripMargin,

    // pairwise day-slopes in exact ppm; lower-median order statistic
    "x_theilsen_trend" ->
      """WITH daily AS (
        |  SELECT event_type AS key, ts::date AS day,
        |    sum(CAST(CAST(value AS decimal(18,2)) * 100 AS bigint))
        |      ::bigint AS cents
        |  FROM events GROUP BY 1, 2),
        |x AS (
        |  SELECT key, cents,
        |    datediff('day', min(day) OVER (PARTITION BY key), day)
        |      ::bigint AS x
        |  FROM daily),
        |p AS (
        |  SELECT a.key,
        |    (1000000 * (b.cents - a.cents)) // (b.x - a.x) AS slope_ppm
        |  FROM x a JOIN x b ON a.key = b.key AND a.x < b.x),
        |rk AS (
        |  SELECT key, slope_ppm,
        |    row_number() OVER (PARTITION BY key ORDER BY slope_ppm)
        |      AS rn,
        |    count(*) OVER (PARTITION BY key) AS np
        |  FROM p),
        |med AS (
        |  SELECT key, max(np)::bigint AS n_pairs,
        |    min(CASE WHEN rn = (np + 1) // 2 THEN slope_ppm END)
        |      ::bigint AS slope_ppm_median
        |  FROM rk GROUP BY key),
        |nd AS (SELECT key, count(*)::bigint AS n_days FROM daily
        |       GROUP BY key)
        |SELECT nd.key, n_days, n_pairs, slope_ppm_median
        |FROM nd LEFT JOIN med ON nd.key = med.key""".stripMargin,

    // the stored-vocabulary encode is defined to equal the in-query
    // train+encode (parquet round-trips the vocab exactly) — one oracle
    "x_bpe_encode_stored" -> BpeEncodeOracle,

    // unigram EM step: vocab seeding, exact-integer Viterbi (recursive
    // CTE generated from the shared constants), M-step recount
    "x_unigram_tok_train" ->
      s"""WITH RECURSIVE $UnigramTokCtes,
         |used AS (
         |  SELECT piece, sum(freq)::bigint AS cnt_em FROM (
         |    SELECT unnest(string_split(f.seg, ' ')) AS piece, wl.freq
         |    FROM fin f JOIN wl ON wl.w = f.w WHERE f.seg IS NOT NULL)
         |  GROUP BY piece)
         |SELECT vs.piece, vs.cnt AS cnt_seed, vs.s AS score_seed,
         |  coalesce(u.cnt_em, 0)::bigint AS cnt_em
         |FROM vs LEFT JOIN used u ON u.piece = vs.piece""".stripMargin,

    // stored-vocab serving ≡ in-query train+encode, bit for bit
    "x_unigram_tok_stored" -> UnigramEncodeOracle,

    // EM round 2: prune (chars floored at 1), re-score, re-run the
    // SAME generated DP chain against the round-2 score table
    "x_unigram_tok_em2" ->
      s"""WITH RECURSIVE $UnigramTokCtes,
         |used AS (
         |  SELECT piece, sum(freq)::bigint AS cnt_em FROM (
         |    SELECT unnest(string_split(f.seg, ' ')) AS piece, wl.freq
         |    FROM fin f JOIN wl ON wl.w = f.w WHERE f.seg IS NOT NULL)
         |  GROUP BY piece),
         |vocab2 AS (
         |  SELECT vs.piece,
         |    (CASE WHEN coalesce(u.cnt_em, 0) > 0 THEN u.cnt_em
         |          ELSE 1 END)::bigint AS cnt
         |  FROM vs LEFT JOIN used u ON u.piece = vs.piece
         |  WHERE coalesce(u.cnt_em, 0) > 0 OR length(vs.piece) = 1),
         |${fixLogCtes("vocab2", "_v2", Seq("piece"))},
         |vs2 AS (SELECT piece, cnt, s FROM fl_v2),
         |${unigramDpChain("vs2", "_r2")},
         |used2 AS (
         |  SELECT piece, sum(freq)::bigint AS u2 FROM (
         |    SELECT unnest(string_split(f.seg, ' ')) AS piece, wl.freq
         |    FROM fin_r2 f JOIN wl ON wl.w = f.w
         |    WHERE f.seg IS NOT NULL)
         |  GROUP BY piece)
         |SELECT v.piece, v.cnt AS cnt_r1, v.s AS score_r2,
         |  coalesce(u2.u2, 0)::bigint AS cnt_r2
         |FROM vs2 v LEFT JOIN used2 u2 ON u2.piece = v.piece"""
        .stripMargin,

    // unigram encode: the same per-word segmentations served through
    // the doc-words join, order-exact token-stream fingerprint
    "x_unigram_tok_encode" -> UnigramEncodeOracle,

    // mirrors CorpusStats.chunkWindows: ⌊(L−1)/stride⌋+1 windows of
    // `width` words; list_slice's inclusive end = Spark slice's length
    "x_chunk_windows" ->
      s"""WITH w AS (
         |  SELECT doc_id,
         |    string_split_regex(lower(trim(text)), '\\s+') AS ws
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, ws,
         |    unnest(range(0, ((len(ws)-1) // $ChunkStride) + 1))
         |      AS chunk_idx
         |  FROM w)
         |SELECT doc_id, chunk_idx::int AS chunk_idx,
         |  len(list_slice(ws, chunk_idx*$ChunkStride + 1,
         |    chunk_idx*$ChunkStride + $ChunkWidth))::int AS n_words,
         |  md5(array_to_string(list_slice(ws, chunk_idx*$ChunkStride + 1,
         |    chunk_idx*$ChunkStride + $ChunkWidth), ' ')) AS chunk_fp
         |FROM c""".stripMargin,

    // mirrors CorpusStats.packSequences: ordered prefix sum, bin by the
    // first token's budget multiple
    "x_seq_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    len(string_split_regex(lower(trim(text)), '\\s+'))::bigint
         |      AS toks
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, toks,
         |    coalesce(sum(toks) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cum_before
         |  FROM t)
         |SELECT (cum_before // $PackBudget)::bigint AS seq_id,
         |  count(*) AS n_docs, sum(toks)::bigint AS n_tokens,
         |  round(sum(toks)::double / $PackBudget, 6) AS fill
         |FROM c GROUP BY seq_id""".stripMargin,

    // mirrors CorpusStats.truncateHeadTail: first TruncHead + last
    // TruncTail words for docs over the budget
    "x_truncate" ->
      s"""WITH w AS (
         |  SELECT doc_id,
         |    string_split_regex(lower(trim(text)), '\\s+') AS ws
         |  FROM documents),
         |k AS (
         |  SELECT doc_id, ws,
         |    CASE WHEN len(ws) <= $TruncMaxToks THEN ws
         |         ELSE list_concat(list_slice(ws, 1, $TruncHead),
         |           list_slice(ws, len(ws) - ${TruncTail - 1}, len(ws)))
         |    END AS kept
         |  FROM w)
         |SELECT doc_id, len(ws)::int AS n_orig, len(kept)::int AS n_kept,
         |  md5(array_to_string(kept, ' ')) AS kept_fp
         |FROM k""".stripMargin,

    // mirrors CorpusStats.shardOrder: seed-2 md5 hash mod NumShards,
    // rank within shard ordered by (hash, id)
    "x_shard_order" ->
      s"""SELECT doc_id, shard::int AS shard,
         |  row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)::int
         |    AS pos
         |FROM (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(doc_id::varchar || '#1'), 1, 15))::bigint
         |      AS h,
         |    ('0x' || substr(md5(doc_id::varchar || '#1'), 1, 15))::bigint
         |      % $NumShards AS shard
         |  FROM documents)""".stripMargin,

    // mirrors CorpusStats.splitAssign: same md5-seeded 60-bit hash family
    "x_split_assign" ->
      """SELECT doc_id,
        |  ('0x' || substr(md5(doc_id::varchar || '#0'), 1, 15))::bigint
        |    % 100 AS bucket,
        |  CASE
        |    WHEN ('0x' || substr(md5(doc_id::varchar || '#0'), 1, 15))::bigint
        |      % 100 < 80 THEN 'train'
        |    WHEN ('0x' || substr(md5(doc_id::varchar || '#0'), 1, 15))::bigint
        |      % 100 < 90 THEN 'val'
        |    ELSE 'test' END AS split
        |FROM documents""".stripMargin,

    // mirrors CorpusStats.temperatureSample: ppm-floored sqrt rate per
    // source, seed-0 md5 selection against the exact integer threshold
    "x_temperature_sample" ->
      """WITH c AS (
        |  SELECT lang, count(*)::bigint AS n_docs
        |  FROM documents GROUP BY 1),
        |m AS (SELECT min(n_docs) AS n_min FROM c),
        |r AS (
        |  SELECT lang, n_docs,
        |    floor(sqrt(n_min::double) / sqrt(n_docs::double) * 1000000)
        |      ::bigint AS q_ppm
        |  FROM c CROSS JOIN m)
        |SELECT d.doc_id, d.lang, r.n_docs, r.q_ppm
        |FROM documents d JOIN r USING (lang)
        |WHERE ('0x' || substr(md5(d.doc_id::varchar || '#0'), 1, 15))
        |    ::bigint % 1000000 < r.q_ppm""".stripMargin,

    // mirrors CorpusStats.compactionPlan: strlen counts UTF-8 BYTES in
    // DuckDB (= Spark's octet_length); same running-sum bin assignment
    "x_compaction_plan" ->
      s"""WITH f AS (
         |  SELECT source, doc_id, strlen(text)::bigint AS bytes
         |  FROM documents),
         |c AS (
         |  SELECT source, doc_id, bytes,
         |    sum(bytes) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM f)
         |SELECT source,
         |  ((cum - bytes) // $CompactionTargetBytes)::bigint AS bin,
         |  count(*)::bigint AS n_files, sum(bytes)::bigint AS bytes,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM c GROUP BY 1, 2""".stripMargin,

    "x_vocab_top_df" ->
      s"""SELECT token, count(*) AS df FROM (
         |  SELECT doc_id,
         |    unnest(list_distinct(
         |      string_split_regex(lower(trim(text)), '\\s+'))) AS token
         |  FROM documents)
         |WHERE token <> ''
         |GROUP BY token
         |ORDER BY df DESC, token
         |LIMIT $VocabTopK""".stripMargin,

    // discrete nearest-rank percentiles over the per-group histogram —
    // mirrors CorpusStats.sourceStats (integer rank targets, no
    // continuous interpolation anywhere)
    "x_source_stats" ->
      """WITH t AS (
        |  SELECT source, lang, n_chars,
        |    len(string_split_regex(lower(trim(text)), '\s+'))::bigint
        |      AS toks
        |  FROM documents),
        |h AS (SELECT source, lang, toks, count(*) AS cnt
        |      FROM t GROUP BY source, lang, toks),
        |c AS (SELECT source, lang, toks,
        |        sum(cnt) OVER (PARTITION BY source, lang
        |          ORDER BY toks) AS cum,
        |        sum(cnt) OVER (PARTITION BY source, lang) AS n
        |      FROM h),
        |p AS (SELECT source, lang,
        |        min(CASE WHEN cum >= (n + 1) // 2 THEN toks END)
        |          AS p50_tokens,
        |        min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN toks END)
        |          AS p90_tokens
        |      FROM c GROUP BY source, lang),
        |a AS (SELECT source, lang, count(*) AS n_docs,
        |        sum(n_chars)::bigint AS total_chars,
        |        round(avg(toks) * 10000) / 10000.0 AS mean_tokens
        |      FROM t GROUP BY source, lang)
        |SELECT source, lang, n_docs, total_chars, mean_tokens,
        |  p50_tokens, p90_tokens
        |FROM a JOIN p USING (source, lang)""".stripMargin,

    // self-validating sketch profile: the oracle replays the EXACT
    // columns (count / distinct / discrete nearest-rank percentiles,
    // same rank arithmetic as x_source_stats) and expects every
    // bound-check boolean to be TRUE — the sketch estimates themselves
    // are engine-specific and are not in the hashed output
    "x_sketch_profile" ->
      """WITH t AS (
        |  SELECT source, md5(lower(trim(text))) AS fp,
        |    len(string_split_regex(lower(trim(text)), '\s+'))::bigint
        |      AS toks
        |  FROM documents),
        |h AS (SELECT source, toks, count(*) AS cnt
        |      FROM t GROUP BY source, toks),
        |c AS (SELECT source, toks,
        |        sum(cnt) OVER (PARTITION BY source ORDER BY toks) AS cum,
        |        sum(cnt) OVER (PARTITION BY source) AS n
        |      FROM h),
        |p AS (SELECT source,
        |        min(CASE WHEN cum >= (n + 1) // 2 THEN toks END)
        |          AS p50_tokens,
        |        min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN toks END)
        |          AS p90_tokens
        |      FROM c GROUP BY source),
        |a AS (SELECT source, count(*) AS n_docs,
        |        count(DISTINCT fp) AS exact_unique
        |      FROM t GROUP BY source)
        |SELECT source, n_docs, exact_unique, p50_tokens, p90_tokens,
        |  TRUE AS unique_within_rsd, TRUE AS p50_within_rank_tol,
        |  TRUE AS p90_within_rank_tol
        |FROM a JOIN p USING (source)""".stripMargin,

    // lossless round-trip: every parquet row comes back (md5 text
    // fingerprint), and exactly the 2 injected bad lines quarantine
    "x_jsonl_ingest" ->
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_fp,
        |  2::bigint AS n_quarantined
        |FROM documents""".stripMargin,

    // same lossless round-trip, TSV path: the 2 injected bad lines
    // (type garbage + missing id) quarantine, everything else survives
    // the escape/unescape byte-for-byte
    "x_tsv_ingest" ->
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_fp,
        |  2::bigint AS n_quarantined
        |FROM documents""".stripMargin,

    // the exact columns replay; both booleans must be TRUE — the
    // lossless-merge identity and the estimate bound (see
    // CorpusStats.sketchMergeProfile)
    "x_sketch_merge" ->
      """SELECT source, count(*)::bigint AS n_docs,
        |  count(DISTINCT md5(lower(trim(text))))::bigint AS exact_unique,
        |  TRUE AS merge_lossless, TRUE AS within_bound
        |FROM documents GROUP BY source""".stripMargin,

    // self-validating compression signal: byte length is replayable in
    // any engine; the two deflate-contract booleans must be TRUE on
    // every row (see TextAnalysis.compressionSelfCheck)
    "x_compress_ratio" ->
      """SELECT doc_id, octet_length(encode(text))::bigint AS raw_len,
        |  TRUE AS ratio_ok, TRUE AS rep_detect
        |FROM documents""".stripMargin,

    // same augmented text, same three patterns in the same order
    "x_pii_scrub" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id::varchar ||
        |    '@example.com or call ' || (5550000000 + doc_id)::varchar AS t
        |  FROM documents)
        |SELECT doc_id,
        |  cast(len(regexp_extract_all(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    + len(regexp_extract_all(t, 'https?://[^\s]+'))
        |    + len(regexp_extract_all(t, '[0-9]{7,}')) AS int) AS n_pii,
        |  md5(regexp_replace(regexp_replace(regexpreplace_email,
        |    'https?://[^\s]+', '<URL>', 'g'), '[0-9]{7,}', '<NUM>', 'g'))
        |    AS scrubbed_fp
        |FROM (SELECT doc_id, t,
        |        regexp_replace(t,
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |          '<EMAIL>', 'g') AS regexpreplace_email
        |      FROM aug)""".stripMargin,

    // k-anonymity: distinct users per QI cell; floor over an exact
    // integer-valued double for the $100 band (cast would round here
    // but truncate in Spark)
    "x_k_anonymity" ->
      s"""WITH qi AS (
         |  SELECT event_type AS qi_type,
         |    (cast(ts AS date) - DATE '1970-01-01') % 7 AS qi_dow,
         |    cast(floor(CAST(CAST(value AS decimal(18,2)) * 100
         |      AS bigint)::double / 10000.0) AS bigint) AS qi_band,
         |    user_id
         |  FROM events)
         |SELECT qi_type, qi_dow, qi_band,
         |  count(*)::bigint AS n_records,
         |  count(DISTINCT user_id)::bigint AS n_users,
         |  count(DISTINCT user_id) >= $KAnonK AS k_anonymous
         |FROM qi GROUP BY 1, 2, 3""".stripMargin,

    // l-diversity: distinct sensitive bands per (type, dow) cell
    "x_l_diversity" ->
      s"""WITH qi AS (
         |  SELECT event_type AS qi_type,
         |    (cast(ts AS date) - DATE '1970-01-01') % 7 AS qi_dow,
         |    cast(floor(CAST(CAST(value AS decimal(18,2)) * 100
         |      AS bigint)::double / 10000.0) AS bigint) AS qi_band
         |  FROM events)
         |SELECT qi_type, qi_dow,
         |  count(*)::bigint AS n_records,
         |  count(DISTINCT qi_band)::bigint AS n_sensitive,
         |  count(DISTINCT qi_band) >= $LDiverseL AS l_diverse
         |FROM qi GROUP BY 1, 2""".stripMargin,

    // Laplace release: the md5 draw through the inverse CDF, the one
    // ln behind a 6dp round, the noised count re-rounded identically
    "x_dp_release" ->
      s"""WITH counts AS (
         |  SELECT event_type AS key, count(*)::bigint AS n_true
         |  FROM events GROUP BY 1),
         |drawn AS (
         |  SELECT key, n_true,
         |    ('0x' || substr(md5(key || '#0'), 1, 15))::bigint::double
         |      / 1152921504606846976.0 - 0.5 AS c
         |  FROM counts),
         |noised AS (
         |  SELECT key, n_true,
         |    round(-(1.0 / $DpEpsilon) * sign(c) *
         |      ln(1.0 - 2.0 * abs(c)), 6) AS noise
         |  FROM drawn)
         |SELECT key, n_true, noise,
         |  round(n_true::double + noise, 6) AS n_released
         |FROM noised""".stripMargin,

    // gap-islands replay of the streaming session merge (same break
    // semantics x_sessionize pinned: a gap >= the window breaks);
    // ms-floored times mirror the replay's state-store granularity
    "x_stream_sessions" ->
      s"""WITH e AS (
         |  SELECT user_id, date_trunc('millisecond', ts) AS ts, value
         |  FROM events),
         |m AS (
         |  SELECT user_id, ts, value,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |      OR ts - lag(ts) OVER w >= INTERVAL '$StreamSessionGap'
         |      THEN 1 ELSE 0 END AS brk
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |s AS (
         |  SELECT user_id, ts, value,
         |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM m)
         |SELECT user_id, min(ts) AS session_start,
         |  max(ts) + INTERVAL '$StreamSessionGap' AS session_end,
         |  count(*) AS n_events,
         |  cast(sum(cast(value AS decimal(18,2))) AS double) AS total
         |FROM s GROUP BY user_id, sid""".stripMargin,

    // GROUPING(source, lang) carries the same bit encoding as Spark's
    // grouping_id() (first column = MSB); sum(bigint) re-cast so the
    // HUGEINT→float64 pandas artifact can't bite.
    "x_rollup_stats" ->
      """SELECT source, lang, GROUPING(source, lang) AS gid,
        |  count(*) AS n_docs, sum(n_chars)::bigint AS sum_chars
        |FROM documents GROUP BY ROLLUP (source, lang)""".stripMargin,

    "x_cube_stats" ->
      """SELECT source, lang, GROUPING(source, lang) AS gid,
        |  count(*) AS n_docs, sum(n_chars)::bigint AS sum_chars
        |FROM documents GROUP BY CUBE (source, lang)""".stripMargin,

    // conditional aggregation IS the declared-domain pivot; FILTER
    // counts yield 0 (not NULL) for absent cells, matching the
    // coalesced Spark matrix
    "x_pivot_daily" -> PivotDailySql,

    "x_unpivot_daily" ->
      s"""WITH p AS ($PivotDailySql)
         |SELECT day, event_type, cnt FROM p
         |  UNPIVOT (cnt FOR event_type IN
         |    (click, error, purchase, signup, view))""".stripMargin,

    // same (ts, event_id) change ordering; valid_to from LEAD over the
    // change rows only (ts unique per user → ORDER BY valid_from is
    // total within the partition)
    "x_scd2_history" ->
      s"""WITH $Scd2Ctes
         |SELECT user_id, event_type, valid_from, valid_to,
         |  valid_to IS NULL AS is_current
         |FROM scd2""".stripMargin,

    // same islands pass; string_agg's explicit ORDER BY matches the
    // in-aggregate array_sort
    "x_session_paths" ->
      s"""WITH m AS (
         |  SELECT user_id, ts, event_id, event_type,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |      OR ts - lag(ts) OVER w >= INTERVAL '$SessionGap'
         |      THEN 1 ELSE 0 END AS new_s
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |s AS (
         |  SELECT *, sum(new_s) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
         |  FROM m),
         |p AS (
         |  SELECT user_id, sess,
         |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
         |  FROM s GROUP BY 1, 2),
         |r AS (SELECT path, n_sessions, row_number() OVER (
         |    ORDER BY n_sessions DESC, path) AS rk
         |  FROM (SELECT path, count(*) AS n_sessions FROM p
         |        GROUP BY 1) cc)
         |SELECT path, n_sessions, rk FROM r WHERE rk <= $PathTopK"""
        .stripMargin,

    // decimal prefix sums over the same (user, day) order — exact on
    // both sides
    "x_running_total" ->
      """WITH daily AS (
        |  SELECT user_id, cast(ts AS date) AS day,
        |    sum(cast(value AS decimal(18,2))) AS dtot
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, day, cast(dtot AS double) AS day_total,
        |  cast(sum(dtot) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS double) AS running_total
        |FROM daily""".stripMargin,

    // same integer-microsecond durations and decimal products; the
    // single division is the same IEEE op
    "x_twap" ->
      """WITH d AS (
        |  SELECT user_id, value,
        |    epoch_us(lead(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id)) - epoch_us(ts) AS dur_us
        |  FROM events)
        |SELECT user_id, sum(dur_us)::bigint AS total_dur_us,
        |  round(cast(sum(cast(cast(value AS decimal(18,2)) * dur_us
        |      AS decimal(38,2))) AS double) /
        |    cast(sum(dur_us) AS double), 6) AS twap
        |FROM d WHERE dur_us IS NOT NULL
        |GROUP BY user_id""".stripMargin,

    // identical integer postings → identical IEEE cosine op sequence
    // (dot / (sqrt · sqrt)); df cap replicated relative to corpus size
    "x_sparse_topk" -> SparseTopkOracle,

    // RRF: the two retrieval oracles verbatim as subqueries, fused
    // with exact ppm reciprocal ranks and re-cut by (rrf desc, doc)
    "x_hybrid_rrf" ->
      s"""WITH lex AS ($SparseTopkOracle),
         |den AS ($AnnCosineTopkOracle),
         |f AS (
         |  SELECT coalesce(l.qid, d.query_id) AS query_id,
         |    coalesce(l.nid, d.match_id) AS match_id,
         |    l.rk AS lex_rk, d.rank AS dense_rk,
         |    (coalesce(1000000 // (60 + l.rk), 0) +
         |     coalesce(1000000 // (60 + d.rank), 0))::bigint AS rrf_ppm
         |  FROM lex l FULL OUTER JOIN den d
         |    ON l.qid = d.query_id AND l.nid = d.match_id),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf_ppm DESC, match_id) AS fused_rk
         |  FROM f)
         |SELECT query_id, match_id, lex_rk, dense_rk, rrf_ppm, fused_rk
         |FROM r WHERE fused_rk <= $TopK""".stripMargin,

    // same five decimal-exact sufficient statistics, same closed-form
    // double sequence
    "x_corr_matrix" -> CorrOracleSql,

    "x_path_conversion" ->
      s"""WITH m AS (
         |  SELECT user_id, ts, event_id, event_type,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |      OR ts - lag(ts) OVER w >= INTERVAL '$SessionGap'
         |      THEN 1 ELSE 0 END AS new_s
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |s AS (
         |  SELECT *, sum(new_s) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
         |  FROM m),
         |p AS (
         |  SELECT user_id, sess,
         |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
         |  FROM s GROUP BY 1, 2)
         |SELECT user_id, count(*) AS n_sessions,
         |  sum(CASE WHEN instr(path, 'view') > 0
         |    AND instr(path, 'purchase') > instr(path, 'view')
         |    THEN 1 ELSE 0 END)::bigint AS n_converting,
         |  cast(sum(CASE WHEN instr(path, 'view') > 0
         |    AND instr(path, 'purchase') > instr(path, 'view')
         |    THEN 1 ELSE 0 END) AS double) / count(*) AS conv_rate
         |FROM p GROUP BY user_id""".stripMargin,

    "x_forecast_snaive" ->
      """WITH daily AS (
        |  SELECT user_id, cast(ts AS date) AS day,
        |    cast(sum(cast(value AS decimal(18,2))) AS double) AS actual
        |  FROM events GROUP BY 1, 2),
        |sh AS (
        |  SELECT user_id, day + 7 AS day, actual AS forecast
        |  FROM daily)
        |SELECT d.user_id, d.day, d.actual, s.forecast,
        |  CASE WHEN s.forecast IS NOT NULL
        |    THEN abs(d.actual - s.forecast) END AS abs_err
        |FROM daily d LEFT JOIN sh s
        |  ON d.user_id = s.user_id AND d.day = s.day""".stripMargin,

    // split-conformal intervals: exact-cents residual ranks, integer
    // split (⌊3n/4⌋) and quantile index (⌈9(n_cal+1)/10⌉) — the whole
    // oracle is integer/boolean, no float anywhere
    "x_conformal_interval" ->
      """WITH daily AS (
        |  SELECT event_type AS key, cast(ts AS date) AS day,
        |    sum(CAST(CAST(value AS decimal(18,2)) * 100 AS bigint))
        |      ::bigint AS actual_cents
        |  FROM events GROUP BY 1, 2),
        |sh AS (
        |  SELECT key, day + 7 AS day, actual_cents AS forecast_cents
        |  FROM daily),
        |scored AS (
        |  SELECT d.key, d.day, d.actual_cents, s.forecast_cents,
        |    abs(d.actual_cents - s.forecast_cents) AS resid
        |  FROM daily d JOIN sh s ON d.key = s.key AND d.day = s.day),
        |ranked AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY key ORDER BY day) AS rnk,
        |    count(*) OVER (PARTITION BY key) AS n
        |  FROM scored),
        |rc AS (
        |  SELECT *, cast(floor((n * 3)::double / 4.0) AS bigint)
        |    AS n_cal
        |  FROM ranked),
        |cal AS (
        |  SELECT key, resid, n_cal,
        |    row_number() OVER (PARTITION BY key ORDER BY resid, day)
        |      AS crnk,
        |    cast(floor(((n_cal + 1) * 9 + 9)::double / 10.0) AS bigint)
        |      AS q_idx
        |  FROM rc WHERE rnk <= n_cal),
        |q AS (SELECT key, resid AS q_cents FROM cal WHERE crnk = q_idx)
        |SELECT r.key, r.day, r.actual_cents, r.forecast_cents,
        |  r.n_cal, q.q_cents,
        |  r.forecast_cents - q.q_cents AS lo_cents,
        |  r.forecast_cents + q.q_cents AS hi_cents,
        |  CASE WHEN q.q_cents IS NOT NULL THEN
        |    r.actual_cents >= r.forecast_cents - q.q_cents AND
        |    r.actual_cents <= r.forecast_cents + q.q_cents
        |  END AS covered
        |FROM rc r LEFT JOIN q ON r.key = q.key
        |WHERE r.rnk > r.n_cal""".stripMargin,

    // incremental merge ≡ the full recompute (same Scd2Ctes)
    "x_scd2_store" ->
      s"""WITH $Scd2Ctes
         |SELECT user_id, event_type, valid_from, valid_to,
         |  valid_to IS NULL AS is_current
         |FROM scd2""".stripMargin,

    // PIT lookup against the SCD2 dimension: the attribute in effect
    // at each event's day start — LEFT join (facts before the key's
    // first state keep NULL), half-open intervals make the match
    // unique
    "x_pit_join" ->
      s"""WITH $Scd2Ctes,
         |f AS (
         |  SELECT event_id, user_id, date_trunc('day', ts) AS day_start
         |  FROM events)
         |SELECT f.event_id, f.user_id, f.day_start,
         |  d.event_type AS type_at_day_start
         |FROM f LEFT JOIN scd2 d
         |  ON f.user_id = d.user_id
         |  AND f.day_start >= d.valid_from
         |  AND (d.valid_to IS NULL OR f.day_start < d.valid_to)"""
        .stripMargin,

    // min-string label propagation to the transitive closure of the
    // fuzzy pairs (singletons map to themselves) — same recursive-CTE
    // shape as the dedup-cluster oracles, keyed on the string itself
    "x_fuzzy_canon" ->
      s"""WITH RECURSIVE ws AS (
         |  SELECT doc_id,
         |    string_split_regex(lower(trim(text)), '\\s+') AS w
         |  FROM documents),
         |bg AS (
         |  SELECT DISTINCT w[i] || ' ' || w[i+1] AS s
         |  FROM ws, unnest(range(1, len(w))) AS t(i)
         |  WHERE len(w) >= 2),
         |vp AS (
         |  SELECT a.s AS s_a, b.s AS s_b
         |  FROM bg a JOIN bg b ON a.s < b.s
         |  WHERE levenshtein(a.s, b.s) <= $FuzzyMaxDist),
         |edges AS (
         |  SELECT s_a AS a, s_b AS b FROM vp
         |  UNION ALL SELECT s_b, s_a FROM vp),
         |reach(v, l) AS (
         |  SELECT s, s FROM bg
         |  UNION
         |  SELECT e.b, r.l FROM reach r JOIN edges e ON e.a = r.v)
         |SELECT v AS s, min(l) AS canonical_s FROM reach GROUP BY v"""
        .stripMargin,

    // per-day totals go through decimal(18,2) then double on BOTH
    // sides (same rounding), and the LOCF window copies — never
    // re-sums — so float equality is exact
    "x_gap_fill_locf" ->
      """WITH daily AS (
        |  SELECT user_id, cast(ts AS date) AS day,
        |    cast(sum(cast(value AS decimal(18,2))) AS double)
        |      AS day_total
        |  FROM events GROUP BY 1, 2),
        |bounds AS (
        |  SELECT user_id, min(day) AS d0, max(day) AS d1
        |  FROM daily GROUP BY 1),
        |spine AS (
        |  SELECT user_id,
        |    cast(unnest(generate_series(cast(d0 AS timestamp),
        |      cast(d1 AS timestamp), INTERVAL 1 DAY)) AS date) AS day
        |  FROM bounds)
        |SELECT s.user_id, s.day,
        |  last_value(d.day_total IGNORE NULLS) OVER (
        |    PARTITION BY s.user_id ORDER BY s.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS filled_total,
        |  d.day_total IS NULL AS is_gap
        |FROM spine s LEFT JOIN daily d
        |  ON s.user_id = d.user_id AND s.day = d.day""".stripMargin,

    // NULL range/domain predicates count as violations on both sides
    // (CASE falls to ELSE exactly where Spark's when().otherwise()
    // does); count(DISTINCT (a,b)) ≡ countDistinct(a,b) here because
    // both key columns are non-null (pinned by null_l_orderkey)
    "x_expectations" ->
      """WITH rl AS (
        |  SELECT
        |    sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)::bigint
        |      AS nok,
        |    sum(CASE WHEN l_quantity BETWEEN 1 AND 30 THEN 0 ELSE 1
        |      END)::bigint AS qty,
        |    sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1
        |      END)::bigint AS flag,
        |    sum(CASE WHEN l_discount BETWEEN 0.0 AND 0.11 THEN 0
        |      ELSE 1 END)::bigint AS disc,
        |    (count(*) - count(DISTINCT (l_orderkey, l_linenumber)))
        |      ::bigint AS dupk
        |  FROM lineitem),
        |fk AS (
        |  SELECT count(*)::bigint AS v
        |  FROM lineitem l LEFT JOIN orders o
        |    ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderkey IS NULL)
        |SELECT check_name, violations, violations = 0 AS pass FROM (
        |  SELECT 'null_l_orderkey' AS check_name, nok AS violations
        |    FROM rl
        |  UNION ALL SELECT 'l_quantity_in_1_30', qty FROM rl
        |  UNION ALL SELECT 'l_returnflag_in_ANR', flag FROM rl
        |  UNION ALL SELECT 'l_discount_in_0_011', disc FROM rl
        |  UNION ALL SELECT 'pk_orderkey_linenumber_unique', dupk
        |    FROM rl
        |  UNION ALL SELECT 'fk_lineitem_orders', v FROM fk) u"""
        .stripMargin,

    // ALL-PAIRS ground truth (fine at vocabulary scale): every run
    // proves the Spark side's symmetric-delete candidate filter
    // missed no true pair
    "x_fuzzy_join" ->
      s"""WITH ws AS (
         |  SELECT doc_id,
         |    string_split_regex(lower(trim(text)), '\\s+') AS w
         |  FROM documents),
         |bg AS (
         |  SELECT DISTINCT w[i] || ' ' || w[i+1] AS s
         |  FROM ws, unnest(range(1, len(w))) AS t(i)
         |  WHERE len(w) >= 2)
         |SELECT a.s AS s_a, b.s AS s_b,
         |  levenshtein(a.s, b.s)::bigint AS dist
         |FROM bg a JOIN bg b ON a.s < b.s
         |WHERE levenshtein(a.s, b.s) <= $FuzzyMaxDist""".stripMargin,

    "x_profile_orders" -> ProfileOracleSql,

    // base-vs-merged recompute, full-outer on the key, unchanged rows
    // dropped — decimal→double rendering matches both sides
    "x_snapshot_diff" ->
      s"""WITH oldv AS (
         |  SELECT cast(ts AS date) AS day, event_type,
         |    count(*) AS cnt,
         |    cast(sum(cast(value AS decimal(18,2))) AS double) AS total
         |  FROM events WHERE event_id % $IvmDeltaMod <> 0
         |  GROUP BY 1, 2),
         |newv AS (
         |  SELECT cast(ts AS date) AS day, event_type,
         |    count(*) AS cnt,
         |    cast(sum(cast(value AS decimal(18,2))) AS double) AS total
         |  FROM events GROUP BY 1, 2)
         |SELECT coalesce(o.day, n.day) AS day,
         |  coalesce(o.event_type, n.event_type) AS event_type,
         |  CASE WHEN o.day IS NULL THEN 'added'
         |       WHEN n.day IS NULL THEN 'removed'
         |       ELSE 'changed' END AS change_kind,
         |  o.cnt AS old_cnt, n.cnt AS new_cnt,
         |  o.total AS old_total, n.total AS new_total
         |FROM oldv o FULL OUTER JOIN newv n
         |  ON o.day = n.day AND o.event_type = n.event_type
         |WHERE o.day IS NULL OR n.day IS NULL
         |  OR o.cnt <> n.cnt OR o.total <> n.total""".stripMargin,

    // the full recompute the incremental merge must equal exactly
    "x_ivm_daily" ->
      """SELECT cast(ts AS date) AS day, event_type, count(*) AS cnt,
        |  cast(sum(cast(value AS decimal(18,2))) AS double) AS total
        |FROM events GROUP BY 1, 2""".stripMargin,

    // the REWRITTEN plan reads only the store; the oracle recomputes
    // the view from the raw facts — row equality IS the MV contract
    "x_mv_rewrite" ->
      """SELECT cast(ts AS date) AS day, event_type, count(*) AS cnt,
        |  cast(sum(cast(value AS decimal(18,2))) AS double) AS total
        |FROM events GROUP BY 1, 2""".stripMargin,

    // the COMPENSATED rewrite serves off filtered partials; the oracle
    // recomputes from the raw facts under the same group-key filter —
    // generated from the shared constants so query and oracle can't
    // desync
    "x_mv_rewrite_filtered" ->
      s"""SELECT cast(ts AS date) AS day, event_type, count(*) AS cnt,
         |  cast(sum(cast(value AS decimal(18,2))) AS double) AS total
         |FROM events
         |WHERE cast(ts AS date)
         |    BETWEEN DATE '$MvFilterDayLo' AND DATE '$MvFilterDayHi'
         |  AND event_type IN (${MvFilterTypes
              .map(t => s"'$t'").mkString(", ")})
         |GROUP BY 1, 2""".stripMargin,

    // the coarse (monthly) routing serves off regrouped daily
    // partials; the oracle recomputes the monthly view from raw facts
    "x_mv_rewrite_coarse" ->
      """SELECT date_trunc('month', cast(ts AS date))::date AS month,
        |  event_type, count(*) AS cnt,
        |  cast(sum(cast(value AS decimal(18,2))) AS double) AS total
        |FROM events GROUP BY 1, 2""".stripMargin,

    // last op per key by (ts, event_id), delete vanishes — the
    // window formulation of the struct-max fold
    "x_cdc_apply" ->
      """WITH log AS (
        |  SELECT user_id, ts, event_id,
        |    CASE event_type WHEN 'error' THEN 'D'
        |      WHEN 'view' THEN 'I' ELSE 'U' END AS op,
        |    value
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n_ops
        |  FROM log)
        |SELECT user_id, ts AS last_ts, value AS last_value,
        |  n_ops::bigint AS n_ops
        |FROM r WHERE rn = 1 AND op <> 'D'""".stripMargin,

    // adjacent-pair counts per user stream, conditional probability
    // as the same small-int IEEE division, (n desc, nxt) rank
    "x_markov_next" ->
      """WITH ordered AS (
        |  SELECT event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |pairs AS (
        |  SELECT cur, nxt, count(*)::bigint AS n
        |  FROM ordered WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT cur, sum(n)::bigint AS total
        |        FROM pairs GROUP BY 1)
        |SELECT p.cur AS cur, p.nxt AS nxt, p.n AS n,
        |  p.n / t.total::double AS p,
        |  row_number() OVER (PARTITION BY p.cur
        |    ORDER BY p.n DESC, p.nxt) AS rk
        |FROM pairs p JOIN tot t ON p.cur = t.cur""".stripMargin,

    // nearest-rank median + MAD over exact decimals; the flag
    // compares decimals, never doubles
    "x_anomaly_mad" ->
      s"""WITH daily AS (
         |  SELECT event_type, ts::date AS day,
         |    sum(value::decimal(18,2)) AS dtot
         |  FROM events GROUP BY 1, 2),
         |rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY event_type
         |      ORDER BY dtot, day) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS cnt
         |  FROM daily),
         |med AS (
         |  SELECT event_type,
         |    max(CASE WHEN rn = (cnt+1)//2 THEN dtot END) AS med
         |  FROM rk GROUP BY 1),
         |dev AS (
         |  SELECT d.event_type, d.day, d.dtot, m.med,
         |    abs(d.dtot - m.med) AS adev
         |  FROM daily d JOIN med m USING (event_type)),
         |drk AS (
         |  SELECT *, row_number() OVER (PARTITION BY event_type
         |      ORDER BY adev, day) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS cnt
         |  FROM dev),
         |mad AS (
         |  SELECT event_type,
         |    max(CASE WHEN rn = (cnt+1)//2 THEN adev END) AS mad
         |  FROM drk GROUP BY 1)
         |SELECT d.event_type, d.day, d.dtot::double AS total,
         |  d.med::double AS med, m.mad::double AS mad,
         |  d.adev > $MadK * m.mad AS is_anomaly
         |FROM dev d JOIN mad m USING (event_type)""".stripMargin,

    // brute 3-way join over the canonical a<b near-dup pairs counts
    // each triangle once — equals the degree-oriented count exactly
    "x_triangle_count" ->
      s"""WITH $EmbedNearDupCtes,
         |e AS (SELECT id_a AS a, id_b AS b FROM epairs),
         |deg AS (
         |  SELECT v, count(*)::bigint AS d FROM (
         |    SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
         |  GROUP BY v),
         |tri AS (
         |  SELECT count(*)::bigint AS n_triangles
         |  FROM e e1 JOIN e e2 ON e1.b = e2.a
         |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |vw AS (
         |  SELECT count(*)::bigint AS n_vertices,
         |    coalesce(sum(d*(d-1)//2), 0)::bigint AS n_wedges
         |  FROM deg),
         |ec AS (SELECT count(*)::bigint AS n_edges FROM e)
         |SELECT n_vertices, n_edges, n_wedges, n_triangles,
         |  CASE WHEN n_wedges > 0
         |    THEN 3 * n_triangles / n_wedges::double END AS transitivity
         |FROM vw, ec, tri""".stripMargin,

    // link prediction: wedge expansion through sub-hub pivots only
    // (deg <= cap, part of the contract), integer-exact RA/Jaccard
    "x_link_predict" ->
      s"""WITH $EmbedNearDupCtes,
         |e AS (SELECT id_a AS a, id_b AS b FROM epairs),
         |adj AS (SELECT a AS z, b AS n FROM e
         |        UNION ALL SELECT b AS z, a AS n FROM e),
         |deg AS (SELECT z AS v, count(*)::bigint AS d FROM adj
         |        GROUP BY z),
         |nb AS (SELECT adj.z, adj.n, deg.d AS dz
         |       FROM adj JOIN deg ON adj.z = deg.v
         |       WHERE deg.d <= $LinkMaxDeg),
         |w AS (SELECT n1.z, n1.dz, n1.n AS x, n2.n AS y
         |      FROM nb n1 JOIN nb n2
         |        ON n1.z = n2.z AND n1.n < n2.n),
         |sc AS (SELECT x, y, count(*)::bigint AS cn,
         |         sum(1000000 // dz)::bigint AS ra_ppm
         |       FROM w GROUP BY x, y
         |       HAVING count(*) >= $LinkMinCommon),
         |nl AS (SELECT sc.* FROM sc
         |       WHERE NOT EXISTS (SELECT 1 FROM e
         |                         WHERE e.a = sc.x AND e.b = sc.y))
         |SELECT x AS id_a, y AS id_b, cn, ra_ppm,
         |  ((1000000 * cn) // (dx.d + dy.d - cn))::bigint AS jacc_ppm
         |FROM nl JOIN deg dx ON nl.x = dx.v
         |  JOIN deg dy ON nl.y = dy.v""".stripMargin,

    // BFS distances as a recursive reach: UNION-dedup keeps the walk
    // frontier (v, hops)-bounded; min(hops) per vertex is the BFS
    // distance, capped at the same hop budget
    "x_bfs_hops" ->
      s"""WITH RECURSIVE $EmbedNearDupCtes,
         |$GraphAdjCtes,
         |seed AS (SELECT min(src) AS v FROM adj),
         |walk(v, hops) AS (
         |  SELECT v, 0 FROM seed WHERE v IS NOT NULL
         |  UNION
         |  SELECT a.dst, w.hops + 1 FROM walk w JOIN adj a ON a.src = w.v
         |  WHERE w.hops < $BfsMaxHops)
         |SELECT v AS vec_id, min(hops)::int AS hops
         |FROM walk GROUP BY v""".stripMargin,

    "x_pagerank_int" -> PageRankIntOracle,

    "x_pagerank_weighted" -> PageRankWeightedOracle,

    "x_pagerank_seeded" -> PageRankSeededOracle,

    "x_kcore" -> KCoreOracle,

    // one synchronous Louvain sweep: ppm weights, hugeint-exact gain
    // 2m·w − k_i·k_j, per-vertex argmax (gain desc, lowest neighbor)
    "x_community_l1" ->
      s"""WITH $CommunitySweepCtes
         |SELECT src AS vec_id,
         |  CASE WHEN gain > 0 THEN dst ELSE src END AS community_id,
         |  (CASE WHEN gain > 0 THEN gain ELSE 0 END)::bigint AS gain_num
         |FROM r WHERE rn = 1""".stripMargin,

    // the accepted moves closed into components: recursive reach over
    // the adoption edges, min member id per component
    "x_community_merge" ->
      s"""WITH RECURSIVE $CommunitySweepCtes,
         |adopt AS (SELECT src AS a, dst AS b FROM r
         |          WHERE rn = 1 AND gain > 0),
         |aedges AS (SELECT a, b FROM adopt UNION ALL
         |           SELECT b, a FROM adopt),
         |verts AS (SELECT DISTINCT src AS v FROM wadj),
         |reach(v, l) AS (
         |  SELECT v, v FROM verts
         |  UNION
         |  SELECT e.b, rc.l FROM reach rc JOIN aedges e ON e.a = rc.v)
         |SELECT v AS vec_id, min(l) AS community_id
         |FROM reach GROUP BY v""".stripMargin,

    // the two-level chain unrolled: level-1 closure (the
    // x_community_merge chain verbatim), quotient projection with
    // summed cross/self weights, member-degree-sum degrees, the same
    // hugeint gain, argmax, and a second recursive closure over the
    // community adoption edges
    "x_community_l2" ->
      s"""WITH RECURSIVE $CommunitySweepCtes,
         |adopt AS (SELECT src AS a, dst AS b FROM r
         |          WHERE rn = 1 AND gain > 0),
         |aedges AS (SELECT a, b FROM adopt UNION ALL
         |           SELECT b, a FROM adopt),
         |verts AS (SELECT DISTINCT src AS v FROM wadj),
         |reach(v, l) AS (
         |  SELECT v, v FROM verts
         |  UNION
         |  SELECT e.b, rc.l FROM reach rc JOIN aedges e ON e.a = rc.v),
         |l1 AS (SELECT v AS vec_id, min(l) AS c1 FROM reach GROUP BY v),
         |ceagg AS (
         |  SELECT least(la.c1, lb.c1) AS qa,
         |    greatest(la.c1, lb.c1) AS qb, sum(w)::bigint AS w
         |  FROM we JOIN l1 la ON la.vec_id = a
         |  JOIN l1 lb ON lb.vec_id = b
         |  GROUP BY 1, 2),
         |cross2 AS (SELECT * FROM ceagg WHERE qa <> qb),
         |selfw AS (SELECT qa AS v, w AS sw FROM ceagg WHERE qa = qb),
         |adj2 AS (SELECT qa AS src, qb AS dst, w FROM cross2
         |         UNION ALL SELECT qb, qa, w FROM cross2),
         |cdeg AS (
         |  SELECT v, (coalesce(cw, 0) + 2 * coalesce(sw, 0))::bigint
         |    AS wd
         |  FROM (SELECT src AS v, sum(w)::bigint AS cw FROM adj2
         |        GROUP BY 1) cr
         |  FULL JOIN selfw USING (v)),
         |scored2 AS (
         |  SELECT src, dst, m2 * w - ks.wd::hugeint * kd.wd AS gain
         |  FROM adj2 JOIN cdeg ks ON ks.v = src
         |  JOIN cdeg kd ON kd.v = dst CROSS JOIN m),
         |r2 AS (SELECT *, row_number() OVER (
         |    PARTITION BY src ORDER BY gain DESC, dst) AS rn
         |  FROM scored2),
         |adopt2 AS (SELECT src AS a, dst AS b FROM r2
         |           WHERE rn = 1 AND gain > 0),
         |a2edges AS (SELECT a, b FROM adopt2 UNION ALL
         |            SELECT b, a FROM adopt2),
         |cverts AS (SELECT DISTINCT c1 AS v FROM l1),
         |reach2(v, l) AS (
         |  SELECT v, v FROM cverts
         |  UNION
         |  SELECT e.b, rc.l FROM reach2 rc
         |  JOIN a2edges e ON e.a = rc.v),
         |l2 AS (SELECT v AS c1, min(l) AS c2 FROM reach2 GROUP BY v)
         |SELECT l1.vec_id, l1.c1 AS l1_community, l2.c2 AS community_id
         |FROM l1 JOIN l2 USING (c1)""".stripMargin,

    // cluster reach (the x_embed_dedup_cluster mirror) + quality join,
    // ranked per cluster by (score DESC, doc_id)
    "x_semantic_keep" ->
      s"""WITH RECURSIVE $EmbedNearDupCtes,
         |edges AS (
         |  SELECT id_a AS a, id_b AS b FROM epairs
         |  UNION ALL SELECT id_b, id_a FROM epairs),
         |reach(v, l) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.b, r.l FROM reach r JOIN edges e ON e.a = r.v),
         |clu AS (SELECT v AS doc_id, min(l) AS cluster_id
         |        FROM reach GROUP BY v),
         |q AS ($QualitySelect),
         |j AS (SELECT c.doc_id, c.cluster_id, q.score
         |      FROM clu c JOIN q USING (doc_id)),
         |r AS (SELECT *,
         |    count(*) OVER (PARTITION BY cluster_id) AS n_members,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY score DESC, doc_id) AS rk
         |  FROM j)
         |SELECT doc_id, cluster_id, n_members::bigint AS n_members,
         |  score, rk = 1 AS keep
         |FROM r""".stripMargin,

    // identical BM25 formula text: same idf/saturation op order, same
    // fixed-order term sum, same 6dp round before the rank
    "x_bm25_topk" -> {
      val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
      val termSum = Bm25Terms.map(t =>
        s"coalesce(max(CASE WHEN t = '$t' THEN c END), 0.0)")
        .mkString("\n        |        + ").stripMargin
      s"""WITH w AS (
         |  SELECT doc_id,
         |    string_split_regex(lower(trim(text)), '\\s+') AS ws
         |  FROM documents),
         |dl AS (SELECT doc_id, len(ws)::bigint AS dl FROM w),
         |a AS (SELECT sum(dl)::double / count(*)::double AS avgdl,
         |             count(*)::bigint AS n FROM dl),
         |tf AS (
         |  SELECT doc_id, t, count(*)::bigint AS tf
         |  FROM (SELECT doc_id, unnest(ws) AS t FROM w)
         |  WHERE t IN ($termList) GROUP BY 1, 2),
         |df AS (SELECT t, count(*)::bigint AS df FROM tf GROUP BY t),
         |c AS (
         |  SELECT tf.doc_id, tf.t,
         |    ln(1.0 + ((a.n - df.df)::double + 0.5)
         |        / (df.df::double + 0.5)) *
         |      ((tf.tf::double * 2.2) /
         |       (tf.tf::double + 1.2 *
         |         (0.25 + 0.75 * (dl.dl::double / a.avgdl)))) AS c
         |  FROM tf JOIN df USING (t) JOIN dl USING (doc_id)
         |  CROSS JOIN a),
         |s AS (
         |  SELECT doc_id,
         |    round($termSum, 6) AS score
         |  FROM c GROUP BY doc_id)
         |SELECT doc_id, score,
         |  row_number() OVER (ORDER BY score DESC, doc_id) AS rk
         |FROM s QUALIFY rk <= $Bm25K""".stripMargin
    },

    // frame stream replay (same slicing as x_media_frames), codepoint
    // sums, lag per clip, threshold flag
    "x_media_scene_cut" ->
      s"""WITH v AS (
         |  SELECT doc_id AS media_id, text,
         |    (length(text) // 16)::int AS n_frames
         |  FROM documents WHERE doc_id % 3 = 2),
         |f AS (
         |  SELECT media_id, text,
         |    unnest(range(0, ((n_frames - 1) // 4) + 1)) AS frame_idx
         |  FROM v WHERE n_frames > 0),
         |sg AS (
         |  SELECT media_id, frame_idx::int AS frame_idx,
         |    list_sum(list_transform(range(0, 16),
         |      i -> ord(substring(text, frame_idx::int * 64 + i::int + 1,
         |        1))))::bigint AS sig
         |  FROM f),
         |d AS (
         |  SELECT *, lag(sig) OVER (PARTITION BY media_id
         |    ORDER BY frame_idx) AS prev
         |  FROM sg)
         |SELECT media_id, frame_idx, sig,
         |  CASE WHEN prev IS NOT NULL THEN abs(sig - prev) END AS delta,
         |  coalesce(abs(sig - prev) > $SceneCutThreshold, false)
         |    AS is_cut
         |FROM d""".stripMargin,

    // exact audience sizes replayed; the in-bounds booleans hash TRUE
    // when the Theta estimates honor their published bounds (the
    // retained-hash estimates themselves have no SQL replay and stay
    // out of the hashed row)
    "x_sketch_intersect" ->
      """WITH f AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' AND value > 80
        |      THEN 1 ELSE 0 END) AS ina,
        |    max(CASE WHEN event_type = 'error' AND value < 20
        |      THEN 1 ELSE 0 END) AS inb
        |  FROM events
        |  WHERE (event_type = 'purchase' AND value > 80)
        |     OR (event_type = 'error' AND value < 20)
        |  GROUP BY user_id)
        |SELECT 'purchase_gt80' AS audience_a, 'error_lt20' AS audience_b,
        |  sum(ina)::bigint AS exact_a, sum(inb)::bigint AS exact_b,
        |  sum(ina * inb)::bigint AS exact_inter,
        |  count(*)::bigint AS exact_union,
        |  true AS a_in_bounds, true AS b_in_bounds,
        |  true AS inter_in_bounds, true AS union_in_bounds
        |FROM f""".stripMargin,

    // the merge contract that survives any union order: exact
    // distinct inside the merged sketch's bounds
    "x_theta_merge" ->
      s"""SELECT $ThetaParts AS n_parts,
         |  count(DISTINCT user_id)::bigint AS exact_keys,
         |  true AS merged_in_bounds
         |FROM events""".stripMargin,

    // Count-Min point estimates, replayed EXACTLY: rebuild the
    // depth×width md5 counter matrix with one GROUP BY, estimate =
    // min over rows of the item's counter; est >= exact is the
    // sketch's deterministic guarantee (counters only add)
    "x_cms_point" ->
      s"""$CmsTokenMatrixSql
         |SELECT item, exact_cnt, n_tokens, est, TRUE AS no_underest
         |FROM tf JOIN e USING (item) CROSS JOIN n
         |WHERE exact_cnt * $HeavyHitterPhi > n_tokens""".stripMargin,

    // merge is lossless (counter addition), so the merged-path
    // estimates replay from the same single matrix
    "x_cms_merge" ->
      s"""$CmsTokenMatrixSql
         |SELECT item, exact_cnt, n_tokens, est,
         |  $SketchParts AS n_parts, TRUE AS merge_lossless,
         |  TRUE AS no_underest
         |FROM tf JOIN e USING (item) CROSS JOIN n
         |WHERE exact_cnt * $HeavyHitterPhi > n_tokens""".stripMargin,

    // linearity makes retraction exact: the retracted estimates
    // replay from the FILTERED corpus's rebuilt matrix
    "x_cms_retract" ->
      s"""${cmsTokenMatrixSql(s"doc_id % $DeleteMod <> $DeleteRem")}
         |SELECT item, exact_cnt, n_tokens, est,
         |  TRUE AS retract_exact, TRUE AS no_underest
         |FROM tf JOIN e USING (item) CROSS JOIN n
         |WHERE exact_cnt * $HeavyHitterPhi > n_tokens""".stripMargin,

    // exact top-movers by ppm rate; estimates replayed per TOP item
    // against each half's matrix (absent-side items estimate off
    // collision mass, exactly as the engine's lookup does)
    "x_cms_drift" ->
      s"""WITH tok AS (
         |  SELECT doc_id,
         |    unnest(string_split_regex(lower(trim(text)), '\\s+'))
         |      AS item
         |  FROM documents),
         |ta AS (SELECT item, count(*)::bigint AS cnt_a FROM tok
         |       WHERE doc_id % 2 = 0 AND item <> '' GROUP BY item),
         |tb AS (SELECT item, count(*)::bigint AS cnt_b FROM tok
         |       WHERE doc_id % 2 <> 0 AND item <> '' GROUP BY item),
         |n AS (SELECT (SELECT sum(cnt_a) FROM ta)::bigint AS na,
         |             (SELECT sum(cnt_b) FROM tb)::bigint AS nb),
         |fo AS (
         |  SELECT coalesce(ta.item, tb.item) AS item,
         |    coalesce(cnt_a, 0)::bigint AS cnt_a,
         |    coalesce(cnt_b, 0)::bigint AS cnt_b
         |  FROM ta FULL OUTER JOIN tb ON ta.item = tb.item),
         |top AS (
         |  SELECT item, cnt_a, cnt_b,
         |    abs((1000000 * cnt_a) // na - (1000000 * cnt_b) // nb)
         |      AS rate_diff_ppm
         |  FROM fo CROSS JOIN n
         |  ORDER BY rate_diff_ppm DESC, item LIMIT $DriftTopK),
         |ba AS (${cmsBucketRows("ta", "cnt_a")}),
         |ma AS (SELECT r, bucket, sum(w)::bigint AS cnt FROM ba
         |       GROUP BY r, bucket),
         |bb AS (${cmsBucketRows("tb", "cnt_b")}),
         |mb AS (SELECT r, bucket, sum(w)::bigint AS cnt FROM bb
         |       GROUP BY r, bucket),
         |pta AS (${cmsBucketRows("top", "cnt_a")}),
         |ea AS (SELECT t.item, min(coalesce(ma.cnt, 0))::bigint
         |         AS est_a
         |       FROM pta t LEFT JOIN ma
         |         ON t.r = ma.r AND t.bucket = ma.bucket
         |       GROUP BY t.item),
         |ptb AS (${cmsBucketRows("top", "cnt_b")}),
         |eb AS (SELECT t.item, min(coalesce(mb.cnt, 0))::bigint
         |         AS est_b
         |       FROM ptb t LEFT JOIN mb
         |         ON t.r = mb.r AND t.bucket = mb.bucket
         |       GROUP BY t.item)
         |SELECT top.item, cnt_a, cnt_b, rate_diff_ppm, est_a, est_b,
         |  TRUE AS no_underest
         |FROM top JOIN ea USING (item) JOIN eb USING (item)"""
        .stripMargin,

    // three joins, each estimated from two rebuilt matrices; chosen =
    // min estimate across the union (the planner's cheapest-first)
    "x_join_advisor" ->
      s"""WITH ${cmsJoinOracle("j1", "orders", "o_custkey",
           "customer", "c_custkey")},
         |${cmsJoinOracle("j2", "lineitem", "l_orderkey",
           "orders", "o_orderkey")},
         |${cmsJoinOracle("j3", "events", "user_id",
           "orders", "o_custkey")},
         |u AS (
         |  SELECT 'orders_customer' AS join_name,
         |    (SELECT exact FROM j1x) AS exact_rows,
         |    (SELECT est FROM j1e) AS est_rows
         |  UNION ALL SELECT 'lineitem_orders',
         |    (SELECT exact FROM j2x), (SELECT est FROM j2e)
         |  UNION ALL SELECT 'events_orders_cust',
         |    (SELECT exact FROM j3x), (SELECT est FROM j3e))
         |SELECT join_name, exact_rows, est_rows,
         |  est_rows >= exact_rows AS no_underest,
         |  est_rows = (SELECT min(est_rows) FROM u) AS chosen
         |FROM u""".stripMargin,

    // self-join size (F2): exact Σ cnt² vs the min-of-row-dot-products
    // inner-product estimate — both replayed from the same matrix
    // NULL keys join nothing, so both sides exclude them
    "x_cms_selfjoin" ->
      s"""WITH k AS (
         |  SELECT user_id::varchar AS item, count(*)::bigint AS cnt
         |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
         |b AS (${cmsBucketRows("k", "cnt")}),
         |c AS (SELECT r, bucket, sum(w)::bigint AS m
         |      FROM b GROUP BY r, bucket),
         |d AS (SELECT r, sum(m * m)::bigint AS dot FROM c GROUP BY r),
         |e AS (SELECT min(dot)::bigint AS est_self_join FROM d)
         |SELECT (SELECT sum(cnt)::bigint FROM k) AS n_rows,
         |  (SELECT count(*)::bigint FROM k) AS n_keys,
         |  (SELECT sum(cnt * cnt)::bigint FROM k) AS exact_self_join,
         |  est_self_join, TRUE AS no_underest
         |FROM e""".stripMargin,

    // hashed-feature scorer: unigrams (nonempty) + bigrams in doc
    // order, md5 seed-0 bucket, Knuth-multiplicative weight table —
    // all-integer margins replay exactly
    "x_hashed_ngram_score" ->
      s"""WITH w AS (
         |  SELECT doc_id,
         |    string_split_regex(lower(trim(text)), '\\s+') AS ws
         |  FROM documents),
         |uni AS (SELECT doc_id, unnest(ws) AS f FROM w),
         |bi AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= 2
         |    THEN list_transform(range(1, len(ws)),
         |      i -> ws[i] || ' ' || ws[i+1])
         |    ELSE []::varchar[] END) AS f FROM w),
         |feats AS (SELECT doc_id, f FROM uni WHERE f <> ''
         |          UNION ALL SELECT doc_id, f FROM bi),
         |b AS (SELECT doc_id,
         |        ('0x' || substr(md5(f || '#0'), 1, 15))::bigint
         |          % $HashedNgramBuckets AS bucket
         |      FROM feats),
         |sc AS (SELECT doc_id, count(*)::bigint AS n_feats,
         |         sum(((bucket * 2654435761) % 1001) - 500)::bigint
         |           AS score_raw
         |       FROM b GROUP BY doc_id)
         |SELECT doc_id, n_feats, score_raw,
         |  score_raw > 0 AS keep
         |FROM sc""".stripMargin,

    // the scorer chain and the gopher chain composed: per margin bin
    // (floor over an integer-valued double — a bigint division would
    // truncate negatives toward zero on the Spark side but floor
    // here), exact counts, the two closing divisions
    "x_scorer_calibration" ->
      s"""WITH w AS (
         |  SELECT doc_id,
         |    string_split_regex(lower(trim(text)), '\\s+') AS ws
         |  FROM documents),
         |uni AS (SELECT doc_id, unnest(ws) AS f FROM w),
         |bi AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= 2
         |    THEN list_transform(range(1, len(ws)),
         |      i -> ws[i] || ' ' || ws[i+1])
         |    ELSE []::varchar[] END) AS f FROM w),
         |feats AS (SELECT doc_id, f FROM uni WHERE f <> ''
         |          UNION ALL SELECT doc_id, f FROM bi),
         |b AS (SELECT doc_id,
         |        ('0x' || substr(md5(f || '#0'), 1, 15))::bigint
         |          % $HashedNgramBuckets AS bucket
         |      FROM feats),
         |sc AS (SELECT doc_id,
         |         sum(((bucket * 2654435761) % 1001) - 500)::bigint
         |           AS score_raw
         |       FROM b GROUP BY doc_id),
         |t AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |      w -> w <> '') AS ws
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, len(ws)::bigint AS n_words,
         |    round((CASE WHEN len(ws) > 0 THEN
         |      list_sum(list_transform(ws, w -> len(w)))::double / len(ws)
         |      ELSE 0.0 END) * 10000) / 10000.0 AS mean_word_len,
         |    round((CASE WHEN len(ws) > 0 THEN
         |      len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
         |        ::double / len(ws)
         |      ELSE 0.0 END) * 10000) / 10000.0 AS alpha_frac
         |  FROM t),
         |gk AS (
         |  SELECT doc_id,
         |    (n_words >= 5 AND n_words <= 100000
         |     AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |     AND alpha_frac >= 0.6) AS keep
         |  FROM r),
         |j AS (
         |  SELECT cast(floor(sc.score_raw::double / $ScorerBinWidth.0)
         |      AS bigint) AS bin,
         |    sc.score_raw, gk.keep
         |  FROM sc JOIN gk USING (doc_id)),
         |agg AS (
         |  SELECT bin, count(*)::bigint AS n_docs,
         |    sum(CASE WHEN keep THEN 1 ELSE 0 END)::bigint AS n_keep,
         |    sum(score_raw)::bigint AS sum_score
         |  FROM j GROUP BY bin)
         |SELECT bin, n_docs, n_keep, sum_score,
         |  round(n_keep::double / n_docs::double, 6) AS keep_rate,
         |  round(sum_score::double / n_docs::double, 6) AS mean_score
         |FROM agg""".stripMargin,

    // division-free CUSUM: |n·prefix − t·total| has the same argmax
    // as |prefix − t·mean| and stays an exact decimal
    "x_changepoint_cusum" ->
      """WITH daily AS (
        |  SELECT event_type, ts::date AS day,
        |    sum(value::decimal(18,2)) AS dtot
        |  FROM events GROUP BY 1, 2),
        |pre AS (
        |  SELECT event_type, day,
        |    sum(dtot) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS prefix,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY day) AS t,
        |    sum(dtot) OVER (PARTITION BY event_type) AS total,
        |    count(*) OVER (PARTITION BY event_type) AS n_days
        |  FROM daily),
        |s AS (
        |  SELECT event_type, day, n_days,
        |    abs(n_days * prefix - t * total) AS sabs,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY abs(n_days * prefix - t * total) DESC, day) AS rk
        |  FROM pre)
        |SELECT event_type, day AS cp_day, n_days::bigint AS n_days,
        |  sabs::double AS cusum_scaled
        |FROM s WHERE rk = 1""".stripMargin,

    // ntile over the (value, day) total order — engine-exact bins
    "x_equidepth_hist" ->
      s"""WITH daily AS (
         |  SELECT event_type, ts::date AS day,
         |    sum(value::decimal(18,2)) AS dtot
         |  FROM events GROUP BY 1, 2),
         |b AS (
         |  SELECT event_type, dtot,
         |    ntile($HistBuckets) OVER (PARTITION BY event_type
         |      ORDER BY dtot, day) AS bucket
         |  FROM daily)
         |SELECT event_type, bucket, count(*)::bigint AS n_days,
         |  min(dtot)::double AS lo, max(dtot)::double AS hi
         |FROM b GROUP BY 1, 2""".stripMargin,

    "x_assoc_rules" ->
      """WITH b AS (
        |  SELECT DISTINCT user_id, ts::date AS day, event_type
        |  FROM events),
        |n AS (SELECT count(*)::bigint AS n_baskets
        |  FROM (SELECT DISTINCT user_id, day FROM b)),
        |pa AS (SELECT event_type, count(*)::bigint AS n
        |  FROM b GROUP BY 1),
        |pr AS (SELECT a.event_type AS antecedent,
        |    c.event_type AS consequent, count(*)::bigint AS n_both
        |  FROM b a JOIN b c ON a.user_id = c.user_id
        |    AND a.day = c.day AND a.event_type <> c.event_type
        |  GROUP BY 1, 2)
        |SELECT pr.antecedent, pr.consequent, pr.n_both,
        |  pa.n AS n_ante, pb.n AS n_cons, n.n_baskets,
        |  CAST(pr.n_both AS double) / n.n_baskets AS support,
        |  CAST(pr.n_both AS double) / pa.n AS confidence,
        |  CAST(pr.n_both * n.n_baskets AS double) / (pa.n * pb.n)
        |    AS lift
        |FROM pr JOIN pa ON pa.event_type = pr.antecedent
        |  JOIN pa pb ON pb.event_type = pr.consequent
        |  CROSS JOIN n""".stripMargin,

    "x_trend_ols" ->
      """WITH daily AS (
        |  SELECT event_type, ts::date AS day,
        |    sum(CAST(CAST(value AS decimal(18,2)) * 100 AS bigint))
        |      ::bigint AS cents
        |  FROM events GROUP BY 1, 2),
        |xy AS (
        |  SELECT event_type,
        |    datediff('day', min(day) OVER (PARTITION BY event_type),
        |      day)::bigint AS x,
        |    cents AS y
        |  FROM daily),
        |s AS (
        |  SELECT event_type, count(*)::bigint AS n_days,
        |    sum(x)::bigint AS sx, sum(y)::bigint AS sy,
        |    sum(x*y)::bigint AS sxy, sum(x*x)::bigint AS sxx
        |  FROM xy GROUP BY 1)
        |SELECT event_type, n_days,
        |  CAST(n_days*sxy - sx*sy AS double) /
        |    nullif(CAST(n_days*sxx - sx*sx AS double), 0.0)
        |    AS slope_cents_per_day
        |FROM s""".stripMargin,

    "x_ewma_level" ->
      """WITH daily AS (
        |  SELECT event_type, ts::date AS day,
        |    sum(CAST(CAST(value AS decimal(18,2)) * 100 AS bigint))
        |      ::bigint AS cents
        |  FROM events GROUP BY 1, 2),
        |packed AS (
        |  SELECT event_type, count(*)::bigint AS n_days,
        |    max(day) AS last_day,
        |    list_transform(list(cents ORDER BY day),
        |      x -> CAST(x AS double)) AS xs
        |  FROM daily GROUP BY 1)
        |SELECT event_type, n_days, last_day,
        |  CASE WHEN n_days = 1 THEN xs[1]
        |    ELSE list_reduce(xs, (acc, x) -> (acc + x) / 2.0) END
        |    AS ewma_cents,
        |  xs[CAST(n_days AS int)] AS last_cents
        |FROM packed""".stripMargin,

    // Holt (l, b) as a recursive CTE stepping the day index — NOT the
    // natural list_reduce struct fold, because DuckDB v1.0.0 mutates
    // the struct accumulator field-by-field across steps (the 'b'
    // expression sees the freshly-written 'l'); the per-row recursion
    // evaluates both fields against the PREVIOUS row, mirroring the
    // Spark fold's IEEE association exactly
    "x_holt_level_trend" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, ts::date AS day,
        |    sum(CAST(CAST(value AS decimal(18,2)) * 100 AS bigint))
        |      ::bigint AS cents
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day)
        |      ::bigint AS rn,
        |    count(*) OVER (PARTITION BY event_type)::bigint AS n_days,
        |    max(day) OVER (PARTITION BY event_type) AS last_day,
        |    cents::double AS x
        |  FROM daily),
        |hw(event_type, rn, l, b) AS (
        |  SELECT event_type, rn, x, 0.0::double FROM idx WHERE rn = 1
        |  UNION ALL
        |  SELECT i.event_type, i.rn,
        |    (i.x + h.l + h.b) / 2.0,
        |    ((i.x + h.l + h.b) / 2.0 - h.l + h.b) / 2.0
        |  FROM hw h JOIN idx i
        |    ON i.event_type = h.event_type AND i.rn = h.rn + 1)
        |SELECT i.event_type, i.n_days, i.last_day,
        |  h.l AS level_cents, h.b AS trend_cents,
        |  h.l + h.b AS forecast_cents
        |FROM hw h JOIN (
        |  SELECT DISTINCT event_type, n_days, last_day FROM idx) i
        |  ON i.event_type = h.event_type AND h.rn = i.n_days""".stripMargin,

    "x_holt_winters" -> HoltWintersOracle,

    "x_benford" ->
      s"""WITH d AS (
         |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0)
         |      AS bigint) AS varchar), 1, 1) AS int) AS digit
         |  FROM orders WHERE o_totalprice > 0),
         |c AS (SELECT digit, count(*)::bigint AS cnt
         |  FROM d GROUP BY 1),
         |t AS (SELECT sum(cnt)::bigint AS total FROM c)
         |SELECT c.digit, c.cnt,
         |  CAST(c.cnt AS double) / t.total AS freq,
         |  round(log10(1.0 + 1.0 / c.digit), 6) AS benford_expected,
         |  (abs(CAST(c.cnt AS double) / t.total -
         |    log10(1.0 + 1.0 / c.digit)) < $BenfordTol)
         |    AS benford_close
         |FROM c CROSS JOIN t""".stripMargin,

    // brute-force dominance anti-join — the INDEPENDENT formulation
    // of the sweep the Spark side runs (quadratic is fine at oracle
    // scale and proves the sweep's equivalence on every run)
    "x_skyline" ->
      """SELECT q.o_orderkey, q.o_totalprice,
        |  CAST(q.o_orderdate AS date) AS order_day
        |FROM orders q
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders p
        |  WHERE p.o_totalprice >= q.o_totalprice
        |    AND p.o_orderdate >= q.o_orderdate
        |    AND (p.o_totalprice > q.o_totalprice
        |      OR p.o_orderdate > q.o_orderdate))""".stripMargin,

    "x_gini_segment" ->
      """WITH j AS (
        |  SELECT c.c_mktsegment AS segment,
        |    CAST(round(o.o_totalprice * 100, 0) AS bigint) AS cents
        |  FROM orders o JOIN customer c
        |    ON c.c_custkey = o.o_custkey),
        |r AS (
        |  SELECT segment, cents,
        |    row_number() OVER (PARTITION BY segment
        |      ORDER BY cents) AS i,
        |    count(*) OVER (PARTITION BY segment) AS n
        |  FROM j)
        |SELECT segment, max(n)::bigint AS n_rows,
        |  CAST(sum((2*i - n - 1) * cents) AS double) /
        |    nullif(CAST(max(n) * sum(cents) AS double), 0.0) AS gini
        |FROM r GROUP BY segment""".stripMargin,

    "x_rfm_segment" ->
      """WITH pc AS (
        |  SELECT o_custkey AS custkey,
        |    max(o_orderdate::date) AS last_day,
        |    count(*)::bigint AS n_orders,
        |    sum(CAST(round(o_totalprice * 100, 0) AS bigint))::bigint
        |      AS m_cents
        |  FROM orders GROUP BY 1),
        |a AS (SELECT max(last_day) AS corpus_day FROM pc),
        |s AS (
        |  SELECT pc.*,
        |    datediff('day', last_day, corpus_day)::bigint AS r_days
        |  FROM pc CROSS JOIN a),
        |q AS (
        |  SELECT s.*,
        |    ntile(4) OVER (ORDER BY r_days DESC, custkey) AS r_score,
        |    ntile(4) OVER (ORDER BY n_orders, custkey) AS f_score,
        |    ntile(4) OVER (ORDER BY m_cents, custkey) AS m_score
        |  FROM s)
        |SELECT custkey, r_days, n_orders, m_cents,
        |  r_score, f_score, m_score,
        |  CASE
        |    WHEN r_score >= 3 AND f_score >= 3 AND m_score >= 3
        |      THEN 'champion'
        |    WHEN r_score >= 3 AND m_score >= 3
        |      THEN 'big_spender_recent'
        |    WHEN r_score >= 3 THEN 'promising'
        |    WHEN f_score >= 3 OR m_score >= 3 THEN 'at_risk_valuable'
        |    ELSE 'hibernating' END AS segment
        |FROM q""".stripMargin,

    "x_chisq_indep" ->
      """WITH obs AS (
        |  SELECT o_orderpriority AS a, o_orderstatus AS b,
        |    count(*)::bigint AS n_obs
        |  FROM orders GROUP BY 1, 2),
        |r AS (SELECT a, sum(n_obs)::bigint AS row_total
        |  FROM obs GROUP BY 1),
        |c AS (SELECT b, sum(n_obs)::bigint AS col_total
        |  FROM obs GROUP BY 1),
        |t AS (SELECT sum(n_obs)::bigint AS n_total,
        |  ((count(DISTINCT a) - 1) * (count(DISTINCT b) - 1))::bigint
        |    AS dof
        |  FROM obs)
        |SELECT obs.a, obs.b, n_obs, row_total, col_total, n_total, dof,
        |  CAST(row_total * col_total AS double) /
        |    CAST(n_total AS double) AS expected,
        |  (CAST(n_obs * n_total - row_total * col_total AS double) *
        |   CAST(n_obs * n_total - row_total * col_total AS double)) /
        |  (CAST(row_total * col_total AS double) *
        |    CAST(n_total AS double)) AS chi2_cell
        |FROM obs JOIN r USING (a) JOIN c USING (b)
        |CROSS JOIN t""".stripMargin,

    // mirrors Hypothesis.welchTTest: same seeded-hash arm split, same
    // exact sufficient stats, same scalar IEEE chain op order
    "x_welch_ttest" ->
      s"""WITH $HypoWideCtes,
         |st AS (
         |  SELECT key, n_a, n_b, sum_a_cents, sum_b_cents,
         |    sum_a_cents::double / n_a::double AS m_a,
         |    sum_b_cents::double / n_b::double AS m_b,
         |    ((ss_a::double - (sum_a_cents::double * sum_a_cents::double)
         |        / n_a::double) / (n_a - 1)::double) / n_a::double AS se_a,
         |    ((ss_b::double - (sum_b_cents::double * sum_b_cents::double)
         |        / n_b::double) / (n_b - 1)::double) / n_b::double AS se_b
         |  FROM wide)
         |SELECT key, n_a, n_b, sum_a_cents, sum_b_cents,
         |  m_a AS mean_a, m_b AS mean_b,
         |  CASE WHEN n_a >= 2 AND n_b >= 2 THEN
         |    round((m_a - m_b) / sqrt(se_a + se_b), 6) END AS t_stat,
         |  CASE WHEN n_a >= 2 AND n_b >= 2 THEN
         |    round(((se_a + se_b) * (se_a + se_b)) /
         |      ((se_a * se_a) / (n_a - 1)::double +
         |       (se_b * se_b) / (n_b - 1)::double), 6) END AS df
         |FROM st""".stripMargin,

    // binary conversion per user, pooled-SE z with the identical
    // parenthesization; degenerate pools NULL out replayably
    "x_prop_ztest" ->
      s"""WITH u AS (
         |  SELECT user_id,
         |    CASE WHEN ('0x' || substr(md5(user_id::varchar || '#0'),
         |        1, 15))::bigint % 2 = 0 THEN 'a' ELSE 'b' END AS v,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      ::bigint AS conv
         |  FROM events GROUP BY 1, 2),
         |w AS (
         |  SELECT
         |    coalesce(sum(CASE WHEN v = 'a' THEN 1 END), 0)::bigint
         |      AS n_a,
         |    coalesce(sum(CASE WHEN v = 'a' THEN conv END), 0)::bigint
         |      AS conv_a,
         |    coalesce(sum(CASE WHEN v = 'b' THEN 1 END), 0)::bigint
         |      AS n_b,
         |    coalesce(sum(CASE WHEN v = 'b' THEN conv END), 0)::bigint
         |      AS conv_b
         |  FROM u)
         |SELECT n_a, n_b, conv_a, conv_b,
         |  CASE WHEN n_a > 0
         |    THEN conv_a::double / n_a::double END AS rate_a,
         |  CASE WHEN n_b > 0
         |    THEN conv_b::double / n_b::double END AS rate_b,
         |  CASE WHEN n_a > 0 AND n_b > 0 AND conv_a + conv_b > 0
         |      AND conv_a + conv_b < n_a + n_b THEN
         |    round((conv_a::double / n_a::double -
         |           conv_b::double / n_b::double) /
         |      sqrt(((conv_a + conv_b)::double / (n_a + n_b)::double) *
         |        (1.0 - (conv_a + conv_b)::double / (n_a + n_b)::double)
         |        * (1.0 / n_a::double + 1.0 / n_b::double)), 6)
         |  END AS z
         |FROM w""".stripMargin,

    // BH over the (event_type × dow) z family: the A&S 26.2.17 p and
    // the reverse-cumulative-min adjustment, every constant
    // interpolated from the Hypothesis object so the chains are the
    // same literals; dow as epoch-days mod 7 (the engines' dayofweek
    // conventions disagree)
    "x_fdr_bh" ->
      s"""WITH base AS (
         |  SELECT event_type || '#' ||
         |    ((cast(ts AS date) - DATE '1970-01-01') % 7)::varchar
         |      AS key,
         |    CASE WHEN ('0x' || substr(md5(user_id::varchar || '#0'),
         |        1, 15))::bigint % 2 = 0 THEN 'a' ELSE 'b' END AS v,
         |    CAST(CAST(value AS decimal(18,2)) * 100 AS bigint) AS c
         |  FROM events),
         |perarm AS (
         |  SELECT key, v, count(*)::bigint AS n, sum(c)::bigint AS s,
         |    sum(c::decimal(19,0) * c::decimal(19,0)) AS ss
         |  FROM base GROUP BY 1, 2),
         |wide AS (
         |  SELECT key,
         |    max(CASE WHEN v = 'a' THEN n END) AS n_a,
         |    max(CASE WHEN v = 'b' THEN n END) AS n_b,
         |    max(CASE WHEN v = 'a' THEN s END) AS s_a,
         |    max(CASE WHEN v = 'b' THEN s END) AS s_b,
         |    max(CASE WHEN v = 'a' THEN ss END) AS ss_a,
         |    max(CASE WHEN v = 'b' THEN ss END) AS ss_b
         |  FROM perarm GROUP BY key),
         |st AS (
         |  SELECT key, n_a, n_b,
         |    s_a::double / n_a::double AS m_a,
         |    s_b::double / n_b::double AS m_b,
         |    CASE WHEN n_a >= 2 AND n_b >= 2 THEN
         |      ((ss_a::double - (s_a::double * s_a::double)
         |          / n_a::double) / (n_a - 1)::double) / n_a::double
         |    END AS se_a,
         |    CASE WHEN n_a >= 2 AND n_b >= 2 THEN
         |      ((ss_b::double - (s_b::double * s_b::double)
         |          / n_b::double) / (n_b - 1)::double) / n_b::double
         |    END AS se_b
         |  FROM wide),
         |zc AS (
         |  SELECT key, n_a, n_b,
         |    CASE WHEN se_a IS NOT NULL AND se_a + se_b > 0.0
         |      THEN (m_a - m_b) / sqrt(se_a + se_b) END AS z_full
         |  FROM st),
         |tc AS (
         |  SELECT *, abs(z_full) AS az,
         |    1.0 / (1.0 + ${Hypothesis.NormB} * abs(z_full)) AS t
         |  FROM zc),
         |pc AS (
         |  SELECT key, n_a, n_b, z_full,
         |    CASE WHEN z_full IS NOT NULL THEN least(1.0,
         |      2.0 * (exp((az * az) / -2.0) * ${Hypothesis.InvSqrt2Pi})
         |        * (t * (${Hypothesis.NormA1} + t * (${Hypothesis.NormA2}
         |          + t * (${Hypothesis.NormA3} + t * (${Hypothesis.NormA4}
         |            + t * ${Hypothesis.NormA5}))))))
         |    END AS p_full
         |  FROM tc),
         |rk AS (
         |  SELECT *,
         |    row_number() OVER (ORDER BY abs(z_full) DESC NULLS LAST,
         |      key) AS rnk,
         |    count(p_full) OVER () AS m
         |  FROM pc),
         |adj AS (
         |  SELECT *, CASE WHEN p_full IS NOT NULL THEN least(1.0,
         |    min(p_full * m::double / rnk::double) OVER (
         |      ORDER BY rnk DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |  END AS p_adj_full
         |  FROM rk)
         |SELECT key, n_a, n_b, round(z_full, 6) AS z,
         |  round(p_full, 6) AS p_raw,
         |  CASE WHEN p_full IS NOT NULL THEN rnk END AS p_rank,
         |  m AS m_tests, round(p_adj_full, 6) AS p_adj,
         |  p_adj_full <= 0.1 AS discovery
         |FROM adj""".stripMargin,

    // stream-maintained partials re-sum to the one-shot aggregate
    // exactly: the identical oracle
    "x_stream_msprt" -> MsprtOracle,

    // mSPRT always-valid p: cumulative exact per-arm stats over the
    // day windows, the normal-mixture Λ with the τ² literal shared
    // from the Hypothesis object, running-min p
    "x_msprt_seq" -> MsprtOracle,

    // dense spine, trailing-week list sort, 4th element — no
    // arithmetic, exact longs end to end
    "x_rolling_median" ->
      """WITH daily AS (
        |  SELECT event_type AS key, ts::date AS day,
        |    sum(CAST(CAST(value AS decimal(18,2)) * 100 AS bigint))
        |      ::bigint AS cents
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |spine AS (
        |  SELECT unnest(generate_series(d0, d1,
        |    INTERVAL 1 DAY))::date AS day
        |  FROM bounds),
        |dense AS (
        |  SELECT k.key, s.day, coalesce(d.cents, 0)::bigint AS cents
        |  FROM (SELECT DISTINCT key FROM daily) k
        |  CROSS JOIN spine s
        |  LEFT JOIN daily d ON d.key = k.key AND d.day = s.day),
        |win AS (
        |  SELECT key, day,
        |    list(cents) OVER (PARTITION BY key ORDER BY day
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS w
        |  FROM dense)
        |SELECT key, day, list_sort(w)[4]::bigint AS med_cents
        |FROM win WHERE len(w) = 7""".stripMargin,

    // pair-sign S over the observed daily series, integer tie-adjusted
    // var18, continuity-corrected z through the mirrored ÷-√-÷ chain
    "x_mann_kendall" ->
      """WITH daily AS (
        |  SELECT event_type AS key, ts::date AS day,
        |    sum(CAST(CAST(value AS decimal(18,2)) * 100 AS bigint))
        |      ::bigint AS cents
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT a.key,
        |    sum(CASE WHEN b.cents > a.cents THEN 1
        |             WHEN b.cents < a.cents THEN -1
        |             ELSE 0 END)::bigint AS s_raw
        |  FROM daily a JOIN daily b
        |    ON a.key = b.key AND a.day < b.day
        |  GROUP BY a.key),
        |t AS (
        |  SELECT key,
        |    sum(tc * (tc - 1) * (2 * tc + 5))::bigint AS tie18
        |  FROM (SELECT key, cents, count(*)::bigint AS tc
        |        FROM daily GROUP BY 1, 2)
        |  GROUP BY key),
        |nd AS (SELECT key, count(*)::bigint AS n FROM daily
        |       GROUP BY key),
        |w AS (
        |  SELECT nd.key, n, coalesce(s_raw, 0)::bigint AS s_stat,
        |    (n * (n - 1) * (2 * n + 5) - tie18)::bigint AS var18
        |  FROM nd LEFT JOIN p ON nd.key = p.key
        |  JOIN t ON nd.key = t.key)
        |SELECT key, n AS n_days, s_stat, var18,
        |  CASE WHEN var18 > 0 THEN
        |    round((s_stat - CASE WHEN s_stat > 0 THEN 1
        |                         WHEN s_stat < 0 THEN -1
        |                         ELSE 0 END)::double
        |      / sqrt(var18::double / 18.0), 6)
        |  END AS z_mk
        |FROM w""".stripMargin,

    // exact C/D/tie counts over day pairs, τ-b through the mirrored
    // ×-√-÷ close; both-tied pairs land in neither C nor D
    "x_kendall_tau" ->
      """WITH daily AS (
        |  SELECT event_type AS key, ts::date AS day,
        |    sum(CAST(CAST(value AS decimal(18,2)) * 100 AS bigint))
        |      ::bigint AS x,
        |    count(*)::bigint AS y
        |  FROM events GROUP BY 1, 2),
        |cd AS (
        |  SELECT a.key,
        |    sum(CASE WHEN (CASE WHEN b.x > a.x THEN 1
        |                        WHEN b.x < a.x THEN -1 ELSE 0 END)
        |      * (CASE WHEN b.y > a.y THEN 1
        |              WHEN b.y < a.y THEN -1 ELSE 0 END) > 0
        |      THEN 1 ELSE 0 END)::bigint AS n_concordant,
        |    sum(CASE WHEN (CASE WHEN b.x > a.x THEN 1
        |                        WHEN b.x < a.x THEN -1 ELSE 0 END)
        |      * (CASE WHEN b.y > a.y THEN 1
        |              WHEN b.y < a.y THEN -1 ELSE 0 END) < 0
        |      THEN 1 ELSE 0 END)::bigint AS n_discordant
        |  FROM daily a JOIN daily b
        |    ON a.key = b.key AND a.day < b.day
        |  GROUP BY a.key),
        |tx AS (
        |  SELECT key, sum((tc * (tc - 1)) // 2)::bigint AS n1
        |  FROM (SELECT key, x, count(*)::bigint AS tc FROM daily
        |        GROUP BY 1, 2)
        |  GROUP BY key),
        |ty AS (
        |  SELECT key, sum((tc * (tc - 1)) // 2)::bigint AS n2
        |  FROM (SELECT key, y, count(*)::bigint AS tc FROM daily
        |        GROUP BY 1, 2)
        |  GROUP BY key),
        |nd AS (SELECT key, count(*)::bigint AS n FROM daily
        |       GROUP BY key),
        |w AS (
        |  SELECT nd.key, n,
        |    coalesce(n_concordant, 0)::bigint AS n_concordant,
        |    coalesce(n_discordant, 0)::bigint AS n_discordant,
        |    ((n * (n - 1)) // 2)::bigint AS n0, n1, n2
        |  FROM nd LEFT JOIN cd ON nd.key = cd.key
        |  JOIN tx ON nd.key = tx.key
        |  JOIN ty ON nd.key = ty.key)
        |SELECT key, n AS n_days, n_concordant, n_discordant,
        |  n0, n1, n2,
        |  CASE WHEN n0 > n1 AND n0 > n2 THEN
        |    round((n_concordant - n_discordant)::double
        |      / sqrt((n0 - n1)::double * (n0 - n2)::double), 6)
        |  END AS tau_b
        |FROM w""".stripMargin,

    // Poisson-bootstrap CI: per-user cents, md5-seeded Poisson(1)
    // weights through the identical CDF literals, one exact-int
    // division per replicate arm, integer order-statistic endpoints
    "x_bootstrap_ci" ->
      s"""WITH base AS (
         |  SELECT event_type AS key, user_id AS u,
         |    CASE WHEN ('0x' || substr(md5(user_id::varchar || '#0'),
         |        1, 15))::bigint % 2 = 0 THEN 'a' ELSE 'b' END AS v,
         |    CAST(CAST(value AS decimal(18,2)) * 100 AS bigint) AS c
         |  FROM events),
         |pu AS (SELECT key, u, v, sum(c)::bigint AS y FROM base
         |       GROUP BY 1, 2, 3),
         |reps AS (SELECT unnest(range($BootstrapReps)) AS r),
         |ex AS (
         |  SELECT pu.*, r,
         |    ('0x' || substr(md5(u::varchar || '|' || r::varchar
         |      || '#0'), 1, 15))::bigint / 1152921504606846976.0 AS u01
         |  FROM pu CROSS JOIN reps),
         |wx AS (
         |  SELECT key, r, v, y,
         |    (CASE WHEN u01 < 0.36787944117144233 THEN 0
         |          WHEN u01 < 0.7357588823428847 THEN 1
         |          WHEN u01 < 0.9196986029286058 THEN 2
         |          WHEN u01 < 0.9810118431238462 THEN 3
         |          WHEN u01 < 0.9963401531726563 THEN 4
         |          ELSE 5 END)::bigint AS w
         |  FROM ex),
         |ra AS (
         |  SELECT key, r,
         |    coalesce(sum(CASE WHEN v = 'a' THEN w END), 0)::bigint
         |      AS wa,
         |    coalesce(sum(CASE WHEN v = 'a' THEN w * y END), 0)::bigint
         |      AS wya,
         |    coalesce(sum(CASE WHEN v = 'b' THEN w END), 0)::bigint
         |      AS wb,
         |    coalesce(sum(CASE WHEN v = 'b' THEN w * y END), 0)::bigint
         |      AS wyb
         |  FROM wx GROUP BY key, r),
         |df AS (
         |  SELECT key, wya::double / wa::double -
         |    wyb::double / wb::double AS diff
         |  FROM ra WHERE wa > 0 AND wb > 0),
         |rk AS (
         |  SELECT key, diff,
         |    row_number() OVER (PARTITION BY key ORDER BY diff) AS rn,
         |    count(*) OVER (PARTITION BY key) AS nr
         |  FROM df),
         |ci AS (
         |  SELECT key, max(nr)::bigint AS n_reps,
         |    min(CASE WHEN rn = greatest((nr * 25 + 999) // 1000, 1)
         |      THEN diff END) AS ci_lo,
         |    min(CASE WHEN rn = (nr * 975 + 999) // 1000
         |      THEN diff END) AS ci_hi
         |  FROM rk GROUP BY key),
         |obs AS (
         |  SELECT key,
         |    coalesce(sum(CASE WHEN v = 'a' THEN 1 END), 0)::bigint
         |      AS n_a,
         |    coalesce(sum(CASE WHEN v = 'b' THEN 1 END), 0)::bigint
         |      AS n_b,
         |    coalesce(sum(CASE WHEN v = 'a' THEN y END), 0)::bigint
         |      AS ya,
         |    coalesce(sum(CASE WHEN v = 'b' THEN y END), 0)::bigint
         |      AS yb
         |  FROM pu GROUP BY key)
         |SELECT obs.key, n_a, n_b,
         |  CASE WHEN n_a > 0 AND n_b > 0 THEN
         |    ya::double / n_a::double - yb::double / n_b::double END
         |    AS diff_obs,
         |  n_reps, ci_lo, ci_hi,
         |  (ci_lo > 0.0 OR ci_hi < 0.0) AS significant
         |FROM obs LEFT JOIN ci ON obs.key = ci.key""".stripMargin,

    // same wide CTEs; the z-sum is the fixed literal 2.801585
    // (1.959964 + 0.841621), mirrored on both engines
    "x_power_mde" ->
      s"""WITH $HypoWideCtes,
         |st AS (
         |  SELECT key, n_a, n_b,
         |    sum_a_cents::double / n_a::double AS m_a,
         |    ((ss_a::double - (sum_a_cents::double * sum_a_cents::double)
         |        / n_a::double) / (n_a - 1)::double) / n_a::double AS se_a,
         |    ((ss_b::double - (sum_b_cents::double * sum_b_cents::double)
         |        / n_b::double) / (n_b - 1)::double) / n_b::double AS se_b
         |  FROM wide)
         |SELECT key, n_a, n_b, m_a AS mean_a_cents,
         |  CASE WHEN n_a >= 2 AND n_b >= 2 THEN
         |    round(2.801585 * sqrt(se_a + se_b), 6) END AS mde_cents,
         |  CASE WHEN n_a >= 2 AND n_b >= 2 AND m_a <> 0.0 THEN
         |    round((2.801585 * sqrt(se_a + se_b)) / m_a, 6) END AS mde_rel
         |FROM st""".stripMargin,

    // mirrors Hypothesis.mannWhitneyU: doubled rank sums over the
    // distinct-value frame (2·avgrank = 2·cnt_lt + cnt + 1), exact
    // bigint U, tie-corrected z in the same op order
    "x_mannwhitney_u" ->
      s"""WITH $HypothesisBaseCte,
         |perval AS (
         |  SELECT key, c,
         |    sum(CASE WHEN v = 'a' THEN 1 ELSE 0 END)::bigint AS ca,
         |    sum(CASE WHEN v = 'b' THEN 1 ELSE 0 END)::bigint AS cb
         |  FROM base GROUP BY 1, 2),
         |scored AS (
         |  SELECT key, ca, cb, ca + cb AS cnt,
         |    2 * coalesce(sum(ca + cb) OVER (PARTITION BY key ORDER BY c
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) +
         |      (ca + cb) + 1 AS r2
         |  FROM perval),
         |agg AS (
         |  SELECT key, sum(ca)::bigint AS n_a, sum(cb)::bigint AS n_b,
         |    sum(ca * r2)::bigint AS r_a_x2,
         |    sum(cnt*cnt*cnt - cnt)::bigint AS ties
         |  FROM scored GROUP BY 1),
         |u AS (
         |  SELECT key, n_a, n_b, ties,
         |    r_a_x2 - n_a * (n_a + 1) AS u_a_x2,
         |    (n_a * n_b)::double / 3.0 *
         |      ((n_a + n_b + 1)::double -
         |       ties::double / ((n_a + n_b) * (n_a + n_b - 1))::double)
         |      AS var4
         |  FROM agg)
         |SELECT key, n_a, n_b, u_a_x2,
         |  2 * n_a * n_b - u_a_x2 AS u_b_x2, ties,
         |  CASE WHEN n_a > 0 AND n_b > 0 AND var4 > 0 THEN
         |    round((u_a_x2 - n_a * n_b)::double / sqrt(var4), 6) END AS z
         |FROM u""".stripMargin,

    // mirrors Hypothesis.ksTwoSample: cross-multiplied CDF counts keep
    // the sup numerator an exact bigint; one closing division
    "x_ks_two_sample" ->
      s"""WITH $HypothesisBaseCte,
         |perval AS (
         |  SELECT key, c,
         |    sum(CASE WHEN v = 'a' THEN 1 ELSE 0 END)::bigint AS ca,
         |    sum(CASE WHEN v = 'b' THEN 1 ELSE 0 END)::bigint AS cb
         |  FROM base GROUP BY 1, 2),
         |stepped AS (
         |  SELECT key, c,
         |    sum(ca) OVER (PARTITION BY key ORDER BY c
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
         |    sum(cb) OVER (PARTITION BY key ORDER BY c
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
         |    sum(ca) OVER (PARTITION BY key) AS n_a,
         |    sum(cb) OVER (PARTITION BY key) AS n_b
         |  FROM perval),
         |dev AS (
         |  SELECT key, c, n_a, n_b,
         |    abs(cum_a * n_b - cum_b * n_a) AS dev,
         |    max(abs(cum_a * n_b - cum_b * n_a))
         |      OVER (PARTITION BY key) AS dev_max
         |  FROM stepped)
         |SELECT key, max(n_a)::bigint AS n_a, max(n_b)::bigint AS n_b,
         |  max(dev)::bigint AS d_num,
         |  min(CASE WHEN dev = dev_max THEN c END)::bigint AS at_cents,
         |  CASE WHEN max(n_a) > 0 AND max(n_b) > 0 THEN
         |    max(dev)::double / (max(n_a) * max(n_b))::double END AS d
         |FROM dev GROUP BY key""".stripMargin,

    // mirrors Hypothesis.cuped: n-scaled exact covariance (no mean
    // quotient enters a sum), per-arm adjusted means algebraically,
    // unrounded θ inside the adjustment, 6dp only on the outputs
    "x_cuped" ->
      s"""WITH ev AS (
         |  SELECT user_id, ts,
         |    CAST(CAST(value AS decimal(18,2)) * 100 AS bigint) AS c
         |  FROM events),
         |anchor AS (SELECT min(ts::date) AS day0 FROM events),
         |pu AS (
         |  SELECT user_id,
         |    sum(CASE WHEN datediff('day', day0, ts::date) < $CupedPreDays
         |      THEN c ELSE 0 END)::bigint AS x,
         |    sum(CASE WHEN datediff('day', day0, ts::date) < $CupedPreDays
         |      THEN 0 ELSE c END)::bigint AS y,
         |    CASE WHEN ('0x' || substr(md5(user_id::varchar || '#0'),
         |        1, 15))::bigint % 2 = 0 THEN 'a' ELSE 'b' END AS v
         |  FROM ev CROSS JOIN anchor GROUP BY user_id),
         |tot AS (SELECT count(*)::bigint AS n, sum(x)::bigint AS sx,
         |  sum(y)::bigint AS sy FROM pu),
         |mom AS (
         |  SELECT max(n) AS n, max(sx) AS sx, max(sy) AS sy,
         |    sum(dx*dy) AS sxy, sum(dx*dx) AS sxx, sum(dy*dy) AS syy
         |  FROM (SELECT n, sx, sy,
         |      (n*x - sx)::decimal(19,0) AS dx,
         |      (n*y - sy)::decimal(19,0) AS dy
         |    FROM pu CROSS JOIN tot)),
         |perarm AS (
         |  SELECT v AS variant, count(*)::bigint AS n_users,
         |    sum(x)::bigint AS x_cents, sum(y)::bigint AS y_cents
         |  FROM pu GROUP BY v)
         |SELECT variant, n_users, x_cents, y_cents,
         |  x_cents::double / n_users::double AS mean_x,
         |  y_cents::double / n_users::double AS mean_y,
         |  round(sxy::double / nullif(sxx::double, 0.0), 6) AS theta,
         |  round((sxy::double * sxy::double) /
         |    nullif(sxx::double * syy::double, 0.0), 6) AS rho2,
         |  round(y_cents::double / n_users::double -
         |    (sxy::double / nullif(sxx::double, 0.0)) *
         |    (x_cents::double / n_users::double - sx::double / n::double),
         |    6) AS mean_y_adj
         |FROM perarm CROSS JOIN mom""".stripMargin,

    "x_winsorized" ->
      """WITH v AS (
        |  SELECT o_orderpriority AS grp,
        |    CAST(round(o_totalprice * 100, 0) AS bigint) AS cents
        |  FROM orders),
        |r AS (
        |  SELECT grp, cents,
        |    row_number() OVER (PARTITION BY grp ORDER BY cents) AS i,
        |    count(*) OVER (PARTITION BY grp) AS n
        |  FROM v),
        |ix AS (
        |  SELECT r.*,
        |    -- // (floor division) — CAST(x AS bigint) ROUNDS in DuckDB
        |    -- where Spark's cast truncates; the ceil-index arithmetic
        |    -- must floor on both engines
        |    greatest(1, (5 * n + 99) // 100) AS ilo,
        |    greatest(1, (95 * n + 99) // 100) AS ihi
        |  FROM r),
        |b AS (
        |  SELECT ix.*,
        |    max(CASE WHEN i = ilo THEN cents END)
        |      OVER (PARTITION BY grp) AS lo,
        |    max(CASE WHEN i = ihi THEN cents END)
        |      OVER (PARTITION BY grp) AS hi
        |  FROM ix)
        |SELECT grp AS o_orderpriority, count(*)::bigint AS n_rows,
        |  max(lo)::bigint AS lo_cents, max(hi)::bigint AS hi_cents,
        |  sum(least(greatest(cents, lo), hi))::bigint AS w_sum_cents,
        |  CAST(sum(least(greatest(cents, lo), hi)) AS double) /
        |    CAST(count(*) AS double) AS w_mean_cents
        |FROM b GROUP BY grp""".stripMargin,

    "x_acf_daily" -> AcfOracleSql,

    // mirrors Temporal.seasonalDow: same dense spine, same exact
    // 7·cents − Σ₇ detrend, same closing divisions; DuckDB weekday is
    // 0-based Sunday → +1 matches Spark's dayofweek
    "x_seasonal_dow" ->
      """WITH daily AS (
        |  SELECT event_type AS key, ts::date AS day,
        |    sum(CAST(CAST(value AS decimal(18,2)) * 100 AS bigint))
        |      ::bigint AS cents
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |spine AS (
        |  SELECT unnest(generate_series(d0, d1, INTERVAL 1 day))::date
        |    AS day
        |  FROM bounds),
        |keys AS (SELECT DISTINCT key FROM daily),
        |dense AS (
        |  SELECT k.key, s.day, coalesce(d.cents, 0)::bigint AS cents
        |  FROM keys k CROSS JOIN spine s
        |  LEFT JOIN daily d ON d.key = k.key AND d.day = s.day),
        |detr AS (
        |  SELECT key, day, cents,
        |    sum(cents) OVER (PARTITION BY key ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS sum7,
        |    row_number() OVER (PARTITION BY key ORDER BY day) AS rn,
        |    count(*) OVER (PARTITION BY key) AS cnt
        |  FROM dense),
        |dd AS (
        |  SELECT key, day, 7 * cents - sum7 AS detr7 FROM detr
        |  WHERE rn > 3 AND rn <= cnt - 3)
        |SELECT key, (dayofweek(day) + 1)::int AS dow,
        |  count(*)::bigint AS n_days,
        |  round(sum(detr7)::double / count(*)::double / 7.0, 6)
        |    AS seasonal_cents
        |FROM dd GROUP BY 1, 2""".stripMargin,

    // model tournament: exact-long error totals, ×7-scaled ma7, the
    // same strict/tie CASE order for the winner
    "x_forecast_tournament" ->
      """WITH daily AS (
        |  SELECT event_type AS key, cast(ts AS date) AS day,
        |    sum(CAST(CAST(value AS decimal(18,2)) * 100 AS bigint))
        |      ::bigint AS y
        |  FROM events GROUP BY 1, 2),
        |ma AS (
        |  SELECT *, CASE WHEN count(*) OVER w = 7
        |    THEN (sum(y) OVER w)::bigint END AS t7
        |  FROM daily
        |  WINDOW w AS (PARTITION BY key
        |    ORDER BY (day - DATE '1970-01-01')
        |    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |scored AS (
        |  SELECT m.key, m.day, m.y, m.t7,
        |    n.y AS f_naive, s.y AS f_snaive
        |  FROM ma m
        |  JOIN daily n ON n.key = m.key AND n.day + 1 = m.day
        |  JOIN daily s ON s.key = m.key AND s.day + 7 = m.day
        |  WHERE m.t7 IS NOT NULL),
        |agg AS (
        |  SELECT key, count(*)::bigint AS n_days,
        |    sum(abs(y - f_naive))::bigint AS ae_naive_cents,
        |    sum(abs(y - f_snaive))::bigint AS ae_snaive_cents,
        |    sum(abs(y * 7 - t7))::bigint AS ae_ma7_x7
        |  FROM scored GROUP BY key)
        |SELECT key, n_days, ae_naive_cents, ae_snaive_cents,
        |  round(ae_ma7_x7::double / 7.0, 6) AS ae_ma7_cents,
        |  CASE WHEN ae_ma7_x7 < ae_naive_cents * 7
        |        AND ae_ma7_x7 < ae_snaive_cents * 7 THEN 'ma7'
        |       WHEN ae_naive_cents <= ae_snaive_cents THEN 'naive'
        |       ELSE 'snaive' END AS winner
        |FROM agg""".stripMargin,

    // classical additive decomposition: exact 7-day LONG trend sums,
    // integer seasonal numerator (7·Σy − Σt7), residual chain mirrored
    "x_stl_decompose" ->
      """WITH daily AS (
        |  SELECT event_type AS key, cast(ts AS date) AS day,
        |    sum(CAST(CAST(value AS decimal(18,2)) * 100 AS bigint))
        |      ::bigint AS y
        |  FROM events GROUP BY 1, 2),
        |dd AS (SELECT *, (day - DATE '1970-01-01') % 7 AS dow
        |  FROM daily),
        |witht AS (
        |  SELECT *, CASE WHEN count(*) OVER w = 7
        |    THEN (sum(y) OVER w)::bigint END AS t7
        |  FROM dd
        |  WINDOW w AS (PARTITION BY key
        |    ORDER BY (day - DATE '1970-01-01')
        |    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |seas AS (
        |  SELECT key, dow,
        |    (7 * sum(y) - sum(t7))::double
        |      / (7 * count(*))::double AS seasonal
        |  FROM witht WHERE t7 IS NOT NULL GROUP BY key, dow)
        |SELECT w.key, w.day, w.y AS y_cents,
        |  w.t7::double / 7.0 AS trend,
        |  CASE WHEN w.t7 IS NOT NULL THEN s.seasonal END AS seasonal,
        |  CASE WHEN w.t7 IS NOT NULL THEN
        |    w.y::double - w.t7::double / 7.0 - s.seasonal END AS resid
        |FROM witht w LEFT JOIN seas s
        |  ON s.key = w.key AND s.dow = w.dow""".stripMargin,

    // higher moments from exact hugeint power sums, fixed IEEE chain,
    // sqrt-only transcendental closings
    "x_moments" ->
      """WITH base AS (
        |  SELECT event_type AS key,
        |    CAST(CAST(value AS decimal(18,2)) * 100 AS bigint) AS c
        |  FROM events),
        |agg AS (
        |  SELECT key, count(*)::bigint AS n, sum(c)::bigint AS s1,
        |    sum(c::hugeint * c::hugeint) AS s2,
        |    sum(c::hugeint * c::hugeint * c::hugeint) AS s3,
        |    sum(c::hugeint * c::hugeint * c::hugeint * c::hugeint)
        |      AS s4
        |  FROM base GROUP BY key),
        |st AS (
        |  SELECT key, n, s1, n::double AS nd, s1::double AS d1,
        |    s2::double AS d2, s3::double AS d3, s4::double AS d4
        |  FROM agg),
        |m AS (
        |  SELECT key, n, s1, nd, d1,
        |    d2 - (d1 * d1) / nd AS m2,
        |    d3 - (3.0 * d1 * d2) / nd
        |       + (2.0 * d1 * d1 * d1) / (nd * nd) AS m3,
        |    d4 - (4.0 * d1 * d3) / nd
        |       + (6.0 * d1 * d1 * d2) / (nd * nd)
        |       - (3.0 * d1 * d1 * d1 * d1) / (nd * nd * nd) AS m4
        |  FROM st)
        |SELECT key, n, s1 AS sum_cents, d1 / nd AS mean_cents,
        |  CASE WHEN n >= 2 THEN m2 / (nd - 1.0) END AS variance,
        |  CASE WHEN n >= 3 AND m2 > 0.0 THEN
        |    round((m3 / nd) / ((m2 / nd) * sqrt(m2 / nd)), 6)
        |  END AS skewness,
        |  CASE WHEN n >= 3 AND m2 > 0.0 THEN
        |    round((m4 / nd) / ((m2 / nd) * (m2 / nd)) - 3.0, 6)
        |  END AS kurtosis_excess
        |FROM m""".stripMargin,

    // component-size census over the shared cluster reach
    "x_component_stats" ->
      s"""WITH RECURSIVE $EmbedNearDupCtes,
         |edges AS (
         |  SELECT id_a AS a, id_b AS b FROM epairs
         |  UNION ALL SELECT id_b, id_a FROM epairs),
         |reach(v, l) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.b, r.l FROM reach r JOIN edges e ON e.a = r.v),
         |clu AS (SELECT v, min(l) AS cluster_id FROM reach GROUP BY v),
         |sizes AS (SELECT cluster_id, count(*)::bigint AS sz
         |          FROM clu GROUP BY 1)
         |SELECT count(*)::bigint AS n_components,
         |  sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END)::bigint
         |    AS n_singletons,
         |  max(sz)::bigint AS max_size,
         |  sum(CASE WHEN sz > 1 THEN sz ELSE 0 END)::bigint
         |    AS n_in_dup_clusters
         |FROM sizes""".stripMargin,

    "x_survival_km" ->
      s"""WITH pu AS (
         |  SELECT user_id, min(ts::date) AS first_day,
         |    max(ts::date) AS last_day
         |  FROM events GROUP BY 1),
         |e AS (SELECT max(last_day) AS corpus_end FROM pu),
         |life AS (
         |  SELECT
         |    datediff('day', first_day, last_day)::bigint AS t_days,
         |    datediff('day', last_day, corpus_end) > $KmHorizonDays
         |      AS churned
         |  FROM pu CROSS JOIN e),
         |tab AS (
         |  SELECT t_days,
         |    sum(CASE WHEN churned THEN 1 ELSE 0 END)::bigint
         |      AS n_churn,
         |    sum(CASE WHEN churned THEN 0 ELSE 1 END)::bigint
         |      AS n_censored
         |  FROM life GROUP BY 1),
         |rsk AS (
         |  SELECT tab.*,
         |    sum(n_churn + n_censored) OVER (ORDER BY t_days
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         |      ::bigint AS n_risk
         |  FROM tab),
         |curve AS (
         |  SELECT rsk.*,
         |    max(CASE WHEN n_churn = n_risk THEN 1 ELSE 0 END)
         |      OVER w AS dead,
         |    sum(CASE WHEN n_churn < n_risk
         |      THEN ln(1.0 - CAST(n_churn AS double) /
         |        CAST(n_risk AS double))
         |      ELSE 0.0 END) OVER w AS lnsum
         |  FROM rsk
         |  WINDOW w AS (ORDER BY t_days
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT t_days, n_risk, n_churn, n_censored,
         |  CASE WHEN dead = 1 THEN 0.0
         |    ELSE round(exp(lnsum), 6) END AS survival
         |FROM curve""".stripMargin
  )

  /** The public oracle map: the base oracles plus the SQL-front-door
    * queries, which SHARE their Scala twins' oracles verbatim — the
    * whole point is that the SQL path and the Scala path are one plan
    * with one answer. */
  lazy val oracleSql: Map[String, String] = BaseOracleSql ++ Map(
    "x_sql_funnel" -> BaseOracleSql("x_funnel"),
    // the SQL front door passes the EXPLICIT fixed recipe geometry, so
    // its oracle is the fixed chain (x_embed_near_dup's is now the
    // derived-geometry mirror)
    "x_sql_neardup_pairs" ->
      s"""WITH $EmbedNearDupCtes
         |SELECT id_a, id_b, cos FROM epairs""".stripMargin,
    "x_sql_profile" -> BaseOracleSql("x_profile_orders"),
    "x_sql_retention" -> BaseOracleSql("x_retention"),
    "x_sql_dedup_apply" -> BaseOracleSql("x_dedup_apply"),
    "x_sql_hard_negatives" -> BaseOracleSql("x_hard_negatives"),

    // the catalog is self-validating: expected metadata VALUES are
    // generated from the SAME recipe builders the stores stamp and
    // the known deterministic lifecycle (edges: build v1 + labels v2 +
    // L1 labels v3, with the GC grace window retaining 2 committed
    // versions; the rest: single build v1); env-sized file/byte
    // counts appear only as must-be-TRUE booleans
    "x_sql_stores" ->
      s"""SELECT * FROM (VALUES
         |  ('agg', 1::bigint, 1::bigint, 0::bigint,
         |   '${graft.sources.AggStore.recipe("mv-full")}',
         |   1::bigint, NULL::boolean, true, true),
         |  ('edges', 3::bigint, 2::bigint, 0::bigint,
         |   '${graft.sources.EdgeStore.recipe(CosineThreshold,
              NearDupBands, NearDupRows, EmbeddingDim)}',
         |   4::bigint, true, true, true),
         |  ('fingerprints', 1::bigint, 1::bigint, 0::bigint,
         |   '${graft.sources.FingerprintStore.recipe(3, 8, 4,
              Dedup.DefaultMaxShingleDf, "doc_id", "text")}',
         |   2::bigint, NULL::boolean, true, true),
         |  ('vectors', 1::bigint, 1::bigint, 0::bigint,
         |   '${graft.sources.VectorIndexStore.recipe(IvfCentroidMod,
              PqCentroidMod, PqSubspaces, EmbeddingDim, "vec_id",
              "embedding", 1)}',
         |   4::bigint, NULL::boolean, true, true)
         |) AS t(family, version, n_versions, n_branches, recipe,
         |       n_relations, labels_fresh, has_files, has_bytes)"""
        .stripMargin,
    // stream-maintained sketch state honors the same merge-order-free
    // error contract as the batch split-and-merge audit
    "x_stream_heavy" -> BaseOracleSql("x_freq_merge"),

    // base ∪ streamed tail serves the identical rectangle: the
    // all-at-once layout's oracle verbatim
    "x_stream_hilbert" -> BaseOracleSql("x_hilbert_scan"))

  /** The autocorrelation oracle, generated per lag from [[AcfMaxLag]]
    * with the same n-scaled decimal sufficient statistics and single
    * closing division the Spark side computes. */
  private lazy val AcfOracleSql: String = {
    val leads = (1 to AcfMaxLag)
      .map(k => s"lead(cents, $k) OVER (ORDER BY day) AS l$k")
      .mkString(", ")
    val perLag = (1 to AcfMaxLag).map { k =>
      s"""SELECT $k::int AS lag, count(*)::bigint AS n_pairs,
         |  sum(dx * CAST(n * l$k - s AS decimal(19,0))) AS num
         |FROM base WHERE l$k IS NOT NULL""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH daily AS (
       |  SELECT ts::date AS day,
       |    sum(CAST(CAST(value AS decimal(18,2)) * 100 AS bigint))
       |      ::bigint AS cents
       |  FROM events GROUP BY 1),
       |t AS (SELECT sum(cents)::bigint AS s, count(*)::bigint AS n
       |  FROM daily),
       |l AS (SELECT day, cents, $leads FROM daily),
       |base AS (
       |  SELECT l.*, t.s, t.n,
       |    CAST(n * cents - s AS decimal(19,0)) AS dx
       |  FROM l CROSS JOIN t),
       |den AS (SELECT sum(dx * dx) AS den, max(n)::bigint AS n_days
       |  FROM base),
       |sums AS (
       |$perLag)
       |SELECT sums.lag, sums.n_pairs, den.n_days,
       |  CAST(num AS double) / nullif(CAST(den.den AS double), 0.0)
       |    AS acf
       |FROM sums CROSS JOIN den""".stripMargin
  }

  /** The correlation-matrix oracle, generated from [[CorrCols]] with
    * the exact decimal sufficient statistics and the same double
    * closed form the Spark side computes. */
  private lazy val CorrOracleSql: String = {
    val cols = CorrCols
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs =
      cols.map(c => s"cast(sum(cast($c AS decimal(18,2))) AS double)" +
        s" AS s_$c") ++
      cols.map(c => s"cast(sum(cast($c * $c AS decimal(28,4)))" +
        s" AS double) AS ss_$c") ++
      pairs.map { case (a, b) =>
        s"cast(sum(cast($a * $b AS decimal(28,4))) AS double)" +
          s" AS sp_${a}_$b" } :+
      "cast(count(*) AS double) AS n"
    val selects = pairs.map { case (a, b) =>
      s"SELECT '$a~$b' AS col_pair, " +
        s"round((n * sp_${a}_$b - s_$a * s_$b) / " +
        s"(sqrt(n * ss_$a - s_$a * s_$a) * " +
        s"sqrt(n * ss_$b - s_$b * s_$b)), 6) AS corr_val FROM s"
    }
    s"WITH s AS (SELECT ${aggs.mkString(", ")} FROM lineitem) " +
      selects.mkString(" UNION ALL ")
  }

  /** SCD2 compaction CTEs (shared by the history oracle and the PIT
    * join oracle): change rows by (ts, event_id) order, half-open
    * validity chain via LEAD. */
  private lazy val Scd2Ctes: String =
    """ordered AS (
      |  SELECT user_id, ts, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev_type
      |  FROM events),
      |changes AS (
      |  SELECT user_id, event_type, ts AS valid_from FROM ordered
      |  WHERE prev_type IS NULL OR prev_type <> event_type),
      |scd2 AS (
      |  SELECT user_id, event_type, valid_from,
      |    lead(valid_from) OVER (PARTITION BY user_id
      |      ORDER BY valid_from) AS valid_to
      |  FROM changes)""".stripMargin

  /** The profiler oracle, generated from [[ProfileCols]] with the
    * same per-type render rules the Spark profiler applies (double →
    * decimal(18,2) text, timestamp → explicit 6-digit-fraction
    * format, min/max over the NATIVE value then rendered). */
  private lazy val ProfileOracleSql: String = {
    def mm(f: String, c: String): String = c match {
      case "o_totalprice" => s"$f($c)::decimal(18,2)::varchar"
      case "o_orderdate" => s"strftime($f($c), '%Y-%m-%d %H:%M:%S.%f')"
      case _ => s"$f($c)::varchar"
    }
    val aggs = ProfileCols.zipWithIndex.map { case (c, i) =>
      s"sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::bigint AS n$i, " +
        s"count(DISTINCT $c)::bigint AS d$i, " +
        s"${mm("min", c)} AS mn$i, ${mm("max", c)} AS mx$i"
    }
    val selects = ProfileCols.zipWithIndex.map { case (c, i) =>
      s"SELECT '$c' AS column_name, n_rows, n$i AS n_nulls, " +
        s"d$i AS n_distinct, mn$i AS min_str, mx$i AS max_str FROM s"
    }
    s"WITH s AS (SELECT count(*)::bigint AS n_rows, " +
      s"${aggs.mkString(", ")} FROM orders) " +
      selects.mkString(" UNION ALL ")
  }

  /** Shared by the pivot oracle and the unpivot oracle's CTE. */
  private lazy val PivotDailySql: String =
    """SELECT cast(ts AS date) AS day,
      |  count(*) FILTER (WHERE event_type = 'click') AS click,
      |  count(*) FILTER (WHERE event_type = 'error') AS error,
      |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  count(*) FILTER (WHERE event_type = 'view') AS view
      |FROM events GROUP BY 1""".stripMargin
}
