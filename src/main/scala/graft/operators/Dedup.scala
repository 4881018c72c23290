package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, and SimHash near-dup detection.
  *
  * Scale design: everything is expressed as explode → shuffle-on-key →
  * aggregate. Candidate generation never builds the O(n²) cross product —
  * pairs only materialize for documents sharing a shingle (Jaccard), an LSH
  * band (MinHash), or a SimHash band bucket, which is the standard
  * inverted-index bound. No driver-side state anywhere. Small intermediate
  * frames that feed several branches of one job (signatures, the exploded
  * shingle index) are cached — the LSH plan reads them from both sides of
  * its self-join, and recomputing the hash aggregation per branch is the
  * difference between seconds and minutes (at any scale, this is where
  * you'd checkpoint instead).
  */
object Dedup {

  /** Exact dedup by content fingerprint: one keeper (min id) per group. */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), TextAnalysis.fingerprint(col(textCol))
        .as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_docs"))

  /** Apply exact dedup: the corpus with only each group's keeper row —
    * what a pipeline actually feeds downstream. A broadcast-friendly
    * semi-join of the corpus against the keeper ids. */
  def dedupedCorpus(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.join(
      exactGroups(docs, idCol, textCol).select(col("keeper_id").as(idCol)),
      Seq(idCol), "left_semi")

  /** Shingles appearing in more than this many documents are dropped from
    * the shingle vocabulary before ANY similarity work: a shingle shared
    * by f docs contributes f² inverted-index join rows, so one boilerplate
    * trigram ("terms and conditions" class) makes pair generation
    * quadratic at corpus scale while carrying zero dedup signal. The cap
    * applies uniformly — sizes, intersections, and MinHash signatures all
    * see the same capped sets — so Jaccard stays a true Jaccard (of the
    * informative vocabulary) and the exact and LSH paths remain mutually
    * consistent. Below the cap (all test scale factors) results are
    * bit-identical to the uncapped computation. */
  val DefaultMaxShingleDf = 1000

  /** Df-capped posting lists: one row per surviving shingle with the
    * sorted id list of the documents containing it. The single shared
    * base of the Jaccard/MinHash family — ONE shuffle (groupBy shingle)
    * builds it, the df cap is a plain filter on the list length (no
    * hot-set aggregate, no broadcast anti-join, no second pass over the
    * exploded index), and it is the natural input to both pair expansion
    * (exact path) and the re-exploded per-doc view (signatures, arrays).
    * Cached: every consumer self-serves from the 1-row-per-shingle form,
    * which is the smallest representation of the capped vocabulary. */
  private[graft] def cappedPostings(docs: DataFrame, idCol: String,
      textCol: String, n: Int, maxDf: Int): DataFrame =
    CacheRegistry.tracked(
      fanOut(docs)
        .select(col(idCol).as("id"),
          explode(TextAnalysis.shingles(col(textCol), n)).as("sh"))
        .groupBy(col("sh"))
        .agg(sort_array(collect_list(col("id"))).as("ids"))
        .filter(size(col("ids")) <= maxDf))

  /** The (id, sh) inverted-index view of [[cappedPostings]]. */
  private[graft] def indexOf(postings: DataFrame): DataFrame =
    postings.select(explode(col("ids")).as("id"), col("sh"))

  /** Per-doc capped shingle ARRAYS (id, shs) — the exact-verify side of
    * the LSH family, also what the fingerprint store persists. */
  private[graft] def shingleArrays(postings: DataFrame): DataFrame =
    indexOf(postings).groupBy(col("id"))
      .agg(collect_list(col("sh")).as("shs"))

  /** Per-doc capped shingle counts, derived from the posting lists. */
  private def sizesOf(postings: DataFrame): DataFrame =
    indexOf(postings).groupBy(col("id")).agg(count(lit(1)).as("nsh"))

  /** Jaccard from per-shingle pair expansion: each posting list emits its
    * C(n,2) ordered id pairs through the codegen'd
    * [[graft.plans.PairCombos]] kernel, pair counts aggregate directly —
    * intersection counts come from ONE aggregation, where the classic
    * inverted-index self-join pays a sort-merge join plus a wider
    * shuffle for identical output. The df cap bounds a single list's
    * expansion at C(maxDf,2); sizes broadcast in after the aggregate. */
  private def jaccardByPairExpansion(postings: DataFrame, threshold: Double)
      : DataFrame = {
    val sizes = sizesOf(postings)
    postings
      .filter(size(col("ids")) >= 2)
      .select(explode(
        graft.plans.TextExpressions.pairCombos(col("ids"))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
      // sizes is one row per doc — broadcastable at test scale (AQE does
      // it on its own) but not at 10⁹ docs, so no broadcast hint here
      .join(sizes.select(col("id").as("id_a"), col("nsh").as("size_a")),
        "id_a")
      .join(sizes.select(col("id").as("id_b"), col("nsh").as("size_b")),
        "id_b")
      .withColumn("jaccard", col("inter").cast("double") /
        (col("size_a") + col("size_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("size_a"),
        col("size_b"), col("jaccard"))
  }

  /** Exact Jaccard verification of a SPARSE candidate-pair set against
    * per-doc shingle arrays: two equi-joins and a per-row
    * `array_intersect` — linear in the candidate count, and the inverted
    * index is never re-joined. The right shape when candidates are few
    * (the LSH path). The two sides may come from DIFFERENT array frames
    * (the incremental path verifies a batch against a persisted corpus
    * store); the self-join form passes one frame twice. */
  private[graft] def verifyJaccard(cands: DataFrame, arraysA: DataFrame,
      arraysB: DataFrame, threshold: Double): DataFrame =
    cands
      .join(arraysA.select(col("id").as("id_a"), col("shs").as("shs_a")),
        "id_a")
      .join(arraysB.select(col("id").as("id_b"), col("shs").as("shs_b")),
        "id_b")
      .withColumn("inter", size(array_intersect(col("shs_a"), col("shs_b")))
        .cast("long"))
      .withColumn("size_a", size(col("shs_a")).cast("long"))
      .withColumn("size_b", size(col("shs_b")).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("size_a") + col("size_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("size_a"),
        col("size_b"), col("jaccard"))

  /** Pairwise n-gram Jaccard over documents sharing at least one
    * non-ubiquitous shingle. Returns (id_a, id_b, inter, size_a, size_b,
    * jaccard) for jaccard ≥ threshold, id_a < id_b. */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 3,
      maxShingleDf: Int = DefaultMaxShingleDf): DataFrame =
    jaccardByPairExpansion(
      cappedPostings(docs, idCol, textCol, n, maxShingleDf), threshold)

  /** One-sided CONTAINMENT pairs: |A∩B| / min(|A|,|B|) — the
    * doc-in-doc signal symmetric Jaccard misses (a 100-shingle snippet
    * fully embedded in a 10,000-shingle page scores jaccard ≈ 0.01 but
    * containment 1.0): quote farms, boilerplate wrappers, benchmark
    * text pasted into a crawl page. Same candidate shape as
    * [[ngramJaccardPairs]] — pairs expand only from shared
    * non-ubiquitous shingles, never all-pairs — with the score divided
    * by the SMALLER side; `contained_id` names that side (ties →
    * id_a, the canonical lower id). One closing IEEE division of exact
    * bigints per surviving pair. */
  def containmentPairs(docs: DataFrame, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 3,
      maxShingleDf: Int = DefaultMaxShingleDf): DataFrame = {
    val postings = cappedPostings(docs, idCol, textCol, n, maxShingleDf)
    val sizes = sizesOf(postings)
    postings
      .filter(size(col("ids")) >= 2)
      .select(explode(
        graft.plans.TextExpressions.pairCombos(col("ids"))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("id_a"), col("nsh").as("size_a")),
        "id_a")
      .join(sizes.select(col("id").as("id_b"), col("nsh").as("size_b")),
        "id_b")
      .withColumn("containment", col("inter").cast("double") /
        least(col("size_a"), col("size_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("size_a"),
        col("size_b"), col("containment"),
        when(col("size_a") <= col("size_b"), col("id_a"))
          .otherwise(col("id_b")).as("contained_id"))
  }

  /** SemDeDup-style cluster-representative selection: given cluster
    * assignments `(idCol, clusterCol)` and per-doc scores
    * `(idCol, scoreCol)`, keep the HIGHEST-scoring member of each
    * cluster (ties → lowest id — a total order, so the cut is
    * engine-exact). Min-id keep (`x_dedup_apply`) discards arbitrary
    * members; keeping the best-quality one is what a curation pipeline
    * actually wants from semantic dedup. One shuffle on the cluster
    * key; both windows share it. Singleton clusters keep themselves.
    * Members MISSING a score row are kept in the census (left join —
    * `n_members` counts every member, never undercounts) with a null
    * score that sorts LAST, so an unscored member can only win its
    * cluster when no member is scored (then lowest id wins, still a
    * total order). */
  def keepBestPerCluster(clusters: DataFrame, scores: DataFrame,
      idCol: String = "doc_id", clusterCol: String = "cluster_id",
      scoreCol: String = "score"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCluster = Window.partitionBy(col(clusterCol))
    val rank = Window.partitionBy(col(clusterCol))
      .orderBy(col(scoreCol).desc_nulls_last, col(idCol))
    clusters.join(scores, Seq(idCol), "left")
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .withColumn("keep", row_number().over(rank) === 1)
      .select(col(idCol), col(clusterCol), col("n_members"),
        col(scoreCol), col("keep"))
  }

  /** Deterministic 60-bit shingle hash for seed `k`, reproducible in any
    * engine with md5 (the oracle uses the same construction). Two hashes
    * share one digest (chars 1-15 / 17-31) — md5 dominates signature cost,
    * and Catalyst's subexpression elimination evaluates the shared digest
    * once per row. */
  def seededHash(sh: Column, k: Int): Column =
    conv(substring(md5(concat(sh, lit(s"#${k / 2}"))), 1 + (k % 2) * 16, 15),
      16, 10).cast("long")

  /** MinHash signatures: `numHashes` min-hash values per document over the
    * df-capped shingle vocabulary. */
  def minhashSignatures(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, numHashes: Int = 8,
      maxShingleDf: Int = DefaultMaxShingleDf): DataFrame =
    minhashSignaturesFrom(
      cappedPostings(docs, idCol, textCol, n, maxShingleDf), numHashes)

  /** Signatures from the POSTING lists: the k seeded hashes depend only
    * on (shingle, seed), so they are computed once per DISTINCT shingle
    * (one posting row each) and then exploded to (id, hashes) for the
    * min-aggregate. md5 dominates signature cost; hashing after the
    * explode pays it once per occurrence — avg-df times the work for
    * bit-identical minima. */
  private[graft] def minhashSignaturesFrom(postings: DataFrame,
      numHashes: Int): DataFrame = {
    val hs = (0 until numHashes)
    val hashed = postings.select(
      (col("ids") +: hs.map(k => seededHash(col("sh"), k).as(s"h$k"))): _*)
    hashed
      .select((explode(col("ids")).as("id") +: hs.map(k => col(s"h$k"))): _*)
      .groupBy(col("id"))
      .agg(min(col("h0")).as("mh0"),
        hs.tail.map(k => min(col(s"h$k")).as(s"mh$k")): _*)
  }

  /** MinHash+LSH near-dup pairs: band the signature (`bands` bands of
    * `numHashes/bands` rows), bucket-join on (band, band-key), then verify
    * only the candidates with exact n-gram Jaccard ≥ threshold from the
    * per-doc shingle arrays — neither the full inverted-index self-join
    * nor an index re-join ever runs. */
  def minhashLshPairs(docs: DataFrame, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 3,
      numHashes: Int = 8, bands: Int = 4,
      maxShingleDf: Int = DefaultMaxShingleDf): DataFrame = {
    require(numHashes % bands == 0)
    val rows = numHashes / bands
    val postings = cappedPostings(docs, idCol, textCol, n, maxShingleDf)
    val arrays = CacheRegistry.tracked( // verifyJaccard joins it twice —
      shingleArrays(postings)) // uncached it would rebuild per join side
    val buckets = CacheRegistry.tracked( // self-joined: don't recompute
      bandBuckets( // the md5-heavy signature agg per side
        minhashSignaturesFrom(postings, numHashes), numHashes, bands))
    val cands = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    verifyJaccard(cands, arrays, arrays, threshold)
  }

  /** LSH band-bucket rows (id, band, key) from a signature frame: each
    * band's key is the md5 of its `numHashes/bands` signature rows. One
    * row per (doc, band) — the join-able form of the banded signature,
    * and the relation the fingerprint store persists. */
  private[graft] def bandBuckets(sigs: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0)
    val rows = numHashes / bands
    val bandKeys = (0 until bands).map { b =>
      md5(concat_ws(",",
        (0 until rows).map(r => col(s"mh${b * rows + r}")): _*))
    }
    sigs.select(col("id"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "key")))
  }

  /** Connected components over a near-dup pair list: every document gets
    * the minimum reachable doc id as its `cluster_id` (singletons keep
    * their own id). This is what turns pairwise similarity into actual
    * dedup groups — "keep one doc per cluster" is `cluster_id` itself.
    *
    * Min-label propagation WITH path-halving — each round a vertex takes
    * (1) the minimum of its own and its neighbors' labels (one edge join
    * + aggregation), then (2) its new label's OLD label (one join against
    * the previous label map — pointer jumping). Step 2 composes label
    * chains, so the label horizon grows geometrically (1, 3, 7, 15, …
    * hops) and the loop converges in O(log diameter) rounds where plain
    * propagation needs O(diameter) — at 100 TB each round is a full
    * shuffle, so log-rounds vs linear-rounds is the difference that
    * matters (the large-star/small-star contraction family; this is its
    * label-table formulation). Near-dup clusters are shallow, so the
    * common case pays 2-3 rounds.
    *
    * Convergence probe: labels only ever DECREASE, so `sum(label)` is
    * strictly monotone until the fixpoint — one cheap aggregate over the
    * cached label frame (no join), and it doubles as the action that
    * materializes the round's cache, so the probe adds no extra job.
    * Each round's labels are materialized via cache (tracked) so lineage
    * stays flat — at cluster scale you'd checkpoint every few rounds
    * instead. */
  /** Size-adaptive front end: LSH pair lists are bounded by the banding
    * (candidates per bucket, never O(n²)), so they are usually tiny
    * relative to the corpus. Below `localEdgeThreshold` edges the
    * components are solved with a driver union-find over the ids-only
    * pair list — the same size logic as a broadcast-join threshold
    * (collect ~16 bytes/pair, never data rows), replacing O(log
    * diameter) driver-coordinated rounds (each a full multi-stage job —
    * fixed job overhead dominated the bench's cluster queries ~10:1)
    * with one collect. Past the threshold the distributed log-round
    * propagation takes over unchanged — spec-pinned equal on random
    * graphs. Labels match exactly: union-by-min-root makes every root
    * the component minimum, the same label min-propagation converges
    * to. */
  def clusterAssignments(vertices: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", maxIter: Int = 25,
      localEdgeThreshold: Long = 1000000L): DataFrame = {
    val p = CacheRegistry.tracked(
      pairs.select(col("id_a"), col("id_b")))
    if (p.count() > localEdgeThreshold)
      clusterAssignmentsWithRounds(vertices, p, idCol, maxIter)._1
    else {
      val parent = new java.util.HashMap[Long, java.lang.Long]()
      def find(x: Long): Long = {
        var r = x
        while ({ val pr = parent.get(r); pr != null && pr != r })
          r = parent.get(r)
        var c = x // path compression
        while ({ val pc = parent.get(c); pc != null && pc != c }) {
          val nx: Long = parent.get(c); parent.put(c, r); c = nx
        }
        r
      }
      p.collect().foreach { row =>
        val ra = find(row.getLong(0))
        val rb = find(row.getLong(1))
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      import scala.jdk.CollectionConverters._
      val spark = vertices.sparkSession
      import spark.implicits._
      val labels = parent.keySet.asScala.toSeq
        .map(id => (id.toLong, find(id))).toDF(idCol, "root")
      // no broadcast hint: near the threshold the label table can be
      // tens of MB — AQE broadcasts while it fits, shuffles past that
      vertices.select(col(idCol))
        .join(labels, Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("root"), col(idCol)).as("cluster_id"))
    }
  }

  /** [[clusterAssignments]] plus the number of rounds that made progress
    * (the round after which labels stopped changing) — the spec hook for
    * the O(log diameter) bound. One extra no-change round always runs to
    * DETECT the fixpoint; it is not counted. */
  private[graft] def clusterAssignmentsWithRounds(vertices: DataFrame,
      pairs: DataFrame, idCol: String = "doc_id", maxIter: Int = 25)
      : (DataFrame, Int) = {
    // both edge directions from ONE pass over the pair plan: a union of
    // two selects would evaluate the (expensive, uncached) pair
    // generation once per branch
    val edges = CacheRegistry.tracked(
      pairs.select(explode(array(
          struct(col("id_a").as("src"), col("id_b").as("dst")),
          struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst")))
    // Partition width for the propagation round frames DERIVED from the
    // edge count (r14, guide §2.2): each round is a broadcast join over
    // the cached propagation-edge frame plus 1-2 keyed shuffles, and the
    // cached frame otherwise inherits the pair generator's width — a
    // small pair set then runs O(log d) rounds of 40+ near-empty tasks
    // each, all task-scheduling fixed cost (measured). ~50k edges per
    // partition keeps tasks meaningful; the width grows back to the
    // session cap with the edge count. The count materializes the edge
    // cache, which round 1 needs anyway; labels are a keyed fixpoint, so
    // the result is partition-layout independent.
    val sess = pairs.sparkSession
    val widthKey = "spark.sql.shuffle.partitions"
    val prevWidth = sess.conf.get(widthKey)
    val ccWidth = math.max(1L, math.min(prevWidth.toLong,
      edges.count() / 2 / 50000L + 1L)).toInt
    // Only edge endpoints can ever receive a foreign label — every other
    // vertex is a singleton whose cluster_id is its own id. Iterating over
    // the endpoint set alone makes each round proportional to the near-dup
    // pair count (tiny next to the corpus at any scale); the full corpus is
    // touched exactly once, by the final join-back.
    val endpoints = edges.select(col("src").as("id")).distinct()
    var labels = CacheRegistry.tracked(
      endpoints.select(col("id"), col("id").as("label")))
    // propagation edges carry one self-loop per endpoint: the join +
    // groupBy-min then yields min(own label, neighbors' labels) directly
    // — TWO shuffles per propagation instead of three (no separate
    // left-join to merge the vertex's own label back in). COALESCED to
    // the derived width: a union concatenates its inputs' partitions, so
    // without it every round's map side would carry the pair generator's
    // width regardless of the shuffle setting (coalesce merges without a
    // shuffle and never widens, so an already-narrow frame is untouched).
    val propEdges = CacheRegistry.tracked(
      edges.union(endpoints.select(col("id").as("src"),
        col("id").as("dst"))).coalesce(ccWidth))
    // one round = neighbor-min propagation, then pointer jumping through
    // the PREVIOUS label map (cached — so the composed plan reads each
    // input once; an uncached self-join of the fresh propagation would
    // recompute it per reference, measured strictly slower). Round 1
    // skips the jump: the initial map is the identity, a no-op join.
    def round(l: DataFrame, halve: Boolean): DataFrame = {
      val prop = propEdges
        .join(l.select(col("id").as("src"), col("label")), "src")
        .groupBy(col("dst")).agg(min(col("label")).as("label"))
        .select(col("dst").as("id"), col("label"))
      // path halving: label := previous-label-of(label). Every label is a
      // vertex id (labels only ever come from the label table), and the
      // old map only points downward, so this is a pure contraction.
      if (!halve) prop
      else prop.as("p")
        .join(l.select(col("id").as("jid"), col("label").as("jlabel")),
          col("p.label") === col("jid"), "left")
        .select(col("p.id").as("id"),
          coalesce(col("jlabel"), col("p.label")).as("label"))
    }
    def labelSum(l: DataFrame): java.math.BigDecimal =
      // decimal sum: overflow-proof at any vertex count, and the action
      // that materializes the round's cache
      l.agg(sum(col("label").cast("decimal(38,0)"))).collect().head
        .getDecimal(0)
    // No action before the loop: when any edge exists, round 1 always
    // makes progress, so the first sum only needs comparing from round 2
    // — one fewer driver round-trip (each is a full job at scale).
    var prevSum: Option[java.math.BigDecimal] = None
    var iter = 0
    var done = false
    // The same derived width for the rounds' shuffle exchanges (the
    // groupBy-min and the endpoint distinct), restored after the loop so
    // the corpus-sized join-back below runs at the session width.
    sess.conf.set(widthKey, ccWidth.toString)
    try while (!done && iter < maxIter) {
      // localCheckpoint, not cache: each round references the previous
      // label map TWICE (propagate + jump), so a cached-but-composed
      // lineage DOUBLES the logical plan per round — the analyzer walks
      // the full tree before the cache can match, and by round ~10 the
      // plan string alone crosses 2 GB (observed: the embedding-cluster
      // composition wedged the bench). The checkpoint truncates lineage
      // to a LogicalRDD leaf. Lazy (eager = false) so the labelSum
      // probe stays the ONE action that materializes the round; the
      // superseded rounds' persisted RDDs drop out of scope each
      // reassignment and the ContextCleaner reclaims them (Dataset
      // .unpersist cannot — they never enter the CacheManager). On a
      // cluster this is the checkpoint-every-round the Scaladoc
      // describes.
      val next = round(labels, halve = iter > 0)
        .localCheckpoint(eager = false)
      val s = labelSum(next)
      labels = next
      done = s == null || // an empty endpoint set never changes
        prevSum.exists(p => p != null && p.compareTo(s) == 0)
      prevSum = Some(s)
      iter += 1
    } finally sess.conf.set(widthKey, prevWidth)
    val assigned = vertices.select(col(idCol))
      .join(labels.select(col("id").as(idCol), col("label")), Seq(idCol),
        "left")
      .select(col(idCol),
        coalesce(col("label"), col(idCol)).as("cluster_id"))
    (assigned, math.max(0, iter - 1))
  }

  val SimhashBits = 60
  val SimhashBands = 4

  /** Smallest divisor of [[SimhashBits]] that yields at least
    * `maxHamming + 1` bands — the pigeonhole condition for exhaustive
    * banded bucketing at that threshold. 60 divides richly (4, 5, 6, 10,
    * 12, 15, 20, 30, 60), so every `maxHamming ≤ 59` has a valid banding;
    * more bands = more bucket rows, so take the fewest that suffice. */
  def bandsFor(maxHamming: Int): Int = {
    require(maxHamming >= 0 && maxHamming < SimhashBits)
    (maxHamming + 1 to SimhashBits).find(SimhashBits % _ == 0).get
  }

  /** 60-bit SimHash per document: per-word md5-derived 60-bit hashes
    * ([[seededHash]] — reproducible in any engine with md5, so the DuckDB
    * oracle can recompute signatures exactly), each bit weighted by term
    * frequency, sign of the weighted sum becomes the bit. Computed
    * per-row by the codegen'd [[graft.plans.SimhashSig]] kernel — NO
    * shuffle; [[simhashAgg]] keeps the aggregate formulation as the
    * spec-checked parity reference. */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    fanOut(docs).select(col(idCol).as("id"),
      graft.plans.TextExpressions.simhash(col(textCol), SimhashBits)
        .as("simhash"))

  /** The original aggregate SimHash: exploded (id, word) term
    * frequencies, 60 conditional sums, sign-packed — one shuffle. The
    * executable spec for [[simhash]] (parity asserted in ExtSpec). */
  private[graft] def simhashAgg(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val wordRows = fanOut(docs).select(col(idCol).as("id"),
      explode(TextAnalysis.words(col(textCol))).as("w"))
      .groupBy(col("id"), col("w")).agg(count(lit(1)).as("tf"))
      .withColumn("h", seededHash(col("w"), 0))
    val bitSums = (0 until SimhashBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, col("tf"))
        .otherwise(-col("tf"))).as(s"s$b")
    }
    val agg = wordRows.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until SimhashBits).map { b =>
      when(col(s"s$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    agg.select(col("id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs, EXHAUSTIVE at any threshold: bucket on
    * `bandsFor(maxHamming)` equal bands of the 60-bit signature — by
    * pigeonhole, a pair within hamming ≤ maxHamming must agree on at
    * least one of maxHamming+1 bands, so banding never drops a
    * qualifying pair. The default (3 → 4×15-bit bands) is the classic
    * near-dup setting; higher thresholds automatically take more,
    * narrower bands (wider buckets → more candidates to verify — the
    * standard recall/cost dial). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val bands = bandsFor(maxHamming)
    val bandBits = SimhashBits / bands
    val mask = (1L << bandBits) - 1
    val sigs = CacheRegistry.tracked(simhash(docs, idCol, textCol))
    val buckets = sigs.select(col("id"), col("simhash"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("simhash"), b * bandBits).bitwiseAND(mask)): _*))
        .as(Seq("band", "key")))
    buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Span-level dedup — the APPLY form of boilerplate removal (the
    * C4/Gopher "remove any span repeated across the corpus" pass,
    * adapted to word spans since this corpus has no line structure):
    * chop every document into non-overlapping `width`-word spans,
    * drop each span whose exact content appears in more than `maxDf`
    * DISTINCT documents, and reassemble the survivors in document
    * order. Detection-only signals ([[CorpusStats.repetitionSignals]],
    * boilerplate coverage) score documents; this one rewrites them —
    * what the pipeline actually feeds downstream.
    *
    * Returns one row per input doc: (id, clean_text, n_spans,
    * n_removed); a fully-boilerplate doc comes back with empty text
    * (the caller's length filter then drops it — same contract as C4).
    *
    * Scale shape: explode → one groupBy(span) for the document
    * frequencies (map-side combining; the hot set is tiny by
    * construction — only spans repeated across > maxDf docs), an
    * anti-join to drop hot spans (AQE broadcasts the hot side when it
    * fits), and one groupBy(doc) to reassemble. Three shuffles, all
    * keyed — never a pairwise comparison anywhere.
    *
    * ALIGNED-SPAN CONTRACT: spans are cut at fixed boundaries
    * (`offset`, then every `width` words), so a repeated phrase is
    * detected only when its occurrences share the same phase — a
    * repeat STRADDLING a boundary escapes this pass (C4's own pass has
    * the same property at sentence granularity). `offset` shifts the
    * grid: [[scrubRepeatedSpansPhased]] composes offsets 0 and w/2 to
    * double phase coverage. With `offset > 0` the first span is the
    * `offset`-word head, then the grid proceeds at `width`. Only
    * EXACT `width`-word spans are ever removed — sub-width remainders
    * (the ragged tail; the offset head) are kept unconditionally,
    * because every document contributes one, and a shared 1-2 word
    * remainder ("the", "in conclusion") is common language, not
    * boilerplate. */
  def scrubRepeatedSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", width: Int = 3,
      maxDf: Int = 4, offset: Int = 0): DataFrame = {
    require(width >= 1 && maxDf >= 1 && offset >= 0 && offset < width)
    // `ws` is BOUND to a column before anything references it: inside a
    // higher-order-function lambda a non-attribute subexpression
    // re-evaluates PER ELEMENT (no CSE), so an inline split would
    // re-split the whole text once per emitted span — measured as the
    // dominant cost of this operator at r14 profiling.
    val ws = col("ws")
    val nWords = size(ws)
    val nSegs =
      if (offset == 0) ceil(nWords / lit(width.toDouble)).cast("int")
      else lit(1) + greatest(
        ceil((nWords - offset) / lit(width.toDouble)).cast("int"), lit(0))
    def seg(i: Column): Column =
      if (offset == 0)
        array_join(slice(ws, i * width + 1, lit(width)), " ")
      else array_join(
        when(i === 0, slice(ws, lit(1), lit(offset)))
          .otherwise(
            slice(ws, i * width + (offset - width) + 1, lit(width))), " ")
    // posexplode_OUTER + seg-not-null: a plain posexplode makes the
    // optimizer infer `size(spans) > 0` and push it below the fan-out
    // exchange, re-evaluating the whole span transform twice more in
    // the single-partition pre-shuffle stage (r14 profile: a 1.7 s
    // one-task job). The outer form prunes nothing, so nothing is
    // inferred; empty docs emit one null row filtered right here —
    // identical output rows.
    val segs = CacheRegistry.tracked( // feeds the df agg AND the rebuild
      fanOut(docs)
        .select(col(idCol).as("id"),
          split(trim(col(textCol)), "\\s+").as("ws"),
          (length(trim(col(textCol))) === 0).as("empty"))
        .select(col("id"),
          when(col("empty"), array().cast("array<string>"))
            .otherwise(transform(sequence(lit(0), nSegs - 1), seg(_)))
            .as("spans"))
        .select(col("id"),
          posexplode_outer(col("spans")).as(Seq("pos", "seg")))
        .filter(col("seg").isNotNull))
    // only EXACT width-word spans are removal candidates: the ragged
    // tail (and an offset pass's head) remainders are sub-width, and a
    // 1-2 word remainder would let common short word runs vote as
    // "boilerplate" — with offset > 0 EVERY document contributes its
    // first ≤ offset words as one span, so a shared leading word
    // ("the", "in") would be scrubbed corpus-wide. C4's contract is
    // fixed-size spans; remainders are kept unconditionally.
    val hot = segs
      .filter(size(split(col("seg"), " ")) === width)
      .groupBy(col("seg"))
      .agg(countDistinct(col("id")).as("ndocs"))
      .filter(col("ndocs") > maxDf)
      .select(col("seg"))
    val kept = segs.join(hot, Seq("seg"), "left_anti")
    val rebuilt = kept.groupBy(col("id"))
      .agg(array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("seg")))),
          x => x.getField("seg")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    val totals = segs.groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"))
    docs.select(col(idCol).as("id"))
      .join(totals, Seq("id"), "left")
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        (coalesce(col("n_spans"), lit(0L)) -
          coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Two-phase span scrub closing (half of) the aligned-span gap: a
    * repeated phrase straddling the pass-1 grid escapes detection, so
    * a SECOND pass re-segments the cleaned text with the grid shifted
    * by w/2 and scrubs again — occurrences whose phase lands on either
    * grid are caught, doubling phase coverage (full coverage would
    * need all w offsets, i.e. w corpus passes — the published C4-style
    * contract accepts grid alignment instead). Phase-2 frequencies are
    * computed over the PASS-1-CLEANED corpus: a span already removed
    * cannot re-vote.
    *
    * Output per doc: final `clean_text`, pass-1 `n_spans`, and each
    * pass's removal count. Scale shape: exactly two chained
    * [[scrubRepeatedSpans]] pipelines — six keyed shuffles total,
    * linear in the corpus, never pairwise. */
  def scrubRepeatedSpansPhased(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", width: Int = 3,
      maxDf: Int = 4): DataFrame = {
    require(width >= 2, "width 1 has a single phase; use one pass")
    val p1 = CacheRegistry.tracked( // feeds pass 2 AND the final join
      scrubRepeatedSpans(docs, idCol, textCol, width, maxDf))
    val p2 = scrubRepeatedSpans(
      p1.select(col(idCol), col("clean_text")),
      idCol, "clean_text", width, maxDf, offset = width / 2)
    p1.select(col(idCol), col("n_spans"),
        col("n_removed").as("n_removed_p1"))
      .join(p2.select(col(idCol), col("clean_text"),
        col("n_removed").as("n_removed_p2")), Seq(idCol))
      .select(col(idCol), col("clean_text"), col("n_spans"),
        col("n_removed_p1"), col("n_removed_p2"))
  }

  /** EXACT duplicated-substring detection — the suffix-array family's
    * answer (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", ACL 2022) re-expressed as keyed aggregation: find
    * every maximal token span covered by a substring of at least
    * `width` tokens that occurs at `minCount`+ positions corpus-wide
    * (cross-doc or within-doc — a self-repeat is duplication too).
    * This is the exactness rung the aligned span scrubs approximate:
    * [[scrubRepeatedSpans]] detects a repeat only when its occurrences
    * share the grid phase, and even the two-phase composition misses a
    * width-w repeat landing off both grids (ExtSpec holds such a
    * fixture); here every occurrence of every width-token window is
    * keyed, so phase cannot hide a repeat.
    *
    * The decomposition is the standard one: a position is covered by
    * SOME duplicated substring of length ≥ width iff it lies inside a
    * duplicated width-gram window, so (1) every doc emits its
    * overlapping width-grams with start positions, (2) a gram
    * repeated ≥ minCount times marks its start positions, (3)
    * per-doc interval merge (gaps-and-islands over sorted starts)
    * yields the MAXIMAL spans — a repeat of any length ≥ width comes
    * out as one `[start_pos, end_pos)` island, exactly.
    *
    * Scale shape: explode → one gram-keyed aggregate → one gram-keyed
    * back-join → one doc-keyed window + aggregate. Linear in total
    * tokens, never a suffix array on the driver, never all-pairs; the
    * only super-constant per-row cost is the inherent O(width) gram
    * string build. Output: `(idCol, start_pos, end_pos, span_len,
    * n_dup_starts)` for every maximal duplicated span (token offsets,
    * end exclusive); docs with no duplicated substring emit nothing. */
  def duplicatedSubstrings(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", width: Int = 4, minCount: Int = 2,
      hashGrams: Boolean = false): DataFrame = {
    require(width >= 1 && minCount >= 2,
      s"width=$width minCount=$minCount")
    import org.apache.spark.sql.expressions.Window
    val toks = split(trim(col(textCol)), "\\s+")
    val base = fanOut(docs)
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("id"), toks.as("toks"))
    // one gram per window start; sequence() must not see a negative
    // bound (it would count DOWN), so short docs emit the empty array
    val gramArr = when(size(col("toks")) >= width,
        transform(sequence(lit(0), size(col("toks")) - width),
          i => array_join(slice(col("toks"), i + 1, lit(width)), " ")))
      .otherwise(array().cast("array<string>"))
    // `hashGrams` is the 100 TB shuffle shape: keying on the gram TEXT
    // ships width tokens per window through the exchange; the seeded
    // md5 key ships 8 bytes (still engine-replayable — the oracle
    // rebuilds the same hashes). A collision merging two distinct
    // grams needs ~2^30 distinct grams for even one expected false
    // positive at 60 bits; it would only ever OVER-flag a span, and
    // the exact-text key stays the default for the exactness contract.
    // outer + not-null instead of a plain posexplode: the inferred
    // `size(gramArr) > 0` pruning filter would re-evaluate the whole
    // gram transform twice more, pushed below the fan-out exchange
    // into the single-partition scan stage (see scrubRepeatedSpans)
    val keyed = base
      .select(col("id"), posexplode_outer(gramArr).as(Seq("pos", "gram")))
      .filter(col("gram").isNotNull)
    val grams = CacheRegistry.tracked( // feeds the df agg AND the back-join
      if (hashGrams)
        keyed.select(col("id"), col("pos"),
          seededHash(col("gram"), 0).as("gram"))
      else keyed)
    val dup = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .select(col("gram"))
    val starts = grams.join(dup, Seq("gram"))
      .select(col("id"), col("pos"))
    // gaps-and-islands: same-length intervals [pos, pos+width) merge
    // iff the next start is within (or adjacent to) the running span
    val byPos = Window.partitionBy(col("id")).orderBy(col("pos"))
    val islands = starts
      .withColumn("prev", lag(col("pos"), 1).over(byPos))
      .withColumn("brk", when(col("prev").isNull ||
        col("pos") > col("prev") + width, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(byPos
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    islands.groupBy(col("id"), col("island"))
      .agg(min(col("pos")).as("s"), max(col("pos")).as("m"),
        count(lit(1)).as("n_dup_starts"))
      .select(col("id").as(idCol),
        col("s").cast("long").as("start_pos"),
        (col("m") + width).cast("long").as("end_pos"),
        (col("m") + width - col("s")).cast("long").as("span_len"),
        col("n_dup_starts"))
  }

  /** The REWRITE form of [[duplicatedSubstrings]] — Lee et al.'s
    * actual dedup action: drop every token covered by a duplicated
    * substring of ≥ `width` tokens and reassemble the survivors in
    * order. Where [[scrubRepeatedSpans]] removes grid-aligned spans a
    * document SHARES TOO WIDELY (df > maxDf — boilerplate economics),
    * this removes exact repeats at ANY offset seen `minCount`+ times
    * anywhere (within-doc included) — the exactness contract, applied.
    *
    * Shape: the gram chain of [[duplicatedSubstrings]], then the
    * duplicated starts EXPAND to their `width` covered positions
    * (explode of a width-sized sequence — linear × width, the same
    * inherent factor as the gram build), one distinct, one anti-join
    * of the token table against the covered set, one per-doc ordered
    * reassembly. Every input doc emits a row (`n_removed` = 0 when
    * untouched; empty docs come back empty). */
  def scrubDuplicatedSubstrings(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      width: Int = 4, minCount: Int = 2): DataFrame = {
    require(width >= 1 && minCount >= 2,
      s"width=$width minCount=$minCount")
    val toks = split(trim(col(textCol)), "\\s+")
    val base = CacheRegistry.tracked(fanOut(docs)
      .select(col(idCol).as("id"),
        when(length(trim(col(textCol))) === 0,
          array().cast("array<string>")).otherwise(toks).as("toks")))
    val gramArr = when(size(col("toks")) >= width,
        transform(sequence(lit(0), size(col("toks")) - width),
          i => array_join(slice(col("toks"), i + 1, lit(width)), " ")))
      .otherwise(array().cast("array<string>"))
    val grams = CacheRegistry.tracked( // outer + not-null: see `keyed`
      // in duplicatedSubstrings — the inferred size() filter would
      // evaluate the gram transform twice per cached row
      base.select(col("id"),
          posexplode_outer(gramArr).as(Seq("pos", "gram")))
        .filter(col("gram").isNotNull))
    val dup = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .select(col("gram"))
    val covered = grams.join(dup, Seq("gram"))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + width - 1)).as("pos"))
      .distinct()
    val tokRows = base
      .select(col("id"), posexplode(col("toks")).as(Seq("pos", "tok")))
    val kept = tokRows.join(covered, Seq("id", "pos"), "left_anti")
    val rebuilt = kept.groupBy(col("id"))
      .agg(array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    base.select(col("id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"))
  }
}
