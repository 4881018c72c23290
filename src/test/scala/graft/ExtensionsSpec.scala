package graft

import org.apache.spark.sql.functions._

/** SparkSessionExtensions wiring: the VectorFusion optimizer rule and the
  * SQL-registered vector functions, on the shared session that
  * [[graft.Session]] builds with `GraftExtensions`. */
class ExtensionsSpec extends SparkSpec {

  private def hofDot = aggregate(
    zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0),
    (acc, v) => acc + v)

  /** range-backed (not a LocalRelation, so the projection is not folded
    * away before the optimizer rule can be observed); row id 1 is ragged. */
  private def vecs =
    spark.range(3).select(
      when(col("id") === 1, array(lit(1.0), lit(2.0)))
        .otherwise(array(lit(1.0), lit(2.0), lit(3.0))).as("a"),
      array(lit(4.0), lit(5.0), lit(6.0)).as("b"))

  test("graft_dot and graft_zip_dot are SQL-callable") {
    val r = spark.sql(
      """SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       graft_zip_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS z,
        |       graft_zip_dot(array(1.0D), array(3.0D, 4.0D)) AS ragged
        |""".stripMargin).collect().head
    assert(r.getDouble(0) === 11.0)
    assert(r.getDouble(1) === 11.0)
    assert(r.isNullAt(2))
  }

  test("graft_shingles and graft_deflate_ratio are SQL-callable") {
    val r = spark.sql(
      """SELECT graft_shingles('a b c d', 3) AS sh,
        |       graft_deflate_ratio('') AS empty,
        |       graft_deflate_ratio(repeat('ab ', 400)) AS rep
        |""".stripMargin).collect().head
    assert(r.getSeq[String](0) === Seq("a b c", "b c d"))
    assert(r.getDouble(1) === 1.0)
    assert(r.getDouble(2) < 0.05)
  }

  test("graft_bpe_merge is SQL-callable and validates arity") {
    val r = spark.sql(
      """SELECT graft_bpe_merge(array('a', 'b', 'a', 'b'), 'a', 'b') AS m
        |""".stripMargin).collect().head
    assert(r.getSeq[String](0) === Seq("ab", "ab"))
    val e = intercept[Exception](
      spark.sql("SELECT graft_bpe_merge(array('a'), 'a')").collect())
    assert(e.getMessage.contains("graft_bpe_merge"))
  }

  test("VectorFusion rewrites the HOF dot pattern into ZipDot") {
    val df = vecs.select(hofDot.as("d"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("zipdot") ||
      optimized.toLowerCase.contains("zipdot"))
    assert(!optimized.contains("aggregate(zip_with"))
  }

  test("fusion preserves HOF semantics, including ragged-array NULL") {
    val fused = vecs.select(hofDot.as("d"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    // hand-computed HOF semantics: ragged row 1 → NULL, others 32.0
    assert(fused.toSeq === Seq(Some(32.0), None, Some(32.0)))
  }

  test("Session is the only SparkSession factory, with the Bench confs") {
    // split so this file does not match its own scan
    val needle = "SparkSession" + ".builder"
    val roots = Seq("src/main", "src/test").map(java.nio.file.Paths.get(_))
    assert(roots.forall(java.nio.file.Files.isDirectory(_)))
    import scala.jdk.CollectionConverters._
    val builders = roots.flatMap(r =>
        java.nio.file.Files.walk(r).iterator().asScala.toSeq)
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Session.scala" &&
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .contains(needle))
    assert(builders.isEmpty, s"$needle outside Session.scala: $builders")
    assert(spark.sparkContext.getConf
      .get("spark.sql.codegen.cache.maxEntries") === "10000")
    assert(spark.conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") === "true")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
  }

  test("one store-commit protocol: gate, wipe, publish, listing") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root))
    val sources = java.nio.file.Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString ->
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    // needle -> the only files that may spell it
    val rules = Seq(
      "_built" -> Set("StoreFiles.scala"),
      "wipeRootKeepLock(" -> Set("SnapshotDir.scala"),
      "SnapshotDir.next(" -> Set("SnapshotDir.scala", "ManifestDir.scala"),
      "SnapshotDir.commit(" -> Set("SnapshotDir.scala", "ManifestDir.scala"),
      ".filter(_._2).map(_._1)" -> Set("SnapshotDir.scala"))
    val offenders = rules.flatMap { case (needle, allowed) =>
      val hits = sources.collect {
        case (f, src) if !allowed(f) && src.contains(needle) => f }
      if (hits.isEmpty) None
      else Some(s"$needle in ${hits.sorted.mkString(", ")}")
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
    // inside SnapshotDir the wipe has its definition and ONE caller,
    // the versioned gate
    val snap = sources.collectFirst {
      case ("SnapshotDir.scala", src) => src }.get
    assert("wipeRootKeepLock\\(".r.findAllMatchIn(snap).size === 2)
  }

  private val d = "/root/testdata/sf0.001"

  test("table functions: the SQL path equals the Scala path row-for-row") {
    val s = SparkSpec.spark
    // funnel: every output row identical (timestamps included)
    val sqlFunnel = s.sql(s"SELECT * FROM graft_funnel('$d', '7 days', " +
      "'view', 'click', 'purchase')").collect().toSet
    val scalaFunnel = graft.operators.Temporal.funnel(
        Tables.events(s, d), Seq("view", "click", "purchase"), "7 days")
      .collect().toSet
    assert(sqlFunnel === scalaFunnel && sqlFunnel.nonEmpty)
    // retention cohorts
    val sqlRet = s.sql(s"SELECT * FROM graft_retention('$d')")
      .collect().toSet
    val scalaRet = graft.operators.Temporal.retentionCohorts(
      Tables.events(s, d)).collect().toSet
    assert(sqlRet === scalaRet && sqlRet.nonEmpty)
    // dedup apply (keeper ids)
    val sqlDedup = s.sql(s"SELECT * FROM graft_dedup_apply('$d')")
      .collect().map(_.getLong(0)).toSet
    val scalaDedup = graft.operators.Dedup.dedupedCorpus(
        Tables.documents(s, d))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(sqlDedup === scalaDedup && sqlDedup.nonEmpty)
  }

  test("table functions compose with ordinary SQL around them") {
    val s = SparkSpec.spark
    // the FROM-clause plan is a regular logical subtree: filters and
    // aggregates over it resolve, optimize, and push down like any view
    val depth3 = s.sql(s"SELECT count(*) AS n FROM graft_funnel('$d', " +
      "'7 days', 'view', 'click', 'purchase') WHERE depth = 3")
      .collect().head.getLong(0)
    val expected = graft.operators.Temporal.funnel(
        Tables.events(s, d), Seq("view", "click", "purchase"), "7 days")
      .filter(col("depth") === 3).count()
    assert(depth3 === expected)
  }

  test("table functions validate their arguments readably") {
    val s = SparkSpec.spark
    val tooFew = intercept[Exception](
      s.sql(s"SELECT * FROM graft_funnel('$d')").collect())
    assert(tooFew.getMessage.contains("graft_funnel"))
    val notLit = intercept[Exception](
      s.sql("SELECT * FROM graft_retention(rand())").collect())
    assert(notLit.getMessage.contains("graft_retention") ||
      notLit.getMessage.toLowerCase.contains("literal"))
  }

  test("mv views registry: two registered views each route to their " +
      "own store") {
    import graft.plans.AggStoreRewrite
    val spark = SparkSpec.spark
    import spark.implicits._
    def mkFacts(dir: String, typ: String) = {
      Seq(
        (1L, java.sql.Timestamp.valueOf("2024-02-01 08:00:00"), typ, 1.0),
        (2L, java.sql.Timestamp.valueOf("2024-02-02 09:00:00"), typ, 2.0))
        .toDF("event_id", "ts", "event_type", "value")
        .write.parquet(s"$dir/events.parquet")
      spark.read.parquet(s"$dir/events.parquet")
    }
    val dirA = java.nio.file.Files
      .createTempDirectory("graft-mvva").toString
    val dirB = java.nio.file.Files
      .createTempDirectory("graft-mvvb").toString
    val factsA = mkFacts(dirA, "alpha")
    val factsB = mkFacts(dirB, "beta")
    graft.sources.AggStore.ensureState(factsA, s"$dirA/store", "va")
    graft.sources.AggStore.ensureState(factsB, s"$dirB/store", "vb")
    def view(f: org.apache.spark.sql.DataFrame) = f
      .groupBy(to_date($"ts").as("day"), $"event_type")
      .agg(count(lit(1)).as("cnt"),
        sum($"value".cast("decimal(18,2)")).as("total"))
    spark.conf.set(AggStoreRewrite.ViewsKey,
      s"$dirA/events.parquet=$dirA/store;" +
        s"$dirB/events.parquet=$dirB/store")
    try {
      val pa = view(factsA).queryExecution.executedPlan.toString
      val pb = view(factsB).queryExecution.executedPlan.toString
      assert(pa.contains(s"$dirA/store") &&
        !pa.contains("events.parquet"), s"view A misrouted:\n$pa")
      assert(pb.contains(s"$dirB/store") &&
        !pb.contains("events.parquet"), s"view B misrouted:\n$pb")
      // routed rows equal the direct computation per view
      spark.conf.unset(AggStoreRewrite.ViewsKey)
      val directA = view(factsA).collect().map(_.toString).sorted.toSeq
      spark.conf.set(AggStoreRewrite.ViewsKey,
        s"$dirA/events.parquet=$dirA/store;" +
          s"$dirB/events.parquet=$dirB/store")
      assert(view(factsA).collect().map(_.toString).sorted.toSeq
        === directA)
      // a malformed entry fails loudly at rule time, not silently
      spark.conf.set(AggStoreRewrite.ViewsKey, "nonsense-entry")
      assertThrows[Exception](view(factsA).queryExecution.executedPlan)
    } finally spark.conf.unset(AggStoreRewrite.ViewsKey)
  }

  test("graft_stores lists committed versions, recipes, and manifest " +
      "freshness; validates pair arity; missing roots read as empty") {
    val s = SparkSpec.spark
    import s.implicits._
    // a real manifest store with the known two-commit lifecycle
    val edges = java.nio.file.Files
      .createTempDirectory("graft-cat-edges").toString
    graft.sources.EdgeStore.writePairs(
      Seq((1L, 2L, 0.99)).toDF("id_a", "id_b", "cos"),
      Seq((1L, 0, "x"), (2L, 0, "x")).toDF("id", "band", "bkey"), edges)
    graft.sources.ClusterStore.ensureLabels(s, edges)
    val rows = s.sql(
      s"""SELECT * FROM graft_stores('edges', '$edges',
         |  'ghost', '$edges-nonexistent')""".stripMargin)
      .collect().map(r => r.getAs[String]("family") -> r).toMap
    val e = rows("edges")
    assert(e.getAs[Long]("version") === 2L) // build v1, labels v2
    assert(e.getAs[Long]("n_versions") === 2L)
    assert(e.getAs[Long]("n_relations") === 3L)
    assert(e.getAs[Boolean]("labels_fresh") === true)
    assert(e.getAs[Long]("n_files") > 0L && e.getAs[Long]("bytes") > 0L)
    assert(e.isNullAt(e.fieldIndex("recipe"))) // writePairs stamps none
    val g = rows("ghost")
    assert(g.isNullAt(g.fieldIndex("version")))
    assert(g.getAs[Long]("n_versions") === 0L)
    assert(g.getAs[Long]("n_files") === 0L)
    // a stale label signature must read as labels_fresh = false
    val m = graft.sources.ManifestDir.current(s, edges, "edges-").get
    val seg = graft.sources.ManifestDir.segDir(
      graft.sources.ManifestDir.newSegmentId(), "pairs")
    Seq((3L, 4L, 0.98)).toDF("id_a", "id_b", "cos")
      .write.parquet(s"$edges/$seg")
    graft.sources.ManifestDir.commit(s, edges, "edges-",
      m.withSegment("pairs", seg))
    val stale = s.sql(s"SELECT * FROM graft_stores('edges', '$edges')")
      .collect().head
    assert(stale.getAs[Boolean]("labels_fresh") === false)
    assert(stale.getAs[Long]("n_branches") === 0L)
    // a branch is a second lineage: counted in n_branches, and its
    // commit numbering must NOT masquerade as main's current version
    graft.sources.EdgeStore.createBranch(s, edges, "exp")
    val br = s.sql(s"SELECT * FROM graft_stores('edges', '$edges')")
      .collect().head
    assert(br.getAs[Long]("n_branches") === 1L)
    assert(br.getAs[Long]("version") === 3L) // main's, not the branch's 1
    assert(br.getAs[Long]("n_versions") === 3L)
    // odd argument count fails readably
    val odd = intercept[Exception](
      s.sql(s"SELECT * FROM graft_stores('edges')").collect())
    assert(odd.getMessage.contains("graft_stores"))
  }

  test("graft_stores serves manifest-store file stats from commit-time " +
      "records, never a recursive walk") {
    val s = SparkSpec.spark
    import s.implicits._
    val edges = java.nio.file.Files
      .createTempDirectory("graft-cat-stats").toString
    graft.sources.EdgeStore.writePairs(
      Seq((1L, 2L, 0.99)).toDF("id_a", "id_b", "cos"),
      Seq((1L, 0, "x"), (2L, 0, "x")).toDF("id", "band", "bkey"), edges)
    def stats(): (Long, Long) = {
      val r = graft.sources.StoreCatalog.describe(s,
        Seq("edges" -> edges)).collect().head
      (r.getAs[Long]("n_files"), r.getAs[Long]("bytes"))
    }
    val (f0, b0) = stats()
    assert(f0 > 0L && b0 > 0L)
    // plant ALIEN files under the root (outside any segment): a
    // recursive walk would count them; the recorded stats must not —
    // they describe exactly the current version's referenced data
    java.nio.file.Files.write(
      java.nio.file.Paths.get(edges, "junk.bin"),
      Array.fill[Byte](4096)(1))
    val junkDir = java.nio.file.Paths.get(edges, "seg", "orphan-uid",
      "pairs")
    java.nio.file.Files.createDirectories(junkDir)
    java.nio.file.Files.write(junkDir.resolve("part-junk.parquet"),
      Array.fill[Byte](8192)(2))
    assert(stats() === ((f0, b0)),
      "manifest-store stats must come from commit-time records, " +
        "not a walk that counts debris")
    // a NON-manifest family keeps the walk: the alien file counts
    // (the SCD2 store is the remaining SnapshotDir-layout exemplar now
    // that the rollup/LM/tokenizer families are manifest stores)
    val scd = java.nio.file.Files
      .createTempDirectory("graft-cat-stats-scd").toString
    graft.sources.Scd2Store.writeState(
      Tables.events(s, "/root/testdata/sf0.001"), scd)
    def scdStats(): (Long, Long) = {
      val r = graft.sources.StoreCatalog.describe(s,
        Seq("scd2" -> scd)).collect().head
      (r.getAs[Long]("n_files"), r.getAs[Long]("bytes"))
    }
    val (tf0, tb0) = scdStats()
    java.nio.file.Files.write(java.nio.file.Paths.get(scd, "junk.bin"),
      Array.fill[Byte](2048)(3))
    val (tf1, tb1) = scdStats()
    assert(tf1 === tf0 + 1 && tb1 === tb0 + 2048,
      "non-manifest stores still walk (no records exist to serve)")
  }

  test("mv rewrite: routed to the store, blocked by filters, identical rows") {
    import graft.plans.AggStoreRewrite
    val spark = SparkSpec.spark
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-mv").toString
    Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 08:00:00"), "view", 1.5),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 09:00:00"), "view", 2.5),
      (3L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), "click", 3.0))
      .toDF("event_id", "ts", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    def facts = spark.read.parquet(s"$dir/events.parquet")
    graft.sources.AggStore.ensureState(facts, s"$dir/store",
      baseTag = "mv-spec")
    def view = facts
      .groupBy(to_date($"ts").as("day"), $"event_type")
      .agg(count(lit(1)).as("cnt"),
        sum($"value".cast("decimal(18,2)")).as("total"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.get(0).toString, r.getString(1), r.getLong(2),
        r.getDecimal(3).toPlainString)).toSet
    val direct = rows(view) // confs unset: the plain plan
    spark.conf.set(AggStoreRewrite.PathKey, s"$dir/store")
    spark.conf.set(AggStoreRewrite.SourceKey, s"$dir/events.parquet")
    try {
      val routed = view
      val plan = routed.queryExecution.executedPlan.toString
      // the rewritten plan reads the committed partials, never facts
      assert(plan.contains("/seg/"), s"not routed to the store:\n$plan")
      assert(!plan.contains("events.parquet"),
        s"fact scan survived the rewrite:\n$plan")
      assert(rows(routed) === direct && direct.size === 2)
      // a GROUP-KEY filter compensates: the predicate lands on the
      // partials (constant per group, so filtering partials IS
      // filtering facts) and the fact scan is still gone — with the
      // rows equal to the direct filtered computation
      val filtered = facts.filter($"event_type" === "view")
        .groupBy(to_date($"ts").as("day"), $"event_type")
        .agg(count(lit(1)).as("cnt"),
          sum($"value".cast("decimal(18,2)")).as("total"))
      val fPlan = filtered.queryExecution.executedPlan.toString
      assert(fPlan.contains("/seg/") && !fPlan.contains("events.parquet"),
        s"key-filtered rollup must route with compensation:\n$fPlan")
      assert(rows(filtered) ===
        direct.filter(_._2 == "view") && rows(filtered).size === 1)
      // a NON-KEY filter (value bound — not derivable from partials)
      // still blocks: a value-filtered rollup is NOT the maintained view
      val nonKey = facts.filter($"value" > 2.0)
        .groupBy(to_date($"ts").as("day"), $"event_type")
        .agg(count(lit(1)).as("cnt"),
          sum($"value".cast("decimal(18,2)")).as("total"))
      assert(nonKey.queryExecution.executedPlan.toString
        .contains("events.parquet"))
      // a different aggregate shape falls through untouched
      val other = facts.groupBy($"event_type")
        .agg(count(lit(1)).as("n"))
      assert(other.queryExecution.executedPlan.toString
        .contains("events.parquet"))
    } finally {
      spark.conf.unset(AggStoreRewrite.PathKey)
      spark.conf.unset(AggStoreRewrite.SourceKey)
    }
  }
}
