package graft

import graft.operators.Olap
import graft.sources.AggStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** OLAP surface semantics on crafted fixtures: grouping-set levels and
  * grouping_id disambiguation, pivot/unpivot round-trip with explicit
  * zero cells, SCD2 compaction invariants, LOCF gap-fill, the
  * expectations report's violation accounting, and exact incremental
  * view maintenance through the persisted AggStore. */
class OlapSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docsFx = Seq(
    ("web", "en", 10L), ("web", "en", 20L), ("web", "fr", 5L),
    ("book", "en", 7L), ("book", null, 3L))
    .toDF("source", "lang", "n_chars")

  private def ev(id: Long, t: String, user: Long, typ: String,
      v: Double): (Long, java.sql.Timestamp, Long, String, Double) =
    (id, java.sql.Timestamp.valueOf(t), user, typ, v)

  private lazy val eventsFx = Seq(
    ev(1, "2024-01-01 08:00:00", 1, "view", 1.0),
    ev(2, "2024-01-01 09:00:00", 1, "view", 2.0), // consecutive dup
    ev(3, "2024-01-02 10:00:00", 1, "click", 3.0),
    // day 3 has no events for user 1 — a gap day
    ev(4, "2024-01-04 11:00:00", 1, "view", 4.0),
    ev(5, "2024-01-01 12:00:00", 2, "purchase", 10.0),
    // same-ts tie for user 2: event_id breaks it deterministically
    ev(6, "2024-01-02 12:00:00", 2, "view", 5.0),
    ev(7, "2024-01-02 12:00:00", 2, "click", 6.0))
    .toDF("event_id", "ts", "user_id", "event_type", "value")

  test("rollup: leaf/source/total levels with disambiguating gid") {
    val r = Olap.rollupStats(docsFx).collect()
      .map(x => (x.getAs[String]("source"), x.getAs[String]("lang"),
        x.getAs[Long]("gid"), x.getAs[Long]("n_docs"),
        x.getAs[Long]("sum_chars")))
    // 4 leaves + 2 source subtotals + 1 grand total
    assert(r.length === 7)
    assert(r.count(_._3 == 0L) === 4)
    assert(r.count(_._3 == 1L) === 2)
    assert(r.filter(_._3 == 3L).map(_._5).toSeq === Seq(45L))
    // the genuine NULL lang leaf keeps gid 0 — only grouping_id
    // separates it from book's lang-rolled subtotal (both render
    // (book, NULL))
    val bookNulls = r.filter(x => x._1 == "book" && x._2 == null)
    assert(bookNulls.map(_._3).sorted.toSeq === Seq(0L, 1L))
    assert(bookNulls.find(_._3 == 0L).get._4 === 1L) // the real row
    assert(bookNulls.find(_._3 == 1L).get._4 === 2L) // the subtotal
  }

  test("cube adds the per-lang marginal over rollup's levels") {
    val gids = Olap.cubeStats(docsFx).groupBy("gid").count()
      .as[(Long, Long)].collect().toMap
    // gid 2 = source rolled up, lang kept: en, fr, NULL marginals
    assert(gids(2L) === 3L)
    assert(gids(3L) === 1L)
    assert(gids(0L) === 4L && gids(1L) === 2L)
  }

  test("pivot: declared domain, absent cells are explicit zeros") {
    val p = Olap.pivotDaily(eventsFx)
    assert(p.columns.toSeq ===
      "day" +: Olap.EventTypes)
    val d1 = p.filter($"day" === lit("2024-01-01").cast("date"))
      .collect().head
    assert(d1.getAs[Long]("view") === 2L)
    assert(d1.getAs[Long]("purchase") === 1L)
    assert(d1.getAs[Long]("error") === 0L) // absent, not null
    assert(!p.columns.exists(c => p.filter(col(c).isNull).count() > 0))
  }

  test("unpivot round-trips the pivot back to the long counts") {
    val long = Olap.unpivotDaily(eventsFx)
    val direct = eventsFx
      .groupBy(to_date($"ts").as("day"), $"event_type")
      .agg(count(lit(1)).as("cnt"))
    // every nonzero long row matches the direct aggregate...
    val nz = long.filter($"cnt" =!= 0L)
    assert(nz.join(direct, Seq("day", "event_type", "cnt")).count()
      === direct.count())
    // ...and the zero rows complete the dense day × type matrix
    assert(long.count() ===
      long.select("day").distinct().count() * Olap.EventTypes.size)
  }

  test("scd2: dup collapse, interval chain, one current row per user") {
    val h = Olap.scd2History(eventsFx).orderBy("user_id", "valid_from")
      .collect()
    val u1 = h.filter(_.getAs[Long]("user_id") == 1L)
    // view,view,click,view collapses to view→click→view
    assert(u1.map(_.getAs[String]("event_type")).toSeq ===
      Seq("view", "click", "view"))
    // half-open chain: each valid_to equals the next valid_from
    u1.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[java.sql.Timestamp]("valid_to") ===
        b.getAs[java.sql.Timestamp]("valid_from"))
    }
    assert(h.count(_.getAs[Boolean]("is_current")) === 2)
    // the same-ts tie resolves by event_id: view (6) before click (7)
    val u2 = h.filter(_.getAs[Long]("user_id") == 2L)
    assert(u2.map(_.getAs[String]("event_type")).toSeq ===
      Seq("purchase", "view", "click"))
  }

  test("gap fill: dense spine, LOCF carries, gaps flagged") {
    val g = Olap.gapFillLocf(eventsFx)
      .filter($"user_id" === 1L).orderBy("day").collect()
    assert(g.length === 4) // 01-01 .. 01-04, gap day included
    val day3 = g(2)
    assert(day3.getAs[Boolean]("is_gap"))
    assert(day3.getAs[Double]("filled_total") === 3.0) // carried
    assert(g.map(_.getAs[Boolean]("is_gap")).toSeq ===
      Seq(false, false, true, false))
    assert(g(3).getAs[Double]("filled_total") === 4.0)
  }

  test("expectations: crafted violations are counted per constraint") {
    val li = Seq(
      (1L, 1, 5.0, 0.05, "A"), // clean
      (1L, 1, 5.0, 0.05, "N"), // duplicate (orderkey, linenumber)
      (2L, 1, 45.0, 0.05, "R"), // quantity out of range
      (9L, 1, 5.0, 0.5, "X")) // orphan order + bad discount + flag
      .toDF("l_orderkey", "l_linenumber", "l_quantity", "l_discount",
        "l_returnflag")
    val orders = Seq(1L, 2L).toDF("o_orderkey")
    val rep = Olap.expectations(li, orders).collect()
      .map(r => r.getAs[String]("check_name") ->
        (r.getAs[Long]("violations"), r.getAs[Boolean]("pass"))).toMap
    assert(rep("null_l_orderkey") === ((0L, true)))
    assert(rep("l_quantity_in_1_30") === ((1L, false)))
    assert(rep("l_returnflag_in_ANR") === ((1L, false)))
    assert(rep("l_discount_in_0_011") === ((1L, false)))
    assert(rep("pk_orderkey_linenumber_unique") === ((1L, false)))
    assert(rep("fk_lineitem_orders") === ((1L, false)))
    assert(rep.size === 6)
  }

  private def normalized(df: DataFrame): Set[(String, String, Long,
      String)] =
    df.select($"day".cast("string"), $"event_type", $"cnt",
        $"total".cast("decimal(18,2)").cast("string"))
      .as[(String, String, Long, String)].collect().toSet

  test("pit join: interval pick, pre-history NULL, no duplication") {
    import graft.operators.Temporal
    val dim = Olap.scd2History(eventsFx)
    // user 1: view [08:00, 01-02 10:00) → click [.., 01-04 11:00) →
    // view [.., null). Probe at known instants:
    def probe(t: String) = Seq((99L, 1L,
      java.sql.Timestamp.valueOf(t))).toDF("event_id", "user_id", "pt")
    def at(t: String): Option[String] = Temporal.pitJoin(probe(t), dim,
        "user_id", "pt", Seq("event_id", "user_id", "pt"),
        "event_type", "attr")
      .collect().map(r => Option(r.getAs[String]("attr"))).head
    assert(at("2024-01-01 08:00:00") === Some("view")) // inclusive from
    assert(at("2024-01-02 09:59:59") === Some("view"))
    assert(at("2024-01-02 10:00:00") === Some("click")) // half-open
    assert(at("2024-12-01 00:00:00") === Some("view")) // open row
    assert(at("2024-01-01 00:00:00") === None) // before first state
    // fan-in safety: joining ALL events at their own ts yields exactly
    // one row per fact (intervals partition the timeline)
    val all = Temporal.pitJoin(
      eventsFx.select($"event_id", $"user_id", $"ts"), dim,
      "user_id", "ts", Seq("event_id", "user_id", "ts"),
      "event_type", "attr")
    assert(all.count() === eventsFx.count())
    assert(all.select("event_id").distinct().count() === eventsFx.count())
  }

  test("fuzzy canonical map: components collapse to min string") {
    import graft.operators.FuzzyJoin
    val strs = Seq("kitten", "mitten", "mutten", "sitting", "apart")
      .toDF("s")
    // kitten–mitten (1), mitten–mutten (1), kitten–mutten (2) form one
    // component; sitting (lev 3 from kitten) and apart are singletons
    val m = FuzzyJoin.canonicalMap(strs, "s", 2).collect()
      .map(r => r.getAs[String]("s") -> r.getAs[String]("canonical_s"))
      .toMap
    assert(m("kitten") === "kitten")
    assert(m("mitten") === "kitten")
    assert(m("mutten") === "kitten")
    assert(m("sitting") === "sitting")
    assert(m("apart") === "apart")
    assert(m.size === 5)
  }

  test("session paths: island split, in-session order, ranked top-k") {
    import graft.operators.Temporal
    val p = Temporal.sessionPaths(eventsFx, "4 hours", 10)
      .collect().map(r => (r.getAs[String]("path"),
        r.getAs[Long]("n_sessions"), r.getAs[Int]("rk")))
    // user1: (view,view) | (click) | (view); user2: (purchase) |
    // (view,click — same-ts tie ordered by event_id)
    val paths = p.map(_._1).toSet
    assert(paths === Set("view>view", "click", "view", "purchase",
      "view>click"))
    assert(p.forall(_._2 == 1L))
    // all-ties rank deterministically by path ascending
    assert(p.sortBy(_._3).map(_._1).toSeq ===
      Seq("click", "purchase", "view", "view>click", "view>view"))
  }

  test("seasonal-naive backtest: 7-day shift, warm-up NULL, abs err") {
    import graft.operators.Temporal
    val ev = Seq(
      ev2(1, "2024-01-01 10:00:00", 1, 5.0),
      ev2(2, "2024-01-08 10:00:00", 1, 7.0), // vs 5.0 → err 2.0
      ev2(3, "2024-01-15 10:00:00", 1, 7.0), // vs 7.0 → err 0.0
      ev2(4, "2024-01-09 10:00:00", 1, 1.0)) // no 01-02 → NULL
      .toDF("event_id", "ts", "user_id", "value")
    val b = Temporal.seasonalNaiveBacktest(ev).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString ->
        (Option(r.getAs[java.lang.Double]("forecast")),
          Option(r.getAs[java.lang.Double]("abs_err")))).toMap
    assert(b("2024-01-01") === ((None, None)))
    assert(b("2024-01-08") === ((Some(5.0), Some(2.0))))
    assert(b("2024-01-15") === ((Some(7.0), Some(0.0))))
    assert(b("2024-01-09") === ((None, None)))
  }

  test("privacy screens: k by distinct users, l by distinct sensitive, " +
      "dp noise replays the closed form") {
    import graft.operators.{Dedup, Privacy}
    // one cell, one user repeating 6 times: records say 6, USERS say 1
    // — k-anonymity must count individuals, not rows
    def ev(id: Long, user: Long, v: Double, t: String = "click") =
      (id, "2024-01-03 10:00:00", user, t, v)
    val oneUser = (1L to 6L).map(i => ev(i, 7L, 50.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val k1 = Privacy.kAnonymity(oneUser, k = 5).collect().head
    assert(k1.getAs[Long]("n_records") === 6L)
    assert(k1.getAs[Long]("n_users") === 1L)
    assert(!k1.getAs[Boolean]("k_anonymous"))
    // five distinct users in the cell pass at k = 5
    val fiveUsers = (1L to 5L).map(i => ev(i, i, 50.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(Privacy.kAnonymity(fiveUsers, k = 5)
      .collect().head.getAs[Boolean]("k_anonymous"))
    // l-diversity: many users, ONE sensitive band → not diverse;
    // bands 0/1/2 ($0/$100/$200 buckets) → diverse at l = 3
    assert(!Privacy.lDiversity(fiveUsers, l = 3)
      .collect().head.getAs[Boolean]("l_diverse"))
    val spread = Seq(ev(1, 1, 50.0), ev(2, 2, 150.0), ev(3, 3, 250.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val ld = Privacy.lDiversity(spread, l = 3).collect().head
    assert(ld.getAs[Long]("n_sensitive") === 3L)
    assert(ld.getAs[Boolean]("l_diverse"))
    // dp release: the noise is exactly the closed form recomputed with
    // the same JVM ops from the same md5 draw
    val rel = Privacy.dpNoisyCounts(fiveUsers, epsilon = 1.0)
      .collect().head
    val h = fiveUsers.sparkSession.range(1)
      .select(Dedup.seededHash(lit("click"), 0)).collect().head
      .getLong(0)
    val c = h.toDouble / 1152921504606846976.0 - 0.5
    val expect = BigDecimal(-1.0 * math.signum(c) *
      math.log(1.0 - 2.0 * math.abs(c)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rel.getAs[Long]("n_true") === 5L)
    assert(rel.getAs[Double]("noise") === expect)
  }

  test("moments: hand-computed skew/kurtosis, symmetric zero, degenerate NULLs") {
    import graft.operators.Olap
    def fx(vals: Seq[Double], key: String = "k") =
      vals.zipWithIndex.map { case (v, i) =>
        (i.toLong, "2024-01-01 10:00:00", 1L, key, v) }
        .toDF("event_id", "ts", "user_id", "event_type", "value")
    // {1,2,3} dollars: symmetric → skew 0; 3-point uniform → excess
    // kurtosis (m4/n)/(m2/n)² − 3 = 1.5 − 3 = −1.5; variance 10000¢²
    val sym = Olap.momentsProfile(fx(Seq(1.0, 2.0, 3.0)))
      .collect().head
    assert(sym.getAs[Long]("n") === 3L)
    assert(sym.getAs[Double]("mean_cents") === 200.0)
    assert(sym.getAs[Double]("variance") === 10000.0)
    assert(sym.getAs[Double]("skewness") === 0.0)
    assert(sym.getAs[Double]("kurtosis_excess") === -1.5)
    // {1,1,4}: m2 = 6e4, m3 = 6e6 → g1 = (2e6)/(2e4·√2e4) = 1/√2
    val asym = Olap.momentsProfile(fx(Seq(1.0, 1.0, 4.0)))
      .collect().head
    assert(asym.getAs[Double]("skewness") === 0.707107)
    // constant values: zero spread → NULL shape stats, variance 0
    val const = Olap.momentsProfile(fx(Seq(2.0, 2.0, 2.0)))
      .collect().head
    assert(const.getAs[Double]("variance") === 0.0)
    assert(const.isNullAt(const.fieldIndex("skewness")))
    assert(const.isNullAt(const.fieldIndex("kurtosis_excess")))
    // n = 2: variance defined, shape stats NULL
    val two = Olap.momentsProfile(fx(Seq(1.0, 3.0))).collect().head
    assert(two.getAs[Double]("variance") === 20000.0)
    assert(two.isNullAt(two.fieldIndex("skewness")))
  }

  test("forecast tournament: hand-computed errors, exact winner, " +
      "common scored days only") {
    import graft.operators.Temporal
    // weekly-periodic series: y(day i) = 100 if dow-of-i == 0 else 10
    // dollars over 28 days — snaive is PERFECT (error 0), naive pays
    // at every level change, ma7 pays the bump spread; winner snaive
    val rows = (1 to 28).map { i =>
      val v = if (i % 7 == 0) 100.0 else 10.0
      (i.toLong, f"2024-01-$i%02d 10:00:00", 1L, "k", v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val t = Temporal.forecastTournament(rows).collect().head
    // scored days: i = 8..28 (day i−1, day i−7, and the full trailing
    // week [i−7, i−1] all exist from i = 8) → 21 days
    assert(t.getAs[Long]("n_days") === 21L)
    assert(t.getAs[Long]("ae_snaive_cents") === 0L)
    // naive: |y(i) − y(i−1)| = 9000 cents at every level change —
    // i ≡ 0 (mod 7): 14,21,28 and i ≡ 1: 8,15,22 → 6 × 9000
    assert(t.getAs[Long]("ae_naive_cents") === 54000L)
    // ma7: the trailing week always holds exactly one 100-dollar day →
    // t7 = 6·1000 + 10000 = 16000; per-day |7y − 16000|: 9000 on the
    // 18 low days, 54000 on the 3 scored bump days → Σ = 324000;
    // /7 = 46285.714286 (6dp)
    assert(t.getAs[Double]("ae_ma7_cents") === 46285.714286)
    assert(t.getAs[String]("winner") === "snaive")
    // constant series: every model exact, tie breaks to 'naive'
    val const = (1 to 20).map(i => (i.toLong,
      f"2024-01-$i%02d 10:00:00", 1L, "k", 5.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val c = Temporal.forecastTournament(const).collect().head
    assert(c.getAs[Long]("ae_naive_cents") === 0L)
    assert(c.getAs[String]("winner") === "naive")
  }

  test("stl decompose: linear series zeroes seasonal+resid, gaps NULL the window") {
    import graft.operators.Temporal
    // linear daily series: trend = y on every full-window day, so the
    // detrended series and every seasonal mean are exactly zero
    val rows = (1 to 14).map(i => (i.toLong,
      f"2024-01-$i%02d 10:00:00", 1L, "k", i.toDouble))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Temporal.stlDecompose(rows).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString -> r).toMap
    assert(out.size === 14)
    (4 to 11).map(i => f"2024-01-$i%02d").foreach { d =>
      val r = out(d)
      assert(r.getAs[Double]("trend") ===
        r.getAs[Long]("y_cents").toDouble)
      assert(r.getAs[Double]("seasonal") === 0.0)
      assert(r.getAs[Double]("resid") === 0.0)
    }
    (Seq(1, 2, 3, 12, 13, 14)).map(i => f"2024-01-$i%02d").foreach { d =>
      val r = out(d)
      assert(r.isNullAt(r.fieldIndex("trend")))
      assert(r.isNullAt(r.fieldIndex("resid")))
    }
    // a calendar gap breaks every ±3 window that spans it (range
    // window over epoch days, not rows — a row window would silently
    // mis-center)
    val gap = (1 to 14).filter(_ != 8).map(i => (i.toLong,
      f"2024-01-$i%02d 10:00:00", 1L, "k", i.toDouble))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val g = Temporal.stlDecompose(gap).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString -> r).toMap
    (5 to 11).filter(_ != 8).map(i => f"2024-01-$i%02d").foreach { d =>
      assert(g(d).isNullAt(g(d).fieldIndex("trend")),
        s"$d should lose its 7-day window to the gap")
    }
    assert(g("2024-01-04").getAs[Double]("trend") === 400.0)
  }

  test("conformal snaive: rank quantile, exact bounds, short key NULLs") {
    import graft.operators.Temporal
    // key "k": value(day i) = i dollars over 2024-01-01..23 → every
    // scored day's residual is exactly 700 cents; 16 scored days,
    // n_cal = ⌊48/4⌋ = 12, q_idx = ⌈9·13/10⌉ = 12 → q = 700
    val kRows = (1 to 23).map(i => (100L + i,
      f"2024-01-$i%02d 10:00:00", 1L, "k", i.toDouble))
    // key "s": 9 days → 2 scored, n_cal = 1, q_idx = 2 > 1 → NULL q
    val sRows = (1 to 9).map(i => (200L + i,
      f"2024-01-$i%02d 10:00:00", 1L, "s", 5.0))
    val fx = (kRows ++ sRows)
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Temporal.conformalSnaive(fx).collect()
      .groupBy(_.getAs[String]("key"))
    val k = out("k").sortBy(_.getAs[java.sql.Date]("day").toString)
    assert(k.length === 4) // test days = scored 16 − cal 12
    k.foreach { r =>
      assert(r.getAs[Long]("n_cal") === 12L)
      assert(r.getAs[Long]("q_cents") === 700L)
      assert(r.getAs[Long]("lo_cents") ===
        r.getAs[Long]("forecast_cents") - 700L)
      assert(r.getAs[Long]("hi_cents") ===
        r.getAs[Long]("forecast_cents") + 700L)
      // actual = forecast + 700 sits exactly on the upper bound
      assert(r.getAs[Long]("actual_cents") ===
        r.getAs[Long]("forecast_cents") + 700L)
      assert(r.getAs[Boolean]("covered"))
    }
    assert(k.head.getAs[java.sql.Date]("day").toString === "2024-01-20")
    val s = out("s")
    assert(s.length === 1) // scored 2 − cal 1
    s.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("q_cents")))
      assert(r.isNullAt(r.fieldIndex("lo_cents")))
      assert(r.isNullAt(r.fieldIndex("covered")))
    }
  }

  private def ev2(id: Long, t: String, user: Long, v: Double) =
    (id, java.sql.Timestamp.valueOf(t), user, v)

  test("path conversion: order matters, per-session not per-event") {
    import graft.operators.Temporal
    val c = Temporal.pathConversion(eventsFx, "4 hours")
      .collect().map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_sessions"), r.getAs[Long]("n_converting"),
          r.getAs[Double]("conv_rate"))).toMap
    // user1 sessions: view>view | click | view — no purchase at all
    assert(c(1L) === ((3L, 0L, 0.0)))
    // user2: purchase | view>click — purchase BEFORE any view in its
    // session and the view session has no purchase: 0 conversions
    assert(c(2L) === ((2L, 0L, 0.0)))
    // crafted converting session: view then purchase within the gap
    val conv = Seq(
      ev(10, "2024-02-01 08:00:00", 5, "view", 1.0),
      ev(11, "2024-02-01 09:00:00", 5, "purchase", 2.0),
      ev(12, "2024-02-05 08:00:00", 5, "purchase", 3.0), // alone: no
      ev(13, "2024-02-06 08:00:00", 5, "view", 4.0)) // alone: no
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val c5 = Temporal.pathConversion(conv, "4 hours").collect().head
    assert(c5.getAs[Long]("n_sessions") === 3L)
    assert(c5.getAs[Long]("n_converting") === 1L)
    assert(c5.getAs[Double]("conv_rate") === 1.0 / 3.0)
  }

  test("sparse cosine: hand-checked dots, self excluded, df cap") {
    import graft.operators.SparseSim
    // doc 0 (query: id % 5 == 0) shares "a b" ×2 with doc 1 (×1) and
    // nothing with doc 3; "x y" is in 3 of 4 docs → df-capped out at
    // ratio 1 (df*1 <= 4 keeps everything; ratio 2: df=3 → 6 > 4 cut)
    val docs = Seq(
      (0L, "a b a b x y"), (1L, "a b c d x y"),
      (3L, "p q r s x y"), (4L, "p q c d")).toDF("doc_id", "text")
    val top = SparseSim.sparseCosineTopK(docs, k = 3, queryMod = 5,
        dfCapRatio = 2)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))
        -> (r.getAs[Long]("dot"), r.getAs[Double]("cosine"))).toMap
    // after the cap (x y: df 3 → cut), doc0 = {a b: 2, b a: 1,
    // b x: 1} (n2 = 6); doc1 = {a b: 1, b c: 1, c d: 1, d x: 1}
    // (n2 = 4); dot(0,1) = 2
    assert(top((0L, 1L))._1 === 2L)
    assert(top((0L, 1L))._2 === 2.0 / (math.sqrt(6.0) * math.sqrt(4.0)))
    assert(!top.contains((0L, 3L))) // no shared surviving term
    assert(!top.contains((0L, 0L))) // self excluded
  }

  test("bm25: tf saturation, df idf, length norm on a crafted corpus") {
    import graft.operators.SparseSim
    // N=3, dl = (3, 4, 3), avgdl = 10/3; df: spark 2, dup 1, merge 1;
    // doc 3 matches nothing and must be absent
    val docs = Seq(
      (1L, "spark spark dup"),
      (2L, "spark merge x x"),
      (3L, "x y z")).toDF("doc_id", "text")
    val got = SparseSim.bm25TopK(docs,
        Seq("spark", "merge", "dup", "window"), k = 10)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("score"), r.getAs[Int]("rk"))).toMap
    // reference: the same formula evaluated independently
    def idf(df: Double) = math.log(1.0 + ((3.0 - df) + 0.5) / (df + 0.5))
    def tfc(tf: Double, dl: Double) =
      (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / (10.0 / 3.0))))
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d1 = r6(idf(2.0) * tfc(2.0, 3.0) + idf(1.0) * tfc(1.0, 3.0))
    val d2 = r6(idf(2.0) * tfc(1.0, 4.0) + idf(1.0) * tfc(1.0, 4.0))
    assert(got(1L)._1 === d1)
    assert(got(2L)._1 === d2)
    assert(!got.contains(3L)) // no query term → no row
    // doc 1 outranks doc 2: higher tf, rarer term, shorter doc
    assert(d1 > d2 && got(1L)._2 === 1 && got(2L)._2 === 2)
  }

  test("corr matrix: exact +1/-1 on crafted linear columns") {
    val df = Seq((1.0, 2.0, -1.0), (2.0, 4.0, -2.0), (3.0, 6.0, -3.0),
      (5.0, 10.0, -5.0)).toDF("x", "y", "z")
    val m = Olap.corrMatrix(df, Seq("x", "y", "z")).collect()
      .map(r => r.getAs[String]("col_pair") ->
        r.getAs[Double]("corr_val")).toMap
    assert(m("x~y") === 1.0) // y = 2x: algebra cancels exactly
    assert(m("x~z") === -1.0) // z = -x
    assert(m("y~z") === -1.0)
    assert(m.size === 3)
  }

  test("running totals: exact decimal prefix per user") {
    import graft.operators.Temporal
    val r = Temporal.runningTotals(eventsFx)
      .filter($"user_id" === 1L).orderBy("day").collect()
      .map(x => (x.getAs[Double]("day_total"),
        x.getAs[Double]("running_total")))
    // user 1 daily: 3.0 (1+2), 3.0, 4.0 → running 3, 6, 10
    assert(r.toSeq === Seq((3.0, 3.0), (3.0, 6.0), (4.0, 10.0)))
  }

  test("twap: duration-weighted holding values, last point excluded") {
    import graft.operators.Temporal
    // value 10 held 1h, then 20 held 3h → twap = (10·1 + 20·3)/4
    val held = Seq(
      ev(1, "2024-01-01 00:00:00", 7, "view", 10.0),
      ev(2, "2024-01-01 01:00:00", 7, "view", 20.0),
      ev(3, "2024-01-01 04:00:00", 7, "view", 99.0)) // open: excluded
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val t = Temporal.timeWeightedAvg(held).collect().head
    assert(t.getAs[Long]("total_dur_us") === 4L * 3600L * 1000000L)
    assert(t.getAs[Double]("twap") === 17.5)
  }

  test("table diff: added/removed/changed, unchanged rows dropped") {
    val oldT = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "tag", "v")
    val newT = Seq((1L, "a", 10L), (2L, "b", 25L), (4L, "d", 40L))
      .toDF("k", "tag", "v")
    val d = Olap.tableDiff(oldT, newT, Seq("k", "tag"), Seq("v"))
      .collect().map(r => r.getAs[Long]("k") ->
        (r.getAs[String]("change_kind"),
          Option(r.getAs[java.lang.Long]("old_v")).map(_.toLong),
          Option(r.getAs[java.lang.Long]("new_v")).map(_.toLong)))
      .toMap
    assert(d.size === 3) // k=1 unchanged → dropped
    assert(d(2L) === (("changed", Some(20L), Some(25L))))
    assert(d(3L) === (("removed", Some(30L), None)))
    assert(d(4L) === (("added", None, Some(40L))))
  }

  test("scd2 store: merge equals recompute; boundary semantics pinned") {
    import graft.sources.Scd2Store
    // base: u1 view→click (open click); u2 view (open view)
    val base = Seq(
      ev(1, "2024-01-01 08:00:00", 1, "view", 0.0),
      ev(2, "2024-01-02 08:00:00", 1, "click", 0.0),
      ev(3, "2024-01-01 09:00:00", 2, "view", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    // delta: u1 opens with click AGAIN (must extend, not split), then
    // view; u2 untouched; u3 brand-new
    val delta = Seq(
      ev(4, "2024-02-01 08:00:00", 1, "click", 0.0),
      ev(5, "2024-02-02 08:00:00", 1, "view", 0.0),
      ev(6, "2024-02-01 09:00:00", 3, "error", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val root = java.nio.file.Files
      .createTempDirectory("scd2-store").toString
    Scd2Store.writeState(base, root)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select($"user_id", $"event_type", $"valid_from".cast("string"),
        $"valid_to".cast("string"), $"is_current")
      .collect().map(_.toString).toSet
    val merged = Scd2Store.mergedView(spark, root, delta)
    assert(norm(merged) ===
      norm(Scd2Store.compact(base.unionByName(delta))))
    // the same-type opener did NOT split: u1's click interval runs
    // from the BASE change straight to the delta's view change
    val u1click = merged.filter($"user_id" === 1L &&
      $"event_type" === "click").collect().head
    assert(u1click.getAs[java.sql.Timestamp]("valid_from").toString
      .startsWith("2024-01-02"))
    assert(u1click.getAs[java.sql.Timestamp]("valid_to").toString
      .startsWith("2024-02-02"))
    // untouched key's open row survives byte-identical
    assert(merged.filter($"user_id" === 2L && $"is_current").count === 1)
    // new key appears with its own open row
    assert(merged.filter($"user_id" === 3L && $"is_current" &&
      $"event_type" === "error").count === 1)
    // the committed write-side twin equals the view
    Scd2Store.applyChanges(spark, root, delta)
    assert(norm(Scd2Store.readState(spark, root)) === norm(merged))
    // a recipe change is a new store: the rebuild wipes the root and
    // version numbering restarts at 1, as in every other gated store
    val gated = java.nio.file.Files.createTempDirectory("scd2-gate").toString
    def committed = graft.sources.SnapshotDir.versions(spark, gated, "scd2-")
      .collect { case (v, true) => v }.sorted
    assert(Scd2Store.ensureState(base, gated, "a").isDefined)
    assert(Scd2Store.ensureState(base, gated, "a").isEmpty)
    assert(Scd2Store.ensureState(base, gated, "b").isDefined)
    assert(committed === Seq(1L))
    assert(norm(Scd2Store.readState(spark, gated)) ===
      norm(Scd2Store.compact(base)))
  }

  test("agg store: read-time merge equals the full recompute exactly") {
    val root = java.nio.file.Files
      .createTempDirectory("aggstore-spec").toString
    val base = eventsFx.filter($"event_id" % 3 =!= 0)
    val delta = eventsFx.filter($"event_id" % 3 === 0)
    AggStore.ensureState(base, root)
    // warm: a second ensure with the same recipe is a no-op
    assert(AggStore.ensureState(base, root).isEmpty)
    val merged = AggStore.mergedView(spark, root, delta)
    assert(normalized(merged) === normalized(AggStore
      .partials(eventsFx).withColumn("total", $"total")))
    // stored state is keys-sized and untouched by the read-time merge
    assert(AggStore.readState(spark, root).count() ===
      AggStore.partials(base).count())
  }

  test("fuzzy join: symmetric-delete candidates are exact-complete") {
    import graft.operators.FuzzyJoin
    // crafted cases per edit kind at d=2: substitution ×2, delete ×2,
    // insert ×2, mixed, and a distance-3 pair that must NOT appear
    val strs = Seq("kitten", "mitten", "mutten", "kitte", "kitt",
      "kittens", "akitten", "sitting").toDF("s")
    val pairs = FuzzyJoin.editDistancePairs(strs, "s", 2)
      .as[(String, String, Long)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs(("kitten", "mitten")) === 1L)
    assert(pairs(("kitten", "mutten")) === 2L)
    assert(pairs(("kitte", "kitten")) === 1L)
    assert(pairs(("kitt", "kitten")) === 2L)
    assert(pairs(("kitten", "kittens")) === 1L)
    assert(pairs(("akitten", "kitten")) === 1L)
    assert(!pairs.contains(("kitten", "sitting"))) // lev = 3
    // completeness vs brute force over the whole crafted set
    val brute = strs.as("a").crossJoin(strs.as("b"))
      .filter($"a.s" < $"b.s" &&
        levenshtein($"a.s", $"b.s") <= 2)
      .count()
    assert(pairs.size.toLong === brute)
  }

  test("deletion variants: counts and membership at d=1 and d=2") {
    import graft.operators.FuzzyJoin
    val v1 = Seq("abc").toDF("s")
      .select(FuzzyJoin.deletionVariants($"s", 1)).as[Seq[String]]
      .head().toSet
    assert(v1 === Set("abc", "bc", "ac", "ab"))
    val v2 = Seq("abc").toDF("s")
      .select(FuzzyJoin.deletionVariants($"s", 2)).as[Seq[String]]
      .head().toSet
    assert(v2 === Set("abc", "bc", "ac", "ab", "a", "b", "c"))
    // empty string survives the generator
    val v0 = Seq("").toDF("s")
      .select(FuzzyJoin.deletionVariants($"s", 2)).as[Seq[String]]
      .head().toSet
    assert(v0 === Set(""))
  }

  test("profiler: nulls, exact distincts, typed min/max rendering") {
    val df = Seq(
      (Some(1L), Some(2.5), Some("b")),
      (Some(1L), None, Some("a")),
      (None, Some(10.0), None))
      .toDF("k", "price", "tag")
    val p = Olap.profile(df, Seq("k", "price", "tag")).collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    assert(p("k").getAs[Long]("n_rows") === 3L)
    assert(p("k").getAs[Long]("n_nulls") === 1L)
    assert(p("k").getAs[Long]("n_distinct") === 1L) // nulls excluded
    assert(p("price").getAs[String]("min_str") === "2.50")
    assert(p("price").getAs[String]("max_str") === "10.00")
    assert(p("tag").getAs[String]("max_str") === "b")
  }

  test("agg store: tagged redelivery is skipped, new tags fold in") {
    val root = java.nio.file.Files
      .createTempDirectory("aggstore-spec3").toString
    val base = eventsFx.filter($"event_id" % 3 =!= 0)
    val delta = eventsFx.filter($"event_id" % 3 === 0)
    AggStore.bootstrapOrAppend(spark, root, base, Some("0"))
    AggStore.bootstrapOrAppend(spark, root, delta, Some("1"))
    val after = normalized(AggStore.readState(spark, root)
      .withColumn("total", $"total"))
    assert(after === normalized(AggStore.partials(eventsFx)))
    // foreachBatch redelivery: same batch, same tag — must be a no-op
    AggStore.bootstrapOrAppend(spark, root, delta, Some("1"))
    assert(normalized(AggStore.readState(spark, root)
      .withColumn("total", $"total")) === after)
    assert(AggStore.lastBatchTag(spark, root) === Some("1"))
    // a genuinely new trigger with the same rows DOES fold in
    AggStore.bootstrapOrAppend(spark, root, delta, Some("2"))
    assert(normalized(AggStore.readState(spark, root)
      .withColumn("total", $"total")) !== after)
  }

  test("scd2 store: same-ts delta changes merge deterministically") {
    import graft.sources.Scd2Store
    val base = Seq(ev(1, "2024-01-01 08:00:00", 1, "view", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    // two changes for the same user at the SAME timestamp: the
    // (valid_from, event_id) tiebreak must chain them exactly like
    // scd2History's (ts, event_id) order — click gets the zero-width
    // interval, error stays open
    val delta = Seq(
      ev(3, "2024-02-01 08:00:00", 1, "click", 0.0),
      ev(4, "2024-02-01 08:00:00", 1, "error", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val root = java.nio.file.Files
      .createTempDirectory("scd2-tie").toString
    Scd2Store.writeState(base, root)
    def norm(df: DataFrame) = df
      .select($"user_id", $"event_type", $"valid_from".cast("string"),
        $"valid_to".cast("string"), $"is_current")
      .collect().map(_.toString).toSet
    val merged = Scd2Store.mergedView(spark, root, delta)
    assert(norm(merged) ===
      norm(Scd2Store.compact(base.unionByName(delta))))
    val open = merged.filter($"is_current").collect()
    assert(open.map(_.getAs[String]("event_type")).toSeq ===
      Seq("error"))
  }

  test("agg store: stored-scale overflow aborts instead of NULLing") {
    // a widened sum that fits round-trips through the stored scale
    val ok = Seq(BigDecimal("123.45")).toDF("v")
      .select(AggStore.toStored($"v".cast("decimal(38,2)")).as("t"))
    assert(ok.as[java.math.BigDecimal].head() ===
      new java.math.BigDecimal("123.45"))
    // one past decimal(28,2) must raise, never persist NULL
    val boom = Seq("1" + "0" * 26 + ".00").toDF("s")
      .select(AggStore.toStored($"s".cast("decimal(38,2)")).as("t"))
    val e = intercept[Exception] { boom.collect() }
    assert(e.getMessage.contains("overflows decimal(28,2)") ||
      Option(e.getCause).exists(
        _.getMessage.contains("overflows decimal(28,2)")))
    // NULL input stays NULL (no spurious raise)
    val nul = Seq(Option.empty[java.math.BigDecimal]).toDF("v")
      .select(AggStore.toStored($"v".cast("decimal(38,2)")).as("t"))
    assert(nul.collect().head.isNullAt(0))
    // the non-ANSI hole: a NULL sum OVER NON-NULL INPUTS is a silent
    // decimal-sum overflow and must abort; a NULL sum over an empty /
    // all-null group is legitimate and passes through
    val holed = Seq((Option.empty[java.math.BigDecimal], 3L))
      .toDF("s", "nn")
      .select(AggStore.toStoredChecked(
        $"s".cast("decimal(38,2)"), $"nn").as("t"))
    val he = intercept[Exception] { holed.collect() }
    assert((he.getMessage + Option(he.getCause).map(_.getMessage)
      .getOrElse("")).contains("overflowed to NULL"))
    val legit = Seq((Option.empty[java.math.BigDecimal], 0L))
      .toDF("s", "nn")
      .select(AggStore.toStoredChecked(
        $"s".cast("decimal(38,2)"), $"nn").as("t"))
    assert(legit.collect().head.isNullAt(0))
  }

  test("agg store: racing first writers never drop a batch silently") {
    val root = java.nio.file.Files
      .createTempDirectory("aggstore-race").toString
    val batches = Seq(
      eventsFx.filter($"event_id" % 3 === 0),
      eventsFx.filter($"event_id" % 3 =!= 0))
    // two concurrent first writers: the locked bootstrap decision
    // means each either commits correctly (bootstrap-or-append,
    // resolved INSIDE the lock) or fails LOUDLY on contention — a
    // loud loser retries; what can never happen is both bootstrapping
    // and the second commit silently dropping the first batch
    val losers = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = batches.zipWithIndex.map { case (b, i) =>
      new Thread(() => {
        start.await()
        try AggStore.bootstrapOrAppend(spark, root, b, Some(s"t$i"))
        catch { case _: IllegalStateException => losers.add(i) }
      })
    }
    threads.foreach(_.start()); start.countDown()
    threads.foreach(_.join())
    losers.forEach(i => // losers retry serially
      AggStore.bootstrapOrAppend(spark, root, batches(i), Some(s"r$i")))
    assert(normalized(AggStore.readState(spark, root)) ===
      normalized(AggStore.partials(eventsFx)))
  }

  test("cdc apply: last op wins, delete vanishes, order-free") {
    // key 1: I then U (latest value wins); key 2: I then D (vanishes);
    // key 3: D then I by TIMESTAMP fed in reversed arrival order (the
    // struct max is commutative — arrival order must not matter);
    // key 4: same-ts tie broken by seq
    val log = Seq(
      (1L, "2024-01-01 08:00:00", 1L, "I", 10.0),
      (1L, "2024-01-02 08:00:00", 2L, "U", 20.0),
      (2L, "2024-01-01 08:00:00", 3L, "I", 30.0),
      (2L, "2024-01-03 08:00:00", 4L, "D", 0.0),
      (3L, "2024-01-05 08:00:00", 6L, "I", 60.0), // arrives first
      (3L, "2024-01-04 08:00:00", 5L, "D", 0.0),
      (4L, "2024-01-01 08:00:00", 7L, "I", 70.0),
      (4L, "2024-01-01 08:00:00", 8L, "U", 80.0))
      .map(r => (r._1, java.sql.Timestamp.valueOf(r._2), r._3, r._4,
        r._5))
      .toDF("user_id", "ts", "event_id", "op", "value")
    val snap = Olap.cdcApply(log, keyCol = "user_id", tsCol = "ts",
      seqCol = "event_id", opCol = "op", valueCol = "value")
      .collect().map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Double]("last_value"), r.getAs[Long]("n_ops"))).toMap
    assert(snap(1L) === ((20.0, 2L)))
    assert(!snap.contains(2L)) // deleted
    assert(snap(3L) === ((60.0, 2L))) // ts order, not arrival order
    assert(snap(4L) === ((80.0, 2L))) // seq breaks the same-ts tie
    assert(snap.size === 3)
  }

  test("markov: pair counts, conditional p, deterministic rank") {
    import graft.operators.Temporal
    // user 1: a b a c — pairs (a,b), (b,a), (a,c); user 2: a b
    val es = Seq(
      ev(1, "2024-01-01 08:00:00", 1, "a", 0.0),
      ev(2, "2024-01-01 09:00:00", 1, "b", 0.0),
      ev(3, "2024-01-01 10:00:00", 1, "a", 0.0),
      ev(4, "2024-01-01 11:00:00", 1, "c", 0.0),
      ev(5, "2024-01-01 08:00:00", 2, "a", 0.0),
      ev(6, "2024-01-01 09:00:00", 2, "b", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val m = Temporal.transitionMatrix(es).collect()
      .map(r => (r.getAs[String]("cur"), r.getAs[String]("nxt")) ->
        (r.getAs[Long]("n"), r.getAs[Double]("p"), r.getAs[Int]("rk")))
      .toMap
    assert(m(("a", "b")) === ((2L, 2.0 / 3.0, 1)))
    assert(m(("a", "c")) === ((1L, 1.0 / 3.0, 2)))
    assert(m(("b", "a")) === ((1L, 1.0, 1)))
    assert(m.size === 3) // no pair crosses the user boundary
  }

  test("mad anomalies: nearest-rank median/MAD, only the spike flags") {
    import graft.operators.Temporal
    // one key, five days with totals 10, 12, 11, 10, 100:
    // sorted [10,10,11,12,100] → median (rank 3) = 11;
    // |dev| [1,1,0,1,89] sorted [0,1,1,1,89] → MAD (rank 3) = 1;
    // anomaly iff adev > 3 → only the 100 day
    val es = Seq(
      ev(1, "2024-01-01 08:00:00", 1, "t", 10.0),
      ev(2, "2024-01-02 08:00:00", 1, "t", 12.0),
      ev(3, "2024-01-03 08:00:00", 1, "t", 11.0),
      ev(4, "2024-01-04 08:00:00", 1, "t", 10.0),
      ev(5, "2024-01-05 08:00:00", 1, "t", 100.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Temporal.madAnomalies(es, k = 3).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString ->
        (r.getAs[Double]("total"), r.getAs[Double]("med"),
          r.getAs[Double]("mad"), r.getAs[Boolean]("is_anomaly")))
      .toMap
    assert(got("2024-01-03") === ((11.0, 11.0, 1.0, false)))
    assert(got("2024-01-05") === ((100.0, 11.0, 1.0, true)))
    assert(got.count(_._2._4) === 1)
  }

  test("cusum: peak sits on the last day of the old regime") {
    import graft.operators.Temporal
    // totals 10,10,10,100,100 → S_t = 5·prefix − t·230 peaks (|−540|)
    // at day 3: the boundary BEFORE the level shift
    val es = Seq(
      ev(1, "2024-01-01 08:00:00", 1, "t", 10.0),
      ev(2, "2024-01-02 08:00:00", 1, "t", 10.0),
      ev(3, "2024-01-03 08:00:00", 1, "t", 10.0),
      ev(4, "2024-01-04 08:00:00", 1, "t", 100.0),
      ev(5, "2024-01-05 08:00:00", 1, "t", 100.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Temporal.cusumChangepoint(es).collect()
    assert(r.length === 1)
    assert(r.head.getAs[java.sql.Date]("cp_day").toString ===
      "2024-01-03")
    assert(r.head.getAs[Double]("cusum_scaled") === 540.0)
    assert(r.head.getAs[Long]("n_days") === 5L)
  }

  test("equi-depth histogram: larger buckets first, exact ranges") {
    val es = (1 to 5).map(i =>
      ev(i.toLong, f"2024-01-0$i 08:00:00", 1, "t", i.toDouble))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val h = Olap.equiDepthHist(es, buckets = 4).collect()
      .map(r => r.getAs[Int]("bucket") ->
        (r.getAs[Long]("n_days"), r.getAs[Double]("lo"),
          r.getAs[Double]("hi"))).toMap
    // 5 days into 4 bins: the FIRST bucket takes the extra row
    assert(h(1) === ((2L, 1.0, 2.0)))
    assert(h(2) === ((1L, 3.0, 3.0)))
    assert(h(3) === ((1L, 4.0, 4.0)))
    assert(h(4) === ((1L, 5.0, 5.0)))
  }

  test("triangles: K4 + pendant, degree-oriented equals brute truth") {
    import graft.operators.GraphStats
    // K4 on {1..4}: 4 triangles, 12 wedges, transitivity 1.0; add a
    // pendant edge (4,5): degrees 3,3,3,4,1 → wedges 15, still 4
    // triangles → transitivity 0.8. Feed a duplicate, a reversed
    // edge, and a self-loop — none may change a count.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (2L, 1L), (1L, 2L), (3L, 3L))
      .toDF("id_a", "id_b")
    val r = GraphStats.triangleStats(edges).collect().head
    assert(r.getAs[Long]("n_vertices") === 5L)
    assert(r.getAs[Long]("n_edges") === 7L)
    assert(r.getAs[Long]("n_wedges") === 15L)
    assert(r.getAs[Long]("n_triangles") === 4L)
    assert(r.getAs[Double]("transitivity") === 0.8)
  }

  test("agg store: committed append equals the read-time merge") {
    val root = java.nio.file.Files
      .createTempDirectory("aggstore-spec2").toString
    val base = eventsFx.filter($"event_id" % 3 =!= 0)
    val delta = eventsFx.filter($"event_id" % 3 === 0)
    AggStore.ensureState(base, root)
    val view = normalized(AggStore.mergedView(spark, root, delta))
    AggStore.appendDelta(spark, root, delta)
    assert(normalized(AggStore.readState(spark, root)
      .withColumn("total", $"total")) === view)
    // and the commit is a new version, not an overwrite in place
    assert(normalized(AggStore.readState(spark, root)
      .withColumn("total", $"total")) ===
      normalized(AggStore.partials(eventsFx)))
  }

  test("agg store: a replayed retraction is skipped even after an " +
      "INTERVENING commit; over-retraction aborts loudly") {
    val root = java.nio.file.Files
      .createTempDirectory("aggstore-replay").toString
    val base = eventsFx.filter($"event_id" % 3 =!= 0)
    val removed = base.filter($"event_id" % 5 === 0)
    val later = eventsFx.filter($"event_id" % 3 === 0)
    AggStore.ensureState(base, root)
    AggStore.retractDelta(spark, root, removed, Some("ticket-1"))
    // an ORDINARY ingest append lands between the retraction and its
    // replay — the window where a current-version tag comparison
    // silently double-subtracted (the applied-tag set is durable)
    AggStore.appendDelta(spark, root, later, Some("ingest-1"))
    val want = normalized(AggStore.readState(spark, root))
    AggStore.retractDelta(spark, root, removed, Some("ticket-1"))
    assert(normalized(AggStore.readState(spark, root)) === want,
      "a replayed tag must be skipped across intervening commits")
    // a genuinely wrong retraction (rows whose keys were never in the
    // store — every such key merges to a NEGATIVE count) trips the
    // invariant instead of persisting corruption
    val alien = removed.withColumn("ts",
      $"ts" + org.apache.spark.sql.functions.expr("INTERVAL 3650 DAYS"))
    val e = intercept[Exception](
      AggStore.retractDelta(spark, root, alien, Some("ticket-2")))
    def chain(t: Throwable): String =
      if (t == null) "" else t.toString + chain(t.getCause)
    assert(chain(e).contains("negative cnt"),
      s"expected the negative-count abort, got: ${chain(e)}")
    assert(normalized(AggStore.readState(spark, root)) === want,
      "an aborted retraction must not commit")
  }

  test("agg store branches: retract on 'exp' only; main untouched; " +
      "promote fast-forwards") {
    val root = java.nio.file.Files
      .createTempDirectory("aggstore-branch").toString
    AggStore.ensureState(eventsFx, root)
    val mainBefore = normalized(AggStore.readState(spark, root))
    AggStore.createBranch(spark, root, "exp")
    val removed = eventsFx.filter($"event_id" % 5 === 0)
    AggStore.retractDelta(spark, root, removed, Some("t1"),
      branch = Some("exp"))
    // isolation: main still serves the full view
    assert(normalized(AggStore.readState(spark, root)) === mainBefore)
    // the branch equals the filtered recompute exactly
    assert(normalized(AggStore.readState(spark, root, Some("exp"))) ===
      normalized(AggStore.partials(
        eventsFx.filter($"event_id" % 5 =!= 0))))
    // promote publishes the branch state as main (fast-forward)
    AggStore.promoteBranch(spark, root, "exp")
    assert(normalized(AggStore.readState(spark, root)) ===
      normalized(AggStore.partials(
        eventsFx.filter($"event_id" % 5 =!= 0))))
    assert(AggStore.branches(spark, root).isEmpty)
  }

  test("agg store time travel: a pinned pre-retraction read is frozen; " +
      "an expired pin fails loudly") {
    import graft.sources.{AggStore => AS, ManifestDir, SnapshotDir}
    val root = java.nio.file.Files
      .createTempDirectory("aggstore-pin").toString
    val base = eventsFx.filter($"event_id" % 3 =!= 0)
    AS.ensureState(base, root) // v1
    val v1 = normalized(AS.readStateAt(spark, root, 1L))
    assert(v1 === normalized(AS.partials(base)))
    AS.retractDelta(spark, root,
      base.filter($"event_id" % 5 === 0), Some("pin-t1")) // v2
    // the pin is FROZEN: the retraction committed a LATER version and
    // cannot reach back into v1's manifest
    assert(normalized(AS.readStateAt(spark, root, 1L)) === v1)
    assert(normalized(AS.readState(spark, root)) !== v1)
    // retention expiry: beyond-grace versions drop, their segments
    // vacuum, and the pin fails LOUDLY — removed from history
    SnapshotDir.withWriterLock(spark, root) {
      SnapshotDir.gc(spark, root, "agg-", grace = 0)
      ManifestDir.vacuum(spark, root, Seq("agg-"))
    }
    intercept[IllegalStateException](AS.readStateAt(spark, root, 1L))
    // current still serves
    assert(AS.readState(spark, root).count() > 0)
  }

  test("agg store optimistic writers: concurrent main- and branch-append " +
      "both land; a same-lineage stale claim loses loudly") {
    val root = java.nio.file.Files
      .createTempDirectory("aggstore-optim").toString
    val base = eventsFx.filter($"event_id" % 3 === 0)
    val mainDelta = eventsFx.filter($"event_id" % 3 === 1)
    val branchDelta = eventsFx.filter($"event_id" % 3 === 2)
    AggStore.ensureState(base, root)
    AggStore.createBranch(spark, root, "exp")
    // two optimistic writers on DIFFERENT lineages, concurrently
    val t1 = new Thread(() => AggStore.appendDeltaOptimistic(
      spark, root, mainDelta, Some("m1")))
    val t2 = new Thread(() => AggStore.appendDeltaOptimistic(
      spark, root, branchDelta, Some("b1"), branch = Some("exp")))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(normalized(AggStore.readState(spark, root)) ===
      normalized(AggStore.partials(base.unionByName(mainDelta))))
    assert(normalized(AggStore.readState(spark, root, Some("exp"))) ===
      normalized(AggStore.partials(base.unionByName(branchDelta))))
    // a SAME-lineage stale claim loses loudly: writer A commits while
    // B's merge (computed against the same base) is still unpublished
    val claimedBefore = graft.sources.SnapshotDir
      .versions(spark, root, "agg-").filter(_._2).map(_._1).max
    AggStore.appendDelta(spark, root, eventsFx.limit(5), Some("m2"))
    val e = intercept[java.util.ConcurrentModificationException] {
      // replay the window check with the now-stale claim directly
      graft.sources.Branches.commitWindow(spark, root, "agg-",
        claimedBefore)(_ => ())
    }
    assert(e.getMessage.contains("stale"))
  }

  test("ols trend: exact slope from cents, single-day key is NULL") {
    import graft.operators.Temporal
    // key "u": days 1..3 at 1.00, 2.00, 4.00 → x=0,1,2, y=100,200,400
    // cents: n=3, Σx=3, Σy=700, Σxy=1000, Σx²=5 →
    // slope = (3·1000 − 3·700)/(3·5 − 9) = 900/6 = 150 cents/day;
    // key "s" has one day → zero x-variance → NULL
    val es = Seq(
      ev(1, "2024-01-01 08:00:00", 1, "u", 1.0),
      ev(2, "2024-01-02 08:00:00", 1, "u", 2.0),
      ev(3, "2024-01-03 08:00:00", 1, "u", 4.0),
      ev(4, "2024-01-05 08:00:00", 1, "s", 9.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Temporal.trendOls(es).collect()
      .map(x => x.getAs[String]("event_type") ->
        (x.getAs[Long]("n_days"),
          Option(x.getAs[java.lang.Double]("slope_cents_per_day"))))
      .toMap
    assert(r("u") === ((3L, Some(150.0))))
    assert(r("s") === ((1L, None)))
  }

  test("ewma level: left fold halves forward, singleton passes through") {
    import graft.operators.Temporal
    // cents 100, 200, 300 by day → 100; (100+200)/2 = 150;
    // (150+300)/2 = 225 — order comes from the sorted array, so feed
    // the rows in scrambled arrival order
    val es = Seq(
      ev(2, "2024-01-02 08:00:00", 1, "u", 2.0),
      ev(3, "2024-01-03 08:00:00", 1, "u", 3.0),
      ev(1, "2024-01-01 08:00:00", 1, "u", 1.0),
      ev(4, "2024-01-07 08:00:00", 1, "s", 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Temporal.ewmaLevel(es).collect()
      .map(x => x.getAs[String]("event_type") ->
        (x.getAs[Long]("n_days"), x.getAs[Double]("ewma_cents"),
          x.getAs[Double]("last_cents"))).toMap
    assert(r("u") === ((3L, 225.0, 300.0)))
    assert(r("s") === ((1L, 700.0, 700.0)))
  }

  test("rolling median: spike days never become the level; gaps enter as 0") {
    import graft.operators.Temporal
    // 8 consecutive days at 100 cents except a 10000-cent spike on
    // day 4: every full window contains the spike at most once, so
    // the median stays exactly 100 — the EWMA would carry the spike
    // for a week
    val es = (1 to 8).map { d =>
      val v = if (d == 4) 100.0 else 1.0
      ev(d.toLong, f"2024-01-0$d%d 08:00:00", 1, "u", v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Temporal.rollingMedian(es).collect()
      .map(x => x.getAs[java.sql.Date]("day").toString ->
        x.getAs[Long]("med_cents")).toMap
    // full windows exist for days 7 and 8 only
    assert(r === Map("2024-01-07" -> 100L, "2024-01-08" -> 100L))
    // a missing day enters its windows as 0: with days 1..3 and 5..8
    // present (day 4 absent), day 8's window [2..8] holds one 0 —
    // the median over {100×6, 0} is still 100, but day 7's window
    // [1..7] also holds it; drop 3 more days and the zeros win
    val gappy = Seq(1, 2, 8).map { d =>
      ev(d.toLong, f"2024-01-0$d%d 08:00:00", 1, "u", 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val g = Temporal.rollingMedian(gappy).collect()
      .map(x => x.getAs[java.sql.Date]("day").toString ->
        x.getAs[Long]("med_cents")).toMap
    // day 7 window = days 1..7 = {100, 100, 0, 0, 0, 0, 0} → 0;
    // day 8 window = days 2..8 = {100, 0, 0, 0, 0, 0, 100} → 0
    assert(g === Map("2024-01-07" -> 0L, "2024-01-08" -> 0L))
  }

  test("theil-sen: median pairwise slope shrugs off the outlier day") {
    import graft.operators.Temporal
    // days 0,1,2 with cents 100, 200, 300: slopes (100, 100, 100)e6
    // ppm → median 100e6; adding an outlier day 3 at 100000 cents
    // drags OLS hard but the pair-slope median barely moves
    val clean = Seq(
      ev(1, "2024-01-01 08:00:00", 1, "u", 1.0),
      ev(2, "2024-01-02 08:00:00", 1, "u", 2.0),
      ev(3, "2024-01-03 08:00:00", 1, "u", 3.0),
      ev(9, "2024-01-05 08:00:00", 1, "s", 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Temporal.theilSenTrend(clean).collect()
      .map(x => x.getAs[String]("key") ->
        (x.getAs[Long]("n_days"), x.getAs[Any]("n_pairs"),
          x.getAs[Any]("slope_ppm_median"))).toMap
    assert(r("u") === ((3L, 3L, 100000000L)))
    // a single-day key has no pairs: NULL median, replayably
    assert(r("s") === ((1L, null, null)))
    val dirty = Seq(
      ev(1, "2024-01-01 08:00:00", 1, "u", 1.0),
      ev(2, "2024-01-02 08:00:00", 1, "u", 2.0),
      ev(3, "2024-01-03 08:00:00", 1, "u", 3.0),
      ev(4, "2024-01-04 08:00:00", 1, "u", 1000.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val med = Temporal.theilSenTrend(dirty).collect()
      .find(_.getAs[String]("key") == "u").get
      .getAs[Long]("slope_ppm_median")
    // 6 pair slopes sorted: 100e6, 100e6, then four outlier-driven —
    // lower median (rank 3) is the first outlier-free... compute:
    // slopes e6: (0,1)=100, (0,2)=100, (1,2)=100, (0,3)=33300,
    // (1,3)=49900, (2,3)=99700 → sorted 100,100,100,33300,49900,99700
    // rank (6+1) div 2 = 3 → 100e6: the outlier never reaches the
    // median (OLS slope on the same data is ~28,000 cents/day)
    assert(med === 100000000L)
  }

  test("mann-kendall: exact S and tie-adjusted var18; degenerate " +
    "keys emit NULL z") {
    import graft.operators.Temporal
    // strictly rising 4 days: S = 6 pairs × (+1), no ties →
    // var18 = 4·3·13 = 156, z = (6−1)/√(156/18) = 1.698416
    val up = (1 to 4).map { d =>
      ev(d.toLong, f"2024-01-0$d%d 08:00:00", 1, "u", d.toDouble)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Temporal.mannKendall(up).collect().head
    assert(r.getAs[Long]("n_days") === 4L)
    assert(r.getAs[Long]("s_stat") === 6L)
    assert(r.getAs[Long]("var18") === 156L)
    assert(r.getAs[Double]("z_mk") === 1.698416)
    // a tie pair contributes 0 to S and 18 to the tie term:
    // cents 100,100,200 → S = 2, var18 = 3·2·11 − 2·1·9 = 48,
    // z = (2−1)/√(48/18) = 0.612372; an all-equal key zeroes var18
    // → NULL z, and a single-day key has no pairs → S = 0, NULL z
    val mixed = Seq(
      ev(1, "2024-01-01 08:00:00", 1, "t", 1.0),
      ev(2, "2024-01-02 08:00:00", 1, "t", 1.0),
      ev(3, "2024-01-03 08:00:00", 1, "t", 2.0),
      ev(4, "2024-01-01 08:00:00", 1, "e", 3.0),
      ev(5, "2024-01-02 08:00:00", 1, "e", 3.0),
      ev(6, "2024-01-05 08:00:00", 1, "s", 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val m = Temporal.mannKendall(mixed).collect()
      .map(x => x.getAs[String]("key") ->
        (x.getAs[Long]("s_stat"), x.getAs[Long]("var18"),
          x.getAs[Any]("z_mk"))).toMap
    assert(m("t") === ((2L, 48L, 0.612372)))
    assert(m("e") === ((0L, 0L, null)))
    assert(m("s") === ((0L, 0L, null)))
  }

  test("kendall tau-b: exact C/D and tie corrections; fully-tied " +
    "sides emit NULL") {
    import graft.operators.Temporal
    // per day (cents x, events y): (100,1), (200,2), (300,2),
    // (200,3) — pairs: (1,2)C, (1,3)C, (1,4)C, (2,3) y-tie,
    // (2,4) x-tie, (3,4)D → C=3, D=1; n0=6, n1=1 (200 twice),
    // n2=1 (2 twice) → τ-b = 2/√(5·5) = 0.4
    val es = Seq(
      ev(1, "2024-01-01 08:00:00", 1, "u", 1.0),
      ev(2, "2024-01-02 08:00:00", 1, "u", 1.0),
      ev(3, "2024-01-02 09:00:00", 1, "u", 1.0),
      ev(4, "2024-01-03 08:00:00", 1, "u", 1.0),
      ev(5, "2024-01-03 09:00:00", 1, "u", 2.0),
      ev(6, "2024-01-04 08:00:00", 1, "u", 0.5),
      ev(7, "2024-01-04 09:00:00", 1, "u", 0.5),
      ev(8, "2024-01-04 10:00:00", 1, "u", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Temporal.kendallTau(es).collect().head
    assert(r.getAs[Long]("n_days") === 4L)
    assert(r.getAs[Long]("n_concordant") === 3L)
    assert(r.getAs[Long]("n_discordant") === 1L)
    assert((r.getAs[Long]("n0"), r.getAs[Long]("n1"),
      r.getAs[Long]("n2")) === ((6L, 1L, 1L)))
    assert(r.getAs[Double]("tau_b") === 0.4)
    // x fully tied (every day totals 200 cents) while y varies
    // (1, 2, 2 events): n1 = n0 = 3 kills the √ factor → NULL τ-b,
    // replayably; a single-day key (n0 = 0) is NULL the same way
    val tied = Seq(
      ev(1, "2024-01-01 08:00:00", 1, "c", 2.0),
      ev(2, "2024-01-02 08:00:00", 1, "c", 1.0),
      ev(3, "2024-01-02 09:00:00", 1, "c", 1.0),
      ev(4, "2024-01-03 08:00:00", 1, "c", 0.5),
      ev(5, "2024-01-03 09:00:00", 1, "c", 1.5),
      ev(9, "2024-01-02 08:00:00", 1, "s", 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val t = Temporal.kendallTau(tied).collect()
      .map(x => x.getAs[String]("key") ->
        (x.getAs[Long]("n0"), x.getAs[Long]("n1"),
          x.getAs[Any]("tau_b"))).toMap
    assert(t("c") === ((3L, 3L, null)))
    assert(t("s") === ((0L, 0L, null)))
  }

  test("holt level+trend: pair fold halves forward, singleton is flat") {
    import graft.operators.Temporal
    // cents 100, 200, 300 by day; l1=100, b1=0;
    // day 2: l=(200+100+0)/2=150, b=(150-100+0)/2=25;
    // day 3: l=(300+150+25)/2=237.5, b=(237.5-150+25)/2=56.25;
    // forecast = 237.5+56.25 = 293.75. Scrambled arrival order — the
    // fold runs over the sorted array, not ingestion order.
    val es = Seq(
      ev(2, "2024-01-02 08:00:00", 1, "u", 2.0),
      ev(3, "2024-01-03 08:00:00", 1, "u", 3.0),
      ev(1, "2024-01-01 08:00:00", 1, "u", 1.0),
      ev(4, "2024-01-07 08:00:00", 1, "s", 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Temporal.holtLevelTrend(es).collect()
      .map(x => x.getAs[String]("event_type") ->
        (x.getAs[Long]("n_days"), x.getAs[Double]("level_cents"),
          x.getAs[Double]("trend_cents"),
          x.getAs[Double]("forecast_cents"))).toMap
    assert(r("u") === ((3L, 237.5, 56.25, 293.75)))
    // a single day carries no trend signal: level = the day, trend 0
    assert(r("s") === ((1L, 700.0, 0.0, 700.0)))
  }

  test("holt-winters weekly: dow slots update, gaps skip, forecast adds") {
    import graft.operators.Temporal
    // Mon(100) Tue(200) [gap] Mon(300) Tue(400) — hand fold:
    //  d1 Mon: l=100 b=0 s=0s
    //  d2 Tue: l=150 b=25 s3=25
    //  d3 Mon (a week later — the gap changes nothing): l=237.5
    //    b=56.25 s2=31.25
    //  d4 Tue: sd=s3=25 → l=334.375 b=76.5625 s3=45.3125
    //  next day is Wed (s4=0) → forecast 410.9375
    val es = Seq(
      ev(1, "2024-01-01 08:00:00", 1, "u", 1.0), // Monday
      ev(2, "2024-01-02 08:00:00", 1, "u", 2.0), // Tuesday
      ev(3, "2024-01-08 08:00:00", 1, "u", 3.0), // next Monday
      ev(4, "2024-01-09 08:00:00", 1, "u", 4.0), // next Tuesday
      ev(5, "2024-01-07 08:00:00", 1, "s", 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Temporal.holtWintersWeekly(es).collect()
      .map(x => x.getAs[String]("event_type") -> x).toMap
    val u = r("u")
    assert(u.getAs[Long]("n_days") === 4L)
    assert(u.getAs[Double]("level_cents") === 334.375)
    assert(u.getAs[Double]("trend_cents") === 76.5625)
    assert(u.getAs[Double]("s2") === 31.25) // Monday slot
    assert(u.getAs[Double]("s3") === 45.3125) // Tuesday, updated twice
    assert((1 to 7).filter(k => k != 2 && k != 3)
      .forall(k => u.getAs[Double](s"s$k") === 0.0))
    assert(u.getAs[Double]("forecast_cents") === 410.9375)
    val s = r("s")
    assert(s.getAs[Double]("level_cents") === 700.0)
    assert(s.getAs[Double]("trend_cents") === 0.0)
    assert(s.getAs[Double]("forecast_cents") === 700.0)
  }

  test("assoc rules: day-bounded baskets, set-dedup, exact ratios") {
    // baskets: u1d1 {a,b} (a appears twice — collect_set dedups),
    // u1d2 {a}, u2d1 {b,c} → 3 baskets; n_a=2, n_b=2, n_c=1;
    // a→b: support 1/3, confidence 1/2, lift 3/(2·2) = 0.75.
    // No pair may cross a day boundary (u1's d1 b and d2 a never pair
    // beyond their shared d1 basket).
    val es = Seq(
      ev(1, "2024-01-01 08:00:00", 1, "a", 0.0),
      ev(2, "2024-01-01 09:00:00", 1, "a", 0.0),
      ev(3, "2024-01-01 10:00:00", 1, "b", 0.0),
      ev(4, "2024-01-02 08:00:00", 1, "a", 0.0),
      ev(5, "2024-01-01 08:00:00", 2, "b", 0.0),
      ev(6, "2024-01-01 09:00:00", 2, "c", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Olap.associationRules(es).collect()
      .map(x => (x.getAs[String]("antecedent"),
        x.getAs[String]("consequent")) ->
        (x.getAs[Long]("n_both"), x.getAs[Double]("support"),
          x.getAs[Double]("confidence"), x.getAs[Double]("lift")))
      .toMap
    assert(r(("a", "b")) === ((1L, 1.0 / 3.0, 0.5, 0.75)))
    assert(r(("b", "a")) === ((1L, 1.0 / 3.0, 0.5, 0.75)))
    assert(r(("b", "c")) === ((1L, 1.0 / 3.0, 0.5, 1.5)))
    assert(r(("c", "b")) === ((1L, 1.0 / 3.0, 1.0, 1.5)))
    assert(r.size === 4) // a/c never share a basket
  }

  test("benford: digit from cents rendering, bound booleans") {
    // 0.35 → cents 35 → leading digit 3 (the float-log shortcut
    // would misread sub-peso amounts); 19.99 → 1999 → 1
    val vals = Seq(1.0, 19.99, 2.5, 0.35, 900.0, 1234.0)
      .toDF("amount")
    val r = Olap.benfordProfile(vals, "amount").collect()
      .map(x => x.getAs[Int]("digit") ->
        (x.getAs[Long]("cnt"), x.getAs[Boolean]("benford_close")))
      .toMap
    assert(r(1) === ((3L, false))) // 3/6 = .5 vs .301 — not close
    assert(r(2)._1 === 1L)
    assert(r(3)._1 === 1L)
    assert(r(9)._1 === 1L)
    assert(r.size === 4)
  }

  test("skyline: sweep equals dominance truth, ties co-survive") {
    def d(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // D=(20,d2) beats B=(20,d1) on the date axis; its duplicate F
    // co-survives (no strict axis between equals); E=(15,d2) falls
    // to D's strictly-larger price at the same date; A and C ride
    // the frontier's staircase
    val rows = Seq(("A", 10.0, d("2024-01-03")),
      ("B", 20.0, d("2024-01-01")), ("C", 5.0, d("2024-01-05")),
      ("D", 20.0, d("2024-01-02")), ("E", 15.0, d("2024-01-02")),
      ("F", 20.0, d("2024-01-02")))
      .toDF("id", "price", "date")
    val got = Olap.skyline2D(rows, "price", "date",
      Seq("id")).collect().map(_.getString(0)).toSet
    assert(got === Set("A", "C", "D", "F"))
  }

  test("rfm: quartile scores with custkey tiebreak, named segments") {
    def d(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // anchor = max last_day = c1's 01-10; quartiles land one customer
    // each (custkey breaks the f tie between c2 and c4)
    val orders = Seq(
      (1L, d("2024-01-10"), 100.0), (1L, d("2024-01-09"), 100.0),
      (1L, d("2024-01-08"), 100.0), // c1: r0 f3 m300
      (2L, d("2024-01-01"), 10.0), // c2: r9 f1 m10
      (3L, d("2024-01-05"), 50.0), (3L, d("2024-01-04"), 50.0),
      // c3: r5 f2 m100
      (4L, d("2024-01-08"), 500.0)) // c4: r2 f1 m500
      .toDF("o_custkey", "o_orderdate", "o_totalprice")
    val r = Olap.rfmSegment(orders).collect()
      .map(x => x.getAs[Long]("custkey") ->
        (x.getAs[Long]("r_days"), x.getAs[Int]("r_score"),
          x.getAs[Int]("f_score"), x.getAs[Int]("m_score"),
          x.getAs[String]("segment"))).toMap
    assert(r(1L) === ((0L, 4, 4, 3, "champion")))
    assert(r(4L) === ((2L, 3, 2, 4, "big_spender_recent")))
    assert(r(3L) === ((5L, 2, 3, 2, "at_risk_valuable")))
    assert(r(2L) === ((9L, 1, 1, 1, "hibernating")))
  }

  test("chi-square: exact marginals, mirrored single-division cells") {
    // 2×2: (x,p)=2 (x,q)=1 (y,p)=1 (y,q)=2 — N=6, all marginals 3,
    // expected 1.5 everywhere, dev = O·6 − 9 = ±3, cell = 9/54 = 1/6
    val rows = Seq(("x", "p"), ("x", "p"), ("x", "q"), ("y", "p"),
      ("y", "q"), ("y", "q")).toDF("a0", "b0")
    val r = Olap.chiSquareIndep(rows, "a0", "b0").collect()
      .map(x => (x.getAs[String]("a"), x.getAs[String]("b")) ->
        (x.getAs[Long]("n_obs"), x.getAs[Long]("dof"),
          x.getAs[Double]("expected"), x.getAs[Double]("chi2_cell")))
      .toMap
    assert(r(("x", "p")) === ((2L, 1L, 1.5, 9.0 / 54.0)))
    assert(r(("x", "q")) === ((1L, 1L, 1.5, 9.0 / 54.0)))
    assert(r(("y", "q")) === ((2L, 1L, 1.5, 9.0 / 54.0)))
    assert(r.size === 4)
  }

  test("winsorize: nearest-rank integer-ceil bounds clip the whale") {
    // cents 100..900 plus a 10000 whale; p10/p90 of n=10 → ranks 1
    // and 9 → bounds [100, 900]; the whale clips to 900
    val rows = ((1 to 9).map(i => ("g", i * 1.0)) :+ ("g", 100.0))
      .toDF("grp", "amount")
    val r = Olap.winsorizedStats(rows, "grp", "amount",
      loNum = 10, hiNum = 90).collect()
    assert(r.length === 1)
    val x = r.head
    assert(x.getAs[Long]("n_rows") === 10L)
    assert(x.getAs[Long]("lo_cents") === 100L)
    assert(x.getAs[Long]("hi_cents") === 900L)
    assert(x.getAs[Long]("w_sum_cents") === 5400L)
    assert(x.getAs[Double]("w_mean_cents") === 540.0)
  }

  test("acf: n-scaled exact statistics on a linear ramp") {
    import graft.operators.Temporal
    // daily cents 100,200,300,400 → s=1000, n=4, dx = (−600,−200,
    // 200,600), den=800000; lag1 num=200000 → 0.25; lag2 → −0.3;
    // lag3 → −0.45
    val es = Seq(
      ev(1, "2024-01-01 08:00:00", 1, "a", 1.0),
      ev(2, "2024-01-02 08:00:00", 1, "a", 2.0),
      ev(3, "2024-01-03 08:00:00", 1, "b", 3.0),
      ev(4, "2024-01-04 08:00:00", 2, "b", 4.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Temporal.autocorrelation(es, maxLag = 3).collect()
      .map(x => x.getAs[Int]("lag") ->
        (x.getAs[Long]("n_pairs"), x.getAs[Long]("n_days"),
          x.getAs[Double]("acf"))).toMap
    assert(r(1) === ((3L, 4L, 0.25)))
    assert(r(2) === ((2L, 4L, -0.3)))
    assert(r(3) === ((1L, 4L, -0.45)))
  }

  test("kaplan-meier: censoring at the corpus edge, exact life table") {
    import graft.operators.Temporal
    // corpus end = u3's 01-20. u2 t=0 churn (19d gap), u4 t=1
    // censored (1d), u1 t=2 churn (17d), u3 t=10 censored (anchor)
    val es = Seq(
      ev(1, "2024-01-01 08:00:00", 1, "v", 0.0),
      ev(2, "2024-01-03 08:00:00", 1, "v", 0.0),
      ev(3, "2024-01-01 08:00:00", 2, "v", 0.0),
      ev(4, "2024-01-10 08:00:00", 3, "v", 0.0),
      ev(5, "2024-01-20 08:00:00", 3, "v", 0.0),
      ev(6, "2024-01-18 08:00:00", 4, "v", 0.0),
      ev(7, "2024-01-19 08:00:00", 4, "v", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Temporal.kaplanMeier(es, horizonDays = 14).collect()
      .map(x => x.getAs[Long]("t_days") ->
        (x.getAs[Long]("n_risk"), x.getAs[Long]("n_churn"),
          x.getAs[Long]("n_censored"), x.getAs[Double]("survival")))
      .toMap
    assert(r(0L) === ((4L, 1L, 0L, 0.75)))
    assert(r(1L) === ((3L, 0L, 1L, 0.75)))
    assert(r(2L) === ((2L, 1L, 0L, 0.375)))
    assert(r(10L) === ((1L, 0L, 1L, 0.375)))
  }

  test("kaplan-meier: a whole-risk-set churn zeroes the curve loudly") {
    import graft.operators.Temporal
    // uA (t=4) churns with the LARGEST lifetime — d = n at t=4, the
    // ln(0) case both engines must carry as an explicit zero
    val es = Seq(
      ev(1, "2024-01-01 08:00:00", 1, "v", 0.0),
      ev(2, "2024-01-05 08:00:00", 1, "v", 0.0),
      ev(3, "2024-01-29 08:00:00", 2, "v", 0.0),
      ev(4, "2024-01-30 08:00:00", 2, "v", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Temporal.kaplanMeier(es, horizonDays = 14).collect()
      .map(x => x.getAs[Long]("t_days") ->
        (x.getAs[Long]("n_risk"), x.getAs[Double]("survival"))).toMap
    assert(r(1L) === ((2L, 1.0)))
    assert(r(4L) === ((1L, 0.0)))
  }

  test("gini: equal rows 0, lone holder 2/3, singleton 0") {
    val rows = Seq(("eq", 1.0), ("eq", 1.0), ("eq", 1.0),
      ("conc", 0.0), ("conc", 0.0), ("conc", 3.0), ("one", 5.0))
      .toDF("segment", "amount")
    val r = Olap.giniIndex(rows, "segment", "amount").collect()
      .map(x => x.getAs[String]("segment") ->
        (x.getAs[Long]("n_rows"),
          Option(x.getAs[java.lang.Double]("gini")))).toMap
    assert(r("eq") === ((3L, Some(0.0))))
    assert(r("conc") === ((3L, Some(2.0 / 3.0))))
    assert(r("one") === ((1L, Some(0.0))))
  }

  test("seasonal dow: weekly bump recovered exactly, mean-zero profile") {
    import graft.operators.Temporal
    // 21 consecutive days from Sunday 2024-03-03: 7.00 every day,
    // +0.70 on Sundays. Every centered 7-day window spans one full
    // period (sum7 = 4970), so detr7 = 7·cents − 4970: Sunday 420,
    // others −70 → seasonal 60.0 / −10.0 cents, for every window
    // position — the edges (3 days each side) drop out.
    val rows = (0 until 21).map { i =>
      val day = java.time.LocalDate.of(2024, 3, 3).plusDays(i)
      val v = if (day.getDayOfWeek == java.time.DayOfWeek.SUNDAY)
        7.70 else 7.00
      (i.toLong, java.sql.Timestamp.valueOf(s"$day 12:00:00"), 1L,
        "k", v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Temporal.seasonalDow(rows)
      .collect().map(r => r.getAs[Int]("dow") ->
        ((r.getAs[Long]("n_days"), r.getAs[Double]("seasonal_cents"))))
      .toMap
    assert(got.keySet === (1 to 7).toSet)
    // trimmed spine = days 4..18 of 21: two of each weekday, except
    // Wednesday (dow 4) which lands the 15th day
    assert(got(1) === ((2L, 60.0)))
    assert(got(4)._1 === 3L)
    (2 to 7).foreach(d => assert(got(d)._2 === -10.0))
    // the recovered weekly profile sums to zero across the 7 weekdays
    // (60 − 6·10): a pure periodic signal detrends to a mean-zero shape
    assert(math.abs(got.values.map(_._2).sum) < 1e-6)
  }

  test("cep: latest-predecessor chains, order and within enforced") {
    import graft.operators.Temporal
    val fx = Seq(
      // u1: view → (error) → click → purchase, plus a second purchase:
      // BOTH purchases match, sharing the same click/view chain
      ev(1, "2024-01-01 08:00:00", 1, "view", 0),
      ev(2, "2024-01-01 08:00:05", 1, "error", 0),
      ev(3, "2024-01-01 08:00:10", 1, "click", 0),
      ev(4, "2024-01-01 08:00:20", 1, "purchase", 0),
      ev(5, "2024-01-01 08:00:30", 1, "purchase", 0),
      // u2: click BEFORE any view → no chain
      ev(6, "2024-01-01 08:00:00", 2, "click", 0),
      ev(7, "2024-01-01 08:00:05", 2, "view", 0),
      ev(8, "2024-01-01 08:00:10", 2, "purchase", 0),
      // u3: complete chain but spanning > within
      ev(9, "2024-01-01 08:00:00", 3, "view", 0),
      ev(10, "2024-01-01 08:10:00", 3, "click", 0),
      ev(11, "2024-01-01 09:30:00", 3, "purchase", 0),
      // u4: TWO views before the click — the chain anchors on the
      // LATEST one (skip-till-next-match binding)
      ev(12, "2024-01-01 08:00:00", 4, "view", 0),
      ev(13, "2024-01-01 08:00:05", 4, "view", 0),
      ev(14, "2024-01-01 08:00:10", 4, "click", 0),
      ev(15, "2024-01-01 08:00:15", 4, "purchase", 0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Temporal.cepPattern(fx, Seq("view", "click", "purchase"),
        withinSeconds = 3600L)
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("start_id"), r.getAs[Long]("end_id"),
        r.getAs[Long]("dur_us"))).toSet
    assert(got === Set(
      (1L, 1L, 4L, 20000000L), // first purchase, anchored at view #1
      (1L, 1L, 5L, 30000000L), // second purchase shares the chain
      (4L, 13L, 15L, 10000000L))) // anchored on the LATEST view (#13)
    // u2 (wrong order) and u3 (span 90 min > 60 min) never match
  }
}
