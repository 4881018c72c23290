package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Multi-dimensional OLAP surface: grouping-set aggregations
  * (ROLLUP/CUBE with `grouping_id` disambiguation), pivot/unpivot
  * reshaping, change-log → SCD2 history compaction, per-key date-spine
  * gap filling (LOCF), and a Deequ-style data-expectations report.
  *
  * The reference's report sheets materialize exactly these shapes by
  * hand: the per-month/per-method totals grid in `Cierres`
  * (`Code.gs:1545-1620`) is a pivot with a rolled-up total row, and
  * the audit trail (`Code.gs:1230-1260`) is the change log an SCD2
  * compaction consumes. Here they are declarative one-pass plans:
  * rollup/cube are a single `Expand`-backed hash aggregate (one scan,
  * one shuffle, partial aggregation map-side); the pivot is one hash
  * aggregate over an EXPLICIT value list — never the
  * collect-distinct-first two-job shape, which at 100 TB would scan
  * the fact table once just to learn the column set.
  */
object Olap {

  /** Explicit pivot domain: declared, not discovered. An implicit
    * `pivot(col)` runs a distinct-scan job to learn the values first —
    * the declared list keeps the pivot to ONE aggregate over one scan
    * and makes the output schema stable under data drift (a new event
    * type lands nowhere instead of silently widening the matrix). */
  val EventTypes: Seq[String] =
    Seq("click", "error", "purchase", "signup", "view")

  private def decTotal(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Doc-count / char-mass totals at every ROLLUP level of
    * (source, lang): leaf, per-source, grand total. `grouping_id()`
    * distinguishes a rolled-up NULL from a genuine NULL key — without
    * it the two collide in every downstream consumer. One scan, one
    * shuffle: Catalyst plans rollup as Expand (3 replicas per row)
    * into a single hash aggregate with map-side partials, so the
    * 100 TB cost is the scan plus a keys-sized exchange, not one
    * job per level. */
  def rollupStats(docs: DataFrame): DataFrame =
    docs.rollup(col("source"), col("lang"))
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))

  /** All four CUBE levels of (source, lang) — adds the per-lang
    * marginal the rollup lacks. Same single Expand-aggregate plan
    * (4 replicas per row). */
  def cubeStats(docs: DataFrame): DataFrame =
    docs.cube(col("source"), col("lang"))
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))

  /** Day × event-type count matrix: one hash aggregate keyed on day,
    * with the five declared type columns as conditional counts —
    * exactly what `.pivot(col, values)` lowers to, MINUS the extra
    * pre-aggregate it plans (the built-in pivot is two aggregates and
    * two exchanges; the conditional form is one of each, map-side
    * partials included). Absent combinations are an explicit 0 (a
    * pivot cell null means "no rows", which IS a count of zero —
    * leaving it null poisons downstream arithmetic); `count(when)`
    * yields that 0 natively. */
  def pivotDaily(events: DataFrame): DataFrame = {
    val cells = EventTypes.map(t =>
      count(when(col("event_type") === t, 1)).as(t))
    events
      .select(to_date(col("ts")).as("day"), col("event_type"))
      .groupBy(col("day"))
      .agg(cells.head, cells.tail: _*)
  }

  /** The inverse reshape: the pivoted day matrix melted back to long
    * (day, event_type, cnt) — zero cells included, proving the
    * pivot/unpivot pair round-trips. Unpivot is a zero-shuffle
    * projection (each input row fans out to 5), so the pair costs
    * exactly the pivot's single aggregate. */
  def unpivotDaily(events: DataFrame): DataFrame = {
    val p = pivotDaily(events)
    p.unpivot(
      ids = Array(col("day")),
      values = EventTypes.map(col).toArray,
      variableColumnName = "event_type",
      valueColumnName = "cnt")
  }

  /** Change-log → SCD2 (type-2 slowly-changing-dimension) compaction:
    * collapse each user's event stream into validity intervals of the
    * tracked attribute (`event_type` here), keeping only rows where
    * the attribute actually changed. `valid_to` is the next change's
    * start (half-open interval); the open row is `is_current`.
    *
    * Both window passes share ONE partitioning (`user_id`), so the
    * plan is a single shuffle + sort reused by both lag and lead —
    * the 100 TB shape for history compaction, embarrassingly parallel
    * across keys. Ordering is (ts, event_id): the id tiebreak makes
    * the compaction deterministic even if a source ever ships
    * same-timestamp events. */
  def scd2History(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNull ||
        col("prev_type") =!= col("event_type"))
      .withColumn("valid_to", lead(col("ts"), 1).over(byUser))
      .select(col("user_id"), col("event_type"),
        col("ts").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  /** Per-user daily totals on a dense date spine with
    * last-observation-carried-forward fill: every user gets one row
    * per calendar day between their first and last event; days with
    * no events carry the previous observed total (`is_gap` marks
    * them). Shape: one `lead()` pass over the keys-sized daily
    * aggregate finds each observation's run end, and `sequence` +
    * explode emits the run's days carrying the observed value — the
    * fill is the run's own projection, so there is no spine relation,
    * no fill window, and no join at all (a spine⋈daily shape would
    * scan the fact table twice; a per-gap self-join would be
    * quadratic in gap length). */
  def gapFillLocf(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(decTotal(col("value")).as("day_total"))
    // Each observation emits its own run of carried days — [day,
    // next observation) — so the dense spine, the fill value, and the
    // gap flag all fall out of ONE lead() pass over the keys-sized
    // daily aggregate: one fact scan, no spine build, no spine⋈daily
    // join (the join shape would scan the fact table twice and
    // re-aggregate it for each branch — subplans don't share without
    // materialization).
    val nextDay = Window.partitionBy(col("user_id"))
      .orderBy(col("obs_day"))
    daily.select(col("user_id"), col("day").as("obs_day"),
        col("day_total"))
      .withColumn("run_end",
        coalesce(date_sub(lead(col("obs_day"), 1).over(nextDay), 1),
          col("obs_day")))
      .select(col("user_id"),
        explode(sequence(col("obs_day"), col("run_end"))).as("day"),
        col("day_total").as("filled_total"), col("obs_day"))
      .select(col("user_id"), col("day"), col("filled_total"),
        (col("day") =!= col("obs_day")).as("is_gap"))
  }

  /** Deequ-style expectations report over the order facts: one row
    * per declared constraint with its violation count and verdict.
    * The row-level checks (nullness, range, domain) and the key
    * uniqueness check fuse into a SINGLE scan-and-aggregate (the
    * conditional sums and the distinct-key count share one pass);
    * referential integrity is the one constraint that genuinely needs
    * a second relation — a left-anti join against the broadcast-able
    * key column of `orders`. Three jobs total regardless of fact
    * size; the report itself is constraints-sized. */
  def expectations(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val spark = lineitem.sparkSession
    import spark.implicits._
    val rowLevel = lineitem.agg(
      sum(when(col("l_orderkey").isNull, 1L).otherwise(0L))
        .as("null_orderkey"),
      sum(when(col("l_quantity").between(1, 30), 0L).otherwise(1L))
        .as("qty_out_of_range"),
      sum(when(col("l_returnflag").isin("A", "N", "R"), 0L)
        .otherwise(1L)).as("flag_out_of_domain"),
      sum(when(col("l_discount").between(0.0, 0.11), 0L).otherwise(1L))
        .as("discount_out_of_range"),
      (count(lit(1)) -
        countDistinct(col("l_orderkey"), col("l_linenumber")))
        .as("dup_line_keys"))
    val fkOrphans = lineitem.select(col("l_orderkey"))
      .join(broadcast(orders.select(col("o_orderkey"))),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v"))
      .select(lit("fk_lineitem_orders").as("check_name"),
        col("v").as("violations"))
    val named = rowLevel.select(explode(map(
      lit("null_l_orderkey"), col("null_orderkey"),
      lit("l_quantity_in_1_30"), col("qty_out_of_range"),
      lit("l_returnflag_in_ANR"), col("flag_out_of_domain"),
      lit("l_discount_in_0_011"), col("discount_out_of_range"),
      lit("pk_orderkey_linenumber_unique"), col("dup_line_keys")))
      .as(Seq("check_name", "violations")))
    named.unionByName(fkOrphans)
      .withColumn("pass", col("violations") === 0L)
  }

  /** CDC log apply — fold a Debezium-style change stream
    * (`op ∈ {I, U, D}`, totally ordered per key by `(ts, seq)`) into
    * the final snapshot: each key lands on its LAST operation, delete
    * wins by vanishing. ONE map-side-combining aggregate via a struct
    * max ordered lexicographically on `(ts, seq)` — no window, and
    * the EXCHANGE carries one partially-combined row per key
    * regardless of how many ops a hot key accumulated. The
    * row_number() formulation instead shuffles the RAW log and sorts
    * it after — at 100 TB the shuffle volume is the cost axis, so the
    * aggregate wins even though a struct-typed max buffer is not
    * HashAggregate-eligible (Spark plans a partial SortAggregate: the
    * sort is per-partition, spillable, and pre-combine — PlanSpec
    * pins the no-window / one-keys-sized-exchange shape).
    * Out-of-order arrival is free: max() is commutative, so a late-
    * delivered op lands the same SNAPSHOT columns (`last_ts`,
    * `last_value`, the delete decision) from any arrival order — the
    * idempotence the reference's nightly re-scan window relies on
    * (`Code.gs:666-669`), generalized to op-coded logs. `n_ops` is a
    * diagnostic count of log ROWS, so a physically duplicated row
    * does increment it; a caller that needs replay-proof counts
    * dedups the log on `(key, ts, seq)` first (the exactly-once
    * question belongs to the transport, as in `bootstrapOrAppend`'s
    * batch tags).
    *
    * The op rides the max struct as an INT code, not the string,
    * keeping the sort key compare branch-cheap and the buffer
    * fixed-width. */
  def cdcApply(log: DataFrame, keyCol: String = "key",
      tsCol: String = "ts", seqCol: String = "seq",
      opCol: String = "op", valueCol: String = "value"): DataFrame = {
    val opCode = when(col(opCol) === "D", 2)
      .when(col(opCol) === "U", 1).otherwise(0)
    val last = log.groupBy(col(keyCol))
      .agg(max(struct(col(tsCol).as("t"), col(seqCol).as("q"),
        opCode.as("o"), col(valueCol).as("v"))).as("last"),
        count(lit(1)).as("n_ops"))
    last.filter(col("last.o") =!= 2)
      .select(col(keyCol), col("last.t").as("last_ts"),
        col("last.v").as("last_value"), col("n_ops"))
  }

  /** Generic keyed table diff — the snapshot-audit operator: which
    * rows were added, removed, or changed between two versions of a
    * keyed relation. One full-outer join on the key (shuffle on both
    * sides' keys — at 100 TB both versions co-partition if stored
    * bucketed, making this exchange-free), unchanged rows dropped via
    * null-safe value comparison. `old_`/`new_` column pairs carry
    * both sides; added/removed rows show NULL on the absent side. */
  def tableDiff(oldDf: DataFrame, newDf: DataFrame,
      keys: Seq[String], vals: Seq[String]): DataFrame = {
    val o = oldDf.select((keys ++ vals).map(col): _*)
      .withColumn("__old", lit(1))
    val n = newDf.select((keys ++ vals).map(col): _*)
      .withColumn("__new", lit(1))
    val joined = o.as("o").join(n.as("n"),
      keys.map(k => col(s"o.$k") <=> col(s"n.$k")).reduce(_ && _),
      "full_outer")
    val kind = when(col("o.__old").isNull, lit("added"))
      .when(col("n.__new").isNull, lit("removed"))
      .otherwise(lit("changed"))
    val changedVals = vals.map(v =>
      !(col(s"o.$v") <=> col(s"n.$v"))).reduce(_ || _)
    joined
      .filter(col("o.__old").isNull || col("n.__new").isNull ||
        changedVals)
      .select(keys.map(k => coalesce(col(s"o.$k"), col(s"n.$k")).as(k))
        ++ Seq(kind.as("change_kind"))
        ++ vals.flatMap(v => Seq(col(s"o.$v").as(s"old_$v"),
          col(s"n.$v").as(s"new_$v"))): _*)
  }

  /** Equi-depth histogram of per-key daily totals: `buckets` ntile
    * bins over the total-ordered (value, day) sequence, each reported
    * with its population and [lo, hi] value range — the quantile-bin
    * profile a monitoring dashboard draws (equi-WIDTH bins collapse
    * under skew; equi-depth adapts). ntile over a TOTAL order is
    * engine-exact (both engines deal larger buckets first), the same
    * contract `x_quality_tiers` pins; the windows run over the
    * keys-sized daily frame, and at web scale the per-key sort swaps
    * for GK quantile thresholds exactly as `qualityBucketsApprox`
    * does. */
  def equiDepthHist(events: DataFrame, buckets: Int = 4,
      keyCol: String = "event_type", tsCol: String = "ts",
      valueCol: String = "value"): DataFrame = {
    val daily = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(sum(col(valueCol).cast(DecimalType(18, 2))).as("dtot"))
    daily
      .withColumn("bucket", ntile(buckets).over(Window
        .partitionBy(col(keyCol)).orderBy(col("dtot"), col("day"))))
      .groupBy(col(keyCol), col("bucket"))
      .agg(count(lit(1)).as("n_days"),
        min(col("dtot")).cast("double").as("lo"),
        max(col("dtot")).cast("double").as("hi"))
  }

  /** Pairwise Pearson correlation over numeric fact columns, exact
    * where it matters: all five sufficient statistics (Σx, Σy, Σx²,
    * Σy², Σxy) accumulate as DECIMALS (2dp inputs → 4dp products,
    * exact), so the shuffle order can't move a bit; only the final
    * closed-form `(nΣxy − ΣxΣy) / (√(nΣx²−Σx²)·√(nΣy²−Σy²))` runs in
    * doubles, as the identical IEEE op sequence on both engines
    * (`corr()` built-ins stream in arrival order and differ per
    * partitioning — unusable under a hash oracle). ONE scan computes
    * every pair's statistics. */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    def s1(c: String) =
      sum(col(c).cast(DecimalType(18, 2))).cast("double").as(s"s_$c")
    def s2(c: String) =
      sum((col(c) * col(c)).cast(DecimalType(28, 4))).cast("double")
        .as(s"ss_$c")
    val sxy = pairs.map { case (a, b) =>
      sum((col(a) * col(b)).cast(DecimalType(28, 4))).cast("double")
        .as(s"sp_${a}_$b")
    }
    val aggs = (cols.map(s1) ++ cols.map(s2) ++ sxy) :+
      count(lit(1)).cast("double").as("n")
    // project to the correlated columns, then fan a narrow scan out to
    // the session width (r14, guide §2.3/§2.4): the sufficient-statistic
    // aggregate is ~2·|cols|+|pairs| decimal multiplies per row — at a
    // single-row-group file's scan parallelism the whole pass ran in 3
    // tasks (measured 3.3 s of a 3.5 s query). The shuffle moves only
    // the projected doubles, the decimal sums are order-independent, and
    // wide-at-scale inputs skip the shuffle via the partition-count
    // guard.
    val fanned = fanOut(df.select(cols.distinct.map(col): _*))
    val row = fanned.agg(aggs.head, aggs.tail: _*)
    val corrs = pairs.flatMap { case (a, b) =>
      val num = col("n") * col(s"sp_${a}_$b") -
        col(s"s_$a") * col(s"s_$b")
      val den = sqrt(col("n") * col(s"ss_$a") -
        col(s"s_$a") * col(s"s_$a")) *
        sqrt(col("n") * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b"))
      // round the quotient to 6dp: once a sufficient statistic
      // exceeds 2^53 scaled units, Spark's decimal→double
      // (single-rounded) and a value engine's int128→double-then-
      // divide (double-rounded) drift in the last ulp — the same
      // >53-bit hazard timeWeightedAvg documents
      Seq(lit(s"$a~$b"), round(num / den, 6))
    }
    row.select(explode(map(corrs: _*)).as(Seq("col_pair", "corr_val")))
  }

  /** Schema-driven column profiler: one long-format row per column
    * with row/null/distinct counts and min/max rendered as strings —
    * the first query anyone runs against an unknown table. ONE scan:
    * the conditional counts fuse into a single aggregate, and the
    * exact per-column distincts plan as Catalyst's multi-distinct
    * Expand (one branch per column) — still one pass over the data.
    * At 100 TB the exact distincts are the expensive part; production
    * profiling swaps in `approx_count_distinct` (HLL, no Expand) at
    * the cost of the oracle-replayable exactness pinned here.
    * Min/max aggregate over the NATIVE type (value order, not text
    * order), then render: doubles through decimal(18,2) and
    * timestamps through an explicit 6-digit-fraction format, so both
    * engines print identical text (Java's Double.toString and
    * fractional-second trimming diverge otherwise).
    *
    * The min/max aggregates run SEPARATELY from the count/distinct
    * aggregate and the two 1-row results cross-join: a `min(string)`
    * buffer is not HashAggregate-eligible, and ONE such column would
    * drag the whole multi-distinct Expand (cols+1 replicas of every
    * row) through SortAggregate's sorts — measured 5× slower on the
    * orders profile. Split, the Expand side keeps all-long buffers
    * (hash-aggregated), and the sort-aggregated side sees only the
    * un-expanded rows. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    def render(c: Column, name: String): Column =
      df.schema(name).dataType match {
        case org.apache.spark.sql.types.DoubleType =>
          c.cast(DecimalType(18, 2)).cast("string")
        case org.apache.spark.sql.types.TimestampType =>
          date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
        case _ => c.cast("string")
      }
    val statCols = cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__distinct"))
    } :+ count(lit(1)).as("__rows")
    val mmCols = cols.flatMap { c =>
      Seq(render(min(col(c)), c).as(s"${c}__min"),
        render(max(col(c)), c).as(s"${c}__max"))
    }
    val row = df.agg(statCols.head, statCols.tail: _*)
      .crossJoin(broadcast(df.agg(mmCols.head, mmCols.tail: _*)))
    row.select(explode(map(cols.flatMap(c => Seq(
        lit(c),
        struct(col("__rows").as("n_rows"),
          col(s"${c}__nulls").as("n_nulls"),
          col(s"${c}__distinct").as("n_distinct"),
          col(s"${c}__min").as("min_str"),
          col(s"${c}__max").as("max_str")))): _*))
        .as(Seq("column_name", "stats")))
      .select(col("column_name"), col("stats.n_rows"),
        col("stats.n_nulls"), col("stats.n_distinct"),
        col("stats.min_str"), col("stats.max_str"))
  }

  /** Association rules over (user, day) baskets: for every directed
    * event-type pair A→B, support / confidence / lift — the
    * market-basket summary behind "users who X also Y" (the PMI
    * collocation rung's transactional sibling: PMI scores word
    * co-occurrence inside documents, this scores event co-occurrence
    * inside activity baskets). ONE corpus shuffle: the distinct
    * (user, day, type) triples aggregate into per-basket type SETS,
    * and every downstream relation — basket count, per-type counts,
    * pair counts — explodes off that cached baskets-sized frame
    * (fan-out bounded by the type-alphabet², never a self-join of
    * the corpus). All three ratios are SINGLE IEEE divisions of
    * exact bigint products (`lift = n_both·n_baskets / (n_a·n_b)` —
    * one division, not a quotient of quotients), bit-identical
    * across engines with no rounding step. */
  def associationRules(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", typeCol: String = "event_type")
      : DataFrame = {
    val baskets = events
      .groupBy(col(userCol), to_date(col(tsCol)).as("day"))
      .agg(collect_set(col(typeCol)).as("types"))
    val cached = CacheRegistry.tracked(baskets)
    val nBaskets = cached.agg(count(lit(1)).as("n_baskets"))
    val perType = cached
      .select(explode(col("types")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
    val pairs = cached
      .select(explode(col("types")).as("antecedent"), col("types"))
      .select(col("antecedent"),
        explode(col("types")).as("consequent"))
      .filter(col("antecedent") =!= col("consequent"))
      .groupBy(col("antecedent"), col("consequent"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(perType.select(col("t"), col("n").as("n_ante"))),
        col("t") === col("antecedent")).drop("t")
      .join(broadcast(perType.select(col("t"), col("n").as("n_cons"))),
        col("t") === col("consequent")).drop("t")
      .crossJoin(broadcast(nBaskets))
      .select(col("antecedent"), col("consequent"), col("n_both"),
        col("n_ante"), col("n_cons"), col("n_baskets"),
        (col("n_both").cast("double") / col("n_baskets"))
          .as("support"),
        (col("n_both").cast("double") / col("n_ante"))
          .as("confidence"),
        ((col("n_both") * col("n_baskets")).cast("double") /
          (col("n_ante") * col("n_cons"))).as("lift"))
  }

  /** Benford first-digit profile: the distribution of leading
    * significant digits against Benford's law — the classic
    * books-audit fraud screen (organic financial amounts follow
    * log₁₀(1+1/d); fabricated or synthetic ones don't, and THIS
    * synthetic corpus correctly fails the test). The digit comes
    * from integer-cents string rendering, never floor(log₁₀) — the
    * float log at a power-of-ten boundary misassigns the digit.
    * Frequencies are single IEEE divisions of exact counts; the
    * expectation is rounded to 6dp; closeness is a BOUND boolean
    * (robust to the last-ulp difference between the two engines'
    * log₁₀). One scan, one 9-row aggregate. */
  def benfordProfile(df: DataFrame, valueCol: String,
      tol: Double = 0.02): DataFrame = {
    val digits = df
      .filter(col(valueCol) > 0.0)
      .select(substring(round(col(valueCol) * 100, 0).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("cnt"))
    val total = digits.agg(sum(col("cnt")).as("total"))
    digits.crossJoin(broadcast(total))
      .select(col("digit"), col("cnt"),
        (col("cnt").cast("double") / col("total")).as("freq"),
        round(log10(lit(1.0) + lit(1.0) / col("digit")), 6)
          .as("benford_expected"),
        (abs(col("cnt").cast("double") / col("total") -
          log10(lit(1.0) + lit(1.0) / col("digit"))) < tol)
          .as("benford_close"))
  }

  /** 2-D skyline (Pareto frontier, maximizing both columns): the
    * rows no other row beats on BOTH axes — "latest AND largest"
    * candidate sets for review queues. Never the O(n²) dominance
    * anti-join: grouping by x gives each x-value its max y, and one
    * descending sweep over that DISTINCT-x frame carries the running
    * max y of all STRICTLY larger x (rowsBetween excluding current —
    * after the groupBy, preceding rows are exactly the larger
    * x-values); a row survives iff that carried max is below its y
    * and it holds its own x-group's max (equal points co-survive:
    * dominance requires a strict axis). The global window orders the
    * distinct-x frame, not the corpus — at cluster scale the sweep
    * becomes per-range-partition local skylines + a boundary-max
    * fix-up pass, same contract. */
  def skyline2D(df: DataFrame, xCol: String, yCol: String,
      keepCols: Seq[String]): DataFrame = {
    val perX = df.groupBy(col(xCol))
      .agg(max(col(yCol)).as("__ymax"))
    val sweep = Window.orderBy(col(xCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = perX
      .withColumn("__ygt", max(col("__ymax")).over(sweep))
    df.join(frontier, Seq(xCol))
      .filter((col("__ygt").isNull || col("__ygt") < col(yCol)) &&
        col(yCol) === col("__ymax"))
      .select(keepCols.map(col): _*)
  }

  /** Gini concentration index per group over integer-cent amounts:
    * `Σ(2i−n−1)·xᵢ / (n·Σxᵢ)` with xᵢ ascending — 0 = everyone
    * equal, →1 = one row holds everything; the revenue-concentration
    * lens a per-segment dashboard draws. Sort-rank ties are FREE:
    * equal amounts swap identical weight sums, so the bigint
    * numerator is permutation-invariant under any row_number tie
    * order — exact sums, one closing IEEE division (long→double
    * conversion is correctly rounded on both engines). The per-group
    * sort is the cost: at web scale the exact ranks swap for GK
    * quantile bucketing exactly as the histogram rungs do. */
  def giniIndex(df: DataFrame, groupCol: String, valueCol: String)
      : DataFrame = {
    val cents = df.select(col(groupCol),
      round(col(valueCol) * 100, 0).cast("long").as("__cents"))
    val byGroup = Window.partitionBy(col(groupCol))
    val ranked = cents
      .withColumn("__i", row_number().over(byGroup
        .orderBy(col("__cents"))))
      .withColumn("__n", count(lit(1)).over(byGroup))
    ranked.groupBy(col(groupCol))
      .agg(max(col("__n")).as("n_rows"),
        (sum((lit(2) * col("__i") - col("__n") - 1) * col("__cents"))
          .cast("double") /
          nullif((max(col("__n")) * sum(col("__cents")))
            .cast("double"), lit(0.0))).as("gini"))
  }

  /** RFM customer segmentation: quartile scores over Recency (days
    * since the customer's last order, anchored at the corpus max
    * order day — a replayable anchor, never wall-clock "today"),
    * Frequency (order count) and Monetary (integer-cent total), plus
    * the classic named segments. Scores are exact global `ntile(4)`
    * ranks over the CUSTOMER-sized frame with a custkey tiebreak
    * (deterministic under equal values, so the quartile boundary is
    * engine-exact — the `x_quality_tiers` contract); the fact table
    * is reduced to one row per customer by a single partial-combining
    * aggregate before any window sees it. At web scale the three
    * exact total-order ntiles swap for GK quantile thresholds +
    * broadcast exactly as `qualityBucketsApprox` does. */
  def rfmSegment(orders: DataFrame, custKey: String = "o_custkey",
      dateCol: String = "o_orderdate", priceCol: String = "o_totalprice")
      : DataFrame = {
    val perCust = orders
      .groupBy(col(custKey).as("custkey"))
      .agg(max(to_date(col(dateCol))).as("last_day"),
        count(lit(1)).as("n_orders"),
        sum(round(col(priceCol) * 100, 0).cast("long")).as("m_cents"))
    val anchor = perCust.agg(max(col("last_day")).as("corpus_day"))
    val scored = perCust.crossJoin(broadcast(anchor))
      .withColumn("r_days",
        datediff(col("corpus_day"), col("last_day")).cast("long"))
    // ntile(4) = 4 is the BEST quartile on each axis: most recent
    // (r_days descending puts the largest gaps in bucket 1), most
    // frequent, biggest spender.
    val rQ = Window.orderBy(col("r_days").desc, col("custkey"))
    val fQ = Window.orderBy(col("n_orders"), col("custkey"))
    val mQ = Window.orderBy(col("m_cents"), col("custkey"))
    scored
      .withColumn("r_score", ntile(4).over(rQ))
      .withColumn("f_score", ntile(4).over(fQ))
      .withColumn("m_score", ntile(4).over(mQ))
      .withColumn("segment",
        when(col("r_score") >= 3 && col("f_score") >= 3 &&
          col("m_score") >= 3, "champion")
          .when(col("r_score") >= 3 && col("m_score") >= 3,
            "big_spender_recent")
          .when(col("r_score") >= 3, "promising")
          .when(col("f_score") >= 3 || col("m_score") >= 3,
            "at_risk_valuable")
          .otherwise("hibernating"))
      .select(col("custkey"), col("r_days"), col("n_orders"),
        col("m_cents"), col("r_score"), col("f_score"),
        col("m_score"), col("segment"))
  }

  /** Pearson χ² independence screen between two categorical columns:
    * per-cell observed count, expected count under independence, and
    * the cell's χ² contribution, plus the table's degrees of freedom.
    * Everything is exact integer arithmetic until per-cell DOUBLE
    * division: observed/row/col/total counts are bigint sums, the
    * deviation `O·N − r·c` is an exact int64 difference, and both the
    * squared deviation and the `r·c·N` denominator convert to double
    * correctly-rounded on each engine before the one division — every
    * IEEE op is mirrored, so the output is bit-deterministic with no
    * rounding step. The contingency table is cells-sized (|A|×|B|), so
    * row/col/total marginals broadcast; at petabyte scale only the
    * first observed-counts aggregate touches the fact table. Int64
    * bounds: `O·N` caps at ~4×10⁹ rows before the deviation product
    * needs the decimal(38) widening (documented, not needed here). */
  def chiSquareIndep(df: DataFrame, aCol: String, bCol: String)
      : DataFrame = {
    val obs = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("n_obs"))
    val cells = CacheRegistry.tracked(obs)
    val rowT = cells.groupBy(col("a"))
      .agg(sum(col("n_obs")).as("row_total"))
    val colT = cells.groupBy(col("b"))
      .agg(sum(col("n_obs")).as("col_total"))
    val tot = cells.agg(sum(col("n_obs")).as("n_total"),
      ((countDistinct(col("a")) - 1) *
        (countDistinct(col("b")) - 1)).as("dof"))
    val dev = col("n_obs") * col("n_total") -
      col("row_total") * col("col_total")
    cells
      .join(broadcast(rowT), Seq("a"))
      .join(broadcast(colT), Seq("b"))
      .crossJoin(broadcast(tot))
      .select(col("a"), col("b"), col("n_obs"), col("row_total"),
        col("col_total"), col("n_total"), col("dof"),
        ((col("row_total") * col("col_total")).cast("double") /
          col("n_total").cast("double")).as("expected"),
        ((dev.cast("double") * dev.cast("double")) /
          ((col("row_total") * col("col_total")).cast("double") *
            col("n_total").cast("double"))).as("chi2_cell"))
  }

  /** Winsorized robust statistics per group: integer-cent values
    * clipped at the group's nearest-rank p05/p95 before summing —
    * the heavy-tail-resistant companion to [[giniIndex]] (one whale
    * order moves a plain mean arbitrarily; the winsorized mean is
    * bounded by the p95 value). Percentile indexes are PURE INTEGER
    * ceil arithmetic (`⌈p·n⌉ = (p·n + den−1) div den` — no float
    * percentile, which interpolates differently across engines), the
    * rank/bound/clip/sum pipeline shares ONE exchange on the group
    * key (rank window, conditional bound windows, and the final
    * aggregate all partition identically), and every output column
    * except the single closing mean division is an exact integer. The
    * per-group sort is the cost; the web-scale swap is GK thresholds
    * (rank tolerance instead of exactness), same as the tier rungs. */
  def winsorizedStats(df: DataFrame, groupCol: String,
      valueCol: String, loNum: Int = 5, hiNum: Int = 95,
      den: Int = 100): DataFrame = {
    val cents = df.select(col(groupCol),
      round(col(valueCol) * 100, 0).cast("long").as("__cents"))
    val byGroup = Window.partitionBy(col(groupCol))
    val ranked = cents
      .withColumn("__i", row_number().over(byGroup
        .orderBy(col("__cents"))))
      .withColumn("__n", count(lit(1)).over(byGroup))
      .withColumn("__ilo",
        greatest(lit(1L), ((lit(loNum.toLong) * col("__n") +
          lit((den - 1).toLong)) / lit(den.toLong)).cast("long")))
      .withColumn("__ihi",
        greatest(lit(1L), ((lit(hiNum.toLong) * col("__n") +
          lit((den - 1).toLong)) / lit(den.toLong)).cast("long")))
    val bounded = ranked
      .withColumn("__lo", max(when(col("__i") === col("__ilo"),
        col("__cents"))).over(byGroup))
      .withColumn("__hi", max(when(col("__i") === col("__ihi"),
        col("__cents"))).over(byGroup))
    bounded
      .withColumn("__w",
        least(greatest(col("__cents"), col("__lo")), col("__hi")))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        max(col("__lo")).as("lo_cents"),
        max(col("__hi")).as("hi_cents"),
        sum(col("__w")).as("w_sum_cents"),
        (sum(col("__w")).cast("double") /
          count(lit(1)).cast("double")).as("w_mean_cents"))
  }

  /** Higher-moment distribution profile per key: sample variance,
    * skewness g₁ and excess kurtosis g₂ from EXACT raw power sums —
    * ONE combining aggregate collects (n, Σc, Σc², Σc³, Σc⁴) as
    * decimal(38,0) over integer cents (order-independent, engine-
    * exact; c⁴ ≈ 10²⁰ per row keeps ~10¹⁷ rows of headroom at p38),
    * then the central moments expand algebraically
    * (M₂ = Σc²−S²/n, M₃ = Σc³−3SΣc²/n+2S³/n², M₄ = Σc⁴−4SΣc³/n+
    * 6S²Σc²/n²−3S⁴/n³) in a FIXED scalar IEEE chain mirrored in the
    * oracle; `(M₂/n)^{3/2}` is written `(M₂/n)·√(M₂/n)` so the only
    * transcendental is the correctly-rounded sqrt. Skew answers
    * "which tail is heavy", kurtosis "how heavy" — the two numbers a
    * mean/stddev profile cannot see (revenue metrics routinely pass a
    * t-test gate while g₁ says the lift is three whales). n < 3 (or
    * zero spread) yields NULL shape stats, never an error. */
  def momentsProfile(events: DataFrame, keyCol: String = "event_type",
      valueCol: String = "value"): DataFrame = {
    val d38 = DecimalType(38, 0)
    val c = (col(valueCol).cast(DecimalType(18, 2)) * 100).cast("long")
    val c19 = c.cast(DecimalType(19, 0))
    val agg = events
      .select(col(keyCol).as("key"), c.as("c"), c19.as("c19"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
        sum((col("c19") * col("c19")).cast(d38)).as("s2"),
        sum(((col("c19") * col("c19")).cast(d38) * col("c19").cast(d38))
          .cast(d38)).as("s3"),
        sum((((col("c19") * col("c19")).cast(d38) *
          col("c19").cast(d38)).cast(d38) * col("c19").cast(d38))
          .cast(d38)).as("s4"))
    val n = col("n").cast("double")
    val s1 = col("s1").cast("double")
    val s2 = col("s2").cast("double")
    val s3 = col("s3").cast("double")
    val s4 = col("s4").cast("double")
    val m2 = s2 - (s1 * s1) / n
    val m3 = s3 - (lit(3.0) * s1 * s2) / n +
      (lit(2.0) * s1 * s1 * s1) / (n * n)
    val m4 = s4 - (lit(4.0) * s1 * s3) / n +
      (lit(6.0) * s1 * s1 * s2) / (n * n) -
      (lit(3.0) * s1 * s1 * s1 * s1) / (n * n * n)
    val v2 = m2 / n // population variance
    val ok = col("n") >= 3 && m2 > 0.0
    agg.select(col("key"), col("n"), col("s1").as("sum_cents"),
      (s1 / n).as("mean_cents"),
      when(col("n") >= 2, m2 / (n - lit(1.0))).as("variance"),
      when(ok, (m3 / n) / (v2 * sqrt(v2))).as("skewness"),
      when(ok, round((m4 / n) / (v2 * v2) - lit(3.0), 6))
        .as("kurtosis_excess"))
      .withColumn("skewness", round(col("skewness"), 6))
  }
}
