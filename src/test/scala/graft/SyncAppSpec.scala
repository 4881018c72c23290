package graft

import graft.operators.SyncFixture
import graft.sources.StateStore
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import org.apache.spark.graft.Listeners
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** App layer: the two reference entry points are one parameterized sync;
  * repeated nightly runs are state-idempotent; one run classifies once. */
class SyncAppSpec extends SparkSpec {

  private def paths(): SyncApp.Paths = {
    val b = Files.createTempDirectory("graft-app").toString
    SyncApp.Paths(s"$b/state", s"$b/audit", s"$b/conflicts")
  }

  /** Fresh paths whose state holds the fixture's prior state. */
  private def seededPaths(): SyncApp.Paths = {
    val p = paths()
    StateStore.overwrite(SyncFixture.state(spark, sf0001)
      .select(StateStore.StateSchema.fieldNames.map(col): _*), p.state)
    p
  }

  private def syncFixture(p: SyncApp.Paths): SyncApp.RunSummary =
    SyncApp.sync(SyncFixture.source(spark, sf0001), p,
      SyncFixture.WindowStart, SyncFixture.WindowEnd)

  /** Every node of an executed plan, through AQE stages and into cached
    * plans. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case o => o.children.flatMap(nodes)
  })

  private def scansOf(p: SparkPlan, dir: String): Seq[FileSourceScanExec] =
    nodes(p).collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(dir)) => f
    }

  private def readsCache(p: SparkPlan): Boolean = p match {
    case a: AdaptiveSparkPlanExec => readsCache(a.executedPlan)
    case s: QueryStageExec => readsCache(s.plan)
    case _: InMemoryTableScanExec => true
    case o => o.children.exists(readsCache)
  }

  test("sincronizarRango validates and parses d/M/yyyy") {
    val p = paths()
    val src = SyncFixture.source(spark, sf0001)
    val r = SyncApp.sincronizarRango(src, p, "1/6/2001", "1/8/2001")
    assert(r.actions.getOrElse("NUEVO", 0L) > 0)
    intercept[IllegalArgumentException] {
      SyncApp.sincronizarRango(src, p, "2/8/2001", "1/8/2001")
    }
  }

  test("nightly rerun is state-idempotent") {
    val p = paths()
    val src = SyncFixture.source(spark, sf0001)
    val today = LocalDate.parse(SyncFixture.WindowEnd)
    val r1 = SyncApp.sincronizarConciliacion(src, p, today, lookbackDays = 61)
    val n1 = StateStore.readOrCreate(spark, p.state).count()
    val r2 = SyncApp.sincronizarConciliacion(src, p, today, lookbackDays = 61)
    val n2 = StateStore.readOrCreate(spark, p.state).count()
    assert(r1.actions.getOrElse("NUEVO", 0L) > 0)
    assert(r2.actions.getOrElse("NUEVO", 0L) === 0)
    assert(r2.actions.getOrElse("SIN_CAMBIOS", 0L) === n1)
    assert(n1 === n2)
    // all in-window rows were inserts (audit logs only updates/moves/
    // conflicts/deletes/duplicates — SyncEngineSpec covers those)
  }

  test("sync runs the state scan and full-outer join once per run") {
    val p = seededPaths()
    val stateRows = StateStore.readOrCreate(spark, p.state).count()
    val plans = mutable.ArrayBuffer[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    Listeners.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      syncFixture(p)
      Listeners.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)

    // full-outer joins over the state scan, per execution in run order; a
    // join node shared with an earlier execution sits in a cached plan
    // that earlier execution already ran
    val joins = plans.toSeq.map(pl => nodes(pl).collect {
      case j: BaseJoinExec
          if j.joinType == FullOuter && scansOf(j, p.state).nonEmpty => j
    })
    val seen = mutable.ArrayBuffer[SparkPlan]()
    val runsJoin = joins.map { js =>
      val fresh = js.filterNot(j => seen.exists(_ eq j))
      seen ++= fresh
      fresh.nonEmpty
    }
    assert(plans.size >= 4, "summary collect + three writes")
    assert(runsJoin.count(identity) === 1,
      s"executions running the join: ${runsJoin.mkString(", ")}")
    // ...and that one join scanned the state exactly once
    val scanned = seen.flatMap(scansOf(_, p.state)).distinct
      .map(_.metrics("numOutputRows").value).sum
    assert(scanned === stateRows)
    // every other execution that touches the state reads the cache
    plans.zip(runsJoin).filterNot(_._2).map(_._1)
      .filter(pl => scansOf(pl, p.state).nonEmpty)
      .foreach(pl => assert(readsCache(pl), pl.treeString))
  }

  test("sync releases its cache; a failed write commits no state") {
    def cacheEmpty = spark.sharedState.cacheManager.isEmpty
    spark.catalog.clearCache()
    syncFixture(seededPaths())
    assert(cacheEmpty)

    // the conflicts sink is a regular file: the run throws after the
    // audit append, before the state overwrite
    val p = seededPaths()
    Files.writeString(Paths.get(p.conflicts), "not a parquet directory")
    val before = StateStore.committedVersions(spark, p.state)
    intercept[Exception](syncFixture(p))
    assert(cacheEmpty)
    assert(StateStore.committedVersions(spark, p.state) === before)
  }
}
