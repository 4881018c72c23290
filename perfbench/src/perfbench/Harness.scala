// The package gives the probe access to Spark's listener bus and to the
// QueryExecution attached to SQL execution-end events.
package org.apache.spark.sql.perfbench

import graft.SparkEntry
import graft.SyncApp
import graft.functions.Exprs
import graft.operators.SyncEngine
import graft.sources.StateStore
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.collection.mutable.ArrayBuffer

/** The benchmark's JVM side: one closed-loop client on one
  * session. It builds the session, warms up on the small inputs, sets up
  * the workload, runs ops until the time is up, then gathers what the
  * output checks need and writes everything to `<work>/result.json`.
  *
  * Arguments are `key=value`: workload, work, data, warm, seconds, trace,
  * cores, plus the workload's own (see the `Workload`s below). */
object Harness {

  // -------------------------------------------------------------- timing

  /** Epoch microseconds with nanoTime resolution, so harness spans and
    * listener event times (epoch ms) share one axis. */
  private val epochOffsetUs =
    System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs(): Long = System.nanoTime() / 1000L + epochOffsetUs

  // ---------------------------------------------------------------- json

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String =>
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      (b += '"').toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case xs: Array[_] => json(xs.toSeq)
    case other => json(other.toString)
  }

  // ------------------------------------------------------------- session

  def session(cores: Int, work: String): SparkSession = {
    // Bench.scala's session shape: the graft extensions, a codegen cache
    // sized past the query count, AQE inside cached plans, UTC.
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions())
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  // ------------------------------------------------------------ gc & heap

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans
  def gcMillis(): Long = {
    var t = 0L
    gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }

  /** Heap in use right after each collection, tracked as a running peak
    * from GC notifications. */
  object HeapAfterGc {
    @volatile var peak = 0L
    def install(): Unit = gcBeans.forEach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            var used = 0L
            info.getGcInfo.getMemoryUsageAfterGc.forEach((_, u) => used += u.getUsed)
            if (used > peak) peak = used
          }
        }, null, null)
      case _ => ()
    }
    /** Start a new peak from a full collection's live set. */
    def reset(): Unit = {
      System.gc()
      peak = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
  }

  // -------------------------------------------------------------- tracing

  final case class Span(id: Int, parent: Int, op: Int, name: String,
      layer: String, start: Long, end: Long) {
    def toJson: String = json(Map("id" -> id, "parent" -> parent,
      "op" -> op, "name" -> name, "layer" -> layer, "start_us" -> start,
      "end_us" -> end))
  }

  /** Spans kept in memory for the whole run; harness spans nest through
    * a stack, listener spans are attached after each op. */
  final class Tracer(val on: Boolean) {
    val spans = ArrayBuffer[Span]()
    private var nextId = 0
    private var stack = List.empty[Int]
    var op = -1
    def newId(): Int = { nextId += 1; nextId }
    def span[T](name: String, layer: String)(body: => T): T = {
      if (!on) return body
      val id = newId()
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = nowUs()
      try body
      finally {
        spans += Span(id, parent, op, name, layer, t0, nowUs())
        stack = stack.tail
      }
    }
    def opSpans(i: Int): Seq[Span] = spans.filter(_.op == i).toSeq
  }

  // ------------------------------------------------------------------ op

  final case class OpRecord(i: Int, name: String, startUs: Long,
      endUs: Long, error: Option[String], out: Map[String, Any],
      trace: Map[String, Any])

  trait Workload {
    /** Untimed set-up on the inputs at `dir`; returns named phase times. */
    def setup(spark: SparkSession, dir: String, warm: Boolean): Map[String, Double]
    /** Op `i` (warm-up ops run on the small inputs). */
    def op(spark: SparkSession, t: Tracer, i: Int, warm: Boolean): (String, Map[String, Any])
    def maxOps: Int
    /** The timed region ends at a multiple of this many ops. */
    def pass: Int = 1
    /** After the timed region: whatever the output checks need. */
    def checks(spark: SparkSession, ops: Seq[OpRecord]): Map[String, Any]
    def warmOps: Int
    def warmThreads: Int = 1
    /** Untimed preparation of timed op `i`, just before it starts. */
    def beforeOp(i: Int): Unit = ()
    /** Which ops a traced run traces (the others measure the overhead). */
    def traced(i: Int): Boolean = i % 2 == 0
  }

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val traceOn = opt("trace") == "1"
    val cores = opt("cores").toInt
    val phases = scala.collection.mutable.LinkedHashMap[String, Any]()
    phases("jvm_start_us") = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    HeapAfterGc.install()
    val spark = session(cores, work)
    phases("session_ready_us") = nowUs()
    val probe = new Probe(cores)
    val w: Workload = opt("workload") match {
      case "nightly" => new Nightly(opt)
      case "reports" => new Queries(opt)
      case other => sys.error(s"unknown workload $other")
    }
    val tracer = new Tracer(traceOn)

    // warm-up at the small scale: not timed, caches dropped afterwards
    w.setup(spark, opt("warm"), warm = true)
    // Independent warm-up ops (queries) run on a few threads: what they
    // leave behind (JIT code, generated classes) does not depend on order.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(w.warmThreads)
    val warmFutures = (0 until w.warmOps).map { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val t = nowUs()
          try w.op(spark, new Tracer(false), i, warm = true)
          catch { case e: Throwable => System.err.println(s"[warmup] op $i: ${e.getMessage}") }
          System.err.println(s"[warmup] op $i: ${(nowUs() - t) / 1e6} s")
        }
      })
    }
    warmFutures.foreach(_.get())
    pool.shutdown()
    spark.catalog.clearCache()
    phases("warm_done_us") = nowUs()
    // the main inputs are generated while the JVM starts and warms up
    val ready = Paths.get(opt("ready"))
    while (!Files.exists(ready)) Thread.sleep(5)
    val setupTimes = w.setup(spark, opt("data"), warm = false)
    phases("setup_times") = setupTimes
    spark.catalog.clearCache()
    HeapAfterGc.reset()

    // ------------------------------------------------------ timed region
    val ops = ArrayBuffer[OpRecord]()
    val t0 = nowUs()
    phases("first_op_us") = t0
    val deadline = t0 + (seconds * 1e6).toLong
    var i = 0
    while ((nowUs() < deadline || i % w.pass != 0) && i < w.maxOps) {
      tracer.op = i
      // trace runs mix traced and untraced ops, so that the tracing
      // overhead is measured inside one run
      val traced = traceOn && w.traced(i)
      val tr = if (traced) tracer else new Tracer(false)
      w.beforeOp(i)
      if (traced) { probe.begin(); probe.attach(spark) }
      val gc0 = gcMillis()
      val s = nowUs()
      val (name, out, err) =
        try { val (n, o) = w.op(spark, tr, i, warm = false); (n, o, None) }
        catch { case e: Throwable =>
          (s"op-$i", Map.empty[String, Any],
            Some(Option(e.getMessage).getOrElse(e.getClass.getName)
              .linesIterator.nextOption().getOrElse("").take(300)))
        }
      val e = nowUs()
      val gcMs = gcMillis() - gc0
      val traceInfo =
        if (traced) try probe.end(spark, tracer, i, s, e, gcMs) finally probe.detach(spark)
        else Map.empty[String, Any]
      ops += OpRecord(i, name, s, e, err, out, traceInfo + ("traced" -> traced))
      spark.catalog.clearCache()
      i += 1
    }
    phases("peak_heap_bytes") = HeapAfterGc.peak

    val checks = w.checks(spark, ops.toSeq)
    spark.stop()

    val opsJson = ops.map { o =>
      json(Map("i" -> o.i, "name" -> o.name, "start_us" -> o.startUs,
        "end_us" -> o.endUs, "error" -> o.error, "out" -> o.out,
        "trace" -> o.trace))
    }.mkString("[", ",\n", "]")
    val spansJson = tracer.spans.map(_.toJson).mkString("[", ",\n", "]")
    val body = s"""{"phases":${json(phases)},"ops":$opsJson,""" +
      s""""checks":${json(checks)},"spans":$spansJson}"""
    Files.write(Paths.get(work, "result.json"), body.getBytes(StandardCharsets.UTF_8))
  }

  // ------------------------------------------------------------- helpers

  /** Bench.scala's consume: a hash over every output column, so nothing
    * can be pruned; the row count rides in the same aggregate and feeds
    * the output check. */
  def consume(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(struct(df.columns.map(df.col): _*))))
      .collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def readFeed(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val (clean, rejected) = SyncEngine.prepareSource(spark.read.parquet(path))
    (clean.withColumn("metodo", Exprs.classifyMethod(col("metodo_raw")))
      .drop("metodo_raw"), rejected)
  }

  def summaryOut(r: SyncApp.RunSummary): Map[String, Any] =
    Map("actions" -> r.actions)

  def rows(spark: SparkSession, path: String): Long =
    if (StateStore.exists(spark, path)) spark.read.parquet(path).count() else 0L

  def timed(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  def delete(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
}

import Harness._

/** `nightly`: one op = prepareSource + sincronizarConciliacion for the next
  * simulated day, against a state loaded in set-up. */
final class Nightly(opt: Map[String, String]) extends Harness.Workload {
  private val work = opt("work")
  private val firstDay = LocalDate.parse(opt("first_day"))
  private val lookback = opt("lookback").toInt
  private var dir = ""
  private var paths: SyncApp.Paths = _
  private var settle = Map.empty[String, Any]
  // night 0 runs in set-up
  val maxOps: Int = opt("nights").toInt - 1
  val warmOps: Int = opt("warm_nights").toInt

  def setup(spark: SparkSession, d: String, warm: Boolean): Map[String, Double] = {
    dir = d
    val base = if (warm) s"$work/warm-run" else s"$work/run"
    delete(base)
    paths = SyncApp.Paths(s"$base/state", s"$base/audit", s"$base/conflicts")
    // the state is loaded through the store's own commit path
    val load = timed(StateStore.overwrite(
      spark.read.schema(StateStore.StateSchema).parquet(s"$d/state0.parquet"),
      paths.state))
    if (!warm) {
      // Night 0, then a re-run of it: the re-run's outputs and what it
      // appends and commits are checked like any op's.
      val first = night(spark, new Tracer(false), 0)
      val (audit, conflicts) = (rows(spark, paths.audit), rows(spark, paths.conflicts))
      val again = night(spark, new Tracer(false), 0)
      exportState(spark, s"$work/check/rerun-state")
      settle = Map("actions" -> first.actions, "rerun_actions" -> again.actions,
        "rerun_audit_appended" -> (rows(spark, paths.audit) - audit),
        "rerun_conflicts_appended" -> (rows(spark, paths.conflicts) - conflicts),
        "rerun_state_dir" -> s"$work/check/rerun-state")
    }
    Map("store_build_s" -> load)
  }

  private def night(spark: SparkSession, t: Tracer, k: Int): SyncApp.RunSummary = {
    val source = t.span("prepare", "operators") {
      readFeed(spark, f"$dir/feed/night-$k%03d.parquet")._1
    }
    t.span("sync", "app") {
      SyncApp.sincronizarConciliacion(source, paths, firstDay.plusDays(k), lookback)
    }
  }

  def op(spark: SparkSession, t: Tracer, i: Int, warm: Boolean): (String, Map[String, Any]) = {
    val k = if (warm) i else i + 1
    val r = t.span("op", "app")(night(spark, t, k))
    (f"night-$k%03d", summaryOut(r))
  }

  /** The state as plain parquet, for the DuckDB side. */
  private def exportState(spark: SparkSession, to: String): Unit = {
    delete(to)
    StateStore.readOrCreate(spark, paths.state).write.parquet(to)
  }

  def checks(spark: SparkSession, ops: Seq[OpRecord]): Map[String, Any] = {
    val rejected = (0 to ops.length).map { k =>
      readFeed(spark, f"$dir/feed/night-$k%03d.parquet")._2.count()
    }
    exportState(spark, s"$work/check/state")
    Map("settle" -> settle, "rejected" -> rejected,
      "state_dir" -> s"$work/check/state", "audit_rows" -> rows(spark, paths.audit),
      "conflict_rows" -> rows(spark, paths.conflicts))
  }
}

/** `reports`: one op = one `SparkEntry.queries` builder plus
  * the full-row hash consume, in the order of the `ops` file. */
final class Queries(opt: Map[String, String]) extends Harness.Workload {
  private val order: Vector[String] =
    new String(Files.readAllBytes(Paths.get(opt("ops"))), StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).toVector
  private val builders = SparkEntry.queries
  private var dir = ""
  // Every timed op reads the inputs through a directory name of its own (a
  // link to them), so no op reuses what an earlier op memoized per
  // directory: SyncQueries keeps one classified delta per (session,
  // directory), which each op that reads it builds for itself.
  private var opDir = ""
  private val schemas = scala.collection.mutable.Map[String, StructType]()
  val maxOps: Int = Int.MaxValue
  val warmOps: Int = order.distinct.length
  override val warmThreads: Int = 3
  // A traced run times each query twice in a row, once traced, so the
  // overhead compares the same query (queries differ more than nights).
  private val pairs = opt("trace") == "1"
  override def traced(i: Int): Boolean = i % 2 == (i / 2) % 2
  // Whole passes only: a part of a pass would time a seed-dependent subset
  // of queries whose costs differ by up to 10x.
  override val pass: Int = if (pairs) 2 * order.length else order.length

  def setup(spark: SparkSession, d: String, warm: Boolean): Map[String, Double] = {
    dir = d
    Map("store_build_s" -> 0.0) // the queries read no store
  }

  override def beforeOp(i: Int): Unit = {
    val link = Paths.get(opt("work"), "op-dirs", i.toString)
    Files.createDirectories(link.getParent)
    opDir = Files.createSymbolicLink(link, Paths.get(dir)).toString
  }

  def op(spark: SparkSession, t: Tracer, i: Int, warm: Boolean): (String, Map[String, Any]) = {
    val name =
      if (warm) order.distinct(i)
      else order((if (pairs) i / 2 else i) % order.length)
    val (n, h) = t.span("op", "app") {
      val df = t.span("construct", "operators")(
        builders(name)(spark, if (warm) dir else opDir))
      if (!warm) schemas.getOrElseUpdate(name, df.schema)
      t.span("consume", "app")(consume(df))
    }
    (name, Map("rows" -> n, "hash" -> h))
  }

  /** The same consume over each oracle result, cast to the Spark result's
    * column types by name; the types themselves are compared in Python. */
  def checks(spark: SparkSession, ops: Seq[OpRecord]): Map[String, Any] = {
    val oracleDir = opt("oracle")
    schemas.map { case (name, schema) =>
      val path = s"$oracleDir/$name"
      val expected: Map[String, Any] =
        if (!Files.exists(Paths.get(path))) Map("error" -> "no oracle result")
        else try {
          val o = spark.read.parquet(path)
          val cols = schema.fields.map { f =>
            if (o.columns.contains(f.name)) o.col(f.name).cast(f.dataType).as(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }
          val (n, h) = consume(o.select(cols.toIndexedSeq: _*))
          Map("rows" -> n, "hash" -> h)
        } catch { case e: Throwable =>
          Map("error" -> Option(e.getMessage).getOrElse("").linesIterator
            .nextOption().getOrElse("").take(300))
        }
      name -> Map("cols" -> schema.fieldNames.toSeq,
        "types" -> schema.fields.map(f => TypeClass(f.dataType)).toSeq,
        "expected" -> expected)
    }.toMap
  }
}

/** The type distinctions the output check keeps (see reference.py). */
object TypeClass {
  import org.apache.spark.sql.types._
  def apply(t: DataType): String = t match {
    case ByteType | ShortType | IntegerType | LongType => "int"
    case FloatType | DoubleType => "float"
    case d: DecimalType => s"decimal:${d.scale}"
    case _: StringType => "string"
    case BooleanType => "bool"
    case DateType => "date"
    case TimestampType | TimestampNTZType => "timestamp"
    case _: ArrayType => "list"
    case _: StructType => "struct"
    case BinaryType => "binary"
    case other => other.simpleString
  }
}
