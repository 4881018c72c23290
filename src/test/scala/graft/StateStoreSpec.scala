package graft

import graft.operators.{SyncEngine, SyncFixture}
import graft.sources.StateStore
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec

/** Storage layer: auto-create, atomic overwrite-merge cycle, append sinks,
  * month-partitioned layout with real partition pruning. */
class StateStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-store").toString

  test("S9 auto-create: missing path reads as empty typed state") {
    val df = StateStore.readOrCreate(spark, tmpDir() + "/state")
    assert(df.count() === 0)
    assert(df.schema === StateStore.StateSchema)
  }

  test("S5 overwrite-merge cycle: sync → overwrite → read → re-sync fixpoint") {
    val dir = tmpDir() + "/state"
    val source = SyncFixture.source(spark, sf0001)
    val state0 = StateStore.readOrCreate(spark, dir)
      .drop("okey") // fixture carries okey; schema does not
    val r1 = SyncEngine.run(source, state0,
      SyncFixture.WindowStart, SyncFixture.WindowEnd)
    StateStore.overwrite(
      r1.newState.select(StateStore.StateSchema.fieldNames.map(col): _*), dir)
    val state1 = StateStore.readOrCreate(spark, dir)
    val n1 = state1.count()
    assert(n1 === source.select("folio").distinct().count())

    val r2 = SyncEngine.run(source, state1,
      SyncFixture.WindowStart, SyncFixture.WindowEnd)
    val acts2 = r2.delta.select($"action").as[String].collect().toSet
    assert(acts2 === Set(graft.model.Actions.SinCambios))
    // overwrite again — still readable, same rows (atomic swap discipline)
    StateStore.overwrite(
      r2.newState.select(StateStore.StateSchema.fieldNames.map(col): _*), dir)
    assert(StateStore.readOrCreate(spark, dir).count() === n1)
  }

  test("S5 snapshot overwrite: in-flight readers keep their version, GC bounds history") {
    val dir = tmpDir() + "/state"
    def st(n: Int) = (1 to n).map(i => ("TARJETAS", s"F$i",
        java.sql.Date.valueOf("2025-11-05"), "c", "s", "B", 1.0,
        false, "", "", false, "", "", false))
      .toDF(StateStore.StateSchema.fieldNames: _*)
    StateStore.overwrite(st(3), dir)
    val inFlight = StateStore.readOrCreate(spark, dir) // resolves v1
    StateStore.overwrite(st(5), dir)
    // the reader that resolved v1 before the overwrite still reads its
    // snapshot — the commit-marker protocol never touches old files,
    // and GC keeps one previous committed version of grace
    assert(inFlight.count() === 3)
    assert(StateStore.readOrCreate(spark, dir).count() === 5)
    StateStore.overwrite(st(7), dir)
    assert(StateStore.readOrCreate(spark, dir).count() === 7)
    // history is bounded: current + one grace version, nothing else
    val versions = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v-"))
    assert(versions.length === 2,
      s"expected 2 retained versions, got ${versions.map(_.getName).toSeq}")
  }

  test("S5 pre-protocol root-file state is read, then aged out by snapshots") {
    val dir = tmpDir() + "/state"
    // a state laid down by the old rename-swap layout: files at the root
    Seq(("TARJETAS", "F1", java.sql.Date.valueOf("2025-11-05"), "c", "s",
        "B", 1.0, false, "", "", false, "", "", false))
      .toDF(StateStore.StateSchema.fieldNames: _*)
      .write.parquet(dir)
    assert(StateStore.readOrCreate(spark, dir).count() === 1)
    val two = StateStore.readOrCreate(spark, dir)
      .limit(1).union(StateStore.readOrCreate(spark, dir).limit(1))
    StateStore.overwrite(two, dir)
    assert(StateStore.readOrCreate(spark, dir).count() === 2)
    // second snapshot: the root files fall out of the grace window
    StateStore.overwrite(StateStore.readOrCreate(spark, dir), dir)
    val rootParquet = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(rootParquet.isEmpty, "legacy root files must be GC'd")
    assert(StateStore.readOrCreate(spark, dir).count() === 2)
  }

  test("S9 legacy migration: old path adopted, missing columns null-fill") {
    val base = tmpDir()
    val legacy = base + "/conciliacion_bancaria"
    val live = base + "/state"
    // a state written by an older deployment: pre-protected-zone columns
    // only, under the old directory name
    Seq(("TRANSFERENCIA", "F1", "2025-11-05", "cli", "srv", "BANCOMER", 9.5))
      .toDF("partition", "folio", "fecha", "cliente", "servicio", "banco",
        "monto")
      .withColumn("fecha", to_date($"fecha"))
      .write.parquet(legacy)

    val st = StateStore.readOrCreate(spark, live, StateStore.StateSchema,
      legacyPath = Some(legacy))
    assert(st.schema === StateStore.StateSchema)
    val row = st.collect().head
    assert(row.getAs[String]("folio") === "F1")
    assert(row.getAs[Double]("monto") === 9.5)
    StateStore.StateSchema.fieldNames
      .filterNot(Seq("partition", "folio", "fecha", "cliente", "servicio",
        "banco", "monto").contains)
      .foreach(c => assert(row.isNullAt(row.fieldIndex(c)), c))
    // the rename completed: legacy gone, live path serves plain reads now
    assert(!StateStore.exists(spark, legacy))
    assert(StateStore.exists(spark, live))
    assert(StateStore.readOrCreate(spark, live).count() === 1)
  }

  test("bank CSV source parses, quarantines, and feeds reconciliation") {
    val dir = tmpDir()
    val csv =
      """dia_raw,concepto,cargo_raw,abono_raw,saldo_raw,folio
        |5/11/2025,SPEI RECIBIDO arturo,,"$1,234.50","64,403.53",
        |6/11/2025,PAGO CUENTA DE TERCERO,,900.00,"63,503.53",0-18051
        |no date,garbage row,,n/a,,
        |no date,salvage deposit,,500.00,"64,003.53",
        |7/11/2025,BNET tapetes,,not-money,"62,503.53",
        |""".stripMargin
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "banco.csv"), csv.getBytes("UTF-8"))
    val (clean, rejected) = graft.sources.BankCsv.read(spark, s"$dir/banco.csv")
    assert(rejected.count() === 1) // both fields bad
    assert(rejected.collect().head.getAs[String]("concepto") === "garbage row")
    val rows = clean.orderBy($"bank_row_id")
      .select($"dia".cast("string"), $"abono".cast("double"), $"folio")
      .as[(String, Double, Option[String])].collect()
    assert(rows.length === 4)
    assert(rows(0) === (("2025-11-05", 1234.5, None)))
    assert(rows(1) === (("2025-11-06", 900.0, Some("0-18051"))))
    assert(rows(2) === (("2025-11-07", 0.0, None))) // bad abono → forgiven 0
    assert(rows(3) === ((null, 500.0, None))) // NULL-día salvage ranks last
    // the clean side is directly the Reconcile statement shape
    val recon = Seq(("F9", java.sql.Date.valueOf("2025-11-05"), 1234.50))
      .toDF("folio", "fecha", "monto")
    val matched = graft.operators.Reconcile.matchStatements(
      clean.select($"bank_row_id", $"dia", $"abono"), recon)
    assert(matched.filter($"folio" === "F9").count() === 1)
  }

  test("S7 append sink accumulates") {
    val dir = tmpDir() + "/audit"
    val rows = Seq(("F1", "ACTUALIZACIÓN", "d", "", "")).toDF(
      StateStore.AuditSchema.fieldNames: _*)
    StateStore.append(rows, dir)
    StateStore.append(rows, dir)
    assert(spark.read.parquet(dir).count() === 2)
  }

  test("time travel: a pinned version replays while the next writes, then expires loudly") {
    val dir = tmpDir() + "/state"
    def snap(tag: String) = Seq(("F1", tag)).toDF("folio", "cliente")
    StateStore.overwrite(snap("v1"), dir)
    StateStore.overwrite(snap("v2"), dir)
    val vs = StateStore.committedVersions(spark, dir)
    assert(vs === Seq(1L, 2L))
    // the previous version is still replayable (GC grace window = 1)
    assert(StateStore.readAt(spark, dir, 1L)
      .select($"cliente").as[String].head() === "v1")
    assert(StateStore.readAt(spark, dir, 2L)
      .select($"cliente").as[String].head() === "v2")
    // one more overwrite ages v1 out...
    StateStore.overwrite(snap("v3"), dir)
    assert(StateStore.committedVersions(spark, dir) === Seq(2L, 3L))
    // ...and an expired pin FAILS, never silently reads current
    val e = intercept[IllegalArgumentException] {
      StateStore.readAt(spark, dir, 1L)
    }
    assert(e.getMessage.contains("GC'd") ||
      e.getMessage.contains("not committed"))
  }

  test("S1 month layout: window read prunes partitions") {
    val dir = tmpDir() + "/sales"
    val sales = graft.operators.ScalarQueries.sales(spark, sf0001)
    StateStore.writeMonthPartitioned(sales, "fecha", dir)
    val windowed = StateStore.readWindow(spark, dir,
      "2001-06-01", "2001-08-01")

    // correctness: equals a plain filter over the unpartitioned data
    val expected = sales
      .filter($"fecha".between("2001-06-01", "2001-08-01")).count()
    assert(windowed.count() === expected)

    // pruning: the scan must touch only the 3 window months, not all ~80
    val scan = windowed.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.get
    assert(scan.relation.location.inputFiles.length > 3) // layout has many
    assert(scan.partitionFilters.nonEmpty)
  }

  test("writer lock: concurrent committers fail loudly, stale locks reclaim") {
    import graft.sources.SnapshotDir
    val dir = tmpDir() + "/state"
    val df = Seq((1L, "a")).toDF("id", "v")
    // a held lock makes a second writer THREAD throw (not race a
    // version), while the SAME thread re-enters — the reentrancy the
    // wipe-then-rebuild ensure paths hold one lock across
    def foreignAcquire(staleMs: Long = 15 * 60 * 1000L): Throwable = {
      val caught =
        new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val th = new Thread(() =>
        try SnapshotDir.withWriterLock(spark, dir, staleMs) { () }
        catch { case e: Throwable => caught.set(e) })
      th.start(); th.join()
      caught.get()
    }
    SnapshotDir.withWriterLock(spark, dir) {
      var entered = false
      SnapshotDir.withWriterLock(spark, dir) { entered = true }
      assert(entered, "same-thread nesting must re-enter")
      assert(new java.io.File(dir, "_writer.lock").exists(),
        "the inner frame's exit must not release the outer lock")
      val e = foreignAcquire()
      assert(e.isInstanceOf[IllegalStateException] &&
        e.getMessage.contains("concurrent writer"))
    }
    // the lock releases on exit: the real writer path works again
    StateStore.overwrite(df, dir)
    assert(StateStore.readOrCreate(spark, dir).count() === 1)
    // crash debris: a lock older than the stale window is reclaimed
    val lock = new java.io.File(dir, "_writer.lock")
    assert(lock.createNewFile())
    assert(lock.setLastModified(
      System.currentTimeMillis() - 16 * 60 * 1000L))
    StateStore.overwrite(df, dir) // acquires through the stale lock
    assert(!lock.exists(), "reclaimed lock must be released after commit")
    // ...and a FRESH foreign lock blocks the writer path end-to-end
    assert(lock.createNewFile())
    try intercept[IllegalStateException] { StateStore.overwrite(df, dir) }
    finally lock.delete()
    // heartbeat: a body running PAST the stale window keeps ownership
    // (the lock's mtime is re-touched, so a contender neither reclaims
    // it nor silently co-commits). staleMs is generous relative to the
    // ~staleMs/3 heartbeat so scheduler delay on a loaded box cannot
    // let the mtime age past the window and flake the pin.
    SnapshotDir.withWriterLock(spark, dir, staleMs = 2000) {
      Thread.sleep(5000) // 2.5× the stale window; heartbeat at ~667ms
      val e = foreignAcquire(staleMs = 2000)
      assert(e.isInstanceOf[IllegalStateException] &&
        e.getMessage.contains("concurrent writer"),
        s"stale reclaim must not usurp a live long-running writer: $e")
    }
    assert(!lock.exists(), "long-running writer still releases its lock")
    // the writer path's own commits never delete a LIVE lock: from the
    // second overwrite on, gc reports the grace window full and the
    // pre-protocol root-file cleanup runs — it must spare the lock
    val held = tmpDir() + "/held"
    val heldLock = new java.io.File(held, "_writer.lock")
    SnapshotDir.withWriterLock(spark, held) {
      (1 to 3).foreach { i =>
        StateStore.overwrite(df, held)
        assert(heldLock.exists(), s"overwrite $i deleted the held lock; " +
          s"committed=${StateStore.committedVersions(spark, held)}")
      }
    }
    assert(!heldLock.exists(), "the outer frame still releases its lock")
    assert(StateStore.committedVersions(spark, held) === Seq(2L, 3L))
  }

  test("writer lock: true mutual exclusion under thread contention") {
    import graft.sources.SnapshotDir
    val dir = tmpDir() + "/mx"
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 8).map { _ =>
      new Thread(() => {
        try SnapshotDir.withWriterLock(spark, dir) {
          val n = inside.incrementAndGet()
          maxSeen.updateAndGet(m => math.max(m, n))
          Thread.sleep(50)
          inside.decrementAndGet()
          wins.incrementAndGet(): Unit
        } catch { case _: IllegalStateException => () } // loud loser
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    // at most one thread ever inside; contenders threw instead of
    // racing, and at least one writer actually got the work done
    assert(maxSeen.get() === 1,
      s"${maxSeen.get()} writers were inside the lock simultaneously")
    assert(wins.get() >= 1)
  }
}
