package graft

import graft.sources.{SnapshotDir, StoreFiles}
import java.io.File
import scala.jdk.CollectionConverters._

/** The one build-once gate ([[SnapshotDir.ensureBuilt]] over
  * [[StoreFiles.markerGate]]) with a trivial build: one published
  * version holding one tagged text file. */
class StoreGateSpec extends SparkSpec {

  private val Prefix = "t-"

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-gate").toString

  private def build(root: String, tag: String): Unit = {
    SnapshotDir.publish(spark, root, Prefix)(dir =>
      StoreFiles.writeText(spark, s"$dir/seg-$tag.txt", tag))
    ()
  }

  private def ensure(root: String, recipe: String,
      tag: String = "x"): Option[Double] =
    SnapshotDir.ensureBuilt(spark, root, Prefix, recipe)(build(root, tag))

  private def committed(root: String): Seq[Long] =
    SnapshotDir.committed(spark, root, Prefix)

  private def fileNames(root: String): Seq[String] =
    java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator()
      .asScala.map(_.getFileName.toString).toSeq

  test("gate: a warm store returns None") {
    val root = tmpRoot()
    assert(ensure(root, "r1").isDefined)
    assert(ensure(root, "r1").isEmpty)
    assert(committed(root) === Seq(1L))
    assert(StoreFiles.recipeOf(spark, root).contains("r1"))
  }

  test("gate: a recipe change wipes the root and restarts at version 1") {
    val root = tmpRoot()
    assert(ensure(root, "r1", "old").isDefined)
    build(root, "old2") // a maintenance commit under the old recipe
    assert(committed(root) === Seq(1L, 2L))
    assert(ensure(root, "r2", "new").isDefined)
    assert(committed(root) === Seq(1L))
    val names = fileNames(root)
    assert(names.contains("seg-new.txt"))
    assert(!names.exists(_.startsWith("seg-old")),
      s"an old-recipe segment survived the rebuild: $names")
    assert(StoreFiles.recipeOf(spark, root).contains("r2"))
    assert(!new File(root, "_writer.lock").exists())
  }

  test("gate: a live marker with no committed version rebuilds") {
    val root = tmpRoot()
    assert(ensure(root, "r1").isDefined)
    // a tmp cleaner aged the version dir out but spared the marker
    org.apache.commons.io.FileUtils.deleteDirectory(
      new File(root, SnapshotDir.name(Prefix, 1)))
    assert(StoreFiles.recipeOf(spark, root).contains("r1"))
    assert(committed(root).isEmpty)
    assert(ensure(root, "r1").isDefined)
    assert(committed(root) === Seq(1L))
  }

  test("gate: a failed build leaves no marker, releases the lock, " +
      "and the next call rebuilds") {
    val root = tmpRoot()
    assert(ensure(root, "r1").isDefined)
    val e = intercept[IllegalStateException] {
      SnapshotDir.ensureBuilt(spark, root, Prefix, "r2") {
        // a crash mid-build: data written, version never committed
        StoreFiles.writeText(spark,
          s"$root/${SnapshotDir.name(Prefix, 1)}/seg-half.txt", "half")
        throw new IllegalStateException("build died")
      }
    }
    assert(e.getMessage === "build died")
    assert(StoreFiles.recipeOf(spark, root).isEmpty)
    assert(committed(root).isEmpty)
    assert(!new File(root, "_writer.lock").exists())
    // another thread can take the lock: the failed build released it
    val foreign = new java.util.concurrent.atomic.AtomicBoolean(false)
    val th = new Thread(() =>
      SnapshotDir.withWriterLock(spark, root) { foreign.set(true) })
    th.start(); th.join()
    assert(foreign.get())
    assert(ensure(root, "r2").isDefined)
    assert(committed(root) === Seq(1L))
    assert(!fileNames(root).contains("seg-half.txt"))
    assert(StoreFiles.recipeOf(spark, root).contains("r2"))
  }
}
