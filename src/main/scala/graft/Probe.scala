package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev utility: look at named `SparkEntry.queries` on the Bench session.
  *
  * Usage: Probe <time|plan|jobs> <sfDir> <query> [query...]
  *
  *  - `time`: Bench's protocol — warm up at the warm dir, then three
  *    full-row hash-consumed runs; prints the min and the sorted spread.
  *  - `plan`: the formatted physical plan, GraftExtensions rewrites
  *    included.
  *  - `jobs`: `time`, plus every Spark job of the last run with its
  *    duration, task count and the driver-side gap since the previous
  *    job ended. A query that spends its seconds in many small jobs is
  *    fixed-overhead-bound (fold jobs, cache earlier); one that spends
  *    them inside a single job is stage-bound (look at the plan). */
object Probe {
  private case class Job(id: Int, desc: String, start: Long,
      var end: Long = -1L, var tasks: Int = 0)

  /** Three hash-consumed runs of one query, each a cold run of the same
    * plan (operator caches cleared in between). `beforeRun` resets any
    * per-run recording. */
  def timeRuns(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
      dir: String, beforeRun: () => Unit = () => ()): Seq[Double] =
    (1 to 3).map { _ =>
      beforeRun()
      val t0 = System.nanoTime()
      Bench.consume(fn(spark, dir))
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      dt
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && Set("time", "plan", "jobs")(args(0)),
      "usage: Probe <time|plan|jobs> <sfDir> <query> [query...]")
    val (mode, sfDir, names) = (args(0), args(1), args.drop(2).toSeq)
    val fns = names.map(SparkEntry.queries)
    val spark = Session.local()
    if (mode == "plan") {
      names.zip(fns).foreach { case (name, fn) =>
        println(s"===== $name =====")
        fn(spark, sfDir).explain("formatted")
      }
    } else {
      Bench.warmUp(spark, fns)
      val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
      if (mode == "jobs") spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = {
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(js.stageInfos.lastOption.map(_.name))
            .getOrElse("?")
          jobs.put(js.jobId, Job(js.jobId,
            desc.linesIterator.next().take(110), js.time,
            tasks = js.stageInfos.map(_.numTasks).sum))
        }
        override def onJobEnd(je: SparkListenerJobEnd): Unit = {
          val j = jobs.get(je.jobId)
          if (j != null) j.end = je.time
        }
      })
      names.zip(fns).foreach { case (name, fn) =>
        val times = timeRuns(spark, fn, sfDir, () => jobs.clear())
        val sorted = times.sorted.map(t => f"$t%.2f").mkString(" / ")
        println(f"$name%-28s ${times.min}%8.2f s  (runs $sorted)")
        if (mode == "jobs") {
          import scala.jdk.CollectionConverters._
          val js = jobs.values.asScala.toSeq.sortBy(_.id)
          val acct = js.map(j => (j.end - j.start) / 1e3).sum
          println(f"  last run ${times.last}%.2f s  jobs ${js.size}  " +
            f"job-time-sum $acct%.2f s")
          var prevEnd = -1L
          js.foreach { j =>
            val d = if (j.end > 0) f"${(j.end - j.start) / 1e3}%7.3f" else "  (run)"
            // driver-side gap since the previous job ended (planning,
            // FS metadata, clone I/O, manifest commits ...)
            val gap = if (prevEnd > 0) f"${(j.start - prevEnd) / 1e3}%7.3f" else "      -"
            if (j.end > 0) prevEnd = math.max(prevEnd, j.end)
            println(f"  job ${j.id}%4d  $d s  gap $gap s  ${j.tasks}%4d tasks  ${j.desc}")
          }
        }
      }
    }
    spark.stop()
  }
}
