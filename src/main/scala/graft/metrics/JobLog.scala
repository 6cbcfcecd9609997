package graft.metrics

import org.apache.spark.{ListenerBusAccess, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-job attribution: every Spark job's wall
  * time, the driver gap before it, its stages, tasks and call site, so a
  * multi-second query splits into its constituent jobs (staging writes,
  * commits, stream batches, CC rounds, the final agg) without the UI.
  * [[graft.Bench]] prints one [[table]] per timed rep of a single-query
  * run, after the rep's timed window.
  */
final class JobLog(sc: SparkContext) extends SparkListener {
  private final class Job(val id: Int, val site: String, val start: Long) {
    var end = 0L
    var stages = 0
    var tasks = 0
  }

  // written on the listener-bus thread, read after a drain
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]
  private val byStage = new java.util.concurrent.ConcurrentHashMap[Int, Job]
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // a set job description, else the result stage's name: the short
    // call site (`parquet at SnapshotTable.scala:…`)
    val site = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("?")
    val j = new Job(e.jobId, site, e.time)
    jobs.put(j.id, j)
    e.stageIds.foreach(byStage.put(_, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(byStage.get(e.stageInfo.stageId)).foreach { j =>
      j.stages += 1
      j.tasks += e.stageInfo.numTasks
    }

  private def drain(): Unit =
    try ListenerBusAccess.drain(sc)
    catch { case _: java.util.concurrent.TimeoutException => }

  /** Forget every job seen so far (events already queued included). */
  def clear(): Unit = { drain(); jobs.clear(); byStage.clear() }

  /** The jobs since [[clear]], one line each, in start order; jobs with
    * under 10 ms of wall time and of driver gap are counted, not shown. */
  def table(label: String): String = {
    drain()
    import scala.jdk.CollectionConverters._
    val all = jobs.values.asScala.toSeq.sortBy(j => (j.start, j.id))
    var prevEnd = 0L
    val lines = all.flatMap { j =>
      val wall = (j.end - j.start) / 1e3
      // driver-side gap since the previous job finished: planning,
      // snapshot/manifest IO, footer stats, commit machinery — the
      // between-jobs time the job walls alone can't attribute
      val gap = if (prevEnd == 0L) 0.0 else (j.start - prevEnd) / 1e3
      prevEnd = math.max(prevEnd, j.end)
      if (wall < 0.01 && gap < 0.01) None
      else Some(f"  job ${j.id}%4d ${wall}%8.3f s  gap ${gap}%7.3f s  " +
        f"stages=${j.stages}%3d tasks=${j.tasks}%5d  ${j.site.take(90)}")
    }
    val wallSum = all.map(j => (j.end - j.start) / 1e3).sum
    (s"[jobs] $label" +: lines :+
      f"  (${all.size} jobs, ${lines.size} shown >=10ms, sum wall $wallSum%.3f s)")
      .mkString("", "\n", "\n")
  }
}
