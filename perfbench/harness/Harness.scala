package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.perfbench.Frames
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

import graft.table.SnapshotTable

/** JVM side of the benchmark: drives the engine through its public entry
  * points (`SparkEntry.queries`, `SnapshotTable`, `Bench.sweepCaches`,
  * `QueryMetrics.planMetrics`) for one workload and writes the raw
  * samples, checks and (when traced) spans to `result.json` in the run
  * directory. `run.py` turns that file into the reported metrics.
  *
  * Usage: Harness CONFIG.json, where the config names the mode
  * (`run` | `explain`), the workload and its ops, the seed, the timed op
  * count, the deadline, the trace flag and the data, scratch and output
  * directories.
  */
object Harness {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(Files.readString(Paths.get(args(0))))
    cfg.get("mode").asText match {
      case "run" => new Run(cfg).run()
      case "explain" => Explain.run(cfg)
      case other => sys.error(s"unknown mode $other")
    }
  }

  /** Scala values to Jackson-writable Java collections. */
  def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case null => null
    case x: AnyRef => x
    case x: Int => Int.box(x)
    case x: Long => Long.box(x)
    case x: Double => Double.box(x)
    case x: Boolean => Boolean.box(x)
    case x => x.toString
  }

  def writeJson(p: Path, v: Any): Unit =
    Files.writeString(p, mapper.writeValueAsString(toJava(v)))

  /** The session every run uses: the settings of `graft.Bench.main`
    * (AQE cached-plan repartitioning, partition-discovery threshold 512,
    * 8 MB parquet row groups, committer v2, shuffle partitions = cores),
    * with Spark's local directory kept inside the checkout. The traced
    * run registers [[StreamRecorder]] through the static conf, so that
    * every session's streaming queries report to it: the engine runs its
    * streams in child sessions, whose query managers are their own. */
  def session(cpus: Int, localDir: String, traced: Boolean = false): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir", graft.Tables.scratch("warehouse"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
      .config("parquet.block.size", "8388608")
      .config("spark.local.dir", localDir)
    if (traced)
      builder.config("spark.sql.streaming.streamingQueryListeners",
        classOf[StreamRecorder].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.hadoopConfiguration
      .set("mapreduce.fileoutputcommitter.algorithm.version", "2")
    spark
  }

  def errText(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
      .replaceAll("\\s+", " ").take(300)
}

/** Task, stage and job counters summed by a [[SparkListener]]; the traced
  * run diffs two snapshots to attribute them to one op. */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0, waitMs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
    outBytes: Long = 0, outRows: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    waitMs - o.waitMs, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, spill - o.spill, outBytes - o.outBytes,
    outRows - o.outRows)
}

/** Listener attached by the traced run: job intervals (for `exec.job`
  * spans and the driver gap), task metrics, and the wait between a
  * stage's submission and each task's launch. */
final class Recorder extends SparkListener {
  private var c = Counters()
  private val stageSubmit = scala.collection.mutable.Map[Int, Long]()
  private val jobStart = scala.collection.mutable.Map[Int, Long]()
  private val jobs = ArrayBuffer[(Int, Long, Long)]()

  def counters: Counters = synchronized(c)

  /** Job (id, start ms, end ms) finished since the last call. */
  def takeJobs(): Seq[(Int, Long, Long)] = synchronized {
    val out = jobs.toList; jobs.clear(); out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    c = c.copy(jobs = c.jobs + 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((e.jobId, s, e.time)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageSubmit.remove(e.stageInfo.stageId)
      c = c.copy(stages = c.stages + 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val wait = stageSubmit.get(e.stageId)
      .map(s => math.max(0L, e.taskInfo.launchTime - s)).getOrElse(0L)
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1, waitMs = c.waitMs + wait)
    else c.copy(tasks = c.tasks + 1, waitMs = c.waitMs + wait,
      runMs = c.runMs + m.executorRunTime, cpuNs = c.cpuNs + m.executorCpuTime,
      gcMs = c.gcMs + m.jvmGCTime,
      shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
      outBytes = c.outBytes + m.outputMetrics.bytesWritten,
      outRows = c.outRows + m.outputMetrics.recordsWritten)
  }
}

/** Micro-batch progress of every streaming query an op runs, from every
  * session's listener instance. */
object StreamRecorder {
  /** (start ms, trigger ms, addBatch ms, offset-log + commit-log ms). */
  private val batches = ArrayBuffer[(Long, Long, Long, Long)]()

  def take(): Seq[(Long, Long, Long, Long)] = batches.synchronized {
    val out = batches.toList; batches.clear(); out
  }

  private def add(b: (Long, Long, Long, Long)): Unit = batches.synchronized(batches += b)
}

/** Registered by class name (one instance per session), so it has no
  * state of its own. */
final class StreamRecorder extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    StreamRecorder.add((start, d("triggerExecution"), d("addBatch"),
      d("walCommit") + d("commitOffsets")))
  }
}

/** Spans of the traced run, kept in memory and written once at the end.
  * Times are epoch nanoseconds so listener events (epoch ms) line up. */
final class Tracer(val enabled: Boolean) {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  val spans = ArrayBuffer[Map[String, Any]]()

  def now(): Long = System.nanoTime() + base

  /** Record a span; op id 0 marks untimed warm-up work, which is not kept. */
  def add(op: Int, name: String, parent: String, start: Long, end: Long,
      attrs: Map[String, Any] = Map.empty): Unit =
    if (enabled && op > 0) spans += Map("op" -> op, "name" -> name, "parent" -> parent,
      "start_ns" -> start, "end_ns" -> end) ++ attrs

  /** Time `body`, record it as a span, and return (result, ms). */
  def span[T](op: Int, name: String, parent: String)(body: => T): (T, Double) = {
    val t0 = now()
    val r = body
    val t1 = now()
    add(op, name, parent, t0, t1)
    (r, (t1 - t0) / 1e6)
  }
}

final class Run(cfg: JsonNode) {
  import Harness._

  private val workload = cfg.get("workload").asText
  private val seed = cfg.get("seed").asLong
  private val cpus = cfg.get("cpus").asInt
  private val dataDir = cfg.get("data").asText
  private val outDir = Paths.get(cfg.get("out").asText)
  private val localDir = cfg.get("local_dir").asText
  private val setupReps = cfg.get("setup_reps").asInt
  /** Ops the timed loop runs: whole passes (whole maintenance cycles for
    * the ingest workload), fixed by the config and never by the clock. */
  private val timedCount = cfg.get("timed_ops").asInt
  /** Epoch ms after which no further op starts; the ops left are reported
    * as not run, so a very slow run still ends with the figures it has. */
  private val deadlineMs = cfg.path("deadline_ms").asLong(0L)
  private val prepareOnly = cfg.path("prepare").asBoolean(false)
  private val isIngest = cfg.has("ingest")
  private val ops: Seq[String] =
    if (isIngest) Nil else cfg.get("ops").elements().asScala.map(_.asText).toSeq
  private val tracer = new Tracer(cfg.get("trace").asBoolean)
  private val recorder = new Recorder
  private val mx = ManagementFactory.getPlatformMXBeans(
    classOf[com.sun.management.OperatingSystemMXBean]).get(0)

  private var spark: SparkSession = _
  private val samples = ArrayBuffer[Map[String, Any]]()
  private val checks = ArrayBuffer[Map[String, Any]]()
  private val opRecords = ArrayBuffer[Map[String, Any]]()
  private val extra = scala.collection.mutable.LinkedHashMap[String, Any]()
  private var opId = 0
  private var notRun = 0

  private def pastDeadline: Boolean =
    deadlineMs > 0 && System.currentTimeMillis() > deadlineMs

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs(): Long =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def heapMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  def run(): Unit = {
    Files.createDirectories(outDir)
    val setupSecs = (1 to setupReps).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cpus, localDir, tracer.enabled)
      graft.Tables.registerAll(spark, dataDir)
      if (isIngest) ingest.setup(i)
      (System.nanoTime() - t0) / 1e9
    }
    if (tracer.enabled) spark.sparkContext.addSparkListener(recorder)
    val warm0 = System.nanoTime()
    if (isIngest) ingest.warmUp() else registered.warmUpAndCheck()
    extra("warm_up_s") = (System.nanoTime() - warm0) / 1e9
    if (prepareOnly) { spark.stop(); return }

    val steal0 = stealTicks()
    val alloc0 = allocatedBytes()
    val cpu0 = mx.getProcessCpuTime
    val t0 = System.nanoTime()
    if (isIngest) ingest.timed() else registered.timed()
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (mx.getProcessCpuTime - cpu0) / 1e9
    val alloc = allocatedBytes() - alloc0
    extra("timed_steal_s") = (stealTicks() - steal0) / 100.0
    extra("not_run") = notRun
    if (isIngest) ingest.finish()

    val conf = spark.conf.getAll.toSeq.sortBy(_._1).toMap ++ Map(
      "mapreduce.fileoutputcommitter.algorithm.version" ->
        spark.sparkContext.hadoopConfiguration
          .get("mapreduce.fileoutputcommitter.algorithm.version"))
    val result = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "setup_s" -> setupSecs, "timed_wall_s" -> wall, "timed_cpu_s" -> cpu,
      "timed_alloc_bytes" -> alloc,
      "peak_rss_kb" -> vmHwmKb(), "samples" -> samples, "checks" -> checks,
      "conf" -> scala.collection.immutable.TreeMap(conf.toSeq: _*),
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala,
      "construction_actions" -> graft.Bench.constructionActions.toSeq.sorted,
      "oracle_sql" -> graft.SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) })
    result ++= extra
    if (tracer.enabled) {
      result("spans") = tracer.spans
      result("op_records") = opRecords
    }
    spark.stop()
    writeJson(outDir.resolve("result.json"), result)
  }

  /** Machine-wide CPU time stolen by the hypervisor, in clock ticks
    * (`/proc/stat`), so a run slowed by its neighbours can be told apart. */
  private def stealTicks(): Long =
    Files.readAllLines(Paths.get("/proc/stat")).asScala.headOption
      .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong).getOrElse(0L)

  /** Heap bytes allocated by every thread since the JVM started, ended
    * threads included. */
  private def allocatedBytes(): Long =
    ManagementFactory.getPlatformMXBean(classOf[com.sun.management.ThreadMXBean])
      .getTotalThreadAllocatedBytes

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  /** One timed op: run `body`, keep its latency as a sample, and in the
    * traced run attribute listener events, JVM deltas and the fields
    * `body` returns to it. `body` gets the op's span id and returns (end
    * of the latency window in tracer ns, the error if the op failed or
    * returned a wrong result, per-op fields). */
  private def timedOp(name: String, kind: String, pass: Int)(
      body: Int => (Long, Option[String], Map[String, Any])): Unit = {
    opId += 1
    val id = opId
    val c0 = if (!tracer.enabled) null else {
      // events of untimed work before this op are not this op's
      Bus.drain(spark.sparkContext)
      recorder.takeJobs(); StreamRecorder.take()
      recorder.counters
    }
    val gc0 = gcMs(); val jit0 = jitMs(); val alloc0 = allocatedBytes()
    val t0 = tracer.now()
    val (end, err, fields) =
      try body(id)
      catch { case NonFatal(e) => (tracer.now(), Some(errText(e)), Map.empty[String, Any]) }
    val lat = (end - t0) / 1e9
    samples += Map("op" -> name, "kind" -> kind, "pass" -> pass,
      "lat_s" -> lat, "ok" -> err.isEmpty, "err" -> err.getOrElse(""))
    if (tracer.enabled) {
      val t1 = tracer.now()
      tracer.add(id, "op", "", t0, t1, Map("workload" -> workload,
        "op_name" -> name, "kind" -> kind, "pass" -> pass, "seed" -> seed,
        "latency_end_ns" -> end))
      Bus.drain(spark.sparkContext)
      val d = recorder.counters - c0
      val jobs = recorder.takeJobs()
      // listener spans hang under the op phase in which they started
      val phases = tracer.spans.filter(s => s("op") == id && s("parent") == "op")
        .map(s => (s("start_ns").asInstanceOf[Long], s("name").toString))
      def parentAt(ns: Long): String =
        phases.filter(_._1 <= ns).maxByOption(_._1).fold("op")(_._2)
      jobs.foreach { case (j, s, e) =>
        tracer.add(id, "exec.job", parentAt(s * 1000000L), s * 1000000L,
          e * 1000000L, Map("job" -> j))
      }
      val batches = StreamRecorder.take()
      batches.foreach { case (s, trig, _, _) =>
        tracer.add(id, "streaming.batch", parentAt(s * 1000000L), s * 1000000L,
          (s + trig) * 1000000L)
      }
      opRecords += Map("op" -> id, "op_name" -> name, "kind" -> kind,
        "pass" -> pass, "lat_s" -> lat, "ok" -> err.isEmpty,
        "jobs" -> d.jobs, "stages" -> d.stages, "tasks" -> d.tasks,
        "task_wait_ms" -> d.waitMs, "run_ms" -> d.runMs,
        "cpu_ms" -> d.cpuNs / 1e6, "exec_gc_ms" -> d.gcMs,
        "shuffle_write_bytes" -> d.shuffleWrite,
        "shuffle_read_bytes" -> d.shuffleRead, "spill_bytes" -> d.spill,
        "output_bytes" -> d.outBytes, "output_rows" -> d.outRows,
        "streaming_batches" -> batches.size,
        "streaming_batch_ms" -> batches.map(_._2).sum,
        "streaming_add_batch_ms" -> batches.map(_._3).sum,
        "streaming_log_commit_ms" -> batches.map(_._4).sum,
        "jvm_gc_ms" -> (gcMs() - gc0), "jvm_jit_ms" -> (jitMs() - jit0),
        "jvm_alloc_mb" -> (allocatedBytes() - alloc0) / 1048576.0,
        "jvm_heap_after_op_mb" -> heapMb()) ++ fields
    }
  }

  // ------------------------------------------------ registered queries

  private object registered {
    private val checkDir = outDir.resolve("check")

    private def fn(name: String) = graft.SparkEntry.queries(name)

    /** The untimed pass before timing, which also checks outputs: each
      * op's frame is planned and executed as the timed action executes it,
      * and the rows it produces are written for the oracle check the way
      * `graft.Verify` writes them (timestamps as NTZ, one file). */
    def warmUpAndCheck(): Unit = {
      ops.foreach { name =>
        val err =
          if (pastDeadline) Some("not run: the run's deadline had passed")
          else try {
            val df = fn(name)(spark, dataDir)
            val qe = df.queryExecution
            val plan = qe.executedPlan
            val rows = SQLExecution.withNewExecutionId(qe, Some(s"perfbench check $name"))(
              plan.execute())
            val out = Frames.ofRows(spark, rows, df.schema)
            val ntz = out.select(out.schema.fields.toSeq.map { f =>
              if (f.dataType == TimestampType) col(f.name).cast(TimestampNTZType).as(f.name)
              else col(f.name)
            }: _*)
            ntz.coalesce(1).write.mode("overwrite").parquet(checkDir.resolve(name).toString)
            None
          } catch { case NonFatal(e) => Some(errText(e)) }
        graft.Bench.sweepCaches(spark)
        checks += Map("op" -> name, "ok" -> err.isEmpty, "err" -> err.getOrElse(""))
      }
    }

    /** Construct, plan and run one op's whole frame. The action executes
      * the frame's own physical plan over every partition and discards
      * the rows (what a `noop` write does), so no operator is pruned the
      * way `groupBy().count()` prunes it. Returns the tracer time at which
      * the action ended and, when traced, the per-op fields. */
    def execute(id: Int, name: String): (Long, Map[String, Any]) = {
      val tr = tracer
      val jobs0 = if (tr.enabled) { Bus.drain(spark.sparkContext); recorder.counters.jobs } else 0L
      val (df, constructMs) = tr.span(id, "queries.construct", "op")(fn(name)(spark, dataDir))
      val constructJobs =
        if (tr.enabled) { Bus.drain(spark.sparkContext); recorder.counters.jobs - jobs0 } else 0L
      val qe = df.queryExecution
      val (_, analyzeMs) = tr.span(id, "plans.analyze", "op")(qe.analyzed)
      val (_, optimizeMs) = tr.span(id, "plans.optimize", "op")(qe.optimizedPlan)
      val (plan, physicalMs) = tr.span(id, "plans.physical", "op")(qe.executedPlan)
      tr.span(id, "exec.action", "op") {
        SQLExecution.withNewExecutionId(qe, Some(s"perfbench $name")) {
          plan.execute().foreach(_ => ())
        }
      }
      val end = tr.now()
      val fields: Map[String, Any] =
        if (!tr.enabled) Map.empty
        else {
          val (rows, bytes, _) = graft.metrics.QueryMetrics.planMetrics(qe)
          Map("construct_ms" -> constructMs, "construct_jobs" -> constructJobs,
            "analyze_ms" -> analyzeMs, "optimize_ms" -> optimizeMs,
            "physical_ms" -> physicalMs, "scan_rows" -> rows, "scan_bytes" -> bytes)
        }
      (end, fields)
    }

    /** `timedCount / ops.size` whole passes, each in a seed-shuffled
      * order. */
    def timed(): Unit = {
      val rng = new scala.util.Random(seed)
      val passes = timedCount / ops.size
      for (pass <- 1 to passes; name <- rng.shuffle(ops)) {
        if (pastDeadline) notRun += 1
        else timedOp(name, "read", pass) { id =>
          val (end, fields) = execute(id, name)
          tracer.span(id, "sweep", "op")(graft.Bench.sweepCaches(spark))
          (end, None, fields)
        }
      }
      extra("passes") = passes
    }
  }

  // ----------------------------------------------------- small-file ingest

  private object ingest {
    private val spec = cfg.get("ingest")
    private val root = spec.get("table_root").asText
    private val schema = StructType(Seq(
      StructField("event_id", LongType, nullable = false),
      StructField("user_id", LongType, nullable = false),
      StructField("event_type", StringType, nullable = false),
      StructField("ts", TimestampType, nullable = false),
      StructField("region", StringType, nullable = false),
      StructField("amount_cents", LongType, nullable = false)))
    private var table: SnapshotTable = _
    private var location: String = _
    /** Table version after each write op, by op index. */
    private val versionAt = scala.collection.mutable.Map[Int, Int]()
    private var userBytes = 0L
    private var writtenBytes = 0L
    private var peak = Map[String, Long]()

    private def lines(key: String): Seq[JsonNode] =
      Files.readAllLines(Paths.get(spec.get(key).asText)).asScala
        .filter(_.nonEmpty).map(l => mapper.readTree(l)).toSeq

    private lazy val timedOps = lines("ops")
    private lazy val warmOps = lines("warm_ops")

    private def frame(rows: JsonNode): DataFrame = {
      val rs = rows.elements().asScala.map { r =>
        Row(r.get(0).asLong, r.get(1).asLong, r.get(2).asText,
          new java.sql.Timestamp(r.get(3).asLong), r.get(4).asText, r.get(5).asLong)
      }.toSeq
      spark.createDataFrame(rs.asJava, schema)
    }

    private def ids(op: JsonNode): Seq[Long] =
      op.get("ids").elements().asScala.map(_.asLong).toSeq

    /** Each set-up creates the table afresh from the sequence's first
      * batch; the last one is the table the timed ops run against. */
    def setup(rep: Int): Unit = {
      location = s"$root/t$rep"
      graft.Tables.deleteRecursively(location)
      versionAt.clear()
      table = SnapshotTable.create(spark, location, frame(timedOps.head.get("rows")))
      versionAt(0) = table.latestVersion
    }

    def warmUp(): Unit = {
      val loc = s"$root/warm"
      graft.Tables.deleteRecursively(loc)
      val (t, l, v) = (table, location, versionAt.toMap)
      table = SnapshotTable.create(spark, loc, frame(warmOps.head.get("rows")))
      location = loc
      versionAt.clear(); versionAt(0) = table.latestVersion
      warmOps.tail.foreach { op =>
        if (!pastDeadline) try apply(0, op) catch { case NonFatal(_) => () }
      }
      graft.Bench.sweepCaches(spark)
      table = t; location = l; versionAt.clear(); versionAt ++= v
      userBytes = 0L; writtenBytes = 0L
      graft.Tables.deleteRecursively(loc)
    }

    /** The first `timedCount` ops of the sequence (whole maintenance
      * cycles, so every run ends on a compacted, expired table). */
    def timed(): Unit = {
      timedOps.tail.take(timedCount).foreach { op =>
        val kind = op.get("op").asText
        val isRead = Set("agg", "scan", "travel")(kind)
        if (pastDeadline) notRun += 1
        else timedOp(kind, if (isRead) "read" else "write", op.get("i").asInt) { id =>
          val err = apply(id, op)
          val end = tracer.now()
          tracer.span(id, "sweep", "op")(graft.Bench.sweepCaches(spark))
          (end, err, if (tracer.enabled) tableState() else Map.empty)
        }
      }
    }

    private def dirBytes(p: Path, pred: Path => Boolean): Long =
      if (!Files.exists(p)) 0L
      else scala.util.Using.resource(Files.walk(p)) { w =>
        w.iterator().asScala.filter(f => Files.isRegularFile(f) && pred(f))
          .map(f => Files.size(f)).sum
      }

    private def tableState(): Map[String, Any] = {
      val root = Paths.get(location)
      val dataRoot = root.resolve("data")
      val snaps = table.versions.size.toLong
      val live = table.snapshot(table.latestVersion).files.size.toLong
      val meta = dirBytes(root, f => !f.startsWith(dataRoot))
      val data = dirBytes(dataRoot, _ => true)
      val now = Map("table_snapshots" -> snaps, "table_live_files" -> live,
        "table_metadata_bytes" -> meta, "table_data_bytes" -> data)
      peak = now.map { case (k, v) => k -> math.max(v, peak.getOrElse(k, 0L)) }
      now
    }

    /** Run one op of the sequence; returns the error if it failed or a
      * read disagreed with the model's expected answer. */
    private def apply(id: Int, op: JsonNode): Option[String] = {
      val i = op.get("i").asInt
      val kind = op.get("op").asText
      def write(spanName: String)(body: => Unit): Option[String] = {
        val c0 = if (tracer.enabled) { Bus.drain(spark.sparkContext); recorder.counters } else null
        tracer.span(id, spanName, "op")(body)
        versionAt(i) = table.latestVersion
        if (tracer.enabled) {
          Bus.drain(spark.sparkContext)
          writtenBytes += (recorder.counters - c0).outBytes
          userBytes += op.path("user_bytes").asLong(0L)
        }
        None
      }
      def read(version: Option[Int])(q: DataFrame => DataFrame): Seq[Row] = {
        val (t, _) = tracer.span(id, "table.load", "op")(SnapshotTable.load(spark, location))
        val (df, _) = tracer.span(id, "table.read_plan", "op") {
          val d = q(version.fold(t.read())(t.readVersion))
          d.queryExecution.executedPlan
          d
        }
        tracer.span(id, "exec.action", "op")(df.collect().toSeq)._1
      }
      def expect(got: String, want: String): Option[String] =
        if (got == want) None else Some(s"op $i $kind: got $got want $want")
      kind match {
        case "append" => write("table.append")(table.append(frame(op.get("rows"))))
        case "pdelete" => write("table.delete")(
          table.positionDelete(col("event_id").isin(ids(op): _*)))
        case "edelete" => write("table.delete") {
          val keys = spark.createDataFrame(
            ids(op).map(Row(_)).asJava, StructType(Seq(schema("event_id"))))
          table.equalityDelete(keys)
        }
        case "upsert" => write("table.merge")(
          table.upsert(frame(op.get("rows")), Seq("event_id")))
        case "merge_mor" => write("table.merge")(
          table.mergeMor(frame(op.get("rows")), Seq("event_id")))
        case "compact" => write("table.compact")(table.compact(targetBytes = 8L << 20))
        case "expire" => write("table.expire")(table.expireSnapshots(op.get("keep").asInt))
        case "agg" =>
          val rows = read(None)(_.where(col("region") === op.get("region").asText)
            .groupBy("event_type").agg(count(lit(1)).as("n"), sum("amount_cents").as("s")))
          expect(rows.map(r => s"${r.getString(0)}:${r.getLong(1)}:${r.getLong(2)}")
            .sorted.mkString(","), op.get("expect").asText)
        case "scan" =>
          val rows = read(None)(_.where(col("user_id") === op.get("user_id").asLong)
            .select("event_id", "amount_cents"))
          expect(rows.map(r => s"${r.getLong(0)}:${r.getLong(1)}")
            .sorted.mkString(","), op.get("expect").asText)
        case "travel" =>
          val v = versionAt(op.get("at").asInt)
          val rows = read(Some(v))(_.agg(count(lit(1)), sum("amount_cents")))
          val r = rows.head
          expect(s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}",
            op.get("expect").asText)
        case other => Some(s"unknown op $other")
      }
    }

    /** Space amplification after the final expire: bytes under the table
      * directory over the bytes of the same rows written once as parquet. */
    def finish(): Unit = {
      val plain = s"$root/plain"
      graft.Tables.deleteRecursively(plain)
      table.read().coalesce(1).write.parquet(plain)
      val plainBytes = dirBytes(Paths.get(plain), _.toString.endsWith(".parquet"))
      val tableBytes = dirBytes(Paths.get(location), _ => true)
      extra("table_bytes") = tableBytes
      extra("plain_bytes") = plainBytes
      extra("table_peak") = peak
      extra("table_user_bytes") = userBytes
      extra("table_written_bytes") = writtenBytes
      graft.Tables.deleteRecursively(plain)
    }
  }
}

/** Plans of the timed action against `groupBy().count()` for the named
  * ops: the operator names each optimized plan keeps. */
object Explain {
  def run(cfg: JsonNode): Unit = {
    val spark = Harness.session(cfg.get("cpus").asInt, cfg.get("local_dir").asText)
    val dataDir = cfg.get("data").asText
    val out = cfg.get("ops").elements().asScala.map(_.asText).toSeq.map { name =>
      val df = graft.SparkEntry.queries(name)(spark, dataDir)
      def nodes(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] = {
        val exprs = p.collect { case n => n.expressions.flatMap(_.collect {
          case e => e.prettyName }) }.flatten.distinct.sorted
        p.collect { case n => n.nodeName } ++ exprs.map("expr:" + _)
      }
      val timed = nodes(df.queryExecution.optimizedPlan)
      val counted = nodes(df.groupBy().count().queryExecution.optimizedPlan)
      graft.Bench.sweepCaches(spark)
      Map("op" -> name, "timed_plan" -> timed.distinct,
        "count_plan" -> counted.distinct,
        "dropped_by_count" -> timed.distinct.diff(counted.distinct))
    }
    Harness.writeJson(Paths.get(cfg.get("out").asText).resolve("explain.json"), out)
    spark.stop()
  }
}
