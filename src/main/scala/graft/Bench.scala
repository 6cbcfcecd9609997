package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main (driver contract): runs every registered query
  * on SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds,
  * row counts, and status — errors are recorded, never swallowed
  * (mirrors the reference report shape, `run_performance_tests.py:52-81,
  * 286-329`).
  */
object Bench {

  /** Suite grouping, mirroring the reference harness's --test-suite split
    * (run_performance_tests.py:344-374) plus the pipeline extensions. */
  def suite(n: String): String = n match {
    case "q07_time_travel" | "q42_streaming_agg" | "q43_mv_refresh" |
         "q44_compaction" | "q45_schema_evolution" | "q48_sql_time_travel" |
         "q49_bench_metrics" | "q52_warehouse_usage" | "q53_storage_usage" |
         "q54_multi_engine" | "q55_partitioned_table" |
         "q55b_partition_evolution" |
         "q57_zorder_compaction" | "q57b_sort_order" |
         "q58_sql_merge" | "q58b_mor_merge" |
         "q58c_equality_upsert" |
         "q59_history_table" | "q64_days_transform" |
         "q67_wap_publish" | "q68_retention_floor" |
         "q96_zero_copy_clone" | "q97_add_files_migrate" |
         "q98_catalog_view" => "maintenance"
    case "q60_json_roundtrip" | "q61_stateful_dedup" |
         "q62_spj_join" | "q63_streaming_pipeline" | "q65_dynamic_table" |
         "q65b_dynamic_cdc" |
         "q66_image_meta" | "q69_governed_stream" |
         "q70_audio_features" | "q71_video_frames" |
         "q72_image_resize" => "data_pipeline"
    case _ if n >= "q73" && n <= "q78_z" => "data_pipeline"
    case "q83_dedup_clusters" | "q88_stream_stream_join" |
         "q94_bm25_search" => "data_pipeline"
    case "q79_asof_join" | "q80_range_join" | "q81_sessionize" |
         "q82_retention_cohorts" | "q84_pivot" | "q85_rollup" |
         "q86_semi_anti" | "q87_set_ops" | "q89_window_frames" |
         "q90_rank_suite" | "q91_unpivot" | "q92_correlated_subquery" |
         "q93_recursive_cte" | "q95_bitmap_distinct" => "advanced"
    case _ if n >= "q30" && n <= "q59" => "data_pipeline"
    case _ if n.startsWith("q1") && n >= "q10" => "advanced"
    case "q12_funnel" | "q13_compaction_estimator" => "advanced"
    case _ => "basic"
  }

  /** Queries whose elapsed time is dominated by commit machinery
    * (snapshot JSON, DSv2 write planning, streaming epochs) or by
    * cache-sensitive joins rather than steady-state scan throughput.
    * Measured run-to-run swing is ~2× (see README "Bench variance
    * protocol"), so these report the MEDIAN of `reps` timed runs;
    * every run is a full rebuild (the queries delete + recreate their
    * scratch tables per invocation, so reps are independent).
    *
    * q83 rides along for a different reason: iterative connected
    * components runs on checkpointed RDDs, so its scan/shuf byte columns
    * report 0 and the byte-drift adjudication the arrays enable for
    * scan-bearing queries can't see it — the median is the only
    * load-robust signal it has (VERDICT r15 task 1).
    */
  val writeFamily: Set[String] = Set(
    "q42_streaming_agg", "q44_compaction", "q55b_partition_evolution",
    "q56_ngram_jaccard",
    "q57_zorder_compaction", "q57b_sort_order",
    "q58_sql_merge", "q58b_mor_merge",
    "q58c_equality_upsert",
    "q61_stateful_dedup",
    "q63_streaming_pipeline", "q64_days_transform", "q65_dynamic_table",
    "q65b_dynamic_cdc",
    "q67_wap_publish", "q68_retention_floor", "q69_governed_stream",
    "q83_dedup_clusters", "q88_stream_stream_join", "q96_zero_copy_clone",
    "q97_add_files_migrate", "q98_catalog_view")

  /** The two swingiest write-family queries (measured 70–85 % median
    * spread at reps=3: small absolute times where JIT/GC noise dominates)
    * get extra reps so the median lands on warm steady state, plus a
    * dedicated warmup of their cold paths (MERGE rewrite, PPJoin
    * shingle pipeline).
    */
  val extraReps: Set[String] = Set("q56_ngram_jaccard", "q58_sql_merge")
  private val extraWarmup = extraReps

  /** Drop everything a query may have left in the block manager so the
    * next measurement starts clean. Operators that persist intermediates
    * (NearDup signatures/prefix sets, corpus prep) would otherwise
    * accumulate cached blocks across queries and thrash the block
    * manager — measured 6× slowdown on late queries. Any temp view a
    * query registers survives `clearCache()` — its state lives in the
    * block manager until the view is dropped, so drop those too, then
    * sweep RDDs persisted outside the SQL cache manager. Shared by
    * [[Bench]] and [[ScaleProbe]].
    */
  def sweepCaches(spark: SparkSession): Unit = {
    spark.sqlContext.clearCache()
    spark.sessionState.catalog.listLocalTempViews("*")
      .foreach(id => spark.catalog.dropTempView(id.table))
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    // unload terminated streaming queries' state-store providers: they
    // hold full join/agg state in executor memory until the maintenance
    // tick (60 s) evicts them, so each streaming query would otherwise
    // run against the previous ones' residue (providers reload lazily —
    // this is pure hygiene, not a behavior change)
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }

  /** plan_ms floor adjudication (pure rule, spec-pinned): a READ query's
    * best-rep plan_ms over 3× the machine's stored floor — with 500 ms
    * absolute slack so millisecond-scale plans can't flag on JIT noise —
    * is the driver-CPU-contention signature (r18: plan_ms inflated
    * 963→14,086 ms on byte-identical plans while loadavg read benign).
    * No stored floor (first run) → never flags.
    */
  def planHotRule(planMs: Double, floor: Option[Double]): Boolean =
    planMs >= 0 && floor.exists(f => planMs > 3 * f && planMs > f + 500)

  /** Elapsed-floor adjudication for the WRITE family (pure rule,
    * spec-pinned): write queries publish a median, and a median can't
    * self-rescue when ALL reps run contended — r19 published q57 at
    * 7.93 s against a 1.30–1.37 s two-round history and q57b at 6.20 s
    * against 0.68–0.81 s while loadavg peaked at 6.0, under the hot
    * threshold, with plan_hot inapplicable to writes. The rule mirrors
    * [[planHotRule]]: a published median over 3× the best elapsed this
    * machine has recorded for the query (persisted per sf dir), with
    * 1 s absolute slack so sub-second queries can't flag on JIT/GC
    * noise, is machine contention and gets visibly flagged `write_hot`
    * instead of shipping silently. No stored floor (first run) → never
    * flags.
    */
  def writeHotRule(medianSec: Double, floor: Option[Double]): Boolean =
    medianSec >= 0 && floor.exists(f => medianSec > 3 * f && medianSec > f + 1.0)

  /** Elapsed-floor adjudication for READ queries (r20 verdict task 5):
    * min-of-reps assumes one rep lands clean, but when EVERY rep runs
    * contended the published min still carries the inflation — r20's
    * driver run published q90 at 1.13 s against a 0.15 s history and q78
    * at 1.95 s vs 0.53 s with no flag (plan_ms floors watch planning, not
    * elapsed). Same shape as [[writeHotRule]] with the slack scaled for
    * read absolutes: most reads sit under 0.5 s, where a 1 s slack would
    * never fire — 0.4 s still keeps JIT/GC noise on a 0.15 s query (3×
    * would need 0.55 s published) from flagging. No stored floor → never
    * flags.
    */
  def readHotRule(minSec: Double, floor: Option[Double]): Boolean =
    minSec >= 0 && floor.exists(f => minSec > 3 * f && minSec > f + 0.4)

  /** Retry adjudication (r21 verdict task 6, pure rule, spec-pinned):
    * a query whose published statistic tripped read_hot/write_hot gets
    * ONE extra rep after the main loop (the contention window that
    * inflated every original rep has often passed by then), and the
    * published value becomes the BETTER of the two — for reads that is
    * just a wider min; for writes a single clean rebuild is more
    * trustworthy than a median every rep of which ran ≥3× over the
    * machine's own floor. The flag is then re-judged on the published
    * value: a successful retry clears it (self-healed measurement), a
    * still-hot retry keeps it visible. Returns (publishedSec,
    * stillFlagged, keptRep): keptRep is the retry's elapsed to append to
    * the query's reps, None for a failed retry (`retrySec` < 0) — a
    * fast-failing rep must never reach the elapsed floor, which takes the
    * min over reps and would flag every later clean run hot. Queries that
    * never flagged keep their original statistic untouched —
    * additions-only.
    */
  def retryOutcome(isWrite: Boolean, published: Double, retrySec: Double,
      floor: Option[Double]): (Double, Boolean, Option[Double]) = {
    val kept = Option(retrySec).filter(_ >= 0)
    val better = kept.filter(_ < published).getOrElse(published)
    val still =
      if (isWrite) writeHotRule(better, floor) else readHotRule(better, floor)
    (better, still, kept)
  }

  /** Queries whose frame CONSTRUCTION runs real Spark jobs (in-query BPE
    * training collect, q131's corpus-total action, q56's hot-token probe
    * in `NearDup`): their plan_ms measures job execution, not planning,
    * so the plan_hot floor comparison would dilute what the flag means
    * (ADVICE r20, r22). They are read-family for elapsed purposes —
    * [[readHotRule]] still covers them.
    */
  val constructionActions: Set[String] =
    Set("q122_bpe_tokenize", "q131_vocab_report", "q56_ngram_jaccard")

  /** True median: middle element for odd n, mean of the two middles for
    * even n (REPS is user-settable — an upper-middle pick would bias
    * even-rep runs high).
    */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** One query's aggregated bench result: published elapsed, worst-rep
    * rows/status, plan metrics from the first clean rep, per-rep elapsed
    * and loadavg stamps, and the rep-summed fixture-build ms. */
  private final case class QRes(name: String, sec: Double, rows: Long,
      status: String, repSecs: Seq[Double], bytes: Option[(Long, Long, Long)],
      qLoad: Double, planMs: Double, repLoads: Seq[Double], fixtureMs: Double)

  /** The untimed generic warm-up every timed main runs before its first
    * timed query, so that query does not absorb JVM start-up (the
    * reference benches against an already-running warehouse; same
    * footing here): the JVM/codegen/parquet-reader paths, and with
    * `writePath` the snapshot-table WRITE path too (staging, footer-stats
    * harvest, commit primitive, compaction swap). Those driver-heavy
    * paths run interpreted until C2 compiles them, and measured
    * cold-vs-warm differences on the write-family queries are ~2.5× (see
    * README "Write-path bench drift"); one tiny round trip puts every
    * timed query on the same footing; scan-bound runs skip that part. */
  def warmUp(spark: SparkSession, sfDir: String, writePath: Boolean): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.load(spark, sfDir, "region").count()
    if (writePath) {
      val loc = Tables.scratch("bench-warmup-table")
      Tables.deleteRecursively(loc)
      val t = graft.table.SnapshotTable.create(spark, loc,
        spark.range(2000).selectExpr("id", "id % 7 AS k", "rand(42) AS v"))
      t.append(spark.range(2000, 3000).selectExpr("id", "id % 7 AS k", "rand(43) AS v"))
      t.compact(targetBytes = 1L << 20)
      t.read().count()
      Tables.deleteRecursively(loc)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_REPS=1 disables the median protocol for quick local runs.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val spark = GraftSession.build()

    // All JSON numbers go through Locale.ROOT: the f"" interpolator uses
    // the JVM default locale, and a comma-decimal locale would emit
    // invalid JSON (e.g. "value": 79,04).
    def jnum(x: Double, digits: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(x))

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""

    // suite selection mirrors the reference harness's --test-suite CLI
    // (run_performance_tests.py:344-374): basic | advanced | maintenance |
    // data_pipeline | all. Driver contract unchanged (no arg → all).
    val suiteArg = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_SUITE")).getOrElse("all")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => suiteArg == "all" || suite(n) == suiteArg || n == suiteArg)
    require(names.nonEmpty, s"unknown suite: $suiteArg")

    warmUp(spark, sfDir, writePath = names.exists(writeFamily))
    // q09 measures partition PRUNING; the one-time rewrite of events into
    // the date-partitioned layout is a warehouse-build step, not part of
    // the query (r12 charged it to q09 and made "pruned" read slower than
    // the full scan it exists to beat). Amortize it here, untimed.
    // a warmup failure must never abort the bench (a nonzero exit would
    // discard the whole report): the timed run of the same query will
    // record the failure as that query's ERROR status instead
    def warmup(label: String)(body: => Unit): Unit =
      try body catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $label failed (timed run will record it): $e")
      }
    if (names.contains("q09_event_type_pruned"))
      warmup("q09 layout") { graft.queries.Core.partitionedEventsDir(spark, sfDir); () }
    // q47/q66's media fixtures are likewise one-time builds
    // (fingerprint-cached): one untimed invocation builds them so the
    // timed runs measure decode/header-parse, not fixture encoding
    Seq("q47_multimodal_features", "q66_image_meta", "q70_audio_features",
        "q71_video_frames", "q72_image_resize").filter(names.contains)
      .foreach { n => warmup(n) { SparkEntry.queries(n)(spark, sfDir).count(); () } }
    sweepCaches(spark)
    // Warm the two remaining cold paths the table round trip doesn't
    // reach — both measured as the swingiest write-family queries when
    // their first timed run also absorbed C2 compilation:
    //  - MERGE INTO row-level rewrite machinery (q58);
    //  - the PPJoin shingle/prefix expression pipeline (q56).
    // Only when a query needing them is actually selected.
    if (names.exists(extraWarmup)) locally {
      val wh = Tables.scratch("bench-warmup-wh")
      Tables.deleteRecursively(s"$wh/db/warm")
      spark.conf.set("spark.sql.catalog.benchwarm",
        classOf[graft.table.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.benchwarm.warehouse", wh)
      spark.sql("CREATE TABLE benchwarm.db.warm (id BIGINT, v DOUBLE)")
      // deterministic source values: MERGE refuses non-deterministic
      // expressions (rand) in its source plan
      spark.range(500).selectExpr("id", "CAST(id % 97 AS DOUBLE) / 10 AS v")
        .writeTo("benchwarm.db.warm").append()
      spark.range(250, 750).selectExpr("id", "CAST(id % 89 AS DOUBLE) / 10 AS v")
        .createOrReplaceTempView("warm_src")
      spark.sql(
        """MERGE INTO benchwarm.db.warm t USING warm_src s ON t.id = s.id
          |WHEN MATCHED AND s.id % 10 = 0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      spark.catalog.dropTempView("warm_src")
      Tables.deleteRecursively(s"$wh/db/warm")

      val warmDocs = spark.range(40).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', transform(sequence(1, 30), " +
          "x -> concat('w', CAST((id * 31 + x * 7) % 50 AS STRING)))) AS text")
      graft.operators.NearDup.exactPairs(spark, warmDocs, "doc_id", "text",
        shingleSize = 3, threshold = 0.6).count()
      spark.sqlContext.clearCache()
    }

    // 1-minute /proc/loadavg sampled BEFORE EVERY TIMED REP (not just at
    // loop start/end): the load indicator for the byte-OPAQUE queries
    // (q83 CC on checkpointed RDDs, q23 CTAS, q48, q88 streaming — their
    // scan/shuf columns read 0, so byte drift can't adjudicate them).
    // r16 showed why start/end-only sampling fails: the driver run
    // carried 3–5× mid-run elapsed inflation on q32/q35/q55-q57 while
    // "load":[3.0,2.9] read benign — 1-min samples at the loop
    // boundaries missed the contention window entirely (VERDICT r16
    // task 1). The summary line now publishes "load":[start,max,end]
    // (max over all per-rep samples) plus "hot":[...] — the queries
    // whose start-of-rep sample exceeded SPARK_GRAFT_HOT_LOAD
    // (default 8.0; the bench's own steady-state contribution measured
    // 2.5–4 on this 32-CPU box, so ≥8 means an external co-runner).
    // README "Bench variance protocol" restates the discount rule
    // against these fields.
    def loadavg(): Double =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
      catch { case _: Exception => -1.0 }
    val hotThreshold =
      sys.env.getOrElse("SPARK_GRAFT_HOT_LOAD", "8.0").toDouble
    val loadStart = loadavg()
    var loadMax = loadStart

    // A single-query invocation (`runMain graft.Bench q26_pricing_summary`)
    // is an attribution run — always apply the median protocol there, even
    // for scan-bound queries the full run times once (the full run keeps
    // scan queries at 1 rep so its total stays comparable across rounds).
    // It also prints each timed rep's per-job table (wall, driver gap,
    // stages, tasks, call site) to stderr, after that rep's timed window.
    val isolated = names.size == 1
    val jobLog = if (isolated) Some(new graft.metrics.JobLog(spark.sparkContext))
      else None

    // Per-query plan_ms FLOORS, persisted across runs on this machine
    // (keyed by sf dir — plan cost scales with metadata size). The r18
    // adjudication gap: a single contended run can inflate EVERY rep of a
    // read query, and the 1-min loadavg misses sub-minute contention
    // windows entirely (r18: ~30 queries inflated 3–14× while sampled
    // loads read 2.2–7.8, under the 8.0 threshold). plan_ms is the
    // contention signature that survives: it's driver-side CPU on a
    // byte-identical plan, so any run where a READ query's best-rep
    // plan_ms exceeds 3× the best this machine has ever planned it in is
    // flagged "plan_hot" — the summary visibly marks what it couldn't
    // trust instead of shipping a silently inflated total.
    def floorsFile(kind: String) = java.nio.file.Paths.get(Tables.scratch(
      s"bench-$kind-floors/${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}.txt"))
    def readFloors(p: java.nio.file.Path): Map[String, Double] =
      if (!java.nio.file.Files.exists(p)) Map.empty
      else java.nio.file.Files.readAllLines(p).toArray(Array[String]())
        .flatMap { line =>
          line.split(" ") match {
            case Array(n, v) => v.toDoubleOption.map(n -> _)
            case _ => None
          }
        }.toMap
    def writeFloors(p: java.nio.file.Path, prior: Map[String, Double],
        observed: Seq[(String, Double)]): Unit = {
      val merged = observed.foldLeft(prior) { case (acc, (n, v)) =>
        acc.updated(n, acc.get(n).fold(v)(math.min(_, v)))
      }
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p,
        merged.toSeq.sorted.map { case (n, v) =>
          String.format(java.util.Locale.ROOT, "%s %.3f", n, Double.box(v))
        }.mkString("", "\n", "\n"))
    }
    val floorsPath = floorsFile("plan")
    val priorFloors: Map[String, Double] = readFloors(floorsPath)
    // Elapsed floors (seconds) for the write family — the write-side
    // counterpart of the plan_ms floors ([[writeHotRule]]).
    val elapsedFloorsPath = floorsFile("elapsed")
    val priorElapsedFloors: Map[String, Double] = readFloors(elapsedFloorsPath)

    // One timed rep, shared by the main loop and the retry rung below —
    // identical methodology (fixture attribution, plan_ms window, metrics
    // off the executed plan, cache sweep after).
    def timeRep(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Long, String, (Long, Long, Long), Double, Double, Double) = {
        val repLoad = loadavg()
        if (repLoad > loadMax) loadMax = repLoad
        // fixture-build attribution (r19 task 4): cachedDerived cache
        // misses inside this rep are one-time warehouse builds (PDF/media
        // fixture encodes), not query cost — snapshot the global counter
        // so the rep can report them separately and keep them out of the
        // plan_ms contention floors (a cold first run otherwise reads as
        // "plan-time contention" and poisons plan_hot for new queries)
        val fix0 = Tables.fixtureBuildNanos.get()
        val t0 = System.nanoTime()
        // per-query bytes off the executed plan's own SQLMetrics
        // (synchronous — no listener-bus quiesce): plan-determined, so
        // they separate real regressions from JVM drift in round-over-
        // round reads (reference records bytes_scanned per query too,
        // run_performance_tests.py:86-119)
        var m = (0L, 0L, 0L)
        // plan_ms: driver-side time to CONSTRUCT and PLAN the frame —
        // frame building (catalog loadTable, snapshot/manifest-chunk
        // parse, delete-ledger reads) plus analysis/optimization/physical
        // planning, everything before the first job submits. Attributes
        // metadata-path regressions (e.g. time travel parsing manifest
        // chunks) separately from scan time. For write-family queries the
        // frame-construction step includes their imperative commits, so
        // compare plan_ms across READ queries only.
        var planMs = -1.0
        val (rows, status) =
          try {
            // df.count() executes a DERIVED plan, leaving df's own
            // queryExecution unexecuted (its metrics read zero) — build
            // the count aggregate explicitly and collect THAT, so the
            // metrics come from the plan that actually ran
            val agg = fn(spark, sfDir).groupBy().count()
            agg.queryExecution.executedPlan // force planning, untimed jobs none
            // fixture builds run during frame construction, inside this
            // window — subtract them so plan_ms compares like-for-like
            // against floors recorded with warm fixture caches
            val planFixMs = (Tables.fixtureBuildNanos.get() - fix0) / 1e6
            planMs = math.max(0.0, (System.nanoTime() - t0) / 1e6 - planFixMs)
            val r = agg.collect()(0).getLong(0)
            m = graft.metrics.QueryMetrics.planMetrics(agg.queryExecution)
            (r, "OK")
          }
          catch { case e: Throwable =>
            (-1L, s"ERROR:${Option(e.getMessage).getOrElse(e.getClass.getName).take(200)}")
          }
        val sec = (System.nanoTime() - t0) / 1e9
        val fixMs = (Tables.fixtureBuildNanos.get() - fix0) / 1e6
        sweepCaches(spark)
        (sec, rows, status, m, repLoad, planMs, fixMs)
    }

    val results0 = names.map { name =>
      val fn = SparkEntry.queries(name)
      // Read-family queries run ≥2 reps and publish MIN-of-reps (r18
      // task 1): a read query's reps are idempotent scans, so the min is
      // the uncontended statistic — one clean rep is enough to publish a
      // trustworthy number even when a co-runner inflates the other.
      // SPARK_GRAFT_REPS=1 still collapses everything to single-shot for
      // quick local runs.
      val n =
        if (extraReps(name)) math.max(reps, if (reps > 1) 5 else 1)
        else if (writeFamily(name) || isolated) reps
        else if (reps > 1) 2
        else 1
      System.err.println(s"[bench] start $name x$n @${java.time.LocalTime.now}")
      val runs = (1 to n).map { i =>
        jobLog.foreach(_.clear())
        val r = timeRep(fn)
        jobLog.foreach(l => System.err.print(l.table(
          s"$name rep $i: ${jnum(r._1, 3)} s, plan_ms ${jnum(r._6, 1)}, ${r._3.take(80)}")))
        r
      }
      // Published elapsed: MEDIAN for the write family (reps are
      // independent rebuilds whose genuine cost the median tracks;
      // min would systematically understate commit machinery), MIN for
      // read queries (idempotent scans — min is the uncontended rep).
      // The rows/status pair comes from the worst run so an intermittent
      // failure is never hidden by green reps.
      val sec =
        if (writeFamily(name) || extraReps(name)) median(runs.map(_._1))
        else runs.map(_._1).min
      val (rows, status) = runs.find(_._3 != "OK")
        .map(r => (r._2, r._3)).getOrElse((runs.head._2, runs.head._3))
      // None (→ JSON null in the summary arrays) when no rep succeeded: a
      // bare 0 would be indistinguishable from a genuinely sub-50KB query,
      // and a byte-drift reader could misread a transient error as a real
      // scan collapse — the exact ambiguity the arrays exist to remove
      val bytes = runs.find(_._3 == "OK").map(_._4)
      // per-query load: the max 1-min loadavg sampled at the start of any
      // of this query's reps — the field the hot flag is judged on
      val qLoad = runs.map(_._5).max
      // plan_ms: min over successful reps (the cache-warm steady state —
      // the first rep pays one-time metadata/chunk-cache fills)
      val planMs = runs.filter(r => r._3 == "OK" && r._6 >= 0).map(_._6)
        .minOption.getOrElse(-1.0)
      QRes(name, sec, rows, status, runs.map(_._1), bytes, qLoad, planMs,
        runs.map(_._5), runs.map(_._7).sum)
    }
    // Write-family plan_ms includes their imperative commits, and the
    // construction-action queries' plan_ms measures job execution, so the
    // floor comparison ([[planHotRule]]) applies to plain read queries only.
    def isPlanHot(name: String, planMs: Double): Boolean =
      !writeFamily(name) && !extraReps(name) && !constructionActions(name) &&
        planHotRule(planMs, priorFloors.get(name))

    // Read-family elapsed adjudication ([[readHotRule]]): a published
    // min-of-reps over 3× this machine's best recorded elapsed means every
    // rep ran contended — flag it rather than ship it silently.
    def isReadHot(name: String, sec: Double): Boolean =
      !writeFamily(name) && !extraReps(name) &&
        readHotRule(sec, priorElapsedFloors.get(name))

    // Write-family elapsed adjudication ([[writeHotRule]]): a published
    // MEDIAN over 3× this machine's best recorded elapsed is contention
    // every rep absorbed — flag it rather than ship it silently.
    def isWriteHot(name: String, sec: Double): Boolean =
      (writeFamily(name) || extraReps(name)) &&
        writeHotRule(sec, priorElapsedFloors.get(name))

    // Retry rung (r21 verdict task 6, additions-only): any query whose
    // published statistic tripped an elapsed floor gets ONE extra rep
    // after the main loop — the r21 driver run flagged 16+3 queries whose
    // same-day 8-core cross-check proved fine; a single later rep under
    // a passed contention window converts that adjudication signal into
    // a self-healed measurement ([[retryOutcome]]). Queries that never
    // flagged keep their original statistic bit-for-bit; a retried name
    // is published in the "retried" field either way so a reader knows
    // the number's provenance.
    val needRetry = results0.filter(r => r.status == "OK" &&
      (isReadHot(r.name, r.sec) || isWriteHot(r.name, r.sec))).map(_.name).toSet
    val results = results0.map { r =>
      if (!needRetry(r.name)) r
      else {
        System.err.println(s"[bench] retry ${r.name} @${java.time.LocalTime.now}")
        val t = timeRep(SparkEntry.queries(r.name))
        val retrySec = if (t._3 == "OK") t._1 else -1.0
        val (better, _, kept) = retryOutcome(
          writeFamily(r.name) || extraReps(r.name), r.sec, retrySec,
          priorElapsedFloors.get(r.name))
        r.copy(sec = better, repSecs = r.repSecs ++ kept,
          repLoads = r.repLoads ++ kept.map(_ => t._5),
          fixtureMs = r.fixtureMs + t._7)
      }
    }
    val retriedNames = names.filter(needRetry)
    val loadEnd = loadavg()
    if (loadEnd > loadMax) loadMax = loadEnd

    val planHot = results.filter(r => isPlanHot(r.name, r.planMs)).map(_.name)
    val readHot = results.filter(r => r.status == "OK" &&
      isReadHot(r.name, r.sec)).map(_.name)
    val writeHot = results.filter(r => r.status == "OK" &&
      isWriteHot(r.name, r.sec)).map(_.name)

    // Update the floors files: min(stored, observed) per query; entries
    // for queries outside this run's suite are preserved. Elapsed floors
    // take the best single rep (the least-contended statistic) — since
    // r21 for EVERY query, not just the write family (read_hot needs
    // them; write floors are unchanged by the widening, min is min).
    writeFloors(floorsPath, priorFloors,
      results.collect { case r if r.planMs >= 0 => r.name -> r.planMs })
    writeFloors(elapsedFloorsPath, priorElapsedFloors,
      results.collect {
        case r if r.status == "OK" && r.repSecs.nonEmpty =>
          r.name -> r.repSecs.min
      })
    // The driver captures only the LAST ~2000 chars of stdout and parses the
    // JSON line from that tail; sbt then appends its own "[success] ..." line
    // (~80 chars). Rounds 2 and 3 shipped rows+status maps inline and the
    // line's head fell off the buffer → "parsed": null. Budget the line to
    // 1850 chars; the full rows/status detail lives in the report file below.
    //
    // Per-query bytes ride along as two compact arrays ALIGNED WITH THE
    // `queries` MAP ORDER (sorted names): "scan_mb" (parquet bytes read off
    // the executed plan's scan metrics) and "shuf_mb" (shuffle bytes
    // written). These are plan-determined — bit-stable across reruns while
    // elapsed seconds swing ~10× under machine load — so a round-over-round
    // reader can tell data/plan drift from JVM noise without a rerun
    // (VERDICT r14 task 4: q45 read 18× slower purely from load; the bytes
    // columns decide such cases from the artifact alone). Dropped first if
    // the line would overflow the driver's tail buffer.
    val total = results.map(_.sec).sum
    val nErr = results.count(_.status != "OK")
    // MB with one decimal under 10 (so a small query's 10× byte drift is
    // still visible), integral above, bare "0" under 50 KB (sub-rounding
    // values would all print "0.0" anyway; collapsing them is what keeps
    // 2×97 entries inside the 1850-char budget — measured 1885 vs 1735)
    def jmb(bytes: Long): String = {
      val mb = bytes / 1e6
      if (mb < 0.05) "0" else if (mb < 9.95) jnum(mb, 1) else jnum(mb, 0)
    }
    def mkLine(key: String => String, withBytes: Boolean,
        withReps: Boolean = true, flagsAsCounts: Boolean = false): String = {
      val qs = results.map(r => s"${jstr(key(r.name))}:${jnum(r.sec, 2)}").mkString("{", ",", "}")
      val extra =
        if (!withBytes) ""
        else {
          val scan = results.map(_.bytes.map(b => jmb(b._2)).getOrElse("null"))
            .mkString("[", ",", "]")
          val shuf = results.map(_.bytes.map(b => jmb(b._3)).getOrElse("null"))
            .mkString("[", ",", "]")
          s""","scan_mb":$scan,"shuf_mb":$shuf"""
        }
      // per-rep elapsed for every multi-rep (write-family) query: the
      // self-adjudication signal for load spikes — a 15 s median with
      // sibling reps at 3.4 s is drift, not regression; MIN-of-reps is
      // the robust statistic (README "Bench variance protocol"). Dropped
      // from the line after the byte arrays if the budget overflows (the
      // report file always keeps rep_seconds).
      // line budget: only the write family's rep arrays ride in the
      // summary (read queries publish min-of-reps, which self-adjudicates
      // — their full rep_seconds live in the report file)
      val repsJson =
        if (!withReps) ""
        else results.filter(r => r.repSecs.size > 1 &&
            (writeFamily(r.name) || extraReps(r.name))).map(r =>
            s"${jstr(key(r.name))}:${r.repSecs.map(x => jnum(x, 2)).mkString("[", ",", "]")}")
          .mkString(""","reps":{""", ",", "}")
      // "load":[start,max,end] — 1-min /proc/loadavg at loop start, the
      // MAX over every per-rep sample, and loop end. "hot" lists the
      // queries whose start-of-rep sample exceeded the threshold — their
      // elapsed carries machine-load inflation and must be discounted
      // (empty on a clean run, so normally ~10 chars). Kept in every
      // ladder variant: it IS the adjudication signal.
      val load = s""","load":[${jnum(loadStart, 1)},${jnum(loadMax, 1)},${jnum(loadEnd, 1)}]"""
      // a heavily co-run machine can flag DOZENS of queries, and the full
      // name lists then blow every ladder candidate past the line budget —
      // r21 watched a 37-hot run collapse to `"queries":{}`, losing all
      // per-query data. The count spelling keeps the adjudication signal
      // (nonzero = discount the run; the full lists always live in the
      // report file) while fitting the budget.
      val hotNames = results.filter(_.qLoad > hotThreshold).map(_.name)
      val hot =
        if (flagsAsCounts) s""","hot_n":${hotNames.size}"""
        else hotNames.map(n => jstr(key(n))).mkString(""","hot":[""", ",", "]")
      // plan_hot: the queries whose published (best-rep) elapsed still
      // can't be trusted — every rep's driver-side planning ran ≥3× over
      // this machine's stored floor. Empty on a clean run.
      val phot =
        if (flagsAsCounts) s""","plan_hot_n":${planHot.size}"""
        else planHot.map(n => jstr(key(n)))
          .mkString(""","plan_hot":[""", ",", "]")
      // write_hot: write-family medians ≥3× over this machine's stored
      // elapsed floor — the write-side counterpart of plan_hot (r19's
      // gap: q57/q57b published 5–8× their history with hot:[]).
      val whot =
        if (flagsAsCounts) s""","write_hot_n":${writeHot.size}"""
        else writeHot.map(n => jstr(key(n)))
          .mkString(""","write_hot":[""", ",", "]")
      // read_hot: read-family min-of-reps ≥3× over this machine's stored
      // elapsed floor — the r20 q90/q78 gap (every rep contended, min
      // can't self-rescue, plan floors watch planning only).
      val rhot =
        if (flagsAsCounts) s""","read_hot_n":${readHot.size}"""
        else readHot.map(n => jstr(key(n)))
          .mkString(""","read_hot":[""", ",", "]")
      // retried: the queries whose published number went through the
      // retry rung — provenance for the reader (the flags above already
      // say whether the retry healed them or they stayed hot)
      val retr =
        if (flagsAsCounts) s""","retried_n":${retriedNames.size}"""
        else retriedNames.map(n => jstr(key(n)))
          .mkString(""","retried":[""", ",", "]")
      s"""{"metric":"total","value":${jnum(total, 2)},"unit":"sec","queries":$qs$extra$repsJson$load$hot$phot$whot$rhot$retr,"errors":$nErr,"sf":${jstr(sfDir)}}"""
    }
    // fallback ladder: "q01_count_events" → "q01" if the full names overflow
    // (only when the prefixes stay unique — duplicate JSON keys would
    // silently drop timings in most parsers); per-rep arrays dropped after
    // the byte arrays; if even the bare short line overflows, drop the
    // per-query map rather than ship an unparseable line
    val shortOk = names.map(_.takeWhile(_ != '_')).distinct.size == names.size
    def shortKey(n: String): String = n.takeWhile(_ != '_')
    val candidates = Seq(
      mkLine(identity, withBytes = true),
      if (shortOk) mkLine(shortKey, withBytes = true) else "",
      if (shortOk) mkLine(shortKey, withBytes = false) else "",
      if (shortOk) mkLine(shortKey, withBytes = true, withReps = false) else "",
      mkLine(identity, withBytes = false, withReps = false),
      if (shortOk) mkLine(shortKey, withBytes = false, withReps = false) else "",
      // flag lists as counts — the per-query seconds map outranks flag
      // NAMES when a heavily co-run machine flags dozens of queries
      if (shortOk) mkLine(shortKey, withBytes = false, withReps = false,
        flagsAsCounts = true) else "",
      s"""{"metric":"total","value":${jnum(total, 2)},"unit":"sec","queries":{},"load":[${jnum(loadStart, 1)},${jnum(loadMax, 1)},${jnum(loadEnd, 1)}],"errors":$nErr,"sf":${jstr(sfDir)}}""")
    println(candidates.find(l => l.nonEmpty && l.length <= 1850).getOrElse(candidates.last))

    // Reference-shaped report file (run_performance_tests.py:286-329):
    // per-test name/status/seconds/rows + summary, timestamped filename.
    val ts = java.time.LocalDateTime.now()
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss"))
    val tests = results.map { q =>
      // the report keeps numeric 0s for errored queries — its adjacent
      // status field disambiguates them (unlike the summary arrays)
      val (mRows, mBytes, mShuffle) = q.bytes.getOrElse((0L, 0L, 0L))
      // rep_seconds + rep_loads (present when the protocol ran >1 rep):
      // a spiky rep stays visible in the report instead of vanishing
      // into the median, and its per-rep loadavg stamp says whether the
      // machine was busy when it started — the diagnosability half of
      // the variance protocol
      val repsJson =
        if (q.repSecs.size > 1)
          q.repSecs.map(x => jnum(x, 3)).mkString(""", "rep_seconds": [""", ", ", "]") +
            q.repLoads.map(x => jnum(x, 1)).mkString(""", "rep_loads": [""", ", ", "]")
        else ""
      val floorJson = priorFloors.get(q.name)
        .map(f => s""", "plan_floor_ms": ${jnum(f, 1)}""").getOrElse("")
      val elapsedFloorJson = priorElapsedFloors.get(q.name)
        .map(f => s""", "elapsed_floor_s": ${jnum(f, 3)}""").getOrElse("")
      // fixture_build_ms: one-time derived-fixture encodes this query
      // triggered (cache misses), reported apart from query time so a
      // cold first run can't read as a query regression
      val fixtureJson =
        if (q.fixtureMs > 0.5) s""", "fixture_build_ms": ${jnum(q.fixtureMs, 1)}"""
        else ""
      s"""    {"test_name": ${jstr(q.name)}, "suite": ${jstr(suite(q.name))}, "status": ${jstr(if (q.status == "OK") "SUCCESS" else "ERROR")}, "execution_time_seconds": ${q.sec}, "row_count": ${q.rows}, "rows_scanned": $mRows, "bytes_scanned": $mBytes, "shuffle_bytes": $mShuffle, "plan_ms": ${jnum(q.planMs, 1)}$floorJson$elapsedFloorJson$fixtureJson, "plan_hot": ${isPlanHot(q.name, q.planMs)}, "write_hot": ${q.status == "OK" && isWriteHot(q.name, q.sec)}, "read_hot": ${q.status == "OK" && isReadHot(q.name, q.sec)}, "retried": ${needRetry(q.name)}, "loadavg_start": ${jnum(q.qLoad, 1)}, "hot": ${q.qLoad > hotThreshold}$repsJson}"""
    }.mkString("[\n", ",\n", "\n  ]")
    val report =
      s"""{
         |  "report_timestamp": ${jstr(ts)},
         |  "sf_dir": ${jstr(sfDir)},
         |  "test_results": $tests,
         |  "summary": {
         |    "total_tests": ${results.size},
         |    "successful_tests": ${results.size - nErr},
         |    "failed_tests": $nErr,
         |    "total_execution_time_seconds": $total
         |  }
         |}""".stripMargin
    val reportDir = java.nio.file.Paths.get(Tables.scratch("bench-reports"))
    java.nio.file.Files.createDirectories(reportDir)
    java.nio.file.Files.writeString(
      reportDir.resolve(s"performance_report_$ts.json"), report)

    spark.stop()
    // always exit 0: failures are reported in the status/errors fields;
    // a nonzero rc would make the driver discard the whole report
  }
}
