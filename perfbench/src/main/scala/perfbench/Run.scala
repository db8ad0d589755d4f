package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.{col, count, hash, lit, max, struct}
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.agg.Analytics
import graft.etl.{Enrich, Quality}
import graft.ingest.{Json => JsonIngest}
import graft.model.Schemas
import graft.stream.Pipeline
import graft.warehouse.Warehouse

import Main._

/** One pass over the queries, or one stream drain plus read-back: its
  * wall time, executor CPU, the latency of each named operation (a query;
  * a trigger or a read-back aggregate) and, when traced, per-layer sums.
  */
final case class Pass(wallS: Double, cpuS: Double, opsMs: Seq[(String, Double)],
                      traced: Boolean, layers: Map[String, Double])

final case class Run(o: Opts) {
  val workload: String = o("workload")
  val seed: Long = o("seed").toLong
  val seconds: Double = o("seconds").toDouble
  val traced: Boolean = o("trace") == "1"
  val work: String = o("work")
  val cpus: Int = o("cpus").toInt
  val isQuery: Boolean = workload != "stream_ingest"
  // Settling and warm passes per run. The JIT is still compiling after
  // the cold pass: warm passes after one settling pass kept getting faster
  // (e.g. 6.2 -> 5.6 -> 5.1 s), so every run settles twice. An untraced
  // run reports the median of three warm passes; a traced run interleaves
  // untraced and traced warm passes (u t t u), two of each.
  val settle = 2
  val minWarm: Int = if (traced) 4 else 3
  require(Set("analytics_curation", "stream_ingest")(workload), s"unknown workload $workload")

  val tracer = new Tracer(traced)
  val cpu = new CpuCounter
  val rec = new JobRecorder
  var spark: SparkSession = _
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val notes = mutable.ArrayBuffer.empty[String]
  // Per-layer metrics a traced run does not measure, with the reason:
  // the layers the workload does not load, and any split that failed.
  val absent: mutable.Map[String, String] = mutable.LinkedHashMap.from(
    (if (traced) Layers.notLoadedBy(workload) else Seq.empty)
      .map(_ -> s"layer not loaded by $workload"))
  val runSpan: Long = tracer.nextId()

  def fail(msg: String): Unit = {
    failed += 1
    if (errors.length < 50) errors += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  def sc = spark.sparkContext

  def execute(): Unit = {
    val t0 = Clock.now()
    val cal0 = calibrate()
    val (setupS, setupLayers) = setup(cal0)
    val (cold, warm) = if (isQuery) queryPasses() else streamCycles()
    val extra = if (traced && !isQuery) ingestLayers() else Map.empty[String, Double]
    val cal1 = calibrate()
    val untracedWarm = warm.filterNot(_.traced)
    // Each operation's median over the warm passes, so a burst of host
    // contention that slows one pass does not move the percentiles.
    val opMedians = untracedWarm.flatMap(_.opsMs).groupBy(_._1).values
      .map(xs => median(xs.map(_._2))).toSeq
    val metrics: Map[String, Double] =
      if (!traced) Map(
        "setup_s" -> setupS,
        "cold_pass_s" -> cold.wallS,
        "warm_pass_s" -> median(untracedWarm.map(_.wallS)),
        "op_p50_ms" -> percentile(opMedians, 0.5),
        "op_p90_ms" -> percentile(opMedians, 0.9),
        "cpu_s" -> median(untracedWarm.map(_.cpuS)),
        "heap_peak_mb" -> heapPeakMb)
      else layerMetrics(cold, warm, setupLayers ++ extra)
    val result = Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics,
      "errors" -> errors.toSeq,
      "notes" -> notes.toSeq,
      "absent" -> absent.toSeq.groupBy(_._2).map { case (why, xs) => why -> xs.map(_._1) },
      "context" -> Map(
        "workload" -> workload, "seed" -> seed, "trace" -> traced,
        "cpus" -> cpus, "setup_s" -> setupS,
        "cold_pass_s" -> cold.wallS,
        "warm_passes_s" -> warm.map(_.wallS),
        "warm_passes_traced" -> warm.map(_.traced),
        "warm_cpu_s" -> warm.map(_.cpuS),
        "warm_ops" -> warm.map(_.opsMs.length),
        "calibration_start_s" -> cal0, "calibration_end_s" -> cal1,
        "jvm_wall_s" -> (Clock.now() - t0) / 1000))
    writeFile(o("result"), Json.write(result) + "\n")
    if (traced) {
      tracer.enabled = true
      tracer.record(Span(runSpan, 0, "run", t0, Clock.now(), Map("workload" -> workload)))
      writeFile(o("spans"), Json.write(tracer.spans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs))) + "\n")
    }
    stop(spark)
  }

  // ---------------------------------------------------------------- set-up

  /** Session, per-table decode warm and (query workload) every persisted
    * index into the run's empty index root, timed from JVM start less the
    * calibration loop that ran first. Returns the seconds and the set-up
    * layers.
    */
  def setup(calibrationS: Double): (Double, Map[String, Double]) = {
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    spark = session(cpus, work, s"$work/index")
    sc.addSparkListener(cpu)
    sc.addSparkListener(rec)
    rec.enabled = traced
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val sid = tracer.nextId()
    tracer.span("codegen_warm", sid)(_ => warmCodegen(spark))
    warmTables.foreach { t =>
      val ts = Clock.now()
      tracer.span("sources.warm", sid, Map("table" -> t))(_ => warmTable(spark, data, t))
      layers(s"sources.warm_ms.$t") = Clock.now() - ts
    }
    if (isQuery) {
      val ts = Clock.now()
      val built = SparkEntry.ensureIndexes(spark, data)
      val te = Clock.now()
      attempted += 1
      if (built.toSet != IndexFamilies.names.toSet)
        fail(s"set-up built [${built.mkString(",")}] in an empty index root; " +
          s"expected [${IndexFamilies.names.mkString(",")}]")
      if (traced) {
        val perFamily = IndexFamilies.buildMs(data, ts)
        attempted += 1
        if (perFamily.isEmpty) {
          fail("index build split: the families' last file writes are not in call order")
          IndexFamilies.names.foreach(f => absent(s"index.build_ms.$f") = "index split failed")
        }
        var from = ts
        perFamily.toSeq.sortBy(kv => IndexFamilies.names.indexOf(kv._1)).foreach { case (f, ms) =>
          layers(s"index.build_ms.$f") = ms
          tracer.record(Span(tracer.nextId(), sid, s"index.$f", from, from + ms, Map.empty))
          from += ms
        }
        tracer.record(Span(tracer.nextId(), sid, "index.ensure_all", ts, te, Map.empty))
      }
      IndexFamilies.paths(data).foreach { case (f, p) =>
        layers(s"index.bytes.$f") = dirBytes(localFile(p)).toDouble
      }
    }
    val t1 = Clock.now()
    tracer.record(Span(sid, runSpan, "setup", t0, t1, Map.empty))
    if (isQuery) {
      // Outside the set-up time: a second ensure on the intact indexes
      // must validate every family and build nothing.
      val tv = Clock.now()
      val again = SparkEntry.ensureIndexes(spark, data)
      layers("index.validate_ms") = Clock.now() - tv
      attempted += 1
      if (again.nonEmpty) fail(s"re-ensure rebuilt [${again.mkString(",")}]")
    }
    ((t1 - t0) / 1000 - calibrationS, layers.toMap)
  }

  def data: String = o("data")

  /** The tables the workload's queries read, warmed during set-up. */
  def warmTables: Seq[String] = if (isQuery) tables else Seq.empty

  // --------------------------------------------------------------- passes

  private var heapPeak = 0L
  def heapPeakMb: Double = heapPeak / 1048576.0

  /** Post-GC old-generation heap after every pass, outside the timing.
    * The first GC lets Spark's context cleaner see the pass's dead
    * broadcasts and shuffles; the second, after the cleaner has had time
    * to drop them, measures what the pass really left behind.
    */
  def afterPass(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum
    heapPeak = math.max(heapPeak, old)
  }

  /** Executor CPU so far, read once every queued task-end event has been
    * delivered; a bus that does not drain in time is noted with the run.
    */
  def cpuNow(): Long = {
    if (!ListenerDrain.drain(sc, 60000L))
      notes += "listener bus did not drain within 60 s; cpu_s may under-count"
    cpu.cpuNs.get
  }

  def codegenNow(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Cold pass, settling passes (the JIT is still compiling after the
    * cold pass; they check outputs but are not reported), then warm passes until
    * `seconds` have passed (at least `minWarm`). A traced run traces the
    * cold pass and warm passes in the order u t t u, so neither side gets
    * all the earlier passes.
    */
  def loop(body: (Int, Boolean) => Pass): (Pass, Seq[Pass]) = {
    val cold = body(0, traced)
    (1 to settle).foreach(body(_, false))
    val warm = mutable.ArrayBuffer.empty[Pass]
    val start = Clock.now()
    while (warm.length < minWarm || (Clock.now() - start) / 1000 < seconds)
      warm += body(warm.length + 1 + settle, traced && Set(1, 2)(warm.length % 4))
    (cold, warm.toSeq)
  }

  def queryPasses(): (Pass, Seq[Pass]) = {
    val names = readLines(o("names"))
    val orders = readLines(o("orders")).map(_.split(",").toSeq)
    val expected = readLines(o("expected")).map(_.split("\t")).collect {
      case Array(n, rows, _*) => n -> rows.toLong
    }.toMap
    val fns = SparkEntry.queries
    val unknown = names.filterNot(n => fns.contains(n) && expected.contains(n))
    require(unknown.isEmpty, s"no query or expected count for: ${unknown.mkString(",")}")
    require(orders.forall(_.sorted == names.sorted), "query order file does not match the name list")
    loop((p, tr) => queryPass(orders(p % orders.length), fns, expected, p, tr))
  }

  def queryPass(order: Seq[String],
                fns: Map[String, (SparkSession, String) => DataFrame],
                expected: Map[String, Long], p: Int, tr: Boolean): Pass = {
    tracer.enabled = tr
    rec.enabled = tr
    val pid = tracer.nextId()
    val cpu0 = cpuNow()
    val sums = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    var prevRdds = sc.getRDDStorageInfo.map(_.id).toSet
    val ops = mutable.ArrayBuffer.empty[(String, Double)]
    val queries = mutable.ArrayBuffer.empty[(String, Long, Double, Double, Double, Double)]
    val t0 = Clock.now()
    order.foreach { name =>
      attempted += 1
      val qid = tracer.nextId()
      val group = s"q$qid"
      if (tr) sc.setJobGroup(group, name, false)
      val (cg0, ct0) = codegenNow()
      val tq = Clock.now()
      var tb, tp, ta = Double.NaN
      try {
        val df = fns(name)(spark, data)
        tb = Clock.now()
        val counted = df.groupBy().count()
        val qe = counted.queryExecution
        qe.executedPlan
        tp = Clock.now()
        val n = counted.collect()(0).getLong(0)
        ta = Clock.now()
        ops += name -> (ta - tq)
        if (n != expected(name)) fail(s"$name returned $n rows, expected ${expected(name)}")
        if (tr) {
          val ph = qe.tracker.phases
          Seq("analysis", "optimization", "planning").foreach { k =>
            sums(s"catalyst.${k}_ms") += ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
          }
        }
      } catch {
        case e: Throwable => fail(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally if (tr) sc.clearJobGroup()
      if (tr) {
        val (cg1, ct1) = codegenNow()
        sums("codegen.compiles") += (cg1 - cg0).toDouble
        sums("codegen.compile_ms") += (ct1 - ct0) / 1e6
        val infos = sc.getRDDStorageInfo
        val fresh = infos.filterNot(i => prevRdds(i.id))
        prevRdds = infos.map(_.id).toSet
        sums("cache.persisted_rdds") += fresh.length.toDouble
        sums("cache.persisted_mb") += fresh.map(i => i.memSize + i.diskSize).sum / 1048576.0
        queries += ((name, qid, tq, tb, tp, ta))
      }
    }
    val t1 = Clock.now()
    val cpuS = (cpuNow() - cpu0) / 1e9
    if (tr) queries.foreach { case (name, qid, tq, tb, tp, ta) =>
      val group = s"q$qid"
      val end = if (ta.isNaN) t1 else ta
      val jobs = rec.jobsOf(group)
      jobs.foreach(j => tracer.record(Span(tracer.nextId(), qid, "spark.job", j.startMs,
        if (j.endMs.isNaN) end else j.endMs, Map("job_id" -> j.jobId))))
      if (!tb.isNaN) tracer.record(Span(tracer.nextId(), qid, "build", tq, tb, Map.empty))
      if (!tp.isNaN) tracer.record(Span(tracer.nextId(), qid, "plan", tb, tp, Map.empty))
      if (!ta.isNaN) tracer.record(Span(tracer.nextId(), qid, "action", tp, ta, Map.empty))
      tracer.record(Span(qid, pid, "query", tq, end, Map("name" -> name)))
      if (!tb.isNaN) {
        sums("entry.build_ms") += tb - tq
        sums("entry.build_jobs") += jobs.count(_.startMs < tb).toDouble
      }
      if (!ta.isNaN) sums("exec.action_ms") += ta - tp
      addExec(sums, group, jobs, tq, end)
    }
    tracer.record(Span(pid, runSpan, "pass", t0, t1, Map("pass" -> p, "cold" -> (p == 0))))
    afterPass()
    Pass((t1 - t0) / 1000, cpuS, ops.toSeq, tr, sums.toMap)
  }

  /** Exec and shuffle layers of one job group over `[lo, hi)`. */
  def addExec(sums: mutable.Map[String, Double], group: String, jobs: Seq[JobRec],
              lo: Double, hi: Double): Unit = {
    val a = rec.aggOf(group)
    sums("exec.jobs") += jobs.length.toDouble
    sums("exec.stages") += a.stages.toDouble
    sums("exec.tasks") += a.tasks.toDouble
    sums("exec.executor_run_s") += a.runMs / 1000.0
    sums("exec.executor_cpu_s") += a.cpuNs / 1e9
    sums("exec.gc_s") += a.gcMs / 1000.0
    sums("shuffle.write_bytes") += a.shuffleWrite.toDouble
    sums("shuffle.read_bytes") += a.shuffleRead.toDouble
    sums("shuffle.spill_bytes") += a.spill.toDouble
    val busy = Intervals.unionMs(jobs.map(j => (j.startMs, if (j.endMs.isNaN) hi else j.endMs)), lo, hi)
    sums("exec.driver_floor_s") += (hi - lo - busy) / 1000
  }

  // --------------------------------------------------------------- stream

  lazy val streamExpected: Map[String, Long] =
    readLines(o("stream-expected")).map(_.split("=")).collect {
      case Array(k, v) => k.trim -> v.trim.toLong
    }.toMap

  def streamCycles(): (Pass, Seq[Pass]) = loop(streamCycle)

  /** Drain the generated files into a fresh warehouse, then read the
    * dashboard aggregates back and check them against the generator.
    */
  def streamCycle(c: Int, tr: Boolean): Pass = {
    tracer.enabled = tr
    rec.enabled = tr
    val input = o("stream-input")
    val maxFiles = o("max-files-per-trigger").toInt
    val wh = s"$work/warehouse-$c"
    val chk = s"$work/stream-checkpoint-$c"
    val sums = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val pid = tracer.nextId()
    val cpu0 = cpuNow()
    val (cg0, ct0) = codegenNow()
    val t0 = Clock.now()
    val q = Pipeline.start(Pipeline.fileTextSource(spark, input, maxFiles), wh, chk,
      Trigger.AvailableNow())
    try q.awaitTermination()
    catch { case _: Throwable => () }
    val t1 = Clock.now()
    val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    attempted += progress.length + 1
    q.exception.foreach(e => fail(s"stream drain $c: ${e.getMessage}"))
    // The sink's per-batch emptiness probe re-reads part of each batch,
    // so the source's input count can exceed the records written.
    val rowsIn = progress.map(_.numInputRows).sum
    if (rowsIn < streamExpected("rows_total"))
      fail(s"stream drain $c read $rowsIn records, generated ${streamExpected("rows_total")}")
    val trigMs = progress.map(p => p.durationMs.getOrDefault("triggerExecution", 0L).toDouble)
    val drainId = tracer.nextId()
    if (tr) {
      progress.zip(trigMs).foreach { case (p, ms) =>
        val st = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        tracer.record(Span(tracer.nextId(), drainId, "trigger", st, st + ms,
          Map("batch_id" -> p.batchId, "rows" -> p.numInputRows)))
      }
      tracer.record(Span(drainId, pid, "drain", t0, t1, Map("cycle" -> c)))
      val durs = Seq("addBatch" -> "add_batch_ms", "getBatch" -> "get_batch_ms",
        "latestOffset" -> "latest_offset_ms", "queryPlanning" -> "query_planning_ms",
        "walCommit" -> "wal_commit_ms")
      durs.foreach { case (k, m) =>
        sums(s"stream.$m") = progress.map(_.durationMs.getOrDefault(k, 0L).toDouble).sum
      }
      sums("stream.triggers") = progress.length.toDouble
      sums("stream.rows_per_trigger") = if (progress.isEmpty) 0.0 else rowsIn.toDouble / progress.length
      sums("stream.trigger_p50_ms") = median(trigMs)
      sums("stream.ingest_rows_per_s") = streamExpected("rows_total") / ((t1 - t0) / 1000)
      if (c == 0) sums("stream.first_trigger_ms") = trigMs.headOption.getOrElse(0.0)
      val files = dataFiles(new File(wh))
      sums("warehouse.files_written") = files.length.toDouble
      sums("warehouse.bytes_written") = files.map(_.length).sum.toDouble
      sums("warehouse.bytes_per_row") =
        files.map(_.length).sum.toDouble / math.max(1L, streamExpected("rows_valid"))
    }
    val rbGroup = s"readback-$c"
    if (tr) sc.setJobGroup(rbGroup, rbGroup, false)
    val rbId = tracer.nextId()
    val t2 = Clock.now()
    val aggMs = try readBack(wh, rbId, sums, c)
    catch { case e: Throwable =>
      fail(s"read-back $c threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      Seq.empty
    } finally if (tr) sc.clearJobGroup()
    val t3 = Clock.now()
    val cpuS = (cpuNow() - cpu0) / 1e9
    if (tr) {
      tracer.record(Span(rbId, pid, "readback", t2, t3, Map.empty))
      sums("agg.readback_s") = (t3 - t2) / 1000
      val (cg1, ct1) = codegenNow()
      sums("codegen.compiles") = (cg1 - cg0).toDouble
      sums("codegen.compile_ms") = (ct1 - ct0) / 1e6
      addExec(sums, q.runId.toString, rec.jobsOf(q.runId.toString), t0, t1)
      addExec(sums, rbGroup, rec.jobsOf(rbGroup), t2, t3)
      sums("exec.action_ms") = t3 - t0
    }
    tracer.record(Span(pid, runSpan, "pass", t0, t3, Map("pass" -> c, "cold" -> (c == 0))))
    deleteTree(new File(wh))
    deleteTree(new File(chk))
    afterPass()
    val ops = trigMs.zipWithIndex.map { case (ms, i) => s"trigger-$i" -> ms } ++ aggMs
    Pass((t3 - t0) / 1000, cpuS, ops, tr, sums.toMap)
  }

  /** The dashboard aggregates over the warehouse just written, checked
    * against the generator; returns each aggregate's latency.
    */
  def readBack(wh: String, parent: Long, sums: mutable.Map[String, Double],
               c: Int): Seq[(String, Double)] = {
    val trips = Warehouse.readTrips(spark, wh)
    val fare = col("fare_amount")
    def timed(name: String, df: DataFrame): Array[org.apache.spark.sql.Row] = {
      val t = Clock.now()
      val rows = tracer.span(s"agg.$name", parent)(_ => df.collect())
      sums(s"agg.${name}_ms") = Clock.now() - t
      attempted += 1
      rows
    }
    val statsDf = Analytics.tripStatistics(trips, fare)
    val stats = timed("trip_statistics", statsDf)
    val vendors = timed("vendor_comparison", Analytics.vendorComparison(trips, col("vendor_id"), fare))
    val hourly = timed("hourly_statistics",
      Analytics.hourlyStatistics(trips, col("pickup_datetime"), fare))
    val daily = timed("vendor_daily",
      Analytics.vendorDaily(trips, col("vendor_id"), col("pickup_datetime"), fare))
    if (tracer.enabled) sums("warehouse.files_read") = scanFiles(statsDf.queryExecution.executedPlan).toDouble
    val e = streamExpected
    val rows = stats(0).getLong(0)
    val cents = math.round(stats(0).getDouble(2) * 100)
    if (rows != e("rows_valid") || cents != e("fare_cents"))
      fail(s"warehouse $c holds $rows rows / $cents fare cents; generator wrote " +
        s"${e("rows_valid")} / ${e("fare_cents")}")
    if (vendors.length != e("vendors") || vendors.map(_.getLong(1)).sum != e("rows_valid"))
      fail(s"vendor_comparison $c: ${vendors.length} vendors, expected ${e("vendors")}")
    if (hourly.length != e("date_hours") || hourly.map(_.getLong(2)).sum != e("rows_valid"))
      fail(s"hourly_statistics $c: ${hourly.length} groups, expected ${e("date_hours")}")
    if (daily.length != e("vendor_dates") || daily.map(_.getLong(2)).sum != e("rows_valid"))
      fail(s"vendor_daily $c: ${daily.length} groups, expected ${e("vendor_dates")}")
    Seq("trip_statistics", "vendor_comparison", "hourly_statistics", "vendor_daily")
      .map(n => s"agg.$n" -> sums(s"agg.${n}_ms"))
  }

  def scanFiles(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scanFiles(a.executedPlan)
    case s: QueryStageExec => scanFiles(s.plan)
    case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case other => other.children.map(scanFiles).sum
  }

  /** Traced stream runs: batch runs over the same files, each adding one
    * layer to the last (read, parse, enrich, filter); a layer's time is
    * the difference of two cumulative medians.
    */
  def ingestLayers(): Map[String, Double] = {
    tracer.enabled = true
    val raw = spark.read.text(o("stream-input"))
    val parsed = JsonIngest.parseStream(raw, Schemas.tripStream)
    val enriched = Enrich.enrich(parsed)
    val valid = Quality.validTrips(enriched)
    def force(df: DataFrame): (Double, Long) = {
      val t = Clock.now()
      val r = df.select(hash(struct(df.columns.toIndexedSeq.map(col): _*)).as("h"))
        .agg(max(col("h")), count(lit(1))).collect()(0)
      (Clock.now() - t, r.getLong(1))
    }
    val sid = tracer.nextId()
    val t0 = Clock.now()
    val stages = Seq("read" -> raw, "parse" -> parsed, "enrich" -> enriched, "filter" -> valid)
    val timed = stages.map { case (n, df) =>
      val reps = (0 until 3).map(_ => force(df))
      n -> (median(reps.map(_._1)), reps.head._2)
    }.toMap
    tracer.record(Span(sid, runSpan, "ingest_layers", t0, Clock.now(), Map.empty))
    Map(
      "ingest.parse_ms" -> (timed("parse")._1 - timed("read")._1),
      "etl.enrich_ms" -> (timed("enrich")._1 - timed("parse")._1),
      "etl.filter_ms" -> (timed("filter")._1 - timed("enrich")._1),
      "etl.rows_dropped" -> (timed("enrich")._2 - timed("filter")._2).toDouble)
  }

  // ------------------------------------------------------------ per-layer

  /** Traced run: per-layer sums, median over the traced warm passes
    * (codegen: cold pass and warm passes apart), plus the set-up and
    * ingest layers and the measured tracing overhead.
    */
  def layerMetrics(cold: Pass, warm: Seq[Pass], extra: Map[String, Double]): Map[String, Double] = {
    val tw = warm.filter(_.traced)
    val uw = warm.filterNot(_.traced)
    val keys = tw.flatMap(_.layers.keys).distinct
    val warmMed = keys.map(k => k -> median(tw.map(_.layers.getOrElse(k, 0.0)))).toMap
    val overhead = 100 * (median(tw.map(_.wallS)) - median(uw.map(_.wallS))) / median(uw.map(_.wallS))
    val m = mutable.LinkedHashMap.empty[String, Double]
    warmMed.foreach { case (k, v) => m(k) = v }
    extra.foreach { case (k, v) => m(k) = v }
    m("codegen.cold_compiles") = cold.layers.getOrElse("codegen.compiles", 0.0)
    m("codegen.cold_compile_ms") = cold.layers.getOrElse("codegen.compile_ms", 0.0)
    m("codegen.warm_compiles") = warmMed.getOrElse("codegen.compiles", 0.0)
    m("codegen.warm_compile_ms") = warmMed.getOrElse("codegen.compile_ms", 0.0)
    m.remove("codegen.compiles"); m.remove("codegen.compile_ms")
    if (!isQuery) cold.layers.get("stream.first_trigger_ms").foreach(m("stream.first_trigger_ms") = _)
    m("trace.overhead_pct") = overhead
    // A metric of a loaded layer that could not be measured is left out,
    // so run.py refuses the run instead of printing a made-up value.
    m.filter { case (k, v) => !v.isNaN && !absent.contains(k) }.toMap
  }
}

/** Every per-layer metric of BENCHMARK.json, and the layers (the name's
  * first part) each workload loads; a traced run reports exactly the
  * metrics of the layers its workload loads.
  */
object Layers {
  val loadedBy: Map[String, Set[String]] = Map(
    "analytics_curation" -> Set("entry", "catalyst", "codegen", "exec", "shuffle", "index",
      "cache", "sources", "trace"),
    "stream_ingest" -> Set("codegen", "exec", "shuffle", "stream", "ingest", "etl",
      "warehouse", "agg", "trace"))

  def notLoadedBy(workload: String): Seq[String] =
    names.filterNot(n => loadedBy(workload)(n.takeWhile(_ != '.')))

  val names: Seq[String] = Seq(
    "entry.build_ms", "entry.build_jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "codegen.cold_compiles", "codegen.cold_compile_ms",
    "codegen.warm_compiles", "codegen.warm_compile_ms",
    "exec.action_ms", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.executor_run_s", "exec.executor_cpu_s", "exec.gc_s", "exec.driver_floor_s",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes") ++
    IndexFamilies.names.map(f => s"index.build_ms.$f") ++
    IndexFamilies.names.map(f => s"index.bytes.$f") ++
    Seq("index.validate_ms", "cache.persisted_rdds", "cache.persisted_mb") ++
    Main.tables.map(t => s"sources.warm_ms.$t") ++
    Seq("stream.triggers", "stream.rows_per_trigger", "stream.add_batch_ms",
      "stream.get_batch_ms", "stream.latest_offset_ms", "stream.query_planning_ms",
      "stream.wal_commit_ms", "stream.first_trigger_ms", "stream.trigger_p50_ms",
      "stream.ingest_rows_per_s",
      "ingest.parse_ms", "etl.enrich_ms", "etl.filter_ms", "etl.rows_dropped",
      "warehouse.files_written", "warehouse.bytes_written", "warehouse.bytes_per_row",
      "warehouse.files_read",
      "agg.trip_statistics_ms", "agg.vendor_comparison_ms", "agg.hourly_statistics_ms",
      "agg.vendor_daily_ms", "agg.readback_s",
      "trace.overhead_pct")
}
