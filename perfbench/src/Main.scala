package perfbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}
import org.json4s.jackson.Serialization

import graft.{SparkEntry, Tables}

/** Benchmark harness. Runs one workload over generated inputs and writes
  * its measurements to a JSON file; `perfbench/run.py` drives it.
  *
  * Arguments (all `--key value`): workload, walmart and star (input
  * dirs), work (scratch dir), seconds, trace (0/1), cpus, seed,
  * live_rate (files/s), python, lander (land.py), out (result file).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = new Run(a)
    val code = try { run.go(); 0 } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    if (code == 0) run.writeResult(a("out"))
    sys.exit(code)
  }
}

/** A lane's measurements: the end-to-end metrics, its operation count (the
  * per-operation denominator of the engine counters) and the output checks
  * to run once the timed part is over.
  */
final case class Lane(metrics: Map[String, Double], ops: Double, checks: () => Unit)

final class Run(a: Map[String, String]) {
  private val workload = a("workload")
  private val walmart = a("walmart")
  private val star = a("star")
  private val work = a("work")
  private val seconds = a("seconds").toDouble
  private val traced = a("trace") == "1"
  private val cpus = a("cpus").toInt
  private val seed = a("seed").toLong
  private val liveRate = a("live_rate").toDouble

  private val e2e = mutable.LinkedHashMap[String, Double]()
  private val layers = mutable.LinkedHashMap[String, Double]()
  private val errors = mutable.ArrayBuffer[String]()
  private val checked = mutable.LinkedHashMap[String, String]()
  private var attempted = 0L
  private var failed = 0L

  private def attempt(ok: Boolean, msg: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; errors += msg }
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val needStar = traced || workload != "ingest"
  private val needWalmart = traced || workload == "ingest"

  private var spark: SparkSession = _
  private var dims: Dims = _

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the ingest reader runs in its own pool, below the stream's
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", pools())
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    graft.LogHygiene.setLevelAndFilter(s.sparkContext, "ERROR")
    s
  }

  /** FAIR pools: the default pool (the stream, and every other job) gets
    * four times the reader's weight and a minimum of two cores, so
    * dashboard panels do not hold back the micro-batches that set freshness.
    */
  private def pools(): String = {
    val f = new File(s"$work/pools.xml")
    Files.writeString(f.toPath,
      """<allocations>
        |  <pool name="default"><weight>4</weight><minShare>2</minShare></pool>
        |  <pool name="reader"><weight>1</weight><minShare>0</minShare></pool>
        |</allocations>""".stripMargin)
    f.getAbsolutePath
  }

  /** The generator's exact counts for the `tx` or `live` file set. */
  private def expected(set: String): Map[String, Long] = {
    implicit val formats: Formats = DefaultFormats
    parse(Files.readString(Paths.get(s"$walmart/$set.expected.json"))).extract[Map[String, Long]]
  }

  // ---------------------------------------------------------------- set-up

  /** Session build plus the workload's set-up, three times (once when
    * traced); the median is `setup_s` and the last session stays up.
    */
  private def setup(): Unit = {
    val reps = if (traced) 1 else 3
    val times = (1 to reps).map { rep =>
      val t0 = System.nanoTime()
      spark = Trace.span("setup", "session")(session(cpus))
      if (needStar) {
        Trace.span("Tables", "preloadAll")(Tables.preloadAll(spark, star))
        graft.functions.GraftFunctions.register(spark)
      }
      if (needWalmart) dims = Ingest.dims(spark, walmart)
      val t = secs(t0)
      if (rep < reps) spark.stop()
      t
    }
    e2e("setup_s") = Sample.median(times)
  }

  // -------------------------------------------------------------- workloads

  private val start = System.nanoTime()
  private def phase(name: String): Unit =
    System.err.println(f"[phase] $name done at ${secs(start)}%.1f s")

  def go(): Unit = {
    new File(work).mkdirs()
    Heap.install()
    if (traced) drain1Core()
    setup()
    phase("setup")
    val primary: () => Lane = workload match {
      case "ingest" => warmDrain(); () => drainLane(seconds)
      case "pipeline_heavy" =>
        val qs = warmQueries(PipelineGroups.flatMap { case (_, layer, ns) => ns.map(layer -> _) })
        () => pipelineLane(qs)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val plain = window(traced = false)(primary())
    if (!traced) e2e ++= plain.view.filterKeys(Gated).toMap
    else {
      // tracing overhead: the traced window against the mean of the
      // untraced windows before and after it, as later windows run warmer
      val withTrace = window(traced = true)(primary())
      val after = window(traced = false)(primary())
      Trace.on = true  // the live phase and probes record spans too
      val untraced = (plain("op_latency_s") + after("op_latency_s")) / 2
      layers("trace.overhead_pct") = (withTrace("op_latency_s") / untraced - 1) * 100
      layers("workload.latency_p90_s") = withTrace("latency_p90_s")
      layers("jvm.heap_peak_mb") = withTrace("heap_peak_mb")
      if (workload == "ingest") liveLane(seconds, s"$work/live").checks()
      probes()
      phase("probes")
      layers ++= Trace.selfSecondsByLayer.map { case (l, s) => s"self.${l}_s" -> s }
      Trace.write(s"$work/spans.jsonl")
    }
    writeChecked()
  }

  /** The end-to-end metrics a lane reports besides `setup_s`. */
  private val Gated = Set("op_latency_s", "throughput_per_s")

  private val stats = new EngineStats

  /** One measurement window: the lane's timed part, its heap peak, then its
    * output checks. With tracing on, spans record and the timed part's
    * engine counters become per-layer metrics.
    */
  private def window(traced: Boolean)(lane: => Lane): Map[String, Double] = {
    Trace.on = traced
    val storage = new StorageSampler(spark)
    if (traced) {
      stats.reset()
      Trace.engine = stats
      spark.sparkContext.addSparkListener(stats)
      spark.listenerManager.register(stats)
      storage.start()
    }
    Heap.reset()
    val t0 = System.nanoTime()
    val l = lane
    val wall = secs(t0)
    val heap = Heap.peakMb
    if (traced) {
      Trace.engine = null
      spark.sparkContext.removeSparkListener(stats)
      spark.listenerManager.unregister(stats)
      layers("exec.staged_mb_peak") = storage.stopMb()
      engineLayers(wall, l.ops)
    }
    phase("window")
    l.checks()
    phase("checks")
    l.metrics + ("heap_peak_mb" -> heap)
  }

  private def engineLayers(wall: Double, ops: Double): Unit = {
    val n = math.max(ops, 1.0)
    layers ++= Seq(
      "plan.analysis_ms" -> stats.get("analysis_ms") / n,
      "plan.optimization_ms" -> stats.get("optimization_ms") / n,
      "plan.planning_ms" -> stats.get("planning_ms") / n,
      "sched.jobs" -> stats.get("jobs") / n,
      "sched.stages" -> stats.get("stages") / n,
      "sched.tasks" -> stats.get("tasks") / n,
      "sched.delay_ms" -> stats.get("delay_ms") / n,
      "exec.task_ms" -> stats.get("task_ms") / n,
      "exec.cpu_ms" -> stats.get("cpu_ms") / n,
      "exec.busy_share" -> stats.get("task_ms") / (wall * 1000 * cpus),
      "exec.task_skew" -> stats.skew,
      "exec.shuffle_write_mb" -> stats.get("shuffle_write_b") / 1048576,
      "exec.shuffle_read_mb" -> stats.get("shuffle_read_b") / 1048576,
      "exec.spill_mb" -> stats.get("spill_b") / 1048576,
      "exec.gc_ms" -> stats.get("gc_ms"))
  }

  // --------------------------------------------------------- query lanes

  private def query(layer: String, name: String): Laps.Query =
    Laps.Query(layer, name, () => SparkEntry.queries(name)(spark, star))

  /** The heavy list by group: (group, module doing the work, queries). */
  private val PipelineGroups: Seq[(String, String, Seq[String])] = Seq(
    ("operators", "operators", Seq("q37_part_pagerank")),
    ("llm", "llm", Seq("llm_dedup_minhash")),
    ("maintainers", "streaming", Seq("stream_cdc_apply")),
    ("sources", "functions", Seq("llm_source_zst", "llm_source_bz2")))

  /** One untimed pass over the (layer, query) list, so the timed laps do
    * not pay first-use class loading and compilation. A pass over a smaller
    * star warmed too little: the first timed pass then ran 10-20 % slower
    * than the next, and a window that fitted a second pass read faster.
    */
  private def warmQueries(names: Seq[(String, String)]): Seq[Laps.Query] = {
    val qs = names.map { case (layer, n) => query(layer, n) }
    qs.foreach { q =>
      val l = Laps.one(q, keep = false)
      attempt(l.ok, s"${q.name}: warm-up lap failed: ${l.error}")
    }
    phase("warm pass")
    qs
  }

  /** Closed-loop laps over whole passes of `qs` until `seconds` have
    * passed. Each lap collects its result; each query's first result is
    * checked against its oracle. `op_latency_s` is the geometric mean over
    * the queries of each one's median lap, so a change to any query moves
    * it.
    */
  private def pipelineLane(qs: Seq[Laps.Query]): Lane = {
    val t0 = System.nanoTime()
    val laps = Laps.loop(qs, seconds, minPasses = 2)
    val wall = secs(t0)
    val ok = laps.filter(_.ok)
    val perQuery = ok.groupBy(_.name).values.map(ls => Sample.median(ls.map(_.secs))).toSeq
    if (Trace.on) {
      val group = PipelineGroups.flatMap { case (g, _, ns) => ns.map(_ -> g) }.toMap
      pipelineLayers(laps.grouped(qs.size).filter(_.size == qs.size).map { pass =>
        pass.groupBy(l => group(l.name)).map { case (g, ls) => g -> ls.map(_.secs).sum }
      }.toSeq)
    }
    val checks = () => {
      val oracle = SparkEntry.oracleSql
      laps.foreach { l =>
        System.err.println(f"[lap] ${l.name} ${l.secs}%.3f")
        attempt(l.ok, s"${l.name}: lap failed: ${l.error}")
        if (l.rows != null && oracle.contains(l.name) && !checked.contains(l.name)) {
          spark.createDataFrame(l.rows.asJava, l.schema)
            .write.mode("overwrite").parquet(s"$work/out/${l.name}")
          checked(l.name) = oracle(l.name)
        }
      }
    }
    Lane(Map("op_latency_s" -> Sample.geomean(perQuery),
      "latency_p90_s" -> Sample(ok.map(_.secs)).q(0.9),
      "throughput_per_s" -> ok.size / wall), laps.size.toDouble, checks)
  }

  private def pipelineLayers(passes: Seq[Map[String, Double]]): Unit =
    Seq("operators", "llm", "maintainers", "sources").foreach { g =>
      layers(s"pipeline.${g}_s") = Sample.median(passes.map(_.getOrElse(g, 0.0)))
    }

  private def writeChecked(): Unit = {
    new File(s"$work/out").mkdirs()
    Files.writeString(Paths.get(s"$work/out/oracle_sql.json"),
      Serialization.write(checked.toMap)(DefaultFormats))
  }

  // --------------------------------------------------------- ingest lane

  private val DrainFilesPerBatch = 8
  private val WarmDrains = 3
  private var drains = 0

  /** Untimed drains of the whole backlog, so the timed drains do not pay
    * first-use compilation of the CSV, join and parquet paths. Drain rates
    * kept rising over the first eight or so drains of a JVM.
    */
  private def warmDrain(): Unit = {
    (1 to WarmDrains).foreach { i =>
      Ingest.drain(spark, dims, s"$walmart/tx", s"$work/warm$i/sales", s"$work/warm$i/ckpt",
        DrainFilesPerBatch)
      Ingest.rmrf(s"$work/warm$i")
    }
    phase("warm drains")
  }

  /** Drains of the standing backlog, each one runCsvToParquet with a fresh
    * checkpoint and output, until `window` seconds have passed (at least
    * one). `throughput_per_s` is the median drain's rows per second,
    * `op_latency_s` the median micro-batch time (trigger to commit) over
    * every drain.
    */
  private def drainLane(window: Double): Lane = {
    val src = s"$walmart/tx"
    val files = Ingest.listCsv(src)
    val t0 = System.nanoTime()
    val runs = mutable.ArrayBuffer[(String, StreamLog, Double)]()
    while (runs.isEmpty || secs(t0) < window) {
      drains += 1
      val dir = s"$work/drain$drains"
      val (start, end, log) = Ingest.drain(spark, dims, src, s"$dir/sales",
        s"$dir/ckpt", maxFiles = DrainFilesPerBatch)
      runs += ((dir, log, log.rows / ((end - start) / 1000.0)))
    }
    val logs = runs.map(_._2).toSeq
    val batchSecs = Sample(logs.flatMap(_.phaseMs("triggerExecution")).map(_ / 1000))
    if (Trace.on) {
      val batches = logs.flatMap(_.progress.filter(_.numInputRows > 0))
      layers ++= Seq(
        "streaming.batches" -> batches.size.toDouble / logs.size,
        "streaming.rows_per_batch" -> Sample.median(batches.map(_.numInputRows.toDouble)),
        "streaming.add_batch_ms" -> Sample.median(logs.flatMap(_.phaseMs("addBatch"))))
    }
    val checks = () => {
      val (ref, c) = Ingest.reference(spark, dims, files.map(f => s"$src/$f"))
      runs.foreach { case (dir, log, _) =>
        files.foreach(f => attempt(log.fileCommitMs(f).isDefined, s"$dir: $f not committed"))
        val got = Ingest.fingerprint(spark.read.parquet(s"$dir/sales"))
        attempt(got == ref, s"$dir: streamed fact $got != batch reference $ref")
        Ingest.rmrf(dir)
      }
      val exp = expected("tx")
      Seq("rows_in", "drop_customer", "drop_invalid", "product_default", "fact_rows")
        .foreach(k => attempt(c(k) == exp(k), s"tx: etl $k ${c(k)} != expected ${exp(k)}"))
      if (Trace.on) Seq("rows_in", "drop_customer", "drop_invalid", "product_default")
        .foreach(k => layers(s"etl.$k") = c(k).toDouble)
    }
    System.err.println(f"[drain] ${runs.size} drains, rows/s ${runs.map(_._3.round).mkString(" ")}; " +
      f"batch p50 ${batchSecs.median}%.3f s")
    Lane(Map("op_latency_s" -> batchSecs.median, "latency_p90_s" -> batchSecs.q(0.9),
      "throughput_per_s" -> Sample.median(runs.map(_._3).toSeq)),
      batchSecs.n.toDouble, checks)
  }

  private var landedFiles = 0

  /** Open loop, traced runs only: a separate lander process moves
    * pre-rendered files into a running ProcessingTime query's source at a
    * fixed rate for `secs` seconds, while one closed-loop reader re-runs
    * the six dashboard panels over the live Sales parquet. Each file's
    * freshness runs from its due time to the end of the micro-batch that
    * committed it.
    */
  private def liveLane(secs: Double, dir: String): Lane = {
    new File(s"$dir/src").mkdirs()
    val q = Ingest.startLive(spark, dims, s"$dir/src", s"$dir/sales", s"$dir/ckpt",
      triggerMs = 100, maxFiles = 1000)
    val n = math.max(1, (liveRate * secs).round.toInt)
    val rowsPerFile = expected("live")("rows_per_file")
    val first = landedFiles
    landedFiles += n
    val t0 = System.currentTimeMillis() + 500
    val log = s"$dir/land.log"
    val panelLaps = new java.util.concurrent.ConcurrentLinkedQueue[Laps.Lap]()
    // file-scan metrics of the reader's panels
    val scans = new EngineStats
    spark.listenerManager.register(scans)
    @volatile var reading = true
    val reader = new Thread(() => {
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", "reader")
      val sales = s"$dir/sales"
      val panels = Ingest.panels(spark, dims, sales, 2019)
      def committed = Option(new File(sales).listFiles()).exists(
        _.exists(b => new File(b, "_SUCCESS").exists()))
      while (reading && !committed) Thread.sleep(20)
      var i = 0
      while (reading) {
        panelLaps.add(Laps.one(panels(i % panels.size), keep = false))
        i += 1
      }
    })
    val lander = new ProcessBuilder(a("python"), a("lander"), s"$walmart/live",
      s"$dir/src", t0.toString, liveRate.toString, log, first.toString, n.toString)
      .inheritIO().start()
    reader.start()
    lander.waitFor()
    reading = false
    reader.join()
    spark.listenerManager.unregister(scans)
    // complete once progress has counted every landed row
    val want = n.toLong * rowsPerFile
    val deadline = System.currentTimeMillis() + 60000
    def committed = q.recentProgress.map(_.numInputRows).sum
    while (committed < want && System.currentTimeMillis() < deadline) Thread.sleep(20)
    val slog = StreamLog.of(q, s"$dir/ckpt")
    q.stop()
    val landed = Files.readAllLines(Paths.get(log)).asScala.map(_.split(' '))
      .map(p => (p(0), p(1).toDouble, p(2).toDouble)).toSeq
    val fresh = Sample(landed.flatMap(l => slog.fileCommitMs(l._1).map(ms => (ms - l._2) / 1000.0)))
    val panels = Sample(panelLaps.asScala.filter(_.ok).map(_.secs).toSeq)
    val phases = Seq("latest_offset" -> "latestOffset", "get_batch" -> "getBatch",
      "query_planning" -> "queryPlanning", "wal_commit" -> "walCommit",
      "commit_offsets" -> "commitOffsets", "trigger" -> "triggerExecution")
    layers ++= phases.map { case (k, p) => s"streaming.${k}_ms" -> Sample.median(slog.phaseMs(p)) }
    layers("streaming.busy_share") = slog.phaseMs("triggerExecution").sum / 1000 /
      ((slog.batchEnd.values.max - t0) / 1000.0)
    // files landed but not yet committed, at each landing
    val commits = landed.flatMap(l => slog.fileCommitMs(l._1)).sorted
    layers("streaming.backlog_files_max") = landed.zipWithIndex.map { case (l, i) =>
      i + 1 - commits.count(_ <= l._3)
    }.max.toDouble
    layers("gen.late_max_ms") = landed.map(l => l._3 - l._2).max
    layers("reader.panel_p50_s") = panels.median
    layers("reader.panel_p90_s") = panels.q(0.9)
    layers("reader.panel_laps") = panels.n.toDouble
    val collected = math.max(scans.get("collected"), 1.0)
    layers("scan.files_read") = scans.get("files_read") / collected
    layers("scan.metadata_ms") = scans.get("metadata_ms") / collected
    layers("ingest.freshness_p50_s") = fresh.median
    layers("ingest.freshness_p90_s") = fresh.q(0.9)
    System.err.println(f"[live] ${landed.size} files, freshness p50 ${fresh.median}%.3f s " +
      f"p90 ${fresh.q(0.9)}%.3f s; ${panels.n} panel laps p50 ${panels.median}%.3f s " +
      f"p90 ${panels.q(0.9)}%.3f s")
    val checks = () => {
      landed.foreach(l => attempt(slog.fileCommitMs(l._1).isDefined, s"$dir: ${l._1} not committed"))
      panelLaps.asScala.foreach(l => attempt(l.ok, s"panel ${l.name} failed: ${l.error}"))
      val srcFiles = Ingest.listCsv(s"$dir/src").map(f => s"$dir/src/$f")
      val ref = Ingest.fingerprint(Ingest.referenceFact(spark, dims, srcFiles))
      val got = Ingest.fingerprint(spark.read.parquet(s"$dir/sales"))
      attempt(got == ref, s"$dir: streamed fact $got != batch reference $ref")
    }
    Lane(Map(), (slog.progress.count(_.numInputRows > 0) + panels.n).toDouble, checks)
  }

  // --------------------------------------------------------------- probes

  /** `etl.drain_rows_per_s_1core`: four backlog files drained at local[1]. */
  private def drain1Core(): Unit = {
    val src = s"$work/drain1core/src"
    new File(src).mkdirs()
    Ingest.listCsv(s"$walmart/tx").take(4).foreach(f =>
      Files.copy(Paths.get(s"$walmart/tx/$f"), Paths.get(s"$src/$f")))
    spark = session(1)
    dims = Ingest.dims(spark, walmart)
    val (s, e, log) = Ingest.drain(spark, dims, src, s"$work/drain1core/sales",
      s"$work/drain1core/ckpt", maxFiles = DrainFilesPerBatch)
    layers("etl.drain_rows_per_s_1core") = log.rows / ((e - s) / 1000.0)
    spark.stop()
  }

  /** The traced run's per-layer metrics that the workload's own window does
    * not produce, from short runs of the other lanes.
    */
  private def probes(): Unit = {
    val tx = Ingest.listCsv(s"$walmart/tx").map(f => s"$walmart/tx/$f")
    if (workload != "ingest") {
      drainLane(0).checks()
      liveLane(math.min(seconds, 4.0), s"$work/probe-live").checks()
    }
    if (workload != "pipeline_heavy")
      pipelineLayers(Seq(PipelineGroups.map { case (g, layer, ns) =>
        g -> Laps.one(query(layer, ns.head), keep = false).secs
      }.toMap))
    layers ++= Ingest.prefixTimings(spark, dims, tx.take(10), s"$work/prefix", 3)
    layers("etl.dims_build_s") = Sample.median((1 to 3).map { _ =>
      Seq(dims.customer, dims.product, dims.store, dims.supplier, dims.date)
        .foreach(_.unpersist(true))
      val t0 = System.nanoTime()
      dims = Ingest.dims(spark, walmart)
      secs(t0)
    })
    // Tables: cold scans, then the timed preload and its cache footprint
    spark.catalog.clearCache()
    val tc = System.nanoTime()
    Tables.All.foreach(t => Laps.noop(
      if (t == "events") Tables.events(spark, star) else Tables.load(spark, star, t)))
    layers("tables.cold_scan_s") = secs(tc)
    val tp = System.nanoTime()
    Trace.span("Tables", "preloadAll")(Tables.preloadAll(spark, star))
    layers("tables.preload_s") = secs(tp)
    layers("tables.cache_mem_mb") =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    layers ++= Codecs.lane(spark, star, seed, (ok, msg) => attempt(ok, msg))
    layers("queries.construct_ms") = Sample.median(Trace.all
      .filter(_.name == "construct").map(s => (s.endNs - s.startNs) / 1e6))
  }

  /** Writes the result file. A metric that is not a number (an empty
    * sample, say) is a failed check and is written as null.
    */
  def writeResult(path: String): Unit = {
    def metrics(m: mutable.Map[String, Double]): JValue = JObject(m.toList.map { case (k, v) =>
      val ok = !v.isNaN && !v.isInfinite
      if (!ok) attempt(ok = false, s"metric $k is $v")
      JField(k, if (ok) JDouble(v) else JNull)
    })
    val e2eJson = metrics(e2e)
    val layersJson = metrics(layers)
    Files.writeString(Paths.get(path), compact(render(JObject(
      "attempted" -> JLong(attempted), "failed" -> JLong(failed),
      "errors" -> JArray(errors.map(JString(_)).toList),
      "e2e" -> e2eJson, "layers" -> layersJson,
      "checked" -> JArray(checked.keys.map(JString(_)).toList)))))
  }
}

/** Decode throughput of the codec SQL functions over a seeded corpus built
  * from `documents` and compressed with the classpath libraries; every
  * decoded block must equal its original.
  */
object Codecs {
  private def through(f: java.io.OutputStream => java.io.OutputStream)(b: Array[Byte]): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val o = f(bo)
    o.write(b)
    o.close()
    bo.toByteArray
  }

  private val compressors: Seq[(String, String, Array[Byte] => Array[Byte])] = Seq(
    ("zstd", "zstd_inflate", b => com.github.luben.zstd.Zstd.compress(b, 3)),
    ("bz2", "bz2_inflate", through(o =>
      new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(o))),
    ("lz4", "lz4_inflate", through(o =>
      new org.apache.commons.compress.compressors.lz4.FramedLZ4CompressorOutputStream(o))),
    ("gzip", "gzip_inflate", through(o => new java.util.zip.GZIPOutputStream(o))),
    ("zlib", "zlib_inflate", through(o => new java.util.zip.DeflaterOutputStream(o))))

  def lane(spark: SparkSession, star: String, seed: Long,
      attempt: (Boolean, String) => Unit): Map[String, Double] = {
    val texts = spark.read.parquet(s"$star/documents.parquet").select("text")
      .collect().map(_.getString(0))
    val rng = new scala.util.Random(seed)
    val blocks = (0 until 16).map { _ =>
      val sb = new StringBuilder
      while (sb.length < 65536) sb ++= texts(rng.nextInt(texts.length)) += '\n'
      sb.toString.getBytes("UTF-8")
    }
    val mb = blocks.map(_.length).sum / 1048576.0
    compressors.map { case (codec, fn, comp) =>
      val rows = blocks.zipWithIndex.map { case (b, i) => (i, comp(b), b) }
      val df = spark.createDataFrame(rows).toDF("id", "blob", "orig").cache()
      df.count()
      def decode(): Unit = Trace.span("functions", fn) {
        df.select(sum(octet_length(expr(s"$fn(blob)")))).head()
      }
      decode()
      val t = Sample.median((1 to 3).map { _ =>
        val t0 = System.nanoTime(); decode(); (System.nanoTime() - t0) / 1e9
      })
      val bad = df.filter(expr(s"coalesce($fn(blob) = orig, false)") === false).count()
      attempt(bad == 0, s"$fn: $bad blocks decoded wrong")
      df.unpersist()
      s"functions.${codec}_mb_per_s" -> mb / t
    }.toMap
  }
}
