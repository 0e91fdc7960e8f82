package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Runs one workload as a closed loop with one client and writes a JSON
  * report. perfbench/run.py builds, launches and checks it; see the
  * README next to it.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <runDir> <sfDir> <cpus> <out.json> <cacheDir>
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, runDir, sfDir, cpusS, out, cacheDir) = args
    val (seed, seconds, traced, cpus) = (seedS.toLong, secondsS.toInt, traceS == "1", cpusS.toInt)
    val fastFs = installFastFs()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", s"$runDir/warehouse")
      .config("spark.sql.warehouse.dir", s"$runDir/spark-warehouse")
      .config("spark.local.dir", s"$runDir/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val report = mutable.LinkedHashMap[String, Any]()
    report("session_s") = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    try {
      val ctx = new Ctx(spark, sfDir, runDir, seed)
      val w = Workload(workload, ctx)
      ctx.registerRaw(w.corpus)
      run(w, ctx, seconds, traced, cacheDir, report)
      report("fast_local_fs") = fastFs
    } finally {
      Files.writeString(Paths.get(out), Json(report))
      spark.stop()
    }
  }

  /** graft's mains opt in to its local filesystem before any file:// use;
    * do the same when the engine offers it, and carry on when it does not. */
  private def installFastFs(): Boolean =
    try {
      val m = Class.forName("graft.sources.FastLocalFileSystem$")
      m.getMethod("install").invoke(m.getField("MODULE$").get(null))
      true
    } catch { case _: Throwable => false }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** The old-generation heap pools: their peak is the memory the run
    * retained, where the young pools' peak is just the heap size. */
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && p.getName.matches("(?i).*(old|tenured).*"))

  private def run(w: Workload, ctx: Ctx, seconds: Int, traced: Boolean, cacheDir: String,
      report: mutable.Map[String, Any]): Unit = {
    val spark = ctx.spark
    val tracer = if (traced) Some(new Tracer(spark)) else None
    ctx.tracer = tracer

    val phases = mutable.LinkedHashMap[String, Double]()
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }
    w.prime()
    phase("prime")
    // ---- setup, once: a second setup would cost 2-6 s of every run
    val ns = "s1"
    tracer.foreach { t => t.attach(); ctx.tracing = true; t.begin("setup") }
    val t0 = System.nanoTime()
    w.setup(ns)
    val setupS = (System.nanoTime() - t0) / 1e9
    tracer.foreach { t => t.end(); ctx.tracing = false; t.detach() }
    val setupFiles = if (traced) ctx.liveFiles(w.tables(ns)) else Nil
    phase("setup")

    // ---- warm-up until the batch median levels off
    val (wBatch, wMax) = w.warmup
    val warmRnd = new Random(ctx.seed * 7919 + 17)
    var warmOps = 0
    val warmBatches = ArrayBuffer[Double]()
    var levelled = wBatch == 0
    while (!levelled && warmBatches.size < wMax) {
      val lat = (0 until wBatch).map { _ =>
        val op = w.prepare(ns, warmRnd, warmOps, sampled = false)
        val t0 = System.nanoTime()
        op.run()
        warmOps += 1
        w.maintenance(ns, warmOps).foreach(_())
        (System.nanoTime() - t0) / 1e6
      }
      val m = Stats.median(lat)
      levelled = warmBatches.nonEmpty && math.abs(m - warmBatches.last) <= 0.05 * warmBatches.last
      warmBatches += m
    }

    phase("warmup")
    // ---- timed window: a fixed number of sampled ops. A traced run runs
    // twice as many and traces the middle two of every four (untraced,
    // traced, traced, untraced), so that a latency trend through the window
    // cancels out of the traced-minus-untraced difference.
    val n = w.opCount(seconds)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMs()
    val win = window(w, ctx, ns, if (traced) 2 * n else n, warmOps, i => traced && (i % 4 == 1 || i % 4 == 2))
    val ops = win.latencies.size + win.tracedLatencies.size
    val gcWindow = gcMs() - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    phase("window")

    // ---- verification and storage, outside the window
    val verdict = w.verify(ns)
    phase("verify")
    val live = ctx.liveFiles(w.tables(ns))
    val storage = storageAmp(ctx, w, ns, cacheDir)
    phase("storage")

    report ++= Seq(
      "workload" -> w.getClass.getSimpleName,
      "traced" -> traced,
      "ops" -> n,
      "attempted" -> ops,
      "failed" -> verdict.failed,
      "notes" -> verdict.notes,
      "warmup_ops" -> warmOps,
      "warmup_levelled" -> levelled,
      "warmup_batch_p50_ms" -> warmBatches.toSeq,
      "setup_s" -> setupS,
      "window_s" -> win.seconds,
      "maintenance_ms" -> win.maintMs,
      "latencies_ms" -> win.latencies,
      "phases_s" -> phases,
      "end_to_end" -> Map(
        "setup_s" -> setupS,
        "latency_p50_ms" -> Stats.median(win.latencies),
        "latency_p90_ms" -> Stats.quantile(win.latencies, 0.9),
        "throughput_qps" -> ops / win.seconds,
        "storage_amp" -> storage))
    report ++= w.report

    tracer.foreach { t =>
      val layer = mutable.LinkedHashMap[String, Double]()
      layer ++= layers(ctx, w, ns, win.traced, live, setupFiles)
      layer("jvm.gc_ms") = gcWindow.toDouble
      layer("jvm.heap_peak_mb") = heapPeakMb
      layer ++= w.layer
      GateMix.gates.foreach(g => layer.getOrElseUpdate(s"gate.${g}_ms", 0.0))
      layer("trace.overhead_ms") = Stats.median(win.tracedLatencies) - Stats.median(win.latencies)
      report("layers") = layer
      report("traced_latencies_ms") = win.tracedLatencies
      val spanFile = Paths.get(ctx.runDir, "spans.json")
      Files.writeString(spanFile, Json(t.allSpans()))
    }
  }

  /** A traced op: its trace, output row count and, for a commit, the
    * live files of the tables it changes as they were when it began. */
  private final case class TracedOp(trace: OpTrace, rows: Long, liveBefore: Option[Seq[LiveFile]])

  /** The sampled ops of one window: the latencies of the untraced and of
    * the traced ops, the window's wall time, and the traced ops' traces. */
  private final case class Window(latencies: Seq[Double], tracedLatencies: Seq[Double],
      seconds: Double, maintMs: Double, traced: Seq[TracedOp])

  /** Runs `n` sampled ops from the seed, each followed by the maintenance
    * due after it; `opsBefore` ops ran earlier in the run. Op `i` is
    * traced when `traceOp(i)`: listeners attached, and the tables a commit
    * changes listed before and after it. */
  private def window(w: Workload, ctx: Ctx, ns: String, n: Int, opsBefore: Int,
      traceOp: Int => Boolean): Window = {
    val rnd = new Random(ctx.seed)
    val latencies, tracedLatencies = ArrayBuffer[Double]()
    val tracedOps = ArrayBuffer[TracedOp]()
    var maintMs = 0.0
    val win0 = System.nanoTime()
    (0 until n).foreach { i =>
      val op = w.prepare(ns, rnd, i, sampled = true)
      val tracer = ctx.tracer.filter(_ => traceOp(i))
      val before = tracer.map { t =>
        t.attach()
        ctx.tracing = true
        val files = op.changes.map { case (_, tables, _) => ctx.liveFiles(tables()) }
        t.begin(s"op.${op.kind}", i)
        op.changes.foreach(c => t.begin(s"commit.${c._1}"))
        files
      }
      val t0 = System.nanoTime()
      val rows = op.run()
      val ms = (System.nanoTime() - t0) / 1e6
      (if (tracer.isDefined) tracedLatencies else latencies) += ms
      for (t <- tracer; b <- before) {
        for ((name, tables, affected) <- op.changes; files <- b)
          ctx.recordChange("commit", name, t.end(), ms, files, tables(), affected)
        val s = t.end()
        ctx.flushPending()
        t.drain()
        tracedOps += TracedOp(t.window(s.start, s.end, ms), rows, b)
      }
      tracer.foreach { t => ctx.tracing = false; t.detach() }
      // maintenance is not a sampled op; a traced run traces all of it
      val m0 = System.nanoTime()
      w.maintenance(ns, opsBefore + i + 1).foreach { f =>
        ctx.tracer.foreach { t => t.attach(); ctx.tracing = true; t.begin("maintenance") }
        f()
        ctx.tracer.foreach { t => t.end(); ctx.tracing = false; t.detach() }
      }
      maintMs += (System.nanoTime() - m0) / 1e6
    }
    Window(latencies.toSeq, tracedLatencies.toSeq, (System.nanoTime() - win0) / 1e9, maintMs,
      tracedOps.toSeq)
  }

  /** Bytes under the workload's table directories over the bytes of the
    * same live rows written once, as one file, by stock Spark parquet.
    * For an unchanged copy of a corpus table that reference depends only
    * on the corpus file, so it is written once per checkout and reused. */
  private def storageAmp(ctx: Ctx, w: Workload, ns: String, cacheDir: String): Double = {
    val graftBytes = w.storageDirs(ns).map(d => du(Paths.get(d), _ => true)).sum
    def write(df: org.apache.spark.sql.DataFrame, p: String): Long = {
      df.coalesce(1).write.parquet(p)
      du(Paths.get(p), _.toString.endsWith(".parquet"))
    }
    val refBytes = w.tables(ns).zipWithIndex.map { case (t, i) =>
      w.corpusCopy(t) match {
        case Some(raw) =>
          val src = Paths.get(ctx.sfDir, s"$raw.parquet")
          val key = s"$raw-${Files.size(src)}-${Files.getLastModifiedTime(src).toMillis}-" +
            ctx.spark.version
          val cached = Paths.get(cacheDir, s"reference-$key.bytes")
          if (Files.exists(cached)) Files.readString(cached).trim.toLong
          else {
            val b = write(ctx.spark.table(s"raw_$raw"), s"${ctx.runDir}/reference/$i")
            Files.createDirectories(cached.getParent)
            Files.writeString(cached, b.toString)
            b
          }
        case None => write(ctx.spark.table(t), s"${ctx.runDir}/reference/$i")
      }
    }.sum
    graftBytes.toDouble / math.max(1L, refBytes)
  }

  private def du(dir: Path, keep: Path => Boolean): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) && keep(p)).map(Files.size).sum
      finally s.close()
    }

  private def layers(ctx: Ctx, w: Workload, ns: String, ops: Seq[TracedOp],
      live: Seq[LiveFile], setupFiles: Seq[LiveFile]): Map[String, Double] = {
    def med(f: OpTrace => Double): Double = Stats.median(ops.map(o => f(o.trace)))
    def phase(n: String)(t: OpTrace): Double = t.qes.map(_.phaseMs(n)).sum.toDouble
    val scans = ops.flatMap(_.trace.graftScans)
    // each scan against its own table's live files when its op began:
    // those listed before a commit, else those listed after the run
    def byTable(fs: Seq[LiveFile]) = fs.groupBy(_.table.split('.').last).map { case (t, f) => t -> f.size }
    val liveAfter = byTable(live)
    def scannedLive(o: TracedOp): Seq[(String, Int)] = {
      val liveOf = liveAfter ++ o.liveBefore.map(byTable).getOrElse(Map.empty)
      o.trace.graftScans.map { s => val t = s.table.split('.').last; t -> liveOf.getOrElse(t, 0) }
    }
    val liveScanned = ops.map(o => scannedLive(o).map(_._2).sum).sum
    val records = ops.map(_.trace.stages.map(_.recordsIn).sum).sum
    val rowsOut = ops.map(_.rows).sum
    // commits: the window's merges when there are any, else the setup's
    val commits = if (ctx.commits.exists(_.kind == "merge")) ctx.commits.filter(_.kind == "merge").toSeq
      else ctx.commits.toSeq
    def cmed(f: FileChange => Double): Double = Stats.median(commits.map(f))
    val maints = ctx.maints.toSeq
    val optimize = maints.filter(_.kind == "optimize")
    val snapshots = w.tables(ns).map(t => ctx.snapshots(t)).sum
    Map(
      "plan.analysis_ms" -> med(phase("analysis")),
      "plan.optimization_ms" -> med(phase("optimization")),
      "plan.planning_ms" -> med(phase("planning")),
      "scan.files_live" -> Stats.median(ops.map(o => scannedLive(o).toMap.values.sum.toDouble)),
      "scan.files_planned" -> med(_.graftScans.map(_.partitions).sum.toDouble),
      "scan.pruned_frac" -> (if (liveScanned == 0) 0.0
        else 1.0 - scans.map(_.partitions).sum.toDouble / liveScanned),
      "scan.row_path_frac" -> (if (scans.isEmpty) 0.0 else scans.count(!_.columnar).toDouble / scans.size),
      "scan.records_read" -> med(_.stages.map(_.recordsIn).sum.toDouble),
      "scan.bytes_read" -> med(_.stages.map(_.bytesIn).sum.toDouble),
      "scan.records_per_row_out" -> records.toDouble / math.max(1L, rowsOut),
      "exec.job_ms" -> med(_.jobMs.toDouble),
      "exec.stages" -> med(_.stages.size.toDouble),
      "exec.tasks" -> med(_.stages.map(_.tasks).sum.toDouble),
      "exec.executor_run_ms" -> med(_.stages.map(_.runMs).sum.toDouble),
      "exec.executor_cpu_ms" -> med(_.stages.map(_.cpuMs).sum),
      "exec.shuffle_read_bytes" -> med(_.stages.map(_.shuffleRead).sum.toDouble),
      "exec.shuffle_write_bytes" -> med(_.stages.map(_.shuffleWrite).sum.toDouble),
      "exec.spill_bytes" -> med(_.stages.map(_.spill).sum.toDouble),
      "exec.exchanges" -> med(_.qes.map(_.exchanges).sum.toDouble),
      "driver.ms" -> med(_.driverMs),
      "commit.files_added" -> cmed(_.added.toDouble),
      "commit.files_removed" -> cmed(_.removed.toDouble),
      "commit.bytes_written" -> cmed(_.bytesAdded.toDouble),
      "commit.write_amp" -> cmed { c =>
        val perRow = c.liveBytes.toDouble / math.max(1L, c.liveRows)
        c.bytesAdded / math.max(1.0, c.rowsAffected * perRow)
      },
      "commit.driver_ms" -> cmed(_.trace.driverMs),
      "commit.job_ms" -> cmed(_.trace.jobMs.toDouble),
      "commit.snapshots" -> snapshots.toDouble,
      "maint.ms" -> Stats.median(maints.map(_.trace.wallMs)),
      "maint.bytes_rewritten" -> Stats.median(optimize.map(_.bytesAdded.toDouble)),
      "maint.files_before" -> Stats.median(optimize.map(_.filesBefore.toDouble)),
      "maint.files_after" -> Stats.median(optimize.map(_.liveFiles.toDouble)),
      "setup.files_written" -> setupFiles.size.toDouble,
      "setup.bytes_written" -> setupFiles.map(_.bytes).sum.toDouble)
  }
}
