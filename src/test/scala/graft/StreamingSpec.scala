package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.EventStreams

/** Streaming transforms verified against their batch equivalents on the
  * same data: a parquet-directory stream drained with
  * processAllAvailable() must agree with the batch run. */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .getOrCreate()

  private lazy val streamDir = {
    val d = Files.createTempDirectory("graft_stream")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      d.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    d.toString
  }

  override def afterAll(): Unit = spark.stop()

  /** ONE suite-private catalog (gim) warehouse for every test in this suite: Spark instantiates
    * a catalog once per session, so re-pointing the conf at a second
    * temp dir after first use would silently split the catalog (tables
    * resolve in dir A) from conf readers like Engine3.registryStats
    * (dir B) — the exact mismatch that made the debt policy see an
    * empty registry. */
  private lazy val gimWh = {
    val wh = Files.createTempDirectory("graft_gim").toString
    spark.conf.set("spark.sql.catalog.gim", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gim.warehouse", wh)
    wh
  }

  private def batchEvents = spark.read.parquet(streamDir)

  test("windowed aggregation: streaming result equals batch result") {
    val stream = spark.readStream.schema(batchEvents.schema).parquet(streamDir)
    val q = EventStreams.windowedStats(stream)
      .writeStream.format("memory").queryName("win_agg")
      .outputMode(OutputMode.Complete()).start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("win_agg")
      .select(col("window_start").cast("string"), col("event_type"), col("n"),
        round(col("total_value"), 6))
      .collect().map(_.toSeq).toSet
    val want = EventStreams.windowedStats(batchEvents)
      .select(col("window_start").cast("string"), col("event_type"), col("n"),
        round(col("total_value"), 6))
      .collect().map(_.toSeq).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("watermarked windowed agg APPENDS into a graft table ≡ batch closed windows") {
    // the production shape end-to-end: watermarked tumbling windows in
    // APPEND mode (only windows the watermark has closed emit) landing in
    // a graft table through the epoch commit log. AvailableNow leaves the
    // final watermark at max(ts) - delay, so the expected batch rows are
    // exactly the windows that END at or before it.
    val wh = Files.createTempDirectory("graft_wwin").toString
    spark.conf.set("spark.sql.catalog.gww", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gww.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gww.s")
    spark.sql("""CREATE TABLE gww.s.win
                |(window_start TIMESTAMP, event_type STRING, n BIGINT, total_value DOUBLE)
                |""".stripMargin)
    val ckpt = Files.createTempDirectory("graft_wwin_ck").toString
    val stream = spark.readStream.schema(batchEvents.schema).parquet(streamDir)
    val q = graft.streaming.EventStreams.windowedStats(stream)
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .toTable("gww.s.win")
    try q.processAllAvailable() finally q.stop()

    val maxTsUs = graft.Tables.normalizeEventTime(batchEvents)
      .agg(max(expr("ts_ns div 1000"))).head().getLong(0)
    val watermarkUs = maxTsUs - 3600L * 1000000L // "1 hour" delay
    val want = graft.streaming.EventStreams.windowedStats(batchEvents)
      .filter(unix_micros(col("window_start").cast("timestamp")) // UTC session
        + 3600L * 1000000L <= watermarkUs)
      .select(col("window_start").cast("string"), col("event_type"), col("n"),
        round(col("total_value"), 6))
      .collect().map(_.toSeq).toSet
    val got = spark.table("gww.s.win")
      .select(col("window_start").cast("string"), col("event_type"), col("n"),
        round(col("total_value"), 6))
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"append-mode windows diverge: got ${got.size}, want ${want.size}")
  }

  test("streaming heavy hitters: the mergeable sketch equals batch counts") {
    // FreqSketchAgg is a typed Aggregator with map-side partial merge, so
    // it drops straight into a streaming aggregation — per-batch partials
    // merge into the state exactly like batch partials merge across
    // partitions (the mergeable-summaries property). Exactness regime
    // (capacity ≥ vocabulary) makes streaming ≡ batch checkable exactly.
    import spark.implicits._
    val d = Files.createTempDirectory("graft_stream_docs")
    // TWO input files + maxFilesPerTrigger=1 force >=2 micro-batches, so
    // the sketch's merge genuinely runs against NON-EMPTY state (one
    // batch would exercise only the same partial-merge path as batch)
    for (n <- Seq("documents.parquet", "documents2.parquet"))
      Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
        d.resolve(n), StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(d.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(d.toString)
    val toks = stream.select(explode(split(col("text"), " ")).as("token")).as[String]
    val q = toks.select(graft.functions.FreqSketchAgg(64).toColumn.name("m"))
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode(OutputMode.Complete()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("hh_stream")
      .select(explode(col("m")).as(Seq("token", "cnt")))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val want = spark.read.parquet(d.toString)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == want, s"streaming sketch diverged: got ${got.size} tokens")
  }

  test("streaming exact dedup: dropDuplicates removes cross-file repeats") {
    // a stream that delivers the same file twice — the dedup state must
    // collapse every event back to one occurrence
    val d = Files.createTempDirectory("graft_dup_stream")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      d.resolve("events_a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      d.resolve("events_b.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val batchDistinct = spark.read.parquet(d.toString)
      .select("event_id").distinct().count()

    val stream = spark.readStream.schema(batchEvents.schema).parquet(d.toString)
      .dropDuplicates("event_id")
      .groupBy().count()
    val q = stream.writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Complete()).start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("dedup").head().getLong(0)
    assert(got == batchDistinct && got == 1000)
  }

  test("stateful sessionization: streaming result equals batch lag-based result") {
    import spark.implicits._
    val stream = EventStreams.asEvents(
      spark.readStream.schema(batchEvents.schema).parquet(streamDir))
    val q = EventStreams.sessionCounts(stream)
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Update()).start()
    try q.processAllAvailable() finally q.stop()

    // batch oracle: q17-style lag + gap window
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts_ns", $"event_id")
    val want = graft.Tables.normalizeEventTime(batchEvents)
      .withColumn("prev", lag($"ts_ns", 1).over(w))
      .withColumn("new_sess",
        when($"prev".isNull || $"ts_ns" - $"prev" > EventStreams.GapNs, 1L).otherwise(0L))
      .groupBy($"user_id")
      .agg(sum($"new_sess").as("n_sessions"), count(lit(1)).as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val got = spark.table("sess")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("flatMapGroupsWithState: closed sessions emit via gap AND event-time timeout") {
    import spark.implicits._
    // Append-mode sessionization: a session emits when a later event
    // closes it (gap rule) or when the watermark passes last + gap (the
    // EventTimeTimeout fires with no new event). With watermark delay 0
    // the final watermark is max(ts), so expected = every batch session
    // whose (last + gap) ≤ max(ts).
    val stream = EventStreams.asEvents(
      spark.readStream.schema(batchEvents.schema).parquet(streamDir))
    val q = EventStreams.closedSessions(stream, watermark = "0 seconds")
      .writeStream.format("memory").queryName("closed_sess")
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("closed_sess")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    // batch oracle: q17-style lag/cumsum sessions, kept if closeable
    val ev = graft.Tables.normalizeEventTime(batchEvents)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts_ns", $"event_id")
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts_ns", $"event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val maxTs = ev.agg(max($"ts_ns")).head().getLong(0)
    // watermark works in MILLISECOND precision (timeout set at ms) — a
    // session whose (last+gap) lands in the same ms as max(ts) may not
    // fire; truncate both sides to ms like the engine does
    val want = ev
      .withColumn("prev", lag($"ts_ns", 1).over(w))
      .withColumn("new_sess",
        when($"prev".isNull || $"ts_ns" - $"prev" > EventStreams.GapNs, 1L).otherwise(0L))
      .withColumn("sid", sum($"new_sess").over(wAll))
      .groupBy($"user_id", $"sid")
      .agg(min($"ts_ns").as("start_ns"), max($"ts_ns").as("end_ns"),
        count(lit(1)).as("n_events"))
      // STRICT <: Spark evicts timed-out state only when timeoutTs <
      // watermark, so a session landing exactly on the watermark ms is
      // still open
      .filter(expr(s"(end_ns div 1000000) + ${EventStreams.GapNs} / 1000000 < ${maxTs} div 1000000"))
      .select($"user_id", $"start_ns", $"end_ns", $"n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    assert(got == want, s"closed sessions diverge: got ${got.size}, want ${want.size}")
    assert(got.nonEmpty)
  }

  test("closed sessions: cross-batch stragglers neither regress nor corrupt the open session") {
    import spark.implicits._
    val gap = EventStreams.GapNs
    val min = 60L * 1000000000L
    val t0 = 1704067200L * 1000000000L // 2024-01-01T00:00Z in epoch ns
    val dir = Files.createTempDirectory("graft_ooo")
    def writeBatch(name: String, mtime: Long, rows: (Long, Long)*): Unit = {
      rows.map { case (id, ts) => (id, ts, 1L, "click", 0.0) }
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.parquet(dir.resolve(name).toString)
      java.nio.file.Files.walk(dir.resolve(name)).forEach(p =>
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(mtime)))
    }
    // batch 1 opens [t0, t0+10m]; batch 2 delivers (in event-time order
    // after the sort): a straggler 2h BEFORE the session, a delayed event
    // inside the interval, an extension, and a closer
    writeBatch("a.parquet", 1000000L, (1L, t0), (2L, t0 + 10 * min))
    writeBatch("b.parquet", 2000000L,
      (3L, t0 - 120 * min), (4L, t0 + 5 * min), (5L, t0 + 38 * min),
      (6L, t0 + 100 * min))

    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
      .as[EventStreams.Event]
    // 3h watermark delay: the straggler survives the late-event filter,
    // and nothing times out — only gap-closes emit
    val q = EventStreams.closedSessions(stream, watermark = "3 hours")
      .writeStream.format("memory").queryName("ooo_sess")
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("ooo_sess")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      (t0 - 120 * min, t0 - 120 * min, 1L), // straggler: own session, open session untouched
      (t0, t0 + 38 * min, 4L)), // delayed t0+5m widened (not regressed), t0+38m extended
      s"got $got")
  }

  test("graft streaming SOURCE: readStream tails a graft table across batch appends") {
    val wh = java.nio.file.Files.createTempDirectory("graft_src_wh").toString
    spark.conf.set("spark.sql.catalog.gsrc", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsrc.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gsrc.s")
    spark.sql("CREATE TABLE gsrc.s.feed (id BIGINT, grp STRING) PARTITIONED BY (grp)")
    spark.sql("INSERT INTO gsrc.s.feed SELECT id, 'a' FROM range(30)")

    val q = spark.readStream.table("gsrc.s.feed")
      .groupBy("grp").count()
      .writeStream.format("memory").queryName("feed_agg")
      .outputMode("complete")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_src_ck").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("feed_agg").collect().map(r => (r.getString(0), r.getLong(1))).toMap
        == Map("a" -> 30L))
      // appends surface in the next micro-batch
      spark.sql("INSERT INTO gsrc.s.feed SELECT id, 'b' FROM range(12)")
      spark.sql("INSERT INTO gsrc.s.feed SELECT id, 'a' FROM range(5)")
      q.processAllAvailable()
      assert(spark.table("feed_agg").collect().map(r => (r.getString(0), r.getLong(1))).toMap
        == Map("a" -> 35L, "b" -> 12L))
    } finally q.stop()

    // offsets round-trip through their JSON form
    val off = graft.sources.GraftSourceOffset(Map("grp=a/part-1.parquet" -> 17L,
      "grp=b/x \"q\".parquet" -> 3L))
    assert(graft.sources.GraftSourceOffset.fromJson(off.json()) == off)
  }

  test("graft streaming SOURCE: restart from checkpoint delivers only new files") {
    val wh = java.nio.file.Files.createTempDirectory("graft_rs_wh").toString
    spark.conf.set("spark.sql.catalog.grs", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grs.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS grs.s")
    spark.sql("CREATE TABLE grs.s.feed (id BIGINT)")
    spark.sql("INSERT INTO grs.s.feed SELECT id FROM range(10)")
    val ck = java.nio.file.Files.createTempDirectory("graft_rs_ck").toString
    val sink = java.nio.file.Files.createTempDirectory("graft_rs_out").toString

    def run(): Unit = {
      val q = spark.readStream.table("grs.s.feed")
        .writeStream.format("parquet")
        .option("checkpointLocation", ck).option("path", sink).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(spark.read.parquet(sink).count() == 10)
    // rows appended while the query is DOWN arrive exactly once on restart
    spark.sql("INSERT INTO grs.s.feed SELECT id + 100 FROM range(7)")
    run()
    val got = spark.read.parquet(sink).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == ((0L until 10L) ++ (100L until 107L)).sorted,
      s"restart must deliver appended rows exactly once: $got")
  }

  test("graft streaming SOURCE: maxFilesPerTrigger drains a backlog in bounded batches") {
    val wh = java.nio.file.Files.createTempDirectory("graft_ac_wh").toString
    spark.conf.set("spark.sql.catalog.gac", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gac.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gac.s")
    spark.sql("CREATE TABLE gac.s.feed (id BIGINT)")
    // backlog of 8 single-task commits => 8 files BEFORE the query starts
    for (i <- 0 until 8)
      spark.sql(s"INSERT INTO gac.s.feed SELECT id + ${i * 10} FROM range(10)")

    val q = spark.readStream
      .option("maxFilesPerTrigger", "2")
      .table("gac.s.feed")
      .writeStream.format("memory").queryName("ac_sink")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_ac_ck").toString)
      .start()
    try {
      q.processAllAvailable()
      // all rows arrive...
      assert(spark.table("ac_sink").count() == 80)
      // ...but in ceil(8/2)=4+ batches of <=2 files each, not one giant one
      val progress = q.recentProgress.filter(_.numInputRows > 0)
      assert(progress.length >= 4,
        s"backlog should drain in >=4 capped batches, got ${progress.length}")
      assert(progress.forall(_.numInputRows <= 20),
        s"a batch exceeded maxFilesPerTrigger=2 (20 rows): " +
          progress.map(_.numInputRows).mkString(","))
    } finally q.stop()
  }

  test("graft streaming SOURCE: Trigger.AvailableNow drains the snapshot and terminates") {
    val wh = java.nio.file.Files.createTempDirectory("graft_an_wh").toString
    spark.conf.set("spark.sql.catalog.gan", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gan.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gan.s")
    spark.sql("CREATE TABLE gan.s.feed (id BIGINT)")
    for (i <- 0 until 3)
      spark.sql(s"INSERT INTO gan.s.feed SELECT id + ${i * 10} FROM range(10)")

    val q = spark.readStream
      .option("maxFilesPerTrigger", "1")
      .table("gan.s.feed")
      .writeStream.format("memory").queryName("an_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_an_ck").toString)
      .start()
    // AvailableNow must terminate on its own once the snapshot is drained
    assert(q.awaitTermination(120000), "AvailableNow query did not terminate")
    assert(spark.table("an_sink").count() == 30)
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 3, s"capped AvailableNow should take >=3 batches, got $batches")
  }

  test("graft streaming SOURCE: catalog-free readStream.format(\"graft\")") {
    val wh = java.nio.file.Files.createTempDirectory("graft_fs_wh").toString
    spark.conf.set("spark.sql.catalog.gfs", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gfs.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gfs.s")
    spark.sql("CREATE TABLE gfs.s.feed (id BIGINT)")
    spark.sql("INSERT INTO gfs.s.feed SELECT id FROM range(25)")

    val q = spark.readStream.format("graft").load(s"$wh/s/feed")
      .writeStream.format("memory").queryName("fs_sink")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_fs_ck").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("fs_sink").count() == 25)
      spark.sql("INSERT INTO gfs.s.feed SELECT id + 100 FROM range(5)")
      q.processAllAvailable()
      assert(spark.table("fs_sink").count() == 30)
    } finally q.stop()
  }

  test("graft streaming SOURCE: _file/_version refused loudly (batch-only wiring)") {
    // Spark's DSv2 metadata-column machinery never tells a STREAMING scan
    // to produce the column, so resolution would succeed and execution
    // die mid-batch with an opaque row-arity error — the injected
    // GraftStreamingMetaGuard must fail fast with a named message instead
    val wh = java.nio.file.Files.createTempDirectory("graft_mf_wh").toString
    spark.conf.set("spark.sql.catalog.gmf", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmf.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmf.s")
    spark.sql("CREATE TABLE gmf.s.feed (id BIGINT)")
    spark.sql("INSERT INTO gmf.s.feed SELECT id FROM range(9)")
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: messages(t.getCause)
    for (metaCol <- Seq("_file", "_version")) {
      val e = intercept[Exception] {
        val q = spark.readStream.format("graft").load(s"$wh/s/feed")
          .select(col("id"), col(metaCol))
          .writeStream.format("memory").queryName(s"mf_sink$metaCol")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("graft_mf_ck").toString)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      assert(messages(e).exists(m =>
        m.contains(metaCol) && m.contains("streaming")), messages(e).mkString(" | "))
    }
    // the same projection in BATCH works
    assert(spark.sql("SELECT _file, _version FROM gmf.s.feed").count() == 9)
  }

  test("graft streaming sink: epoch commit log hides uncommitted files and dedups replays") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.connector.write.WriterCommitMessage
    import graft.sources.{GraftCommitMessage, GraftStreamingWrite, TableStats}

    val wh = java.nio.file.Files.createTempDirectory("graft_stream_wh").toString
    spark.conf.set("spark.sql.catalog.gsink", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsink.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gsink.s")
    spark.sql("CREATE TABLE gsink.s.sink (id BIGINT)")

    // two epochs through the real streaming path
    val src = java.nio.file.Files.createTempDirectory("graft_sink_src")
    spark.range(0, 50).toDF("id").write.parquet(s"$src/b1")
    val q = spark.readStream.schema("id BIGINT").parquet(s"$src/*")
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_sink_ck").toString)
      .toTable("gsink.s.sink")
    try {
      q.processAllAvailable()
      spark.range(50, 80).toDF("id").write.parquet(s"$src/b2")
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("gsink.s.sink").count() == 80)

    val dataDir = new java.io.File(s"$wh/s/sink/data")
    // epoch markers exist
    assert(new java.io.File(dataDir, "_commits").listFiles().nonEmpty)

    // an uncommitted stream file (crashed epoch) must stay invisible
    val committed = dataDir.listFiles().filter(_.getName.startsWith("stream-"))
    assert(committed.nonEmpty, "expected stream-prefixed committed files")
    val orphan = new java.io.File(dataDir, "stream-9-999-deadbeef.parquet")
    java.nio.file.Files.copy(committed.head.toPath, orphan.toPath)
    assert(spark.table("gsink.s.sink").count() == 80,
      "uncommitted stream file must not be readable")

    // replayed epoch: same (queryId, epochId) commits twice -> the second
    // attempt's files are dropped, not double-registered
    val fsPath = new Path(dataDir.toString)
    val fs = fsPath.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT")
    val w = new GraftStreamingWrite(schema, Map.empty, dataDir.toString, Nil, "qreplay")
    val chunk = spark.read.parquet(committed.head.getAbsolutePath).count()
    val attempt1 = new java.io.File(dataDir, "stream-0-1-replay1.parquet")
    java.nio.file.Files.copy(committed.head.toPath, attempt1.toPath)
    w.commit(7, Array[WriterCommitMessage](GraftCommitMessage(
      Seq(attempt1.getName -> TableStats.Entry(chunk)))))
    val rowsAfterFirst = spark.table("gsink.s.sink").count()
    assert(rowsAfterFirst == 80 + chunk,
      s"first commit of epoch 7 registers the file: $rowsAfterFirst")
    val attempt2 = new java.io.File(dataDir, "stream-0-2-replay2.parquet")
    java.nio.file.Files.copy(committed.head.toPath, attempt2.toPath)
    w.commit(7, Array[WriterCommitMessage](GraftCommitMessage(
      Seq(attempt2.getName -> TableStats.Entry(chunk)))))
    assert(!attempt2.exists(), "replayed epoch's duplicate files are deleted")
    assert(spark.table("gsink.s.sink").count() == 80 + chunk,
      "replayed epoch must not add rows")
    assert(TableStats.read(fs, fsPath).size ==
      dataDir.listFiles().count(f => f.getName.endsWith(".parquet")) - 1,
      "stats registry tracks exactly the committed files (orphan excluded)")
  }

  test("epoch replay must not re-register files a later commit removed") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.connector.write.WriterCommitMessage
    import graft.sources.{GraftCommitMessage, GraftStreamingWrite, TableStats}

    val wh = java.nio.file.Files.createTempDirectory("graft_replay_wh").toString
    spark.conf.set("spark.sql.catalog.grpl", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grpl.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS grpl.s")
    spark.sql("CREATE TABLE grpl.s.t (id BIGINT)")
    // single slice -> exactly one data file holding all 10 rows (the
    // copies below claim Entry(10), which must match the file contents)
    spark.sql("INSERT INTO grpl.s.t SELECT id FROM range(0, 10, 1, 1)")
    val dataDir = new java.io.File(s"$wh/s/t/data")
    val seeds = dataDir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(seeds.length == 1, s"expected one seed file, got ${seeds.length}")
    val seed = seeds.head

    // epoch 0 commits a stream file: marker + registration + snapshot
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT")
    val w = new GraftStreamingWrite(schema, Map.empty, dataDir.toString, Nil, "qtomb")
    val streamed = new java.io.File(dataDir, "stream-0-1-tomb.parquet")
    java.nio.file.Files.copy(seed.toPath, streamed.toPath)
    w.commit(0, Array[WriterCommitMessage](GraftCommitMessage(
      Seq(streamed.getName -> TableStats.Entry(10)))))
    assert(spark.table("grpl.s.t").count() == 20)

    // a COW delete rewrites both files: they leave the manifest but stay
    // on disk (time travel) — physical existence no longer means live
    spark.sql("DELETE FROM grpl.s.t WHERE id < 5")
    assert(spark.table("grpl.s.t").count() == 10)
    assert(streamed.exists(), "COW keeps the superseded file for time travel")

    // replay of epoch 0 (restart from an old checkpoint): the marker is
    // present, the streamed file is on disk but TOMBSTONED by the
    // snapshot log — the repair path must not resurrect it
    w.commit(0, Array[WriterCommitMessage](GraftCommitMessage(Seq.empty)))
    assert(spark.table("grpl.s.t").count() == 10,
      "replay re-registered a file a later commit removed")

    // the genuinely-crashed case still repairs: a marker whose file was
    // never in ANY snapshot (commit died between marker and registration)
    val lost = new java.io.File(dataDir, "stream-1-1-lost.parquet")
    java.nio.file.Files.copy(seed.toPath, lost.toPath)
    val fsPath = new Path(dataDir.toString)
    val fs = fsPath.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val marker = new Path(fsPath, s"${TableStats.CommitsDir}/qtomb-e1")
    val out = fs.create(marker, true)
    out.write(TableStats.serialize(Map(lost.getName -> TableStats.Entry(10)))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    w.commit(1, Array[WriterCommitMessage](GraftCommitMessage(Seq.empty)))
    assert(spark.table("grpl.s.t").count() == 20,
      "crashed-commit repair must still register never-snapshotted files")
    spark.sql("DROP TABLE grpl.s.t")
  }

  test("stream-stream join: watermarked interval join equals the batch join") {
    // two event streams joined on user_id within a ±5-minute interval —
    // the streaming enrichment shape (clicks × purchases). Watermarks
    // bound both sides' state so at 100 TB/day the join state stays
    // proportional to the interval, not the history.
    def side(tpe: String, prefix: String) =
      graft.Tables.normalizeEventTime(
          spark.readStream.schema(batchEvents.schema).parquet(streamDir))
        .where(s"event_type = '$tpe'")
        .selectExpr(s"user_id AS ${prefix}_user",
          s"cast(ts as timestamp) AS ${prefix}_ts", s"event_id AS ${prefix}_id")
        .withWatermark(s"${prefix}_ts", "10 minutes")
    val clicks = side("click", "c")
    val purchases = side("purchase", "p")
    val joined = clicks.join(purchases,
      expr("""c_user = p_user AND
             |p_ts BETWEEN c_ts - INTERVAL 5 MINUTES AND c_ts + INTERVAL 5 MINUTES"""
        .stripMargin))
      .selectExpr("c_user", "c_id", "p_id")
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("ss_join").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val be = graft.Tables.normalizeEventTime(batchEvents)
    val want = be.where("event_type = 'click'")
      .selectExpr("user_id AS c_user", "cast(ts as timestamp) AS c_ts", "event_id AS c_id")
      .join(be.where("event_type = 'purchase'")
        .selectExpr("user_id AS p_user", "cast(ts as timestamp) AS p_ts", "event_id AS p_id"),
        expr("""c_user = p_user AND
               |p_ts BETWEEN c_ts - INTERVAL 5 MINUTES AND c_ts + INTERVAL 5 MINUTES"""
          .stripMargin))
      .selectExpr("c_user", "c_id", "p_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming upsert: foreachBatch MERGE keeps the graft table current") {
    // the standard streaming-CDC shape: a change feed lands as files, each
    // micro-batch MERGEs into the serving table through the row-level COW
    // path — late keys update in place, new keys insert, and the table is
    // always a consistent point-in-time upsert of everything delivered
    val wh = java.nio.file.Files.createTempDirectory("graft_ups_wh").toString
    spark.conf.set("spark.sql.catalog.gups", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gups.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gups.s")
    spark.sql("CREATE TABLE gups.s.state (id BIGINT, val BIGINT)")
    spark.sql("INSERT INTO gups.s.state SELECT id, id FROM range(5)")

    val feed = java.nio.file.Files.createTempDirectory("graft_ups_feed").toString
    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, val BIGINT"))
      .parquet(feed)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.createOrReplaceTempView("ups_batch")
        batch.sparkSession.sql(
          """MERGE INTO gups.s.state t
            |USING ups_batch s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET val = s.val
            |WHEN NOT MATCHED THEN INSERT (id, val) VALUES (s.id, s.val)""".stripMargin)
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_ups_ck").toString)
      .start()
    def state() = spark.table("gups.s.state").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    try {
      // batch 1: update ids 3-4, insert 5-7
      spark.range(3, 8).selectExpr("id", "id * 10 AS val")
        .write.mode("append").parquet(feed)
      q.processAllAvailable()
      assert(state() == (0L to 2L).map(i => i -> i).toMap
        ++ (3L to 7L).map(i => i -> i * 10).toMap)
      // batch 2: second file re-keys 0 and 7 — updates in place, no dup rows
      spark.range(0, 1).selectExpr("id", "id + 99 AS val").union(
        spark.range(7, 9).selectExpr("id", "id * 100 AS val"))
        .write.mode("append").parquet(feed)
      q.processAllAvailable()
      assert(state() == Map(0L -> 99L, 1L -> 1L, 2L -> 2L,
        3L -> 30L, 4L -> 40L, 5L -> 50L, 6L -> 60L, 7L -> 700L, 8L -> 800L))
    } finally q.stop()
    spark.sql("DROP TABLE gups.s.state")
  }

  test("streaming sink routes rows into PARTITION directories") {
    // a streaming write into a partitioned graft table must land files
    // under lang=<v>/ exactly like the batch writer (same per-task
    // routing), so downstream partition pruning works on streamed data
    val wh = Files.createTempDirectory("graft_pstream").toString
    spark.conf.set("spark.sql.catalog.gps", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gps.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gps.s")
    spark.sql("""CREATE TABLE gps.s.pt (k BIGINT, lang STRING)
                |PARTITIONED BY (lang)""".stripMargin)
    val feed = Files.createTempDirectory("graft_pstream_feed").toString
    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, lang STRING"))
      .parquet(feed)
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft_pstream_ck").toString)
      .toTable("gps.s.pt")
    try {
      spark.range(0, 40)
        .selectExpr("id AS k", "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END AS lang")
        .write.mode("append").parquet(feed)
      q.processAllAvailable()
      val dirs = new java.io.File(s"$wh/s/pt/data").listFiles()
        .filter(_.isDirectory).map(_.getName)
        .filterNot(_.startsWith("_")).toSet // _commits = the epoch log
      assert(dirs == Set("lang=en", "lang=de"), s"got $dirs")
      assert(spark.sql("SELECT COUNT(*) FROM gps.s.pt WHERE lang = 'en'")
        .head().getLong(0) == 20L)
      // static partition pruning applies to the streamed files
      val plan = spark.sql("SELECT k FROM gps.s.pt WHERE lang = 'de'")
        .queryExecution.executedPlan
      val parts = plan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.length
      }.getOrElse(-1)
      val all = spark.table("gps.s.pt").queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.length
      }.getOrElse(-1)
      assert(parts > 0 && parts < all,
        s"partition filter must prune streamed files: $parts vs $all")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark: bounded dedup state, evicted keys re-emit") {
    // Unbounded dropDuplicates keeps every key forever — at 100 TB of
    // events the state store IS the bottleneck. The watermark-bounded
    // variant guarantees dedup only for duplicates arriving within the
    // watermark delay of each other, and EVICTS older keys: state stays
    // proportional to the recent window, and a duplicate of an evicted
    // key legitimately re-emits. Both halves of the contract are the
    // semantics — this pins them.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Long)] // (key, epochSeconds)
    val deduped = mem.toDF().toDF("key", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("key")
    val q = deduped.writeStream.format("memory").queryName("wm_dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      val t0 = 1000000L
      // batch 1: keys 1..50 plus in-batch duplicates of 1..10 → deduped
      mem.addData(((1L to 50L).map(k => (k, t0)) ++
        (1L to 10L).map(k => (k, t0 + 60))): _*)
      q.processAllAvailable()
      // batch 2: duplicates of 1..10 again, still within the 1h delay of
      // the watermark → dropped (cross-batch dedup)
      mem.addData((1L to 10L).map(k => (k, t0 + 120)): _*)
      q.processAllAvailable()
      assert(spark.table("wm_dedup").count() === 50)
      // batch 3: jump event time 10 hours → watermark passes the old
      // keys' expiry, state evicts
      mem.addData((100L to 109L).map(k => (k, t0 + 36000)): _*)
      q.processAllAvailable()
      // batch 4: key 1 again — its dedup state is GONE, so it re-emits
      // (the documented trade for bounded state)
      mem.addData((1L, t0 + 36060))
      q.processAllAvailable()
      val rows = spark.table("wm_dedup").collect()
      assert(rows.length === 61, s"50 + 10 new + 1 re-emitted, got ${rows.length}")
      assert(rows.count(_.getLong(0) == 1L) === 2, "evicted key must re-emit")
      // the state store holds only the un-expired keys — far fewer than
      // every key ever seen
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 11, s"state not bounded: $stateRows rows")
    } finally q.stop()
  }

  test("stream-stream interval join: cross-batch matches, state bounded by watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // two INDEPENDENT streams: (event_id, user_id, ts nanos)
    val clicks = MemoryStream[(Long, Long, Long)]
    val buys = MemoryStream[(Long, Long, Long)]
    def df(m: MemoryStream[(Long, Long, Long)]) =
      m.toDF().toDF("event_id", "user_id", "ts")
    val joined = graft.streaming.EventStreams.clickPurchaseJoin(
      df(clicks), df(buys), windowMicros = 60L * 1000000L, watermark = "1 minute")
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append()).start()
    def pairs(): Set[(Long, Long)] =
      spark.table("ssj").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      val t0 = 1700000000L * 1000000000L // ns
      def ns(s: Long) = t0 + s * 1000000000L
      // batch 1: click c1 (user 1), purchase p1 in-window (user 1),
      // purchase p9 for user 9 with NO click yet
      clicks.addData((101L, 1L, ns(0)))
      buys.addData((201L, 1L, ns(30)), (209L, 9L, ns(20)))
      q.processAllAvailable()
      assert(pairs() == Set((101L, 201L)), "in-batch inner match emits eagerly")
      // batch 2: the user-9 CLICK arrives late but in-window — the
      // buffered purchase from batch 1 must match ACROSS batches;
      // wait: purchase must be >= click. p9 at 20s, click at 10s → ok
      clicks.addData((109L, 9L, ns(10)))
      q.processAllAvailable()
      assert(pairs() == Set((101L, 201L), (109L, 209L)),
        "state must carry the unmatched side across micro-batches")
      // batch 3: jump event time far ahead → watermark passes every
      // buffered row's horizon, state evicts
      clicks.addData((110L, 2L, ns(3600)))
      buys.addData((210L, 3L, ns(3600)))
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 4,
        s"join state must hold only the watermark horizon, got $stateRows")
      // an out-of-window purchase never matches
      buys.addData((211L, 2L, ns(3600 + 120)))
      q.processAllAvailable()
      assert(pairs() == Set((101L, 201L), (109L, 209L)))
    } finally q.stop()
  }

  test("IndexMaintain: maintained FTS serve == rebuild at every drain boundary, " +
      "no manual folds, insert-only batches take the cheap path") {
    val wh = gimWh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gim.im")
    val ns = "gim.im"
    graft.queries.Engine3.fts2Create(spark, ns, withRowKey = true)
    import spark.implicits._
    val state = scala.collection.mutable.Map[Long, String]()
    def txt(i: Long, salt: Int) = s"tok${(i + salt) % 7} tok${(i + salt) % 5} common"
    def append(rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text")
        .select(col("doc_id").cast("string").as("row_key"),
          col("doc_id"), col("text"))
        .writeTo(s"$ns.fts2_src").append()
      rows.foreach { case (i, t) => state(i) = t }
    }
    val routes = scala.collection.mutable.ArrayBuffer[Boolean]() // mutated?
    def drain(): Unit = graft.streaming.IndexMaintain.start(
      spark, s"$ns.fts2_src", s"$ns.fts2_meta",
      Files.createTempDirectory("im_ckpt").toString, wh,
      foldAppend = (delta, v1, v2) => graft.queries.Engine3.fts2Fold(
        spark, ns, delta.select(col("doc_id"), col("text")), v2,
        expect = Some(v1)),
      foldFeed = (feed, v1, v2) => graft.queries.Engine3.fts2FoldFeed(
        spark, ns, s"$ns.fts2_src", feed, v1, v2, expect = Some(v1)),
      onBatch = (_, _, mutated) => routes += mutated)
      .awaitTermination()
    def serveOf(n: String): Seq[(Long, Long)] =
      graft.queries.Engine3.fts2Bm25(spark, n,
        Seq("common", "tok1", "fresh")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    def assertEqualsRebuild(round: String): Unit = {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS gim.imr")
      graft.queries.Engine3.fts2Create(spark, "gim.imr")
      state.toSeq.toDF("doc_id", "text").writeTo("gim.imr.fts2_src").append()
      graft.queries.Engine3.fts2Fold(spark, "gim.imr",
        spark.table("gim.imr.fts2_src"),
        graft.queries.Engine3.fts2SrcVersion(spark, "gim.imr"))
      assert(serveOf(ns) == serveOf("gim.imr"),
        s"$round: maintained serve diverged from rebuild")
    }
    // boundary 1: the SEED itself arrives through the maintainer —
    // insert-only, so the cheap incremental-scan fold must be routed
    append((0L until 30L).map(i => (i, txt(i, 0))))
    drain()
    assert(routes.toSeq == Seq(false),
      s"insert-only interval must take the append fold, got $routes")
    assertEqualsRebuild("seed drain")
    // boundary 2: mutations (takedown + re-crawl) + an insert, one drain
    spark.sql(s"DELETE FROM $ns.fts2_src WHERE doc_id IN (3, 17)")
    state --= Seq(3L, 17L)
    spark.sql(s"UPDATE $ns.fts2_src SET text = 'fresh tok2 common' WHERE doc_id = 5")
    state(5L) = "fresh tok2 common"
    append(Seq((100L, txt(100, 1))))
    drain()
    assert(routes.toSeq == Seq(false, true),
      s"a mutated interval must take the feed fold, got $routes")
    assertEqualsRebuild("mutation drain")
    // boundary 3: nothing new — the drain must fold nothing
    drain()
    assert(routes.size == 2, "an empty interval must not fold")
    assertEqualsRebuild("idle drain")
    // boundary 4: a NOISE version (zero-row append) — the maintainer
    // must advance the watermark alone: no postings stage, no zero
    // constants row, and the interval never reclassifies
    val globRows = spark.table(s"$ns.fts2_glob").count()
    val postRows = spark.table(s"$ns.fts2_post").count()
    spark.table(s"$ns.fts2_src").limit(0).writeTo(s"$ns.fts2_src").append()
    drain()
    assert(routes.size == 3 && !routes.last,
      "a noise interval reports an un-mutated batch")
    assert(spark.table(s"$ns.fts2_glob").count() == globRows,
      "a noise interval must not append constants rows")
    assert(spark.table(s"$ns.fts2_post").count() == postRows)
    assert(spark.table(s"$ns.fts2_meta").agg(max("indexed_version"))
      .head().getLong(0) ==
      graft.queries.Engine3.fts2SrcVersion(spark, ns),
      "the watermark must still advance past the noise version")
    assertEqualsRebuild("noise drain")
  }

  test("IndexMaintain drives the ANN mutation fold: surviving postings == a " +
      "from-scratch rebuild; the debt policy compacts inside the drain") {
    // directive #3's dense-retrieval arm: the SAME maintainer loop drives
    // the q172 endpoint-state ANN fold (ann3FoldFeed serves as BOTH
    // callbacks — a pure-insert interval is just a feed whose affected
    // set is the new vectors), with annCompactIfDebt wired into onBatch.
    // Equality standard: the SURVIVING postings of the maintained index
    // must be row-identical (rev aside) to an index rebuilt from the
    // post-mutation source with the SAME frozen quantizer — codes and
    // list assignments are deterministic given the quantizer, so posting
    // equality implies serve equality.
    val wh = gimWh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gim.ann")
    val ns = "gim.ann"
    import spark.implicits._
    // 24 deterministic 64-dim vectors, flattened (vec_id, pos, v)
    def flat(ids: Seq[Long]): org.apache.spark.sql.DataFrame =
      ids.flatMap(i => (0 until 64).map(p =>
          (i, p, ((i * 31 + p * 7) % 13 - 6).toDouble / 7)))
        .toDF("vec_id", "pos", "v")
    graft.queries.Engine2.ann3SeedFrom(spark, ns, flat(0L until 24L))
    var compactions = 0
    def drain(): Unit = graft.streaming.IndexMaintain.start(
      spark, s"$ns.ann3_src", s"$ns.ann3_meta",
      Files.createTempDirectory("annim_ckpt").toString, wh,
      foldAppend = (delta, v1, v2) =>
        graft.queries.Engine2.ann3FoldFeed(spark, ns, delta, v2,
          expect = Some(v1)),
      foldFeed = (feed, v1, v2) =>
        graft.queries.Engine2.ann3FoldFeed(spark, ns, feed, v2,
          expect = Some(v1)),
      onBatch = (_, _, _) =>
        if (graft.queries.Engine2.annCompactIfDebt(spark, ns, frac = 0.001))
          compactions += 1)
      .awaitTermination()
    // mutations touch only vec_id >= 16, so the FROZEN quantizer (first
    // 16) is identical in the rebuild and posting equality is meaningful
    spark.sql(s"DELETE FROM $ns.ann3_src WHERE vec_id = 18")
    spark.sql(s"UPDATE $ns.ann3_src SET v = v + 0.5 WHERE vec_id = 20 AND v < 10")
    flat(Seq(30L))
      .select(concat_ws(":", col("vec_id"), col("pos")).as("row_key"),
        col("vec_id"), col("pos"), col("v"))
      .writeTo(s"$ns.ann3_src").append()
    drain()
    assert(compactions == 1, "the debt policy must compact inside the drain")
    assert(spark.table(s"$ns.ann3_del").count() == 0,
      "maintained ANN index must carry no tombstones after the policy fires")
    // rebuild from the CURRENT source with the same frozen quantizer
    graft.queries.Engine2.ann3SeedFrom(spark, "gim.annr",
      spark.table(s"$ns.ann3_src").select(col("vec_id"), col("pos"), col("v")))
    def postings(n: String): Set[(Long, Int, Long, Long)] =
      spark.table(s"$n.ann3_post")
        .select(col("vid"), col("j"), col("code"), col("list_id"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .toSet
    assert(postings(ns) == postings("gim.annr"),
      "maintained+compacted ANN postings must equal a from-scratch rebuild")
    // the deleted vector is gone, the inserted one is present
    assert(!postings(ns).exists(_._1 == 18L))
    assert(postings(ns).count(_._1 == 30L) == 8)
    // idle drain: nothing new, no fold, no compaction
    drain()
    assert(compactions == 1)
  }

  test("requantize after churn: history-independent postings, watermark " +
      "advanced - an outstanding interval is consumed, never double-indexed") {
    // q185's two protocol invariants, driven against the previous test's
    // churned index (gim.ann) and its fresh twin (gim.annr):
    //  1. ann3Requantize depends only on the HEAD-PINNED source - the
    //     maintained index (seed + folds + compaction) and the fresh
    //     rebuild requantize to IDENTICAL centroids and postings;
    //  2. the swap transaction advances the watermark to head, so a
    //     mutation committed BEFORE the requantize (watermark behind) is
    //     CONSUMED by it - the next drain sees nothing outstanding and
    //     must not re-fold the interval on top of the rebuilt rows
    //     (same-rev duplicates would survive their own tombstones and
    //     double every ADC distance).
    val ns = "gim.ann"
    // an outstanding commit the maintainer has NOT folded yet
    spark.sql(s"UPDATE $ns.ann3_src SET v = v - 0.25 WHERE vec_id = 21 AND v > -10")
    graft.queries.Engine2.ann3Requantize(spark, ns)
    // the twin: fresh-seed gim.annr from the SAME current source content,
    // then requantize it too - both end under the retrained quantizer
    graft.queries.Engine2.ann3SeedFrom(spark, "gim.annr",
      spark.table(s"$ns.ann3_src").select(col("vec_id"), col("pos"), col("v")))
    graft.queries.Engine2.ann3Requantize(spark, "gim.annr")
    def postings(n: String): Seq[(Long, Int, Long, Long)] =
      spark.table(s"$n.ann3_post")
        .select(col("vid"), col("j"), col("code"), col("list_id"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .toSeq.sorted
    def cents(n: String): Seq[(Long, Int, Double)] =
      spark.table(s"$n.ann3_cent").select(col("cid"), col("pos"), col("v"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq.sorted
    assert(cents(ns) == cents("gim.annr"),
      "retrained centroids must depend only on the head-pinned source")
    assert(postings(ns) == postings("gim.annr"),
      "requantized postings must be history-independent")
    // exactly 8 codes per live vector - a Seq (not Set) comparison above
    // plus this count rules out same-rev duplicates
    val perVid = postings(ns).groupBy(_._1).view.mapValues(_.size)
    assert(perVid.values.forall(_ == 8), s"duplicated postings: ${
      perVid.filter(_._2 != 8)}")
    // watermark advanced to head: a drain right after requantize no-ops
    var folds = 0
    graft.streaming.IndexMaintain.start(
      spark, s"$ns.ann3_src", s"$ns.ann3_meta",
      Files.createTempDirectory("rq_ckpt").toString, gimWh,
      foldAppend = (delta, v1, v2) => { folds += 1
        graft.queries.Engine2.ann3FoldFeed(spark, ns, delta, v2,
          expect = Some(v1)) },
      foldFeed = (feed, v1, v2) => { folds += 1
        graft.queries.Engine2.ann3FoldFeed(spark, ns, feed, v2,
          expect = Some(v1)) })
      .awaitTermination()
    assert(folds == 0,
      "requantize consumed every commit up to head - nothing may re-fold")
    assert(postings(ns).groupBy(_._1).values.forall(_.size == 8),
      "the post-requantize drain must not double-index the consumed interval")
  }

  test("retrained requantize (conf-switched Lloyd) beats the frozen " +
      "quantizer on post-drift recall") {
    // the drift payoff REBUILD INDEX exists for: the corpus migrates
    // from region A (the quantizer's training distribution) to region B
    // (4 well-separated block clusters), incremental maintenance keeps
    // encoding B against the FROZEN A-trained quantizer, and recall@3
    // collapses; ann3Requantize with
    // spark.graft.ann.requantize.retrain=true (ml.KMeans over the live
    // corpus: 16 coarse centroids + per-subspace PQ codewords) restores
    // it. Everything is deterministic — KMeans inits from the first k
    // ids, no RNG.
    val wh = gimWh // registers the gim catalog
    val ns = "gim.rqr"
    import spark.implicits._
    def flatOf(rows: Seq[(Long, Seq[Double])]): org.apache.spark.sql.DataFrame =
      rows.flatMap { case (i, e) =>
        e.zipWithIndex.map { case (v, p) => (i, p, v) } }
        .toDF("vec_id", "pos", "v")
    def regionA(i: Long): Seq[Double] =
      (0 until 64).map(p => ((i * 31 + p * 7) % 13 - 6).toDouble / 70)
    def regionB(i: Long): Seq[Double] = {
      val c = (i % 4).toInt // block cluster: dims [16c, 16c+16) run hot
      (0 until 64).map(p =>
        (if (p / 16 == c) 5.0 else 0.3) +
          ((i * 13 + p * 3) % 7 - 3).toDouble / 50)
    }
    graft.queries.Engine2.ann3SeedFrom(spark, ns,
      flatOf((0L until 20L).map(i => (i, regionA(i)))))
    // drift interval: region A vanishes, region B (40 vectors) arrives;
    // the maintainer folds it against the frozen quantizer
    val v1 = graft.streaming.IndexMaintain.watermark(spark, s"$ns.ann3_meta")
    spark.sql(s"DELETE FROM $ns.ann3_src WHERE vec_id < 20")
    flatOf((0L until 40L).map(i => (i, regionB(i))))
      .select(concat_ws(":", col("vec_id"), col("pos")).as("row_key"),
        col("vec_id"), col("pos"), col("v"))
      .writeTo(s"$ns.ann3_src").append()
    val cat = spark.sessionState.catalogManager.catalog("gim")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("rqr"), "ann3_src")).asInstanceOf[graft.sources.GraftTable]
    def srcVersion(): Long = {
      val dd = new org.apache.hadoop.fs.Path(s"$wh/rqr/ann3_src/data")
      graft.sources.TableStats.liveVersion(
        dd.getFileSystem(new org.apache.hadoop.conf.Configuration()), dd).get
    }
    val v2 = srcVersion()
    graft.queries.Engine2.ann3FoldFeed(spark, ns,
      graft.sources.Snapshots.changes(spark, tbl,
        since = v1, end = Some(v2), hydrateMor = true), v2)
    // exact truth: top-3 by squared L2 (annServe's own metric), self
    // excluded, vid tie-break — driver math over the 40-vector corpus
    val corpus = (0L until 40L).map(i => i -> regionB(i)).toMap
    def truth(q: Long): Seq[Long] =
      corpus.keys.filter(_ != q).toSeq
        .map(v => (corpus(v).zip(corpus(q)).map { case (a, b) =>
          (a - b) * (a - b) }.sum, v))
        .sortBy(identity).take(3).map(_._2)
    def served(): Map[Long, Seq[Long]] = {
      val eAll = graft.queries.Engine2.annRegroup(
        spark.table(s"$ns.ann3_src").select(col("vec_id"), col("pos"), col("v")))
      val tombMax = graft.queries.Engine2.ann3TombMaxOpt(spark, ns)
      graft.queries.Engine2.annServe(eAll,
        graft.queries.Engine2.regroupCent(spark.table(s"$ns.ann3_cent")),
        graft.queries.Engine2.regroupBook(spark.table(s"$ns.ann3_book")),
        probed => graft.queries.Engine2.ann3Surviving(
          spark.table(s"$ns.ann3_post")
            .where(col("list_id").isin(probed: _*)), tombMax))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    }
    def recall(s: Map[Long, Seq[Long]]): Double =
      (0L until 3L).map(q =>
        s.getOrElse(q, Nil).toSet.intersect(truth(q).toSet).size).sum / 9.0
    val frozen = recall(served())
    spark.conf.set("spark.graft.ann.requantize.retrain", "true")
    try graft.queries.Engine2.ann3Requantize(spark, ns)
    finally spark.conf.unset("spark.graft.ann.requantize.retrain")
    val retrained = recall(served())
    assert(retrained > frozen,
      s"retrain must beat the frozen quantizer: frozen=$frozen retrained=$retrained")
    assert(retrained >= 2.0 / 3,
      s"retrained recall@3 must recover the clusters: $retrained")
    // the swap consumed the interval: watermark at head, tombstones gone
    assert(graft.streaming.IndexMaintain.watermark(spark, s"$ns.ann3_meta")
      == srcVersion())
    assert(spark.table(s"$ns.ann3_del").count() == 0)
  }

  test("self-compacting maintenance: the onBatch debt policy keeps the tombstone " +
      "table bounded under churn, answers stay == rebuild") {
    // the loop the verdict asked for: IndexMaintain folds each interval,
    // then fts2CompactIfDebt (registry-metadata check, free per batch)
    // compacts whenever tombstones exceed the debt fraction — so under
    // sustained churn the index never accretes unbounded survival state
    // and no orchestration outside the maintainer exists.
    val wh = gimWh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gim.ac")
    val ns = "gim.ac"
    graft.queries.Engine3.fts2Create(spark, ns, withRowKey = true)
    import spark.implicits._
    val state = scala.collection.mutable.Map[Long, String]()
    def txt(i: Long, salt: Int) = s"tok${(i + salt) % 7} tok${(i + salt) % 5} common"
    def append(rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text")
        .select(col("doc_id").cast("string").as("row_key"),
          col("doc_id"), col("text"))
        .writeTo(s"$ns.fts2_src").append()
      rows.foreach { case (i, t) => state(i) = t }
    }
    var compactions = 0
    spark.sql(s"CREATE TABLE $ns.maint_log " +
      "(v_from BIGINT, v_to BIGINT, route STRING, won BOOLEAN)")
    def drain(): Unit = graft.streaming.IndexMaintain.start(
      spark, s"$ns.fts2_src", s"$ns.fts2_meta",
      Files.createTempDirectory("ac_ckpt").toString, wh,
      foldAppend = (delta, v1, v2) => graft.queries.Engine3.fts2Fold(
        spark, ns, delta.select(col("doc_id"), col("text")), v2,
        expect = Some(v1)),
      foldFeed = (feed, v1, v2) => graft.queries.Engine3.fts2FoldFeed(
        spark, ns, s"$ns.fts2_src", feed, v1, v2, expect = Some(v1)),
      onBatch = (v1, v2, _) => {
        val fired = graft.queries.Engine3.fts2CompactIfDebt(spark, ns, frac = 0.01)
        // the debt DECISION goes to the census either way — an operator
        // asks "when did the policy fire (and when did it decline)?"
        graft.streaming.IndexMaintain.census(
          spark, s"$ns.maint_log", v1, v2, "compact-index", fired)
        if (fired) compactions += 1
      },
      censusTable = Some(s"$ns.maint_log"))
      .awaitTermination()
    append((0L until 40L).map(i => (i, txt(i, 0))))
    drain() // seed: insert-only, no debt, policy must NOT fire
    assert(compactions == 0, "an append-only drain must never compact")
    var nextId = 700L
    for (round <- 1 to 3) {
      val live = state.keys.toSeq.sorted
      Seq(live(round), live(round + 4), live(round + 9)).foreach { id =>
        spark.sql(s"DELETE FROM $ns.fts2_src WHERE doc_id = $id"); state -= id
      }
      val uid = state.keys.toSeq.sorted.head
      val ut = s"fresh ${txt(uid, round)}"
      spark.sql(s"UPDATE $ns.fts2_src SET text = '$ut' WHERE doc_id = $uid")
      state(uid) = ut
      append(Seq((nextId, txt(nextId, round)))); nextId += 1
      drain()
      // 4 tombstoned docs vs ~160 postings rows >> 1% → the policy fired
      // inside the drain and emptied the debt
      assert(compactions == round,
        s"round $round: the debt policy must compact inside the drain")
      assert(spark.table(s"$ns.fts2_del").count() == 0,
        s"round $round: tombstones must be folded away by the maintainer")
      assert(spark.table(s"$ns.fts2_glob").count() == 1)
      // answers unchanged: == a from-scratch rebuild of the current state
      spark.sql("CREATE NAMESPACE IF NOT EXISTS gim.acr")
      graft.queries.Engine3.fts2Create(spark, "gim.acr")
      state.toSeq.toDF("doc_id", "text").writeTo("gim.acr.fts2_src").append()
      graft.queries.Engine3.fts2Fold(spark, "gim.acr",
        spark.table("gim.acr.fts2_src"),
        graft.queries.Engine3.fts2SrcVersion(spark, "gim.acr"))
      def serveOf(n: String): Seq[(Long, Long)] =
        graft.queries.Engine3.fts2Bm25(spark, n,
          Seq("common", "tok1", "fresh")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(serveOf(ns) == serveOf("gim.acr"),
        s"round $round: self-compacted serve diverged from rebuild")
    }
    // the census IS the ops record: every compaction decision logged
    // (won == fired), every drained interval logged with its route, and
    // the fold census agrees row-for-row with the watermark log
    val log = spark.table(s"$ns.maint_log")
    assert(log.where(col("route") === "compact-index" && col("won")).count()
        == compactions.toLong,
      "every fired compaction must have a won compact-index census row")
    assert(log.where(col("route") === "compact-index" && !col("won")).count()
        >= 0L) // declined decisions are logged too (seed drain at least)
    val foldRows = log.where(col("route").isin("append", "feed", "advance"))
      .select("v_to").collect().map(_.getLong(0)).toSeq.sorted
    val wmRows = spark.table(s"$ns.fts2_meta")
      .select("indexed_version").collect().map(_.getLong(0)).toSeq.sorted
    assert(foldRows == wmRows,
      s"fold census must mirror the watermark log: census=$foldRows wm=$wmRows")
  }

  test("maintainer-owned dictionary: preFold dict + debt policies keep " +
      "fuzzy serve == rebuild under churn with zero orchestration") {
    // the full self-maintaining retrieval stack in ONE loop: the dict
    // folds BEFORE each interval's index fold (preFold — the crash-safe
    // order its contract requires), the index folds transactionally,
    // and onBatch pays off BOTH debts (dict first: it keys on the
    // tombstones the index compaction clears).
    val wh = gimWh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gim.md")
    val ns = "gim.md"
    graft.queries.Engine3.fts2Create(spark, ns, withRowKey = true)
    spark.sql(s"CREATE TABLE $ns.dict_var (variant STRING, tok STRING)")
    import spark.implicits._
    val state = scala.collection.mutable.Map[Long, String]()
    def txt(i: Long) = s"w${i}x shared common"
    def append(rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text")
        .select(col("doc_id").cast("string").as("row_key"),
          col("doc_id"), col("text"))
        .writeTo(s"$ns.fts2_src").append()
      rows.foreach { case (i, t) => state(i) = t }
    }
    var dictCompactions = 0
    def drain(): Unit = graft.streaming.IndexMaintain.start(
      spark, s"$ns.fts2_src", s"$ns.fts2_meta",
      Files.createTempDirectory("md_ckpt").toString, wh,
      foldAppend = (delta, v1, v2) => graft.queries.Engine3.fts2Fold(
        spark, ns, delta.select(col("doc_id"), col("text")), v2,
        expect = Some(v1)),
      foldFeed = (feed, v1, v2) => graft.queries.Engine3.fts2FoldFeed(
        spark, ns, s"$ns.fts2_src", feed, v1, v2, expect = Some(v1)),
      onBatch = (_, _, _) => {
        if (graft.queries.Engine3.dictCompactIfDebt(spark, ns, frac = 0.001))
          dictCompactions += 1
        graft.queries.Engine3.fts2CompactIfDebt(spark, ns, frac = 0.001)
        ()
      },
      preFold = (feed, _, v2) => {
        val affected = feed.select(col("doc_id")).distinct()
        graft.queries.Engine3.dictFold(spark, ns,
          spark.read.option("snapshot-version", v2).table(s"$ns.fts2_src")
            .join(affected, Seq("doc_id"), "left_semi")
            .select(col("doc_id"), col("text")))
      })
      .awaitTermination()
    def fuzzyOf(n: String): Seq[(String, Long, Long)] =
      graft.queries.Engine3.fuzzyServe(spark, n, "w3x").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    def assertRebuild(round: String): Unit = {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS gim.mdr")
      graft.queries.Engine3.fts2Create(spark, "gim.mdr")
      spark.sql("DROP TABLE IF EXISTS gim.mdr.dict_var")
      spark.sql("CREATE TABLE gim.mdr.dict_var (variant STRING, tok STRING)")
      state.toSeq.toDF("doc_id", "text").writeTo("gim.mdr.fts2_src").append()
      graft.queries.Engine3.dictFold(spark, "gim.mdr",
        spark.table("gim.mdr.fts2_src"))
      graft.queries.Engine3.fts2Fold(spark, "gim.mdr",
        spark.table("gim.mdr.fts2_src"),
        graft.queries.Engine3.fts2SrcVersion(spark, "gim.mdr"))
      assert(fuzzyOf(ns) == fuzzyOf("gim.mdr"),
        s"$round: maintained fuzzy serve diverged from rebuild")
    }
    // seed arrives THROUGH the maintainer: preFold dict, then the fold
    append((0L until 10L).map(i => (i, txt(i))))
    drain()
    assertRebuild("seed")
    assert(spark.table(s"$ns.dict_var").where(col("tok") === "w3x").count() > 0,
      "the seed drain must have dict-folded the new vocabulary")
    var nextId = 100L
    for (round <- 1 to 2) {
      val victims = state.keys.toSeq.sorted.take(2)
      victims.foreach { id =>
        spark.sql(s"DELETE FROM $ns.fts2_src WHERE doc_id = $id"); state -= id
      }
      append(Seq((nextId, txt(nextId)))); nextId += 1
      drain()
      assert(dictCompactions == round,
        s"round $round: the dict debt policy must fire inside the drain")
      victims.foreach { id =>
        assert(spark.table(s"$ns.dict_var").where(col("tok") === s"w${id}x")
          .count() == 0,
          s"round $round: dead vocabulary must be compacted out of the dict")
      }
      assert(spark.table(s"$ns.fts2_del").count() == 0,
        s"round $round: the index debt policy must fire after the dict's")
      assertRebuild(s"round $round")
    }
  }

  test("single-maintainer ENFORCED: a duplicate fold of the same interval " +
      "aborts whole, dual concurrent maintainers stay == rebuild") {
    // the contention the watermark precondition exists for: maintainer B
    // derives its interval from the same watermark as maintainer A, A
    // commits first — B's fold must abort (PreconditionFailed) with NO
    // table moved, because its same-rev postings would survive their own
    // tombstones and double every BM25 score.
    val wh = gimWh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gim.dm")
    val ns = "gim.dm"
    graft.queries.Engine3.fts2Create(spark, ns, withRowKey = true)
    import spark.implicits._
    val state = scala.collection.mutable.Map[Long, String]()
    def txt(i: Long, salt: Int) = s"tok${(i + salt) % 7} tok${(i + salt) % 5} common"
    def append(rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text")
        .select(col("doc_id").cast("string").as("row_key"),
          col("doc_id"), col("text"))
        .writeTo(s"$ns.fts2_src").append()
      rows.foreach { case (i, t) => state(i) = t }
    }
    def counts(): (Long, Long, Long, Long) = (
      spark.table(s"$ns.fts2_post").count(), spark.table(s"$ns.fts2_pos").count(),
      spark.table(s"$ns.fts2_del").count(), spark.table(s"$ns.fts2_glob").count())
    append((0L until 24L).map(i => (i, txt(i, 0))))
    // --- append-fold duplicate: both "maintainers" read watermark 0 ---
    val w0 = graft.streaming.IndexMaintain.watermark(spark, s"$ns.fts2_meta")
    val h0 = graft.queries.Engine3.fts2SrcVersion(spark, ns)
    val delta = spark.table(s"$ns.fts2_src").select(col("doc_id"), col("text"))
    graft.queries.Engine3.fts2Fold(spark, ns, delta, h0, expect = Some(w0)) // A wins
    val before = counts()
    intercept[graft.sources.Transactions.PreconditionFailed] {
      graft.queries.Engine3.fts2Fold(spark, ns, delta, h0, expect = Some(w0))
    }
    assert(counts() == before, "the losing fold must roll back every table")
    assert(graft.streaming.IndexMaintain.watermark(spark, s"$ns.fts2_meta") == h0,
      "the winner's watermark must stand")
    // --- mutation-fold duplicate: same interval, endpoint-state fold ---
    spark.sql(s"DELETE FROM $ns.fts2_src WHERE doc_id = 3"); state -= 3L
    spark.sql(s"UPDATE $ns.fts2_src SET text = 'fresh common' WHERE doc_id = 5")
    state(5L) = "fresh common"
    val w1 = graft.streaming.IndexMaintain.watermark(spark, s"$ns.fts2_meta")
    val h1 = graft.queries.Engine3.fts2SrcVersion(spark, ns)
    val cat = spark.sessionState.catalogManager.catalog("gim")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("dm"), "fts2_src")).asInstanceOf[graft.sources.GraftTable]
    def feed() = graft.sources.Snapshots.changes(spark, tbl,
      since = w1, end = Some(h1), hydrateMor = true)
    graft.queries.Engine3.fts2FoldFeed(spark, ns, s"$ns.fts2_src",
      feed(), w1, h1, expect = Some(w1)) // A wins
    val before2 = counts()
    intercept[graft.sources.Transactions.PreconditionFailed] {
      graft.queries.Engine3.fts2FoldFeed(spark, ns, s"$ns.fts2_src",
        feed(), w1, h1, expect = Some(w1))
    }
    assert(counts() == before2,
      "the losing mutation fold must roll back every table")
    // --- dual CONCURRENT maintainers drain one index: whatever the ---
    // --- interleaving, exactly one fold per interval commits        ---
    append((100L until 112L).map(i => (i, txt(i, 1))))
    spark.sql(s"DELETE FROM $ns.fts2_src WHERE doc_id = 7"); state -= 7L
    spark.sql(s"CREATE TABLE $ns.maint_log " +
      "(v_from BIGINT, v_to BIGINT, route STRING, won BOOLEAN)")
    def drain(): Unit = graft.streaming.IndexMaintain.start(
      spark, s"$ns.fts2_src", s"$ns.fts2_meta",
      Files.createTempDirectory("dm_ckpt").toString, wh,
      foldAppend = (delta, v1, v2) => graft.queries.Engine3.fts2Fold(
        spark, ns, delta.select(col("doc_id"), col("text")), v2,
        expect = Some(v1)),
      foldFeed = (feed, v1, v2) => graft.queries.Engine3.fts2FoldFeed(
        spark, ns, s"$ns.fts2_src", feed, v1, v2, expect = Some(v1)),
      censusTable = Some(s"$ns.maint_log"))
      .awaitTermination()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq.fill(2)(new Thread(() =>
      try drain() catch { case e: Throwable => errs.add(e) }))
    threads.foreach(_.start()); threads.foreach(_.join(300000))
    assert(errs.isEmpty, s"a lost race must be skipped, not thrown: ${errs}")
    // one watermark row per committed interval — a double-advance would
    // duplicate an indexed_version value
    val wmRows = spark.table(s"$ns.fts2_meta")
      .select("indexed_version").collect().map(_.getLong(0)).toSeq
    assert(wmRows.distinct.size == wmRows.size,
      s"duplicate watermark rows — an interval was folded twice: $wmRows")
    // and the serve is exactly a from-scratch rebuild of the final state
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gim.dmr")
    graft.queries.Engine3.fts2Create(spark, "gim.dmr")
    state.toSeq.toDF("doc_id", "text").writeTo("gim.dmr.fts2_src").append()
    graft.queries.Engine3.fts2Fold(spark, "gim.dmr",
      spark.table("gim.dmr.fts2_src"),
      graft.queries.Engine3.fts2SrcVersion(spark, "gim.dmr"))
    def serveOf(n: String): Seq[(Long, Long)] =
      graft.queries.Engine3.fts2Bm25(spark, n,
        Seq("common", "tok1", "fresh")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(serveOf(ns) == serveOf("gim.dmr"),
      "dual-maintained serve diverged from rebuild")
    // the CONTENDED drain's census: exactly one WON row per committed
    // interval (v_to values = new watermark rows, no double-win), and a
    // lost interval — if the interleaving produced one — is a LOGGED
    // row, not a stderr line
    val log = spark.table(s"$ns.maint_log")
    val wonTo = log.where(col("won"))
      .select("v_to").collect().map(_.getLong(0)).toSeq.sorted
    assert(wonTo.distinct == wonTo, s"an interval won twice: $wonTo")
    val wmAfter = spark.table(s"$ns.fts2_meta")
      .select("indexed_version").collect().map(_.getLong(0)).toSeq
    assert(wonTo.toSet.subsetOf(wmAfter.toSet),
      s"every won census row must be a real watermark advance: " +
        s"census=$wonTo wm=$wmAfter")
    assert(wonTo.nonEmpty, "the drain did work; the census cannot be empty")
    log.where(!col("won")).collect().foreach { r =>
      assert(wmAfter.contains(r.getLong(1)) || wonTo.contains(r.getLong(1)) ||
        r.getLong(1) >= r.getLong(0),
        s"a lost row must describe a real interval: $r")
    }
  }

  test("serve pinning: a serve racing a fold's mid-complete publish answers " +
      "pre-fold exactly, and post-fold after convergence — never a torn mix") {
    // the q187 topology's read side: the fold commits all index tables
    // atomically, but PUBLISH is per-table — a live read between the
    // postings publish and the tombstone publish sees new-rev postings
    // whose predecessors nothing kills (doubled scores). The ServePin
    // cut must shield the serve from exactly that window.
    val wh = gimWh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gim.pin")
    val ns = "gim.pin"
    graft.queries.Engine3.fts2Create(spark, ns)
    import spark.implicits._
    def txt(i: Long) = s"tok${i % 7} tok${i % 5} common"
    (0L until 20L).map(i => (i, txt(i))).toDF("doc_id", "text")
      .writeTo(s"$ns.fts2_src").append()
    graft.queries.Engine3.fts2Fold(spark, ns,
      spark.table(s"$ns.fts2_src"),
      graft.queries.Engine3.fts2SrcVersion(spark, ns))
    val terms = Seq("common", "tok1", "tok9")
    def serve(): Seq[(Long, Long)] =
      graft.queries.Engine3.fts2Bm25(spark, ns, terms).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val pre = serve()
    def liveServe(): Seq[(Long, Long)] =
      graft.queries.Engine3.fts2Bm25At(terms,
        graft.queries.Engine3.fts2TombMaxOpt(spark, ns),
        graft.queries.Engine3.ServePin.live(spark, ns))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    def rebuild(n: String, docs: Seq[(Long, String)]): Seq[(Long, Long)] = {
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $n")
      graft.queries.Engine3.fts2Create(spark, n)
      docs.toDF("doc_id", "text").writeTo(s"$n.fts2_src").append()
      graft.queries.Engine3.fts2Fold(spark, n,
        spark.table(s"$n.fts2_src"),
        graft.queries.Engine3.fts2SrcVersion(spark, n))
      graft.queries.Engine3.fts2Bm25(spark, n, terms)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    }
    // ---- tear 1: a DELETE fold, tombstone published FIRST — the table
    // (fts2_del) has NO head entry yet (the seed fold never writes it),
    // so this drives the missing-from-head → EMPTY rule: a live read
    // sees fresh tombstones killing postings nothing replaces (doc 7
    // vanishes); the pinned serve must still answer pre-fold exactly.
    val revA = graft.queries.Engine3.fts2SrcVersion(spark, ns) + 1
    val txnA = graft.sources.Transactions.begin(spark, wh)
    txnA.write(s"$ns.fts2_del", Seq((7L, revA)).toDF("doc_id", "rev"))
    txnA.write(s"$ns.fts2_glob", Seq((-1L, -3L)).toDF("nd", "sl"))
    txnA.writeIntent(); txnA.decide()
    graft.sources.Snapshots.publishWap(s"$wh/pin/fts2_del", s"txn-${txnA.id}-1")
    assert(spark.table(s"$ns.fts2_del").count() == 1,
      "fixture failed to reach tear 1's mid-complete window")
    assert(!liveServe().map(_._1).contains(7L),
      "tear 1 must be observable to a live read (doc 7 transiently lost)")
    assert(serve() == pre,
      "a serve racing the first tombstone publish must answer pre-fold")
    graft.sources.Transactions.recover(spark, wh, minAgeMillis = 0)
    val afterDelete =
      rebuild("gim.pinr1", (0L until 20L).filter(_ != 7L).map(i => (i, txt(i))))
    assert(serve() == afterDelete,
      "after convergence the pinned serve must equal the delete-fold rebuild")
    // ---- tear 2: an UPDATE fold, postings published FIRST — fts2_del
    // now HAS a head entry (tear 1 folded), so this drives the pinned-At
    // rule: a live read double-counts doc 5 (new-rev postings, their
    // killing tombstone still invisible); pinned answers tear-1's state.
    val revB = revA + 1
    val txnB = graft.sources.Transactions.begin(spark, wh)
    txnB.write(s"$ns.fts2_post",
      Seq(("tok9", 5L, 1L, 3L, revB), ("tok0", 5L, 1L, 3L, revB),
        ("common", 5L, 1L, 3L, revB))
        .toDF("tok", "doc_id", "tf", "dl", "rev"))
    txnB.write(s"$ns.fts2_del", Seq((5L, revB)).toDF("doc_id", "rev"))
    txnB.writeIntent(); txnB.decide()
    graft.sources.Snapshots.publishWap(s"$wh/pin/fts2_post", s"txn-${txnB.id}-1")
    assert(spark.table(s"$ns.fts2_post")
      .where(col("doc_id") === 5L).select("rev").distinct().count() == 2,
      "fixture failed to reach tear 2's mid-complete window")
    assert(liveServe() != afterDelete,
      "tear 2 must be observable to a live read (doc 5 double-counted)")
    assert(serve() == afterDelete,
      "a serve racing the postings publish must answer the previous cut")
    graft.sources.Transactions.recover(spark, wh, minAgeMillis = 0)
    val post = rebuild("gim.pinr2",
      (0L until 20L).filter(_ != 7L)
        .map(i => (i, if (i == 5L) "tok9 tok0 common" else txt(i))))
    assert(serve() == post,
      "after convergence the pinned serve must equal the update-fold rebuild")
    // ---- DROP TABLE purges the coordinator HEAD: a recreated table
    // must never inherit its predecessor's (now-stale) pin
    val postDir = s"$wh/pin/fts2_post"
    assert(graft.sources.Transactions.headVersions(wh).contains(postDir))
    spark.sql(s"DROP TABLE $ns.fts2_post")
    assert(!graft.sources.Transactions.headVersions(wh).contains(postDir),
      "DROP TABLE must purge the table's coordinator-HEAD entry")
  }

  test("serve pinning: serves interleaved with LIVE fold commits each equal " +
      "some fold-boundary cut — pre-fold or post-fold, never a third answer") {
    val wh = gimWh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gim.pin2")
    val ns = "gim.pin2"
    graft.queries.Engine3.fts2Create(spark, ns)
    import spark.implicits._
    def txt(i: Long) = s"tok${i % 7} tok${i % 5} common"
    (0L until 30L).map(i => (i, txt(i))).toDF("doc_id", "text")
      .writeTo(s"$ns.fts2_src").append()
    graft.queries.Engine3.fts2Fold(spark, ns,
      spark.table(s"$ns.fts2_src"),
      graft.queries.Engine3.fts2SrcVersion(spark, ns))
    val terms = Seq("common", "tok1", "tok3")
    def canon(rows: Array[org.apache.spark.sql.Row]): String =
      rows.map(r => s"${r.getLong(0)}:${r.getLong(1)}").sorted.mkString(",")
    // every fold-boundary cut, recorded by the maintainer thread AFTER
    // each commit returns (cut 0 = the seeded index)
    val cuts = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()
    cuts.add(graft.sources.Transactions.headVersions(wh))
    val maintErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val maintainer = new Thread(() =>
      try {
        for (k <- 1 to 6) {
          (0L until 4L).map(j => (100L * k + j, txt(k + j)))
            .toDF("doc_id", "text").writeTo(s"$ns.fts2_src").append()
          val w = graft.streaming.IndexMaintain.watermark(spark, s"$ns.fts2_meta")
          val h = graft.queries.Engine3.fts2SrcVersion(spark, ns)
          graft.queries.Engine3.fts2Fold(spark, ns,
            spark.read.option("since-version", w).option("snapshot-version", h)
              .table(s"$ns.fts2_src"), h, expect = Some(w))
          cuts.add(graft.sources.Transactions.headVersions(wh))
        }
      } catch { case e: Throwable => maintErr.set(e) })
    val served = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val serveErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val server = new Thread(() =>
      try while (maintainer.isAlive)
        served.add(canon(graft.queries.Engine3.fts2Bm25(spark, ns, terms).collect()))
      catch { case e: Throwable => serveErr.set(e) })
    maintainer.start(); server.start()
    maintainer.join(300000); server.join(300000)
    assert(maintErr.get() == null, s"maintainer failed: ${maintErr.get()}")
    assert(serveErr.get() == null, s"serve failed: ${serveErr.get()}")
    // legal answers = the serve REBUILT at each recorded cut
    val legal = {
      import scala.jdk.CollectionConverters._
      cuts.asScala.toSeq.map { cut =>
        val pin = new graft.queries.Engine3.ServePin(spark, ns, cut)
        canon(graft.queries.Engine3.fts2Bm25At(terms,
          graft.queries.Engine3.fts2TombMaxOpt(spark, pin), pin).collect())
      }.toSet
    }
    import scala.jdk.CollectionConverters._
    val illegal = served.asScala.toSet -- legal
    assert(illegal.isEmpty,
      s"${illegal.size} serve answer(s) matched NO fold boundary: " +
        illegal.take(2).mkString(" | "))
    // the test ran long enough to cross at least one boundary live
    assert(served.asScala.toSet.size >= 2 || legal.size == 1,
      "serves never observed more than one cut — interleaving too coarse to test anything")
  }

  test("serve pinning: the fuzzy dict is read at the serve's cut — a " +
      "dictCompact racing a pinned serve cannot lose a suggestion") {
    // the round-12 residue: fuzzyServe used to read dict_var LIVE while
    // verifying candidates against the PINNED postings. A term dead in
    // the live index but ALIVE at a serve's pinned cut is exactly what
    // dictCompact strips — the serve then never generates the candidate
    // and silently loses a suggestion its pinned postings would have
    // verified (the fuzzy-shaped "third answer"). Constructed here
    // without timing: capture the pin, fold a delete, compact the dict,
    // THEN serve at the captured pin.
    gimWh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gim.fz1")
    val ns = "gim.fz1"
    graft.queries.Engine3.fts2Create(spark, ns, withRowKey = true)
    spark.sql(s"CREATE TABLE $ns.dict_var (variant STRING, tok STRING)")
    import spark.implicits._
    val seed = Seq((0L, "sox common"), (1L, "w1z common"), (2L, "w2z common"))
      .toDF("doc_id", "text")
    seed.select(col("doc_id").cast("string").as("row_key"),
        col("doc_id"), col("text"))
      .writeTo(s"$ns.fts2_src").append()
    graft.queries.Engine3.dictFold(spark, ns, seed)
    graft.queries.Engine3.fts2Fold(spark, ns,
      spark.table(s"$ns.fts2_src").select(col("doc_id"), col("text")),
      graft.queries.Engine3.fts2SrcVersion(spark, ns))
    def fuzzy(pin: graft.queries.Engine3.ServePin): Seq[(String, Long, Long)] =
      graft.queries.Engine3.fuzzyServe(spark, ns, "sox", pin).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // the serve resolves its cut HERE (sox alive) ...
    val pin1 = graft.queries.Engine3.ServePin.of(spark, ns)
    // ... then a delete fold + dict compaction land before it reads
    val w = graft.streaming.IndexMaintain.watermark(spark, s"$ns.fts2_meta")
    spark.sql(s"DELETE FROM $ns.fts2_src WHERE doc_id = 0")
    val h = graft.queries.Engine3.fts2SrcVersion(spark, ns)
    val cat = spark.sessionState.catalogManager.catalog("gim")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("fz1"), "fts2_src")).asInstanceOf[graft.sources.GraftTable]
    val feed = graft.sources.Snapshots.changes(spark, tbl,
      since = w, end = Some(h))
    graft.queries.Engine3.fts2FoldFeed(spark, ns, s"$ns.fts2_src", feed, w, h)
    assert(graft.queries.Engine3.dictCompact(spark, ns),
      "fixture: the dict compaction must fire")
    assert(spark.table(s"$ns.dict_var").where(col("tok") === "sox").count() == 0,
      "fixture: the compaction must have stripped the dead term")
    // the pinned serve still suggests sox: its dict read is at the SAME
    // cut as the postings that verify it
    assert(fuzzy(pin1) == Seq(("sox", 0L, 1L)),
      "a serve pinned before the delete must still suggest the term the " +
        "compaction stripped from the live dict")
    // and a fresh pin serves the post-delete truth
    assert(fuzzy(graft.queries.Engine3.ServePin.of(spark, ns)).isEmpty,
      "a fresh pin must not resurrect the dead term")
  }

  test("serve pinning: fuzzy serves interleaved with LIVE folds and dict " +
      "compactions each equal some fold-boundary cut — never a lost suggestion") {
    val wh = gimWh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gim.fz2")
    val ns = "gim.fz2"
    graft.queries.Engine3.fts2Create(spark, ns, withRowKey = true)
    spark.sql(s"CREATE TABLE $ns.dict_var (variant STRING, tok STRING)")
    import spark.implicits._
    def term(i: Long) = s"sow${('a' + i).toChar}" // all distance 1 from "sow"
    def append(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text")
        .select(col("doc_id").cast("string").as("row_key"),
          col("doc_id"), col("text"))
        .writeTo(s"$ns.fts2_src").append()
    append((0L until 4L).map(i => (i, s"${term(i)} common")))
    val seedV = graft.queries.Engine3.fts2SrcVersion(spark, ns)
    graft.queries.Engine3.dictFold(spark, ns,
      spark.table(s"$ns.fts2_src").select(col("doc_id"), col("text")))
    graft.queries.Engine3.fts2Fold(spark, ns,
      spark.table(s"$ns.fts2_src").select(col("doc_id"), col("text")), seedV)
    val cat = spark.sessionState.catalogManager.catalog("gim")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("fz2"), "fts2_src")).asInstanceOf[graft.sources.GraftTable]
    def canon(rows: Array[org.apache.spark.sql.Row]): String =
      rows.map(r => s"${r.getString(0)}:${r.getLong(1)}:${r.getLong(2)}")
        .sorted.mkString(",")
    val cuts = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()
    cuts.add(graft.sources.Transactions.headVersions(wh))
    val maintErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val maintainer = new Thread(() =>
      try {
        for (k <- 1 to 5) {
          // churn: one doc dies (its term goes dead → dict debt), one
          // arrives with a NEW suggestion-shaped term
          spark.sql(s"DELETE FROM $ns.fts2_src WHERE doc_id = ${k - 1}")
          append(Seq((100L + k, s"${term(3 + k)} common")))
          val w = graft.streaming.IndexMaintain.watermark(spark, s"$ns.fts2_meta")
          val h = graft.queries.Engine3.fts2SrcVersion(spark, ns)
          val feed = graft.sources.Snapshots.changes(spark, tbl,
            since = w, end = Some(h))
          val affected = feed.select(col("doc_id")).distinct()
          val dv = graft.queries.Engine3.dictFold(spark, ns,
            spark.read.option("snapshot-version", h).table(s"$ns.fts2_src")
              .join(affected, Seq("doc_id"), "left_semi")
              .select(col("doc_id"), col("text")))
          graft.queries.Engine3.fts2FoldFeed(spark, ns, s"$ns.fts2_src",
            feed, w, h, expect = Some(w), dictExpect = Some(dv))
          cuts.add(graft.sources.Transactions.headVersions(wh))
          // dict compaction under live serves — the race this test exists
          // for (tiny frac: tombstones are never compacted away here, so
          // the debt trigger fires every interval)
          if (graft.queries.Engine3.dictCompactIfDebt(spark, ns, frac = 1e-9))
            cuts.add(graft.sources.Transactions.headVersions(wh))
        }
      } catch { case e: Throwable => maintErr.set(e) })
    val served = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val serveErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val server = new Thread(() =>
      try while (maintainer.isAlive)
        served.add(canon(
          graft.queries.Engine3.fuzzyServe(spark, ns, "sow").collect()))
      catch { case e: Throwable => serveErr.set(e) })
    maintainer.start(); server.start()
    maintainer.join(300000); server.join(300000)
    assert(maintErr.get() == null, s"maintainer failed: ${maintErr.get()}")
    assert(serveErr.get() == null, s"serve failed: ${serveErr.get()}")
    assert(spark.table(s"$ns.dict_var").where(col("tok") === term(0)).count() == 0,
      "the dict compactions must actually have stripped dead vocabulary")
    val legal = {
      import scala.jdk.CollectionConverters._
      cuts.asScala.toSeq.map { cut =>
        canon(graft.queries.Engine3.fuzzyServe(spark, ns, "sow",
          new graft.queries.Engine3.ServePin(spark, ns, cut)).collect())
      }.toSet
    }
    import scala.jdk.CollectionConverters._
    val illegal = served.asScala.toSet -- legal
    assert(illegal.isEmpty,
      s"${illegal.size} fuzzy answer(s) matched NO fold boundary (lost " +
        s"suggestion or torn dict/postings pair): ${illegal.take(2).mkString(" | ")}")
    assert(served.asScala.toSet.size >= 2 || legal.size == 1,
      "serves never observed more than one cut — interleaving too coarse to test anything")
  }
}
