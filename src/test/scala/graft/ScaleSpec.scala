package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.Salting

/** Scale-technique correctness: salting must not change results, sketches
  * must land within advertised error bounds, and the streaming graft sink
  * must persist rows durably. */
class ScaleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.01"

  private lazy val spark = SparkSession.builder()
    .master("local[8]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    .config("spark.sql.catalog.graft.warehouse",
      java.nio.file.Files.createTempDirectory("graft_wh_scale").toString)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("FTS index shuffle fans out with input size; a delta fold stays at one shard") {
    // the helper that drives every index write's range-shard count: one
    // shard per targetShardBytes of PLANNED input (no job runs), clamped
    // to [1, graft.index.maxShards] (default 65536) — the round-9
    // seed-funnel fix (a hardcoded 8 was either a 100 TB bottleneck or
    // small-delta file spam)
    import spark.implicits._
    val tiny = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    assert(graft.queries.Engine3.fts2ShardCount(tiny) == 1,
      "a delta-sized batch must land in ONE token-clustered shard")
    val small = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val big = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    // production default (32 MB/shard): both test corpora fit one shard
    assert(graft.queries.Engine3.fts2ShardCount(small) == 1)
    // shrink the divisor so the test corpora separate — the GROWTH is the
    // invariant, the divisor only sets where it starts
    spark.conf.set("graft.index.targetShardBytes", (64 * 1024).toString)
    try {
      val nSmall = graft.queries.Engine3.fts2ShardCount(small)
      val nBig = graft.queries.Engine3.fts2ShardCount(big)
      assert(nBig > nSmall,
        s"shards must grow with input bytes: sf0.1=$nBig sf0.01=$nSmall")
      assert(nBig <= 65536, "the default clamp must hold")
      // the cap is conf-driven — a hardcoded cap would re-create the
      // seed funnel at the next scale jump
      spark.conf.set("graft.index.maxShards", "2")
      assert(graft.queries.Engine3.fts2ShardCount(big) == 2)
      spark.conf.unset("graft.index.maxShards")
      // INTEGRATION: the real fold routine. A seed built at a small
      // target lands SEVERAL token-clustered postings files; the
      // in-memory delta fold that follows adds exactly its one shard.
      spark.conf.set("spark.sql.catalog.gsc", classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.gsc.warehouse",
        java.nio.file.Files.createTempDirectory("graft_gsc").toString)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS gsc.sc")
      val ns = "gsc.sc"
      graft.queries.Engine3.fts2Create(spark, ns)
      small.select(col("doc_id"), col("text")).writeTo(s"$ns.fts2_src").append()
      val v1 = graft.queries.Engine3.fts2SrcVersion(spark, ns)
      graft.queries.Engine3.fts2Fold(spark, ns,
        spark.read.option("since-version", 0L).table(s"$ns.fts2_src")
          .select(col("doc_id"), col("text")), v1)
      spark.conf.set("graft.index.targetShardBytes", (8 * 1024).toString)
      def postFiles(): Int = {
        val dd = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.catalog.gsc.warehouse") + "/sc/fts2_post/data")
        graft.sources.TableStats.read(
          dd.getFileSystem(new org.apache.hadoop.conf.Configuration()), dd).size
      }
      // rebuild the seed at the 8 KB target in a sibling namespace to
      // observe the fan-out without disturbing ns
      spark.sql("CREATE NAMESPACE IF NOT EXISTS gsc.scw")
      graft.queries.Engine3.fts2Create(spark, "gsc.scw")
      small.select(col("doc_id"), col("text")).writeTo("gsc.scw.fts2_src").append()
      graft.queries.Engine3.fts2Fold(spark, "gsc.scw",
        spark.table("gsc.scw.fts2_src"),
        graft.queries.Engine3.fts2SrcVersion(spark, "gsc.scw"))
      val dd = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.catalog.gsc.warehouse") + "/scw/fts2_post/data")
      val seedFiles = graft.sources.TableStats.read(
        dd.getFileSystem(new org.apache.hadoop.conf.Configuration()), dd).size
      assert(seedFiles > 1,
        s"a seed over-target must fan out to several clustered files, got $seedFiles")
      // the delta fold adds its ONE shard to ns's postings
      val before = postFiles()
      Seq((9001L, "delta doc tokens"), (9002L, "more delta tokens"))
        .toDF("doc_id", "text").writeTo(s"$ns.fts2_src").append()
      val v2 = graft.queries.Engine3.fts2SrcVersion(spark, ns)
      graft.queries.Engine3.fts2Fold(spark, ns,
        spark.read.option("since-version", v1).option("snapshot-version", v2)
          .table(s"$ns.fts2_src").select(col("doc_id"), col("text")), v2)
      assert(postFiles() == before + 1,
        "a tiny delta fold must land exactly one postings file")
    } finally spark.conf.unset("graft.index.targetShardBytes")
  }

  test("mutation fold shards from the FEED, not the snapshot semi-join plan") {
    // fts2FoldFeed re-reads the affected docs as snapshot ⋉ affected —
    // a LEFT-SEMI join whose size-only stats price the WHOLE left
    // snapshot. Sharding from that estimate would spread a small
    // takedown's O(batch) rows corpus-wide (at 100 TB: thousands of
    // near-empty shard files per fold); the fold must size from the
    // delta-sized FEED plan instead.
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.gsc", classOf[graft.sources.GraftCatalog].getName)
    if (spark.conf.getOption("spark.sql.catalog.gsc.warehouse").isEmpty)
      spark.conf.set("spark.sql.catalog.gsc.warehouse",
        java.nio.file.Files.createTempDirectory("graft_gsc").toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gsc.mf")
    val ns = "gsc.mf"
    graft.queries.Engine3.fts2Create(spark, ns, withRowKey = true)
    spark.range(3000).select(
        col("id").cast("string").as("row_key"), col("id").as("doc_id"),
        concat(lit("alpha bravo charlie delta echo foxtrot tok"),
          col("id") % 97).as("text"))
      .writeTo(s"$ns.fts2_src").append()
    val v1 = graft.queries.Engine3.fts2SrcVersion(spark, ns)
    graft.queries.Engine3.fts2Fold(spark, ns,
      spark.read.option("since-version", 0L).option("snapshot-version", v1)
        .table(s"$ns.fts2_src").select(col("doc_id"), col("text")), v1)
    spark.conf.set("graft.index.targetShardBytes", "2048")
    try {
      spark.sql(s"DELETE FROM $ns.fts2_src WHERE doc_id = 5")
      spark.sql(s"UPDATE $ns.fts2_src SET text = 'updated tokens' WHERE doc_id = 7")
      val v2 = graft.queries.Engine3.fts2SrcVersion(spark, ns)
      val cat = spark.sessionState.catalogManager.catalog("gsc")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
          .of(Array("mf"), "fts2_src")).asInstanceOf[graft.sources.GraftTable]
      val feed = graft.sources.Snapshots.changes(spark, tbl,
        since = v1, end = Some(v2))
      // the trap, made visible: the semi-join estimate prices the whole
      // snapshot, the feed estimate prices the 2-doc delta
      val stateJoin = spark.read.option("snapshot-version", v2)
        .table(s"$ns.fts2_src")
        .join(broadcast(feed.select(col("doc_id")).distinct()),
          Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("text"))
      val joinShards = graft.queries.Engine3.fts2ShardCount(stateJoin)
      val feedShards = graft.queries.Engine3.fts2ShardCount(feed)
      assert(joinShards > feedShards,
        s"precondition lost its teeth: join=$joinShards feed=$feedShards")
      def postFiles(): Int = {
        val dd = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.catalog.gsc.warehouse") + "/mf/fts2_post/data")
        graft.sources.TableStats.read(
          dd.getFileSystem(new org.apache.hadoop.conf.Configuration()), dd).size
      }
      val before = postFiles()
      graft.queries.Engine3.fts2FoldFeed(spark, ns, s"$ns.fts2_src", feed, v1, v2)
      val added = postFiles() - before
      assert(added <= feedShards && added < joinShards,
        s"mutation fold must shard delta-sized: added=$added " +
          s"feedShards=$feedShards joinShards=$joinShards")
    } finally spark.conf.unset("graft.index.targetShardBytes")
  }

  test("salted join equals plain join") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_suppkey").as("suppkey"), col("l_quantity"), col("l_orderkey"))
    val sup = spark.read.parquet(s"$dir/supplier.parquet")
      .select(col("s_suppkey").as("suppkey"), col("s_name"))
    val plain = li.join(sup, "suppkey")
      .groupBy(col("s_name")).agg(sum(col("l_quantity")).as("q"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    val salted = Salting.saltedJoin(li, sup, "suppkey", "l_orderkey", 8)
      .groupBy(col("s_name")).agg(sum(col("l_quantity")).as("q"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(salted == plain && plain.nonEmpty)
  }

  test("salted aggregation equals plain aggregation") {
    val ev = graft.Tables(spark, dir).events
    val plain = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .collect().map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 100)))
      .toSet
    val salted = Salting.saltedAggregate(ev, "user_id", "value", "event_id", 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 100)))
      .toSet
    assert(salted == plain && plain.nonEmpty)
  }

  test("sketches: approx_count_distinct and percentile_approx within bounds") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val exact = li.select(countDistinct(col("l_partkey"))).head().getLong(0)
    val approx = li.select(approx_count_distinct(col("l_partkey"), 0.02)).head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx=$approx exact=$exact")

    val exactMedian = li.stat.approxQuantile("l_extendedprice", Array(0.5), 0.0).head
    val sketchMedian = li
      .select(percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)))
      .head().getDouble(0)
    assert(math.abs(sketchMedian - exactMedian) / exactMedian < 0.02,
      s"sketch=$sketchMedian exact=$exactMedian")
  }

  test("streaming write into a graft table persists rows") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val sdir = Files.createTempDirectory("graft_stream_sink")
    Files.copy(Paths.get(s"$dir/events.parquet"), sdir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val batch = spark.read.parquet(sdir.toString)

    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.stream")
    spark.sql("DROP TABLE IF EXISTS graft.stream.events_sink")
    spark.sql(
      """CREATE TABLE graft.stream.events_sink (
        |  event_id BIGINT, ts BIGINT, user_id BIGINT,
        |  event_type STRING, value DOUBLE, props STRING)""".stripMargin)

    val q = spark.readStream.schema(batch.schema).parquet(sdir.toString)
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft_sink_ckpt").toString)
      .toTable("graft.stream.events_sink")
    try q.processAllAvailable() finally q.stop()

    assert(spark.table("graft.stream.events_sink").count() == batch.count())
  }

  test("concurrent INSERTs both register: no lost registry entries") {
    // Two committers racing on the same table must both land in the
    // stats registry — the manifest registry-first COUNT(*) and the
    // streaming source trust. Without the commit lock, the second
    // read-modify-write erases the first's entries (invisible rows).
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.conc")
    spark.sql("CREATE TABLE graft.conc.t (id BIGINT)")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val futures = (0 until 2).map { w =>
        scala.concurrent.Future {
          for (i <- 0 until 5)
            spark.sql(s"INSERT INTO graft.conc.t SELECT id + ${w * 1000 + i * 100} " +
              s"FROM range(100)")
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futures), scala.concurrent.duration.Duration("120s"))
    } finally pool.shutdown()
    // registry-first COUNT(*) sees every committed row...
    assert(spark.sql("SELECT count(*) FROM graft.conc.t").head().getLong(0) == 1000L)
    // ...and the registry covers every parquet file on disk
    val dataDir = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.catalog.graft.warehouse") + "/conc/t/data")
    val fs = dataDir.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val stats = graft.sources.TableStats.read(fs, dataDir)
    val it = fs.listFiles(dataDir, true)
    var files = 0
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet")) {
        files += 1
        assert(stats.contains(graft.sources.TableStats.relOf(st.getPath.toString)),
          s"unregistered file after concurrent commits: ${st.getPath}")
      }
    }
    assert(files > 0 && stats.size == files)
    spark.sql("DROP TABLE graft.conc.t")
  }

  test("row-level COW aborts when a concurrent commit replaced its inputs") {
    import graft.sources._
    // A COW rewrite that planned its input files, then lost them to a
    // concurrent compaction swap, must ABORT at commit: registering its
    // output beside the compacted replacement would duplicate surviving
    // rows and resurrect deleted ones (serializable-commit conflict).
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.conc")
    spark.sql("CREATE TABLE graft.conc.race (id BIGINT)")
    spark.sql("INSERT INTO graft.conc.race SELECT id FROM range(0, 50, 1, 1)")
    spark.sql("INSERT INTO graft.conc.race SELECT id FROM range(50, 100, 1, 1)")
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val t = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("conc"), "race")).asInstanceOf[GraftTable]

    // the would-be COW plans its scan against the LIVE manifest...
    val op = new GraftRowLevelOperation(t,
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE)
    val planned = op.newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of())).build()
      .asInstanceOf[GraftScan].toBatch.planInputPartitions()
    assert(planned.length == 2)

    // ...then a concurrent compaction swaps those files out
    val (removed, _) = Compaction.compact(spark, t, outputFiles = 1)
    assert(removed == 2)

    // commit must refuse and leave the manifest exactly as compaction left it
    val dataDir = new org.apache.hadoop.fs.Path(t.dataDir)
    val fs = dataDir.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val before = TableStats.read(fs, dataDir)
    val write = new GraftReplaceDataWrite(t.schema0, t.properties(), t.dataDir,
      t.partitionSpecs, op)
    intercept[IllegalStateException] {
      write.commit(Array(GraftCommitMessage(Seq.empty)
        : org.apache.spark.sql.connector.write.WriterCommitMessage))
    }
    assert(TableStats.read(fs, dataDir) == before, "manifest changed by aborted COW")
    assert(spark.sql("SELECT count(*) FROM graft.conc.race").head().getLong(0) == 100L)
    spark.sql("DROP TABLE graft.conc.race")
  }

  test("1000-file table: planning does O(1) driver FS work; compaction recovers") {
    import graft.sources.{Compaction, GraftScan, GraftTable, TableStats}
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mf")
    spark.sql("CREATE TABLE graft.mf.many (id BIGINT, v DOUBLE)")
    // 4 commits x 250 tasks -> ~1000 small part files, the accretion shape
    // of an append/streaming workload
    for (i <- 0 until 4)
      spark.range(i * 25000L, (i + 1) * 25000L)
        .selectExpr("id", "CAST(id % 97 AS DOUBLE) AS v")
        .repartition(250)
        .writeTo("graft.mf.many").append()

    val dataDir = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.catalog.graft.warehouse") + "/mf/many/data")
    val fs = dataDir.getFileSystem(new org.apache.hadoop.conf.Configuration())
    def parquetFiles(): Int = {
      val it = fs.listFiles(dataDir, true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val before = parquetFiles()
    assert(before >= 900, s"expected ~1000 part files, got $before")

    // COUNT(*): exactly one registry read, zero footer opens, zero
    // recursive listings — independent of the 1000 files
    val (f0, l0, r0) = (GraftScan.footerReads.get(), GraftScan.countStarListings.get(),
      TableStats.registryReads.get())
    assert(spark.sql("SELECT count(*) FROM graft.mf.many").head().getLong(0) == 100000L)
    assert(GraftScan.footerReads.get() == f0, "count(*) opened parquet footers")
    assert(GraftScan.countStarListings.get() == l0, "count(*) listed the table recursively")
    assert(TableStats.registryReads.get() == r0 + 1,
      s"count(*) read the registry ${TableStats.registryReads.get() - r0} times, want 1")

    // MIN/MAX: the 1000-file fold is driver-side over the SAME single
    // registry read — zero data I/O, zero footers, independent of bytes
    val fmm = GraftScan.footerReads.get()
    val mm = spark.sql("SELECT MIN(id), MAX(id), MIN(v), MAX(v) FROM graft.mf.many")
    assert(mm.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    val mr = mm.head()
    assert((mr.getLong(0), mr.getLong(1), mr.getDouble(2), mr.getDouble(3)) ==
      (0L, 99999L, 0.0, 96.0))
    assert(GraftScan.footerReads.get() == fmm, "min/max opened parquet footers")

    // SUM / COUNT(col): same driver-side fold over the registry — the
    // 1000-file exact sum costs zero footers and zero data I/O
    val fsum = GraftScan.footerReads.get()
    val sq = spark.sql("SELECT SUM(id), COUNT(id), COUNT(*) FROM graft.mf.many")
    assert(sq.queryExecution.executedPlan.toString.contains("GraftAggScan"),
      "expected pushed SUM/COUNT(col) at 1000 files")
    val sr = sq.head()
    assert((sr.getLong(0), sr.getLong(1), sr.getLong(2)) ==
      (99999L * 100000L / 2, 100000L, 100000L))
    assert(GraftScan.footerReads.get() == fsum, "SUM fold opened parquet footers")

    // FILTERED fold: a partitioned 48-file table answers a partition-
    // predicated COUNT/SUM from just the matching partitions' registry
    // entries — same zero-footer discipline
    spark.sql("""CREATE TABLE graft.mf.manyp (id BIGINT, lang STRING)
                |PARTITIONED BY (lang)""".stripMargin)
    for (_ <- 0 until 3)
      spark.sql("""INSERT INTO graft.mf.manyp
                  |SELECT id, CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END
                  |FROM range(0, 1000)""".stripMargin)
    val ffa = GraftScan.footerReads.get()
    val fq = spark.sql(
      "SELECT COUNT(*), SUM(id) FROM graft.mf.manyp WHERE lang = 'en'")
    assert(fq.queryExecution.executedPlan.toString.contains("GraftAggScan"),
      "expected filtered fold")
    val fr = fq.head()
    assert((fr.getLong(0), fr.getLong(1)) == (1500L, 3 * (0L until 1000L by 2).sum))
    assert(GraftScan.footerReads.get() == ffa, "filtered fold opened footers")

    // TopN over 1000 OVERLAPPING files (round-robin ids): the pruning
    // decision is driver-side metadata over the same registry — nothing
    // prunes (strict precedence cannot hold), planning opens no footers,
    // and the result is exact
    val ftn = GraftScan.footerReads.get()
    val rtn = TableStats.registryReads.get()
    assert(spark.sql("SELECT id FROM graft.mf.many ORDER BY id LIMIT 5")
      .collect().map(_.getLong(0)).toSeq == (0L to 4L))
    assert(GraftScan.footerReads.get() == ftn, "TopN planning opened footers")
    assert(TableStats.registryReads.get() - rtn <= 2,
      "TopN planning must stay metadata-bounded")

    // with a sort-clustered layout the files are range-DISJOINT and a
    // top-5 prunes virtually all of them — the "latest n events at
    // 100 TB" shape: files read ∝ n, not table size
    spark.sql("""CREATE TABLE graft.mf.many2 (id BIGINT, v DOUBLE)
                |TBLPROPERTIES ('write.sort.columns' = 'id')""".stripMargin)
    for (i <- 0 until 16) // one range-disjoint file per sorted append
      spark.range(i * 6250L, (i + 1) * 6250L)
        .selectExpr("id", "CAST(id % 97 AS DOUBLE) AS v")
        .writeTo("graft.mf.many2").append()
    val sortedFiles = TableStats.read(fs, new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.catalog.graft.warehouse") + "/mf/many2/data")).size
    val pruned0 = GraftScan.topNPrunedFiles.get()
    assert(spark.sql("SELECT id FROM graft.mf.many2 ORDER BY id LIMIT 5")
      .collect().map(_.getLong(0)).toSeq == (0L to 4L))
    val prunedN = GraftScan.topNPrunedFiles.get() - pruned0
    assert(sortedFiles >= 16 && prunedN >= sortedFiles - 2,
      s"top-5 over $sortedFiles disjoint files pruned only $prunedN")
    spark.sql("DROP TABLE graft.mf.many2")

    // a real scan still plans without footer reads (stats + ranges come
    // from the registry) and with a bounded number of registry reads
    val f1 = GraftScan.footerReads.get()
    val r1 = TableStats.registryReads.get()
    val sum0 = spark.sql("SELECT sum(v) FROM graft.mf.many").head().getDouble(0)
    assert(GraftScan.footerReads.get() == f1, "warm scan opened parquet footers")
    assert(TableStats.registryReads.get() - r1 <= 2,
      s"scan read the registry ${TableStats.registryReads.get() - r1} times")

    // compaction merges the small files back to a handful and keeps the
    // data + stats exact
    val table = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("mf"), "many")).asInstanceOf[GraftTable]
    val (cBefore, cAfter) = Compaction.compact(spark, table)
    assert(cBefore >= 900 && cAfter <= 32, s"compaction $cBefore -> $cAfter")
    // originals stay on disk for time travel; vacuum reclaims them in one
    // listing + set difference (metadata-only, O(#files))
    graft.sources.Snapshots.vacuum(
      spark.conf.get("spark.sql.catalog.graft.warehouse") + "/mf/many",
      retain = 0, minAgeMillis = 0L)
    assert(parquetFiles() <= 32)
    assert(spark.sql("SELECT count(*) FROM graft.mf.many").head().getLong(0) == 100000L)
    assert(spark.sql("SELECT sum(v) FROM graft.mf.many").head().getDouble(0) == sum0)
    spark.sql("DROP TABLE graft.mf.many")
  }

  test("bloom point lookup at 256 hash-scattered files: metadata-only pruning") {
    import graft.sources.GraftScan
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mf")
    // 2 commits × 128 round-robin tasks, ids INTERLEAVED by parity so
    // every one of the 256 files spans the whole id domain — the layout
    // where ranges never skip and a point lookup otherwise reads all 256
    spark.sql("""CREATE TABLE graft.mf.bl (id BIGINT, v DOUBLE)
                |TBLPROPERTIES ('index.bloom.columns' = 'id')""".stripMargin)
    for (par <- 0 until 2)
      spark.range(0L, 50000L).filter(s"id % 2 = $par")
        .selectExpr("id", "CAST(id % 97 AS DOUBLE) AS v")
        .repartition(128)
        .writeTo("graft.mf.bl").append()
    val (f0, b0) = (GraftScan.footerReads.get(), GraftScan.bloomPrunedFiles.get())
    val r = spark.sql("SELECT v FROM graft.mf.bl WHERE id = 31337").collect()
    assert(r.map(_.getDouble(0)).toSeq == Seq((31337L % 97).toDouble))
    assert(GraftScan.footerReads.get() == f0,
      "bloom planning must not open parquet footers")
    val pruned = GraftScan.bloomPrunedFiles.get() - b0
    assert(pruned >= 250,
      s"expected ≥250 of ~256 domain-spanning files bloom-pruned, got $pruned")
    spark.sql("DROP TABLE graft.mf.bl")
  }

  test("planning WALL TIME at 1000 bloom files + max-depth delta chains") {
    import graft.sources.{GraftScan, Snapshots, TableStats}
    // the round-7 official bench showed 4-5 s registry-path queries that
    // no clean run reproduces; this pins the planning path itself so a
    // real parse/decode regression (10-field registry lines, per-file
    // base64 blooms, delta-chain resolution) can never hide behind box
    // variance again. Counters bound the WORK exactly; the wall bounds
    // are deliberately loose (≥10x typical) so they only trip on the
    // pathological multi-second-per-plan shape, not CI noise.
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mf")
    spark.sql("""CREATE TABLE graft.mf.blw (id BIGINT, v DOUBLE)
                |TBLPROPERTIES ('index.bloom.columns' = 'id')""".stripMargin)
    // 25 commits x 40 id-interleaved tasks -> 1000 DOMAIN-SPANNING files
    // (range disproof can never skip; only blooms prune) and a version
    // chain deep enough to cross the MaxChainDepth=16 reset, so head
    // resolution walks a real delta chain
    for (i <- 0 until 25)
      spark.range(0L, 50000L).filter(s"id % 25 = $i")
        .selectExpr("id", "CAST(id % 97 AS DOUBLE) AS v")
        .repartition(40)
        .writeTo("graft.mf.blw").append()
    val dataDir = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.catalog.graft.warehouse") + "/mf/blw/data")
    val fs = dataDir.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val live = TableStats.read(fs, dataDir)
    assert(live.size >= 990, s"expected ~1000 live files, got ${live.size}")
    assert(Snapshots.list(fs, dataDir).size >= 25)

    // one warm-up exercises JIT + page cache; the measured lookups are
    // then dominated by driver planning (registry parse + 1000 bloom
    // disproofs) because execution reads ~1 file
    spark.sql("SELECT v FROM graft.mf.blw WHERE id = 777").collect()
    val (f0, r0, b0) = (GraftScan.footerReads.get(),
      TableStats.registryReads.get(), GraftScan.bloomPrunedFiles.get())
    val t0 = System.nanoTime()
    val r = spark.sql("SELECT v FROM graft.mf.blw WHERE id = 31337").collect()
    val pointMs = (System.nanoTime() - t0) / 1e6
    assert(r.map(_.getDouble(0)).toSeq == Seq((31337L % 97).toDouble))
    assert(GraftScan.footerReads.get() == f0, "planning opened parquet footers")
    assert(TableStats.registryReads.get() - r0 <= 2,
      s"point lookup read the registry ${TableStats.registryReads.get() - r0} times")
    assert(GraftScan.bloomPrunedFiles.get() - b0 >= 950,
      s"expected ~1000 files bloom-pruned, got ${GraftScan.bloomPrunedFiles.get() - b0}")
    assert(pointMs < 5000,
      f"point lookup over 1000 bloom files took $pointMs%.0f ms — planning regression")

    // max-width IN-list (the 4096-value runtime-filter cap, here arriving
    // as a static InSet): each file's bloom payload must be decoded ONCE
    // for the whole list, keeping driver work O(files x probes) hash math,
    // not O(files x values) base64 decodes
    val present = Seq(31337L, 11L, 222L, 3333L, 44444L)
    val probes = (present ++ (0 until 4091).map(i => 1000000L + i * 7L))
      .mkString(", ")
    val t1 = System.nanoTime()
    val rIn = spark.sql(
      s"SELECT sum(v) FROM graft.mf.blw WHERE id IN ($probes)").head()
    val inMs = (System.nanoTime() - t1) / 1e6
    assert(rIn.getDouble(0) == present.map(_ % 97).sum.toDouble, rIn.toString)
    assert(inMs < 10000,
      f"4096-key IN over 1000 bloom files took $inMs%.0f ms — planning regression")
    spark.sql("DROP TABLE graft.mf.blw")
  }

  test("SHALLOW CLONE at 1000 files: metadata-only, wall-bounded, zero data I/O") {
    import graft.sources.{GraftScan, TableStats}
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mf")
    spark.sql("CREATE TABLE graft.mf.clsrc (id BIGINT, v DOUBLE)")
    for (i <- 0 until 4)
      spark.range(i * 25000L, (i + 1) * 25000L)
        .selectExpr("id", "CAST(id % 97 AS DOUBLE) AS v")
        .repartition(250)
        .writeTo("graft.mf.clsrc").append()
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val (f0, m0) = (GraftScan.footerReads.get(), TableStats.metaBytesWritten.get())
    val t0 = System.nanoTime()
    spark.sql("CREATE TABLE graft.mf.clone1k SHALLOW CLONE graft.mf.clsrc")
    val cloneMs = (System.nanoTime() - t0) / 1e6
    // zero data I/O: no footers opened, no parquet landed in the clone
    assert(GraftScan.footerReads.get() == f0, "clone opened parquet footers")
    val cloneData = new org.apache.hadoop.fs.Path(s"$wh/mf/clone1k/data")
    val cfs = cloneData.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val it = cfs.listFiles(cloneData, true)
    var parquets = 0
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) parquets += 1
    assert(parquets == 0, s"clone copied $parquets data files")
    // O(manifest) metadata: ~1000 entry lines (manifest + registry
    // checkpoint), generously bounded well below any data-sized figure
    val metaBytes = TableStats.metaBytesWritten.get() - m0
    assert(metaBytes < 8L * 1024 * 1024,
      s"clone wrote $metaBytes metadata bytes for 1000 files")
    assert(cloneMs < 10000, f"clone of 1000 files took $cloneMs%.0f ms")
    // the clone plans like any 1000-file table: COUNT(*) = one registry
    // read, zero footers
    val (f1, r1) = (GraftScan.footerReads.get(), TableStats.registryReads.get())
    assert(spark.sql("SELECT count(*) FROM graft.mf.clone1k").head().getLong(0) == 100000L)
    assert(GraftScan.footerReads.get() == f1)
    assert(TableStats.registryReads.get() <= r1 + 2)
    spark.sql("DROP TABLE graft.mf.clone1k")
    spark.sql("DROP TABLE graft.mf.clsrc")
  }

  test("clone CHAIN at depth 12: each link metadata-only, pins O(depth), unwind clean") {
    import graft.sources.{GraftScan, Snapshots}
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mf")
    spark.sql("CREATE TABLE graft.mf.chsrc (id BIGINT, v DOUBLE)")
    spark.range(0L, 10000L).selectExpr("id", "CAST(id % 97 AS DOUBLE) AS v")
      .repartition(100).writeTo("graft.mf.chsrc").append()
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    def pinsOn(t: String): Int = {
      val dd = new org.apache.hadoop.fs.Path(s"$wh/mf/$t/data")
      Snapshots.tags(dd.getFileSystem(new org.apache.hadoop.conf.Configuration()), dd)
        .keysIterator.count(_.startsWith("clone-"))
    }
    val depth = 12
    val f0 = GraftScan.footerReads.get()
    val t0 = System.nanoTime()
    var prev = "chsrc"
    for (i <- 1 to depth) {
      spark.sql(s"CREATE TABLE graft.mf.ch$i SHALLOW CLONE graft.mf.$prev")
      prev = s"ch$i"
    }
    val chainMs = (System.nanoTime() - t0) / 1e6
    // every link is metadata-only — no footers, no data files anywhere
    assert(GraftScan.footerReads.get() == f0, "chain cloning opened footers")
    for (i <- 1 to depth) {
      val dd = new org.apache.hadoop.fs.Path(s"$wh/mf/ch$i/data")
      val cfs = dd.getFileSystem(new org.apache.hadoop.conf.Configuration())
      val it = cfs.listFiles(dd, true)
      while (it.hasNext)
        assert(!it.next().getPath.getName.endsWith(".parquet"),
          s"chain link ch$i copied data")
    }
    assert(chainMs < 30000, f"12-deep chain took $chainMs%.0f ms")
    // transitive pins are REFERENCE-scoped: every chain link's manifest
    // points only at the ROOT's files (the intermediates never diverged,
    // so they own nothing), hence each clone pins the root and NOTHING
    // pins the intermediates — O(depth) total bookkeeping, not O(depth²),
    // and dropping an intermediate can never strand a descendant
    assert(pinsOn("chsrc") == depth, s"root pins = ${pinsOn("chsrc")}")
    for (i <- 1 until depth)
      assert(pinsOn(s"ch$i") == 0, s"ch$i pins = ${pinsOn(s"ch$i")}")
    // an undiverged intermediate is droppable mid-chain — descendants
    // reference the root, not it
    spark.sql("DROP TABLE graft.mf.ch3")
    spark.sql("CREATE TABLE graft.mf.ch3 SHALLOW CLONE graft.mf.ch2") // re-link for unwind
    // the tip answers correctly through 12 levels of ext references
    assert(spark.sql(s"SELECT count(*), CAST(sum(id) AS BIGINT) FROM graft.mf.ch$depth")
      .head().toSeq == Seq(10000L, 49995000L))
    // unwind from the TIP: each drop releases its pins, freeing its parent
    for (i <- depth to 1 by -1) spark.sql(s"DROP TABLE graft.mf.ch$i")
    assert(pinsOn("chsrc") == 0, "unwound chain must leave zero pins")
    spark.sql("DROP TABLE graft.mf.chsrc")
  }

  test("commit metadata cost is O(files touched), not O(live files)") {
    import graft.sources.{Snapshots, TableStats}
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mf")
    spark.sql("CREATE TABLE graft.mf.shard (id BIGINT, v DOUBLE)")
    // grow a many-file table: 2 commits x 250 tasks ≈ 500 live files
    for (i <- 0 until 2)
      spark.range(i * 25000L, (i + 1) * 25000L)
        .selectExpr("id", "CAST(id % 97 AS DOUBLE) AS v")
        .repartition(250)
        .writeTo("graft.mf.shard").append()
    val tableDir = spark.conf.get("spark.sql.catalog.graft.warehouse") + "/mf/shard"
    val dataDir = new org.apache.hadoop.fs.Path(tableDir + "/data")
    val fs = dataDir.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val live = TableStats.read(fs, dataDir).size
    assert(live >= 450, s"expected ~500 live files, got $live")

    // one SMALL appending commit: the snapshot is a delta of its own
    // entries and the registry swap a one-line pointer — a full rewrite
    // of ~500 entries would be tens of KB
    val b0 = TableStats.metaBytesWritten.get()
    spark.range(100000L, 100010L)
      .selectExpr("id", "CAST(id % 97 AS DOUBLE) AS v")
      .repartition(2)
      .writeTo("graft.mf.shard").append()
    val wrote = TableStats.metaBytesWritten.get() - b0
    assert(wrote < 4000,
      s"appending 2 files to a $live-file table wrote $wrote metadata bytes")

    // the pointer registry resolves to the exact live manifest
    assert(spark.sql("SELECT count(*) FROM graft.mf.shard").head().getLong(0) == 50010L)

    // a long run of tiny commits: the checkpoint rule bounds every delta
    // chain, and per-commit metadata stays flat
    val perCommit = scala.collection.mutable.ArrayBuffer[Long]()
    for (i <- 0 until 20) {
      val c0 = TableStats.metaBytesWritten.get()
      spark.range(200000L + i, 200001L + i)
        .selectExpr("id", "CAST(id % 97 AS DOUBLE) AS v")
        .writeTo("graft.mf.shard").append()
      perCommit += TableStats.metaBytesWritten.get() - c0
    }
    val head = TableStats.liveVersion(fs, dataDir).get
    for (v <- 1L to head)
      Snapshots.chainDepth(fs, dataDir, v).foreach(d =>
        assert(d <= 16, s"v$v has chain depth $d"))
    // checkpoints (full rewrites) are the bounded exception, deltas the
    // rule: at least 3/4 of the tiny commits must be delta-sized
    val small = perCommit.count(_ < 4000)
    assert(small >= 15, s"only $small/20 tiny commits were delta-sized: $perCommit")
    assert(spark.sql("SELECT count(*) FROM graft.mf.shard").head().getLong(0) == 50030L)

    // time travel resolves across delta chains
    assert(spark.sql("SELECT count(*) FROM graft.mf.shard VERSION AS OF 2")
      .head().getLong(0) == 50000L)

    // vacuum keeps every chain base a retained manifest needs: after
    // expiring history, the live head still resolves and reads are exact
    Snapshots.vacuum(tableDir, retain = 2, minAgeMillis = 0L)
    assert(spark.sql("SELECT count(*) FROM graft.mf.shard").head().getLong(0) == 50030L)
    assert(TableStats.read(fs, dataDir).size == live + 2 + 20)
    spark.sql("DROP TABLE graft.mf.shard")
  }

  test("merge-on-read at 200 files: metadata-only mutation, bounded planning") {
    import graft.sources.{GraftDeletes, GraftScan, TableStats}
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mf")
    spark.sql(
      s"""CREATE TABLE graft.mf.morx (row_key STRING, id BIGINT, v DOUBLE)
         |TBLPROPERTIES ('${GraftDeletes.ModeProp}' = 'merge-on-read')""".stripMargin)
    for (i <- 0 until 2)
      spark.range(i * 25000L, (i + 1) * 25000L)
        .selectExpr("CAST(id AS STRING) AS row_key", "id", "CAST(id % 97 AS DOUBLE) AS v")
        .repartition(100)
        .writeTo("graft.mf.morx").append()
    val dataDir = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.catalog.graft.warehouse") + "/mf/morx/data")
    val fs = dataDir.getFileSystem(new org.apache.hadoop.conf.Configuration())
    def dataRels(): Set[String] = TableStats.read(fs, dataDir).keySet
      .filterNot(GraftDeletes.isDeleteRel)
    val before = dataRels()
    assert(before.size >= 150, s"expected ~200 part files, got ${before.size}")

    // a point-ish DELETE across every file touches ZERO data files
    spark.sql("DELETE FROM graft.mf.morx WHERE id % 100 = 7")
    assert(dataRels() == before,
      "merge-on-read DELETE must not add/remove/rewrite data files")

    // reading WITH the deletes outstanding: manifest-first planning, no
    // footer opens, bounded registry reads — the delete probe rides the
    // executors' read path, never the driver's planning loop
    val (f0, l0, r0) = (GraftScan.footerReads.get(),
      GraftScan.countStarListings.get(), TableStats.registryReads.get())
    assert(spark.sql("SELECT count(*) FROM graft.mf.morx").head().getLong(0) == 49500L)
    assert(GraftScan.footerReads.get() == f0, "MOR scan opened parquet footers")
    assert(GraftScan.countStarListings.get() == l0, "MOR count listed recursively")
    assert(TableStats.registryReads.get() - r0 <= 3,
      s"MOR count read the registry ${TableStats.registryReads.get() - r0} times")

    // compaction folds the deletes; pushdown COUNT(*) returns: one read
    val table = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("mf"), "morx")).asInstanceOf[graft.sources.GraftTable]
    graft.sources.Compaction.compact(spark, table)
    assert(TableStats.read(fs, dataDir).keySet
      .forall(!GraftDeletes.isDeleteRel(_)), "delete entries must fold away")
    val r1 = TableStats.registryReads.get()
    assert(spark.sql("SELECT count(*) FROM graft.mf.morx").head().getLong(0) == 49500L)
    assert(TableStats.registryReads.get() - r1 <= 1,
      "post-fold count(*) should be registry-first again")
    spark.sql("DROP TABLE graft.mf.morx")
  }

  test("change feed plans a mutation-heavy commit with ONE shared key broadcast") {
    import graft.sources.{ChangeDeletePartition, ChangeInsertPartition,
      GraftChangeFeedStream, GraftDeletes, GraftVersionOffset, Snapshots}
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mf")
    spark.sql(
      s"""CREATE TABLE graft.mf.cfb (row_key STRING, id BIGINT, v DOUBLE)
         |TBLPROPERTIES ('${GraftDeletes.ModeProp}' = 'merge-on-read')""".stripMargin)
    spark.range(0L, 70000L)
      .selectExpr("CAST(id AS STRING) AS row_key", "id", "CAST(id AS DOUBLE) AS v")
      .repartition(8)
      .writeTo("graft.mf.cfb").append()
    val dataDir = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.catalog.graft.warehouse") + "/mf/cfb/data")
    val fs = dataDir.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val v1 = Snapshots.list(fs, dataDir).last._1
    // one MOR UPDATE of every row: the commit carries 70k delete keys AND
    // the re-written files — the worst per-commit shape a feed replays
    spark.sql("UPDATE graft.mf.cfb SET v = v + 1")
    val v2 = Snapshots.list(fs, dataDir).last._1
    val stream = new GraftChangeFeedStream(
      spark.table("graft.mf.cfb").schema, dataDir.toString, v1)
    val parts = stream.planInputPartitions(
      GraftVersionOffset(v1), GraftVersionOffset(v2))
    val dels = parts.collect { case d: ChangeDeletePartition => d }
    val ins = parts.collect { case i: ChangeInsertPartition => i }
    assert(dels.length >= 2, s"70k keys must split into slices, got ${dels.length}")
    // ONE broadcast per commit — the key array must never be serialized
    // into each task closure (near the 256 MB cap that multiplies into
    // gigabytes of task bytes), nor once per slice
    assert(dels.map(_.keys).distinct.length == 1,
      "delete slices must share one key broadcast")
    assert(ins.nonEmpty && ins.flatMap(_.updateKeys).distinct.length == 1,
      "insert partitions must share the same key broadcast")
    // slices tile [0, keys) exactly — no key dropped or doubled
    val n = dels.head.keys.value.length
    assert(n == 70000, s"expected 70000 keys, got $n")
    val covered = dels.map(d => (d.start, d.end)).sortBy(_._1)
      .foldLeft(0) { (acc, se) => assert(se._1 == acc); se._2 }
    assert(covered == n, s"slices cover $covered of $n keys")
    // pairing resolved ONCE at plan time: every key was re-written, so
    // the shared reinserted set is the full key set (and slice readers
    // only binary-search it — no per-task file rescans)
    assert(dels.map(_.reinserted).distinct.length == 1)
    assert(dels.head.reinserted.value.length == 70000)
    spark.sql("DROP TABLE graft.mf.cfb")
  }

  test("SemDeDup cluster count scales with the corpus: pair space stays linear") {
    import graft.ml.KMeans.sizeK
    val target = 64
    val maxK = 4096
    for (n <- Seq(100L, 10000L, 1000000L, 100000000L)) {
      val k = sizeK(n, target, maxK)
      if (k < maxK) {
        // expected cluster bounded by the target, so the within-cluster
        // pair work per row is O(target) and total pair space O(n·target)
        // — linear in the corpus, never quadratic
        val cluster = n.toDouble / k
        assert(cluster <= target.toDouble,
          s"n=$n k=$k gives expected cluster $cluster > target $target")
      }
    }
    assert(sizeK(1L, target, maxK) == 2, "degenerate corpora still get 2 clusters")
    assert(sizeK(1L << 40, target, maxK) == maxK, "k clamps at maxK")
  }

  test("perceptron vocabulary cap bounds the gradient at O(cap)") {
    import spark.implicits._
    // 200 distinct tokens across 40 docs; a cap of 10 must bound the
    // feature space — the per-round gradient collect in q119 is exactly
    // one row per surviving vocabulary token
    val raw = (0 until 40).flatMap(d =>
        (0 until 200).filter(j => (d + j) % 7 == 0).map(j => (d.toLong, s"tok$j", 1L)))
      .toDF("doc_id", "j", "c")
    val vocab = graft.queries.Text.perceptronVocab(raw, 10)
    assert(vocab.count() == 10)
    val capped = raw.join(broadcast(vocab), "j")
    assert(capped.select(col("j")).distinct().count() <= 10,
      "gradient row count must be bounded by the vocabulary cap")
    // determinism: same cap twice → identical token set
    assert(vocab.collect().map(_.getString(0)).sorted.toSeq ==
      graft.queries.Text.perceptronVocab(raw, 10).collect().map(_.getString(0)).sorted.toSeq)
  }

  test("parquet-backed fixpoint checkpoint keeps lineage depth constant") {
    import graft.functions.IterCheckpoint
    import spark.implicits._
    val run = IterCheckpoint.newRun(spark)
    def planSize(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case p => p }.size
    var labels = IterCheckpoint.round(
      (0L until 100L).toDF("id").withColumn("l", col("id") % 10), run, "r0")
    val size0 = planSize(labels)
    var last = "r0"
    for (r <- 1 to 5) {
      // a self-join per round — uncheckpointed, the plan would double
      val nbr = labels.select(col("id").as("nid"), col("l").as("nl"))
      last = s"r$r"
      labels = IterCheckpoint.round(
        labels.join(nbr, col("id") === col("nid"))
          .select(col("id"), least(col("l"), col("nl")).as("l")),
        run, last)
      assert(planSize(labels) == size0,
        s"round $r lineage grew: ${planSize(labels)} nodes vs $size0")
    }
    assert(labels.count() == 100L)
    // reclaim drops all but the live round
    IterCheckpoint.reclaim(spark, run, Some(last))
    val dirP = new org.apache.hadoop.fs.Path(run)
    val fsP = dirP.getFileSystem(new org.apache.hadoop.conf.Configuration())
    assert(fsP.listStatus(dirP).map(_.getPath.getName).toSet == Set(last))
    assert(labels.count() == 100L, "the kept round still backs the frame")
    IterCheckpoint.reclaim(spark, run, None)
  }

  test("MV refresh classification walk over 64 commits: bounded and incremental") {
    // an MV refreshed only occasionally must classify a LONG commit range
    // (recorded, current] from metadata alone. Each version resolves its
    // snapshot through a delta chain (depth ≤ Snapshots.MaxChainDepth),
    // so the walk is O(range × chainDepth) side-file reads — linear with
    // a small constant, never O(range²) and never data I/O. 64 commits
    // cross the chain-depth reset 4 times; the wall bound is deliberately
    // loose (≥5x typical) so it only trips a real manifest-walk
    // regression (e.g. re-resolving full chains per diff), not CI noise.
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mf")
    spark.sql("CREATE TABLE graft.mf.cw (row_key STRING, g BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.mf.cw SELECT CAST(id AS STRING), id % 7, id FROM range(0, 100)")
    spark.sql(
      """CREATE MATERIALIZED VIEW graft.mf.cwmv AS
        |SELECT g, count(*) AS cnt, sum(v) AS sv
        |FROM graft.mf.cw GROUP BY g""".stripMargin)
    // 62 single-file appends + one COW delete land before anyone refreshes
    for (i <- 0 until 62)
      spark.range(100L + i * 10, 100L + i * 10 + 10)
        .selectExpr("CAST(id AS STRING) AS row_key", "id % 7 AS g", "id AS v")
        .coalesce(1).writeTo("graft.mf.cw").append()
    spark.sql("DELETE FROM graft.mf.cw WHERE g = 3 AND v < 50")
    val t0 = System.nanoTime()
    val r = spark.sql("REFRESH MATERIALIZED VIEW graft.mf.cwmv").collect()
    val ms = (System.nanoTime() - t0) / 1e6
    assert(r.head.getString(1) === "incremental-cdc",
      s"a 64-commit append+COW-delete range must classify cdc: ${r.mkString(",")}")
    assert(ms < 30000,
      f"refresh over a 64-commit range took $ms%.0f ms — manifest-walk regression")
    val mv = spark.sql("SELECT g, cnt, sv FROM graft.mf.cwmv ORDER BY g")
      .collect().map(_.toSeq).toSeq
    val re = spark.sql(
      "SELECT g, count(*) AS cnt, sum(v) AS sv FROM graft.mf.cw GROUP BY g ORDER BY g")
      .collect().map(_.toSeq).toSeq
    assert(mv === re, "long-range incremental refresh must equal recompute")
    spark.sql("DROP MATERIALIZED VIEW graft.mf.cwmv")
    spark.sql("DROP TABLE graft.mf.cw")
  }
}
