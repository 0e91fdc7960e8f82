package graft

import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end SQL over the graft DSv2 catalog: DDL, INSERT, CTAS,
  * truncate-overwrite, pruning/pushdown, and row-key generation — the
  * reference's exercised surface (SURVEY.md §5, README demos) plus the
  * semantics it gets wrong (residual filters, startsWith/endsWith).
  */
class GraftCatalogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val warehouse = Files.createTempDirectory("graft_wh").toString

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    .config("spark.sql.catalog.graft.warehouse", warehouse)
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("namespace + table DDL, insert, select round-trip") {
    spark.sql("CREATE NAMESPACE graft.pw")
    spark.sql("SHOW NAMESPACES IN graft").show(false)
    spark.sql(
      """CREATE TABLE graft.pw.test (
        |  row_key STRING, `A:A_00` STRING, `A:A_01` INT, `B:B_00` DOUBLE)
        |""".stripMargin)
    assert(spark.sql("SHOW TABLES IN graft.pw").count() == 1)

    spark.sql(
      """INSERT INTO graft.pw.test VALUES
        |  ('0000', 'A_00_0000', 0, 0.5),
        |  ('0001', 'A_00_0001', 1, 1.5),
        |  ('0002', NULL, 2, NULL)""".stripMargin)

    val all = spark.sql("SELECT * FROM graft.pw.test ORDER BY row_key").collect()
    assert(all.length == 3)
    assert(all(0).getString(1) == "A_00_0000")
    // missing cell → NULL (FIXTURES.md §6)
    assert(all(2).isNullAt(1) && all(2).isNullAt(3))

    // backquoted cf:qual projection + filter
    val one = spark.sql(
      "SELECT `A:A_01` FROM graft.pw.test WHERE `A:A_00` LIKE '%0001'").collect()
    assert(one.map(_.getInt(0)).toSeq == Seq(1))
  }

  test("filter pushdown reaches the scan; residuals keep semantics") {
    val df = spark.sql("SELECT row_key FROM graft.pw.test WHERE `A:A_01` > 0")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftScan"), s"expected GraftScan in:\n$plan")
    // pushed filter is visible on the scan and the Filter node is retained
    assert(plan.contains("Filter"), "residual FilterExec must be retained")
    assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("0001", "0002"))
  }

  test("CTAS and INSERT OVERWRITE (truncate)") {
    spark.sql(
      """CREATE TABLE graft.pw.test_big AS
        |SELECT row_key, `A:A_01` AS n FROM graft.pw.test WHERE `A:A_01` >= 1""".stripMargin)
    assert(spark.table("graft.pw.test_big").count() == 2)

    spark.sql("INSERT INTO graft.pw.test_big VALUES ('x', 9)")
    assert(spark.table("graft.pw.test_big").count() == 3)

    spark.sql("INSERT OVERWRITE graft.pw.test_big VALUES ('y', 10)")
    val rows = spark.table("graft.pw.test_big").collect()
    assert(rows.length == 1 && rows(0).getString(0) == "y")
  }

  test("row-key generator overrides supplied keys and is distributed-unique") {
    spark.sql(
      s"""CREATE TABLE graft.pw.test_insert (row_key STRING, `T:T_00` STRING)
         |TBLPROPERTIES ('${graft.functions.RowKeyGenerator.Property}' =
         |  'graft.functions.DefaultRowKeyGenerator')""".stripMargin)
    // supplied row_key '0000' must be ignored (README.md:66 semantics);
    // repeated identical inserts create distinct rows
    spark.sql("INSERT INTO graft.pw.test_insert VALUES ('0000', 'TestSql')")
    spark.sql("INSERT INTO graft.pw.test_insert VALUES ('0000', 'TestSql')")
    val rows = spark.table("graft.pw.test_insert").collect()
    assert(rows.length == 2)
    val keys = rows.map(_.getString(0)).toSet
    assert(keys.size == 2 && !keys.contains("0000"))

    // bulk insert from a parallel source: keys stay unique across partitions
    spark.range(0, 1000).repartition(8)
      .selectExpr("'k' AS row_key", "CAST(id AS STRING) AS `T:T_00`")
      .writeTo("graft.pw.test_insert").append()
    val n = spark.table("graft.pw.test_insert").count()
    val distinct = spark.table("graft.pw.test_insert")
      .select(countDistinct(col("row_key"))).head().getLong(0)
    assert(n == 1002 && distinct == 1002)
  }

  test("hash row-key generator dedups identical rows on write") {
    spark.sql(
      s"""CREATE TABLE graft.pw.test_hash (row_key STRING, `T:T_00` STRING)
         |TBLPROPERTIES ('${graft.functions.RowKeyGenerator.Property}' =
         |  'graft.functions.HashRowKeyGenerator')""".stripMargin)
    spark.sql("INSERT INTO graft.pw.test_hash VALUES ('a', 'same'), ('b', 'same')")
    val keys = spark.table("graft.pw.test_hash").collect().map(_.getString(0))
    // identical non-key content → identical generated keys
    assert(keys.toSet.size == 1)
  }

  test("ALTER TABLE ADD COLUMN: old files read NULL for the new column") {
    spark.sql("CREATE TABLE graft.pw.evolve (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.pw.evolve VALUES (1, 'old')")
    spark.sql("ALTER TABLE graft.pw.evolve ADD COLUMN extra DOUBLE")
    spark.sql("INSERT INTO graft.pw.evolve VALUES (2, 'new', 2.5)")
    val rows = spark.table("graft.pw.evolve").orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(0).isNullAt(2), "pre-evolution file must read NULL")
    assert(rows(1).getDouble(2) == 2.5)
    // filtering on the evolved column works (null excluded)
    assert(spark.sql("SELECT id FROM graft.pw.evolve WHERE extra > 1.0")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    spark.sql("DROP TABLE graft.pw.evolve")
  }

  test("two-level partitioning: nested layout, pruning, and DELETE") {
    spark.sql(
      """CREATE TABLE graft.pw.two_lvl (id BIGINT, a STRING, b INT)
        |PARTITIONED BY (a, b)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.pw.two_lvl VALUES
        |(1, 'x', 1), (2, 'x', 2), (3, 'y', 1), (4, 'y', 2), (5, NULL, 1)""".stripMargin)
    // nested dirs a=<v>/b=<v>; null partition value round-trips
    assert(spark.table("graft.pw.two_lvl").count() == 5)
    assert(spark.sql("SELECT id FROM graft.pw.two_lvl WHERE a = 'x' AND b = 2")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(spark.sql("SELECT id FROM graft.pw.two_lvl WHERE a IS NULL")
      .collect().map(_.getLong(0)).toSeq == Seq(5L))
    // pruning on the second-level column alone
    assert(spark.sql("SELECT id FROM graft.pw.two_lvl WHERE b = 1")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 5L))
    spark.sql("DELETE FROM graft.pw.two_lvl WHERE a = 'y' AND b = 1")
    assert(spark.table("graft.pw.two_lvl").count() == 4)
    spark.sql("DROP TABLE graft.pw.two_lvl")
  }

  test("DELETE FROM removes whole partitions; row-level deletes are rejected") {
    spark.sql(
      """CREATE TABLE graft.pw.part_del (id BIGINT, grp STRING)
        |PARTITIONED BY (grp)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.pw.part_del VALUES
        |(1, 'a'), (2, 'a'), (3, 'b'), (4, 'c')""".stripMargin)
    spark.sql("DELETE FROM graft.pw.part_del WHERE grp = 'a'")
    assert(spark.table("graft.pw.part_del").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(3L, 4L))
    // IN-list over partition values works too
    spark.sql("DELETE FROM graft.pw.part_del WHERE grp IN ('b')")
    assert(spark.table("graft.pw.part_del").count() == 1)
    // non-partition predicate → row-level copy-on-write delete
    spark.sql("DELETE FROM graft.pw.part_del WHERE id = 4")
    assert(spark.table("graft.pw.part_del").count() == 0)
    spark.sql("INSERT INTO graft.pw.part_del VALUES (7, 'z')")
    // TRUNCATE (delete all) via AlwaysTrue
    spark.sql("DELETE FROM graft.pw.part_del")
    assert(spark.table("graft.pw.part_del").count() == 0)
    spark.sql("DROP TABLE graft.pw.part_del")
  }

  test("DELETE WHERE an always-false predicate deletes nothing") {
    // Constant folding turns `WHERE 1=0` into AlwaysFalse; the metadata
    // delete path must treat that as delete-NOTHING, not truncate —
    // on partitioned AND (the round-2 bug) unpartitioned tables.
    spark.sql("CREATE TABLE graft.pw.del_false (id BIGINT, s STRING)")
    spark.sql("INSERT INTO graft.pw.del_false VALUES (1, 'x'), (2, 'y')")
    spark.sql("DELETE FROM graft.pw.del_false WHERE 1 = 0")
    assert(spark.table("graft.pw.del_false").count() == 2)
    spark.sql("DELETE FROM graft.pw.del_false WHERE false")
    assert(spark.table("graft.pw.del_false").count() == 2)

    spark.sql(
      """CREATE TABLE graft.pw.del_false_p (id BIGINT, grp STRING)
        |PARTITIONED BY (grp)""".stripMargin)
    spark.sql("INSERT INTO graft.pw.del_false_p VALUES (1, 'a'), (2, 'b')")
    spark.sql("DELETE FROM graft.pw.del_false_p WHERE 1 = 0")
    assert(spark.table("graft.pw.del_false_p").count() == 2)
    // ... while the all-true spelling still truncates
    spark.sql("DELETE FROM graft.pw.del_false WHERE 1 = 1")
    assert(spark.table("graft.pw.del_false").count() == 0)
    spark.sql("DROP TABLE graft.pw.del_false")
    spark.sql("DROP TABLE graft.pw.del_false_p")
  }

  test("row-level DELETE/UPDATE/MERGE rewrite only the affected files") {
    spark.sql("CREATE TABLE graft.pw.cow (id BIGINT, grp STRING, v DOUBLE) PARTITIONED BY (grp)")
    spark.sql(
      """INSERT INTO graft.pw.cow
        |SELECT id, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END, id * 1.0
        |FROM range(100)""".stripMargin)
    def files(): Set[String] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        d.listFiles().toSeq.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
      walk(new java.io.File(s"$warehouse/pw/cow/data"))
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSet
    }
    val before = files()

    // DELETE on a non-partition predicate: copy-on-write, group-filtered
    spark.sql("DELETE FROM graft.pw.cow WHERE id = 4")
    assert(spark.table("graft.pw.cow").count() == 99)
    assert(spark.sql("SELECT * FROM graft.pw.cow WHERE id = 4").count() == 0)
    // COW replace is manifest-level: the affected file leaves the registry
    // (invisible to scans) but STAYS on disk for time travel; untouched
    // files keep their registry entries.
    def registered(): Set[String] = {
      val d = new org.apache.hadoop.fs.Path(s"$warehouse/pw/cow/data")
      graft.sources.TableStats.read(
        d.getFileSystem(new org.apache.hadoop.conf.Configuration()), d)
        .keySet.map(rel => s"$warehouse/pw/cow/data/$rel")
    }
    val afterDelete = registered()
    assert((before -- afterDelete).nonEmpty, "affected file must leave the manifest")
    assert((before intersect afterDelete).nonEmpty,
      "untouched files must survive a group-filtered delete")
    assert(files().intersect(before) == before,
      "replaced files stay on disk until vacuum (time travel)")

    // UPDATE
    spark.sql("UPDATE graft.pw.cow SET v = v + 1000 WHERE id < 10")
    // sum(v) after delete = 4950 - 4 = 4946; +1000 for each of the 9
    // remaining ids below 10 (4 was deleted)
    assert(spark.sql("SELECT CAST(SUM(v) AS BIGINT) s FROM graft.pw.cow")
      .head().getLong(0) == 4946L + 9 * 1000L)

    // MERGE INTO from another graft table (both sides expose _file)
    spark.sql("CREATE TABLE graft.pw.cow_src (id BIGINT, grp STRING, v DOUBLE)")
    spark.sql("INSERT INTO graft.pw.cow_src VALUES (2, 'a', -1.0), (200, 'a', 5.0)")
    spark.sql(
      """MERGE INTO graft.pw.cow t USING graft.pw.cow_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table("graft.pw.cow").count() == 100) // 99 + inserted 200
    assert(spark.sql("SELECT v FROM graft.pw.cow WHERE id = 2").head().getDouble(0) == -1.0)
    assert(spark.sql("SELECT * FROM graft.pw.cow WHERE id = 200").count() == 1)

    // _file metadata column is selectable and rows map to real files
    val fileVals = spark.sql("SELECT DISTINCT _file FROM graft.pw.cow")
      .collect().map(_.getString(0)).toSet
    assert(fileVals.nonEmpty && fileVals.forall(_.endsWith(".parquet")))
    spark.sql("DROP TABLE graft.pw.cow")
    spark.sql("DROP TABLE graft.pw.cow_src")
  }

  test("date-partitioned table: insert, prune, and DELETE round-trip") {
    spark.sql(
      """CREATE TABLE graft.pw.by_day (id BIGINT, dt DATE)
        |PARTITIONED BY (dt)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.pw.by_day VALUES
        |(1, DATE'2020-01-01'), (2, DATE'2020-01-02'), (3, DATE'2020-01-02'),
        |(4, DATE'2020-01-03')""".stripMargin)
    // directory names carry the external yyyy-MM-dd form, not int days
    val dirs = new java.io.File(s"$warehouse/pw/by_day/data").listFiles()
      .map(_.getName).filter(_.startsWith("dt=")).sorted
    assert(dirs.toSeq == Seq("dt=2020-01-01", "dt=2020-01-02", "dt=2020-01-03"), dirs.toSeq)
    assert(spark.table("graft.pw.by_day").count() == 4)
    assert(spark.sql("SELECT id FROM graft.pw.by_day WHERE dt = DATE'2020-01-02'")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    assert(spark.sql("SELECT id FROM graft.pw.by_day WHERE dt >= DATE'2020-01-03'")
      .collect().map(_.getLong(0)).toSeq == Seq(4L))
    spark.sql("DELETE FROM graft.pw.by_day WHERE dt < DATE'2020-01-02'")
    assert(spark.table("graft.pw.by_day").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(2L, 3L, 4L))
    spark.sql("DROP TABLE graft.pw.by_day")
    // timestamp partition columns are rejected at CREATE, not at first read
    intercept[Exception](spark.sql(
      "CREATE TABLE graft.pw.by_ts (id BIGINT, ts TIMESTAMP) PARTITIONED BY (ts)"))
  }

  test("warm-table statistics come from the commit-time cache, not footers") {
    spark.sql("CREATE TABLE graft.pw.stats_t (id BIGINT, grp STRING) PARTITIONED BY (grp)")
    spark.sql("INSERT INTO graft.pw.stats_t VALUES (1,'a'), (2,'a'), (3,'b')")
    // the commit wrote _stats.tsv next to the data
    assert(new java.io.File(s"$warehouse/pw/stats_t/data/_stats.tsv").exists())
    graft.sources.GraftScan.footerReads.set(0)
    val t = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("pw"), "stats_t"))
      .asInstanceOf[graft.sources.GraftTable]
    val scan = t.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of()))
      .build().asInstanceOf[graft.sources.GraftScan]
    val stats = scan.estimateStatistics()
    assert(stats.numRows().getAsLong == 3L)
    assert(graft.sources.GraftScan.footerReads.get() == 0L,
      "planning-time stats must not open parquet footers on a warm table")
    // appends keep the cache current
    spark.sql("INSERT INTO graft.pw.stats_t VALUES (4,'c')")
    val scan2 = t.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of()))
      .build().asInstanceOf[graft.sources.GraftScan]
    assert(scan2.estimateStatistics().numRows().getAsLong == 4L)
    assert(graft.sources.GraftScan.footerReads.get() == 0L)
    spark.sql("DROP TABLE graft.pw.stats_t")
  }

  test("ALTER TABLE DROP COLUMN: column disappears, data remains readable") {
    spark.sql("CREATE TABLE graft.pw.dropc (id BIGINT, a STRING, b DOUBLE)")
    spark.sql("INSERT INTO graft.pw.dropc VALUES (1,'x',1.5),(2,'y',2.5)")
    spark.sql("ALTER TABLE graft.pw.dropc DROP COLUMN a")
    assert(spark.table("graft.pw.dropc").columns.toSeq == Seq("id", "b"))
    assert(spark.sql("SELECT id, b FROM graft.pw.dropc ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      == Seq((1L, 1.5), (2L, 2.5)))
    // dropped column is gone for good
    intercept[Exception](spark.sql("SELECT a FROM graft.pw.dropc").collect())
    spark.sql("DROP TABLE graft.pw.dropc")
  }

  test("partition values with special characters round-trip") {
    spark.sql("CREATE TABLE graft.pw.specials (id BIGINT, k STRING) PARTITIONED BY (k)")
    spark.sql(
      """INSERT INTO graft.pw.specials VALUES
        |(1, 'a b'), (2, 'x=y'), (3, 'p/q'), (4, '100%'), (5, 'näive')""".stripMargin)
    assert(spark.table("graft.pw.specials").count() == 5)
    for ((v, id) <- Seq(("a b", 1L), ("x=y", 2L), ("p/q", 3L), ("100%", 4L), ("näive", 5L))) {
      val got = spark.sql(s"SELECT id FROM graft.pw.specials WHERE k = '${v.replace("'", "''")}'")
        .collect().map(_.getLong(0)).toSeq
      assert(got == Seq(id), s"value '$v': got $got")
    }
    spark.sql("DELETE FROM graft.pw.specials WHERE k = 'x=y'")
    assert(spark.table("graft.pw.specials").count() == 4)
    spark.sql("DROP TABLE graft.pw.specials")
  }

  test("CTAS is atomic: a failed CTAS leaves no table behind") {
    // failure injected mid-query: raise_error fires while writing rows
    intercept[Exception](spark.sql(
      """CREATE TABLE graft.pw.ctas_fail AS
        |SELECT id, CAST(raise_error('boom') AS STRING) AS x FROM range(10)""".stripMargin))
    assert(!spark.sql("SHOW TABLES IN graft.pw").collect()
      .map(_.getString(1)).contains("ctas_fail"))
    assert(!new java.io.File(s"$warehouse/pw/ctas_fail").exists())
    // no staging debris left behind either
    assert(!new java.io.File(s"$warehouse/pw").listFiles()
      .exists(_.getName.contains("ctas_fail")), "staging dir not cleaned up")
    // and a successful CTAS still lands
    spark.sql("CREATE TABLE graft.pw.ctas_ok AS SELECT id FROM range(5)")
    assert(spark.table("graft.pw.ctas_ok").count() == 5)
    // REPLACE TABLE AS SELECT swaps atomically
    spark.sql("REPLACE TABLE graft.pw.ctas_ok AS SELECT id * 2 AS id2 FROM range(3)")
    assert(spark.table("graft.pw.ctas_ok").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(0L, 2L, 4L))
    // failed REPLACE keeps the ORIGINAL table intact
    intercept[Exception](spark.sql(
      """REPLACE TABLE graft.pw.ctas_ok AS
        |SELECT CAST(raise_error('boom') AS STRING) AS x FROM range(10)""".stripMargin))
    assert(spark.table("graft.pw.ctas_ok").count() == 3,
      "failed REPLACE must leave the previous table untouched")
    spark.sql("DROP TABLE graft.pw.ctas_ok")
  }

  test("per-table storage properties shape the written parquet files") {
    spark.sql(
      """CREATE TABLE graft.pw.zipped (id BIGINT, v STRING)
        |TBLPROPERTIES ('write.compression'='gzip', 'write.dictionary'='false')
        |""".stripMargin)
    spark.sql("INSERT INTO graft.pw.zipped SELECT id, repeat('x', 100) FROM range(1000)")
    val files = new java.io.File(s"$warehouse/pw/zipped/data").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    val conf = new org.apache.hadoop.conf.Configuration()
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(files.head.getAbsolutePath), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val cols = r.getFooter.getBlocks.get(0).getColumns
      assert(cols.get(0).getCodec.name() == "GZIP", cols.get(0).getCodec)
      assert(!cols.get(1).getEncodings.toString.contains("RLE_DICTIONARY"),
        s"dictionary encoding should be off: ${cols.get(1).getEncodings}")
    } finally r.close()
    // data still reads back fine
    assert(spark.table("graft.pw.zipped").count() == 1000)
    spark.sql("DROP TABLE graft.pw.zipped")
  }

  test("write.bloom.columns: bloom filters land in the footer and discriminate") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pw")
    spark.sql(
      """CREATE TABLE graft.pw.bloomed (id BIGINT, h STRING)
        |TBLPROPERTIES ('write.bloom.columns'='h', 'write.bloom.ndv'='4096')
        |""".stripMargin)
    // high-cardinality values: every file's [min, max] on h spans the whole
    // domain, so range skipping can never prune an equality probe — exactly
    // the workload blooms exist for
    spark.sql(
      "INSERT INTO graft.pw.bloomed SELECT id, md5(CAST(id AS STRING)) FROM range(2000)")
    val files = new java.io.File(s"$warehouse/pw/bloomed/data").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    val conf = new org.apache.hadoop.conf.Configuration()
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(files.head.getAbsolutePath), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      import scala.jdk.CollectionConverters._
      val block = r.getFooter.getBlocks.get(0)
      val hCol = block.getColumns.asScala.find(_.getPath.toDotString == "h").get
      val bloom = r.getBloomFilterDataReader(block).readBloomFilter(hCol)
      assert(bloom != null, "no bloom filter written for h")
      // a present value hits, an absent value misses: the filter is real
      // and a row group full of this file's values would be SKIPPED for
      // an absent-key equality probe from the footer alone (blooms are
      // per-file: probe with a value from THIS file)
      val present = org.apache.parquet.io.api.Binary.fromString(
        spark.read.parquet(files.head.getAbsolutePath).head().getString(1))
      val absent = org.apache.parquet.io.api.Binary.fromString("definitely-not-an-md5")
      assert(bloom.findHash(bloom.hash(present)), "present value must hit the bloom")
      assert(!bloom.findHash(bloom.hash(absent)), "absent value must miss the bloom")
      // the id column got NO bloom (only listed columns pay the footer bytes)
      val idCol = block.getColumns.asScala.find(_.getPath.toDotString == "id").get
      assert(r.getBloomFilterDataReader(block).readBloomFilter(idCol) == null)
    } finally r.close()
    // equality probes stay correct through the bloom'd files
    assert(spark.table("graft.pw.bloomed")
      .where("h = md5('13')").collect().map(_.getLong(0)).toSeq == Seq(13L))
    assert(spark.table("graft.pw.bloomed").where("h = 'nope'").count() == 0L)
    spark.sql("DROP TABLE graft.pw.bloomed")
  }

  test("maintenance SQL: OPTIMIZE / ANALYZE / RESTORE / VACUUM statements") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pw")
    spark.sql("CREATE TABLE graft.pw.maint (id BIGINT, v STRING)")
    for (i <- 0 until 4)
      spark.sql(s"INSERT INTO graft.pw.maint SELECT id * 4 + $i, concat('v', id) FROM range(50)")
    val goodVersion = graft.sources.Snapshots.list(
      new org.apache.hadoop.fs.Path(s"$warehouse/pw/maint/data")
        .getFileSystem(new org.apache.hadoop.conf.Configuration()),
      new org.apache.hadoop.fs.Path(s"$warehouse/pw/maint/data")).last._1

    // OPTIMIZE consolidates the four small files
    val opt = spark.sql("OPTIMIZE graft.pw.maint").head()
    assert(opt.getInt(0) >= 4 && opt.getInt(1) >= 1 && opt.getInt(1) < opt.getInt(0),
      opt.toString)
    assert(spark.table("graft.pw.maint").count() == 200)
    // OPTIMIZE ... SORT BY produces range-disjoint files (already proven
    // in depth elsewhere; here: the statement parses and runs)
    spark.sql("INSERT INTO graft.pw.maint SELECT id + 1000, 'x' FROM range(10)")
    spark.sql("INSERT INTO graft.pw.maint SELECT id + 2000, 'y' FROM range(10)")
    assert(spark.sql("OPTIMIZE graft.pw.maint SORT BY id").head().getInt(0) >= 2)
    assert(spark.table("graft.pw.maint").count() == 220)

    // ANALYZE TABLE (standard grammar, graft target) persists NDV stats
    spark.sql("ANALYZE TABLE graft.pw.maint COMPUTE STATISTICS FOR COLUMNS id, v")
    val ndv = graft.sources.Analyze.read(
      new org.apache.hadoop.fs.Path(s"$warehouse/pw/maint/data")
        .getFileSystem(new org.apache.hadoop.conf.Configuration()),
      new org.apache.hadoop.fs.Path(s"$warehouse/pw/maint/data"))
    assert(ndv.contains("id") && ndv.contains("v"), ndv.keySet)

    // RESTORE rolls back to the pre-optimize snapshot
    val rs = spark.sql(s"RESTORE TABLE graft.pw.maint TO VERSION AS OF $goodVersion").head()
    assert(rs.getLong(0) == goodVersion && rs.getLong(1) > goodVersion)
    assert(spark.table("graft.pw.maint").count() == 200)

    // VACUUM runs through SQL (age guard keeps fresh files: 0 deleted now)
    val vac = spark.sql("VACUUM graft.pw.maint RETAIN 5 SNAPSHOTS").head()
    assert(vac.getInt(0) == 0, vac.toString)

    // DESCRIBE HISTORY lists every snapshot with its manifest totals
    val hist = spark.sql("DESCRIBE HISTORY graft.pw.maint").collect()
    assert(hist.length >= 8 && hist.map(_.getLong(0)).toSeq.sorted == hist.map(_.getLong(0)).toSeq)
    assert(hist.last.getLong(3) == 200L, s"head rows ${hist.last.getLong(3)}")

    // DESCRIBE DETAIL: one operational summary row off the registry alone
    val det = spark.sql("DESCRIBE DETAIL graft.pw.maint").head()
    assert(det.getString(0).endsWith("/pw/maint") && det.getString(1) == "graft")
    assert(det.getLong(2) == hist.last.getLong(0), "version = latest snapshot")
    assert(det.getLong(5) == 200L, s"rows ${det.getLong(5)}")
    assert(det.getLong(3) >= 1 && det.getLong(4) == 0L) // files, delete files
    assert(det.getLong(6) == 0L) // delete_rows
    assert(det.getString(10) == "copy-on-write")

    // TAGS: pin the current head under a name, read through it, keep it
    // past vacuum, drop it
    spark.sql("ALTER TABLE graft.pw.maint CREATE TAG stable")
    val taggedV = spark.sql("SHOW TAGS graft.pw.maint").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap.apply("stable")
    spark.sql("INSERT INTO graft.pw.maint SELECT id + 9000, 'z' FROM range(7)")
    assert(spark.sql("SELECT COUNT(*) FROM graft.pw.maint VERSION AS OF 'stable'")
      .head().getLong(0) == 200)
    assert(spark.table("graft.pw.maint").count() == 207)
    // vacuum far past the retain window: the tagged manifest must survive
    graft.sources.Snapshots.vacuum(s"$warehouse/pw/maint", retain = 1,
      minAgeMillis = 0)
    assert(spark.sql("SELECT COUNT(*) FROM graft.pw.maint VERSION AS OF 'stable'")
      .head().getLong(0) == 200,
      "vacuum must never expire a tagged snapshot")
    // RESTORE resolves tags and timestamps, not only version numbers
    spark.sql("ALTER TABLE graft.pw.maint CREATE TAG prez")
    spark.sql("INSERT INTO graft.pw.maint SELECT id + 20000, 'w' FROM range(3)")
    assert(spark.table("graft.pw.maint").count() == 210)
    spark.sql("RESTORE TABLE graft.pw.maint TO VERSION AS OF 'prez'")
    assert(spark.table("graft.pw.maint").count() == 207,
      "tag-based RESTORE must roll back to the tagged manifest")
    intercept[Exception](
      spark.sql("RESTORE graft.pw.maint TO VERSION AS OF 'no-such-tag'"))
    // timestamp in the future resolves to the current head (latest ≤ ts)
    val rts = spark.sql(
      "RESTORE TABLE graft.pw.maint TO TIMESTAMP AS OF '2099-01-01 00:00:00'").head()
    assert(rts.getLong(1) > rts.getLong(0))
    assert(spark.table("graft.pw.maint").count() == 207)
    // ...and one before any snapshot refuses loudly
    intercept[Exception](spark.sql(
      "RESTORE graft.pw.maint TO TIMESTAMP AS OF '1990-01-01'"))

    spark.sql("ALTER TABLE graft.pw.maint DROP TAG stable")
    intercept[Exception](
      spark.sql("SELECT * FROM graft.pw.maint VERSION AS OF 'stable'").collect())
    assert(taggedV > 0)

    // non-graft targets fall through to Spark untouched
    intercept[Exception](spark.sql("OPTIMIZE not_a_graft_table"))
    spark.sql("DROP TABLE graft.pw.maint")
  }

  test("days() hidden partitioning prunes day directories from timestamp filters") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pw")
    spark.sql(
      """CREATE TABLE graft.pw.dayed (id BIGINT, ts TIMESTAMP_NTZ, v DOUBLE)
        |PARTITIONED BY (days(ts))""".stripMargin)
    // 10 days of data, one insert (clustered write → ~one file per day)
    spark.sql(
      """INSERT INTO graft.pw.dayed
        |SELECT id,
        |  cast(timestamp_micros(cast(1704067200000000 + id * 864000000 as bigint))
        |       as timestamp_ntz) AS ts,
        |  cast(id as double)
        |FROM range(1000)""".stripMargin)
    // layout: data/ts.day=2024-01-0X/...
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val dirs = new java.io.File(s"$wh/pw/dayed/data").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.length == 10 && dirs.forall(_.startsWith("ts.day=2024-01-")), dirs.toSeq)

    def parts(sql: String) = spark.sql(sql).rdd.getNumPartitions
    val all = parts("SELECT id FROM graft.pw.dayed")
    // hidden partitioning: a plain timestamp range names no partition
    // column yet prunes to the covered days
    val oneDay = parts("SELECT id FROM graft.pw.dayed " +
      "WHERE ts >= TIMESTAMP_NTZ '2024-01-03 00:00:00' " +
      "AND ts < TIMESTAMP_NTZ '2024-01-04 00:00:00'")
    assert(oneDay < all && oneDay >= 1, s"oneDay=$oneDay all=$all")
    assert(parts("SELECT id FROM graft.pw.dayed " +
      "WHERE ts < TIMESTAMP_NTZ '2020-01-01 00:00:00'") == 0)
    // values through the pruned read stay exact
    val n = spark.sql("SELECT count(*) FROM graft.pw.dayed " +
      "WHERE ts >= TIMESTAMP_NTZ '2024-01-03 00:00:00' " +
      "AND ts < TIMESTAMP_NTZ '2024-01-04 00:00:00'").head().getLong(0)
    assert(n == 100L, s"n=$n") // 864s step → exactly 100 rows/day
    spark.sql("DROP TABLE graft.pw.dayed")
  }

  test("months() and hours() transforms partition and prune like days()") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pw")
    // months over DATE: ~5 months of data, one row per day
    spark.sql(
      """CREATE TABLE graft.pw.monthly (id BIGINT, d DATE, v DOUBLE)
        |PARTITIONED BY (months(d))""".stripMargin)
    spark.sql(
      """INSERT INTO graft.pw.monthly
        |SELECT id, date_add(DATE '2024-01-01', cast(id as int)), cast(id as double)
        |FROM range(150)""".stripMargin)
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val mdirs = new java.io.File(s"$wh/pw/monthly/data").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(mdirs.length == 5 && mdirs.head == "d.month=2024-01", mdirs.toSeq)
    def parts(sql: String) = spark.sql(sql).rdd.getNumPartitions
    val mAll = parts("SELECT id FROM graft.pw.monthly")
    val oneMonth = parts(
      "SELECT id FROM graft.pw.monthly WHERE d >= DATE '2024-03-01' AND d < DATE '2024-04-01'")
    assert(oneMonth < mAll && oneMonth >= 1, s"oneMonth=$oneMonth all=$mAll")
    assert(spark.sql("SELECT count(*) FROM graft.pw.monthly WHERE d >= DATE '2024-03-01' " +
      "AND d < DATE '2024-04-01'").head().getLong(0) == 31L)

    // hours over TIMESTAMP_NTZ: 48 hours, one row per 10 minutes
    spark.sql(
      """CREATE TABLE graft.pw.hourly (id BIGINT, ts TIMESTAMP_NTZ)
        |PARTITIONED BY (hours(ts))""".stripMargin)
    spark.sql(
      """INSERT INTO graft.pw.hourly
        |SELECT id, cast(timestamp_micros(cast(1704067200000000 + id * 600000000 as bigint))
        |               as timestamp_ntz)
        |FROM range(288)""".stripMargin)
    val hdirs = new java.io.File(s"$wh/pw/hourly/data").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(hdirs.length == 48 && hdirs.head == "ts.hour=2024-01-01-00", hdirs.toSeq)
    val hAll = parts("SELECT id FROM graft.pw.hourly")
    val oneHour = parts("SELECT id FROM graft.pw.hourly " +
      "WHERE ts >= TIMESTAMP_NTZ '2024-01-01 05:00:00' " +
      "AND ts < TIMESTAMP_NTZ '2024-01-01 06:00:00'")
    assert(oneHour < hAll && oneHour >= 1, s"oneHour=$oneHour all=$hAll")
    assert(spark.sql("SELECT count(*) FROM graft.pw.hourly " +
      "WHERE ts >= TIMESTAMP_NTZ '2024-01-01 05:00:00' " +
      "AND ts < TIMESTAMP_NTZ '2024-01-01 06:00:00'").head().getLong(0) == 6L)
    spark.sql("DROP TABLE graft.pw.monthly")
    spark.sql("DROP TABLE graft.pw.hourly")
  }

  test("ALTER TABLE RENAME COLUMN: metadata-only, mixed old/new files read back") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pw")
    spark.sql("CREATE TABLE graft.pw.rn (id BIGINT, b STRING)")
    spark.sql("INSERT INTO graft.pw.rn SELECT id, concat('v', id) FROM range(5)")
    spark.sql("ALTER TABLE graft.pw.rn RENAME COLUMN b TO s")
    // schema shows the new name; data written under the OLD name reads
    // through it without any file rewrite
    assert(spark.table("graft.pw.rn").columns.toSeq == Seq("id", "s"))
    def all() = spark.table("graft.pw.rn").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(all() == (0L until 5L).map(i => (i, s"v$i")))
    // new files use the new physical name; both generations read together
    spark.sql("INSERT INTO graft.pw.rn SELECT id, concat('v', id) FROM range(5, 8)")
    assert(all() == (0L until 8L).map(i => (i, s"v$i")))
    // filters on the renamed column stay correct (residual evaluation)
    assert(spark.sql("SELECT id FROM graft.pw.rn WHERE s = 'v2'")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(spark.sql("SELECT id FROM graft.pw.rn WHERE s = 'v6'")
      .collect().map(_.getLong(0)).toSeq == Seq(6L))
    // a SECOND rename chains the history: files now exist under b AND s
    spark.sql("ALTER TABLE graft.pw.rn RENAME COLUMN s TO t")
    spark.sql("INSERT INTO graft.pw.rn SELECT id, concat('v', id) FROM range(8, 10)")
    assert(spark.table("graft.pw.rn").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      == (0L until 10L).map(i => (i, s"v$i")))
    // row-level COW reads pre-rename files THROUGH the history: a DELETE
    // must not null the renamed column of surviving rows in old files
    spark.sql("DELETE FROM graft.pw.rn WHERE id = 3")
    assert(spark.table("graft.pw.rn").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      == (0L until 10L).filterNot(_ == 3L).map(i => (i, s"v$i")),
      "COW rewrite lost renamed-column values from pre-rename files")
    spark.sql("INSERT INTO graft.pw.rn VALUES (3, 'v3')") // restore for below
    // guards: former names stay reserved; partition columns immovable
    intercept[Exception](spark.sql("ALTER TABLE graft.pw.rn ADD COLUMN b STRING"))
    intercept[Exception](spark.sql("ALTER TABLE graft.pw.rn RENAME COLUMN id TO b"))
    // renaming BACK to the column's own former name is allowed
    spark.sql("ALTER TABLE graft.pw.rn RENAME COLUMN t TO s")
    assert(spark.table("graft.pw.rn").columns.toSeq == Seq("id", "s"))
    assert(spark.sql("SELECT id FROM graft.pw.rn WHERE s = 'v1'")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // compaction MIGRATES the old physical names to the current one
    val t = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("pw"), "rn"))
      .asInstanceOf[graft.sources.GraftTable]
    val (removed, written) = graft.sources.Compaction.compact(spark, t, outputFiles = 1)
    assert(removed >= 3 && written == 1, s"$removed -> $written")
    assert(spark.table("graft.pw.rn").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      == (0L until 10L).map(i => (i, s"v$i")))
    // a DROPPED column's names stay reserved forever: re-adding one would
    // resurrect the dropped column's bytes from old files
    spark.sql("ALTER TABLE graft.pw.rn DROP COLUMN s")
    intercept[Exception](spark.sql("ALTER TABLE graft.pw.rn ADD COLUMN s STRING"))
    intercept[Exception](spark.sql("ALTER TABLE graft.pw.rn ADD COLUMN b STRING"))
    intercept[Exception](spark.sql("ALTER TABLE graft.pw.rn ADD COLUMN t STRING"))
    spark.sql("ALTER TABLE graft.pw.rn ADD COLUMN s2 STRING") // fresh name fine
    assert(spark.table("graft.pw.rn").collect().forall(_.isNullAt(1)),
      "dropped column's data must not resurface under a new column")
    spark.sql("DROP TABLE graft.pw.rn")
  }

  test("views: create, select-through, replace, show, drop") {
    spark.sql("CREATE TABLE graft.pw.vt (id BIGINT, grp STRING)")
    spark.sql("INSERT INTO graft.pw.vt VALUES (1,'a'),(2,'b'),(3,'b')")
    spark.sql("CREATE VIEW graft.pw.v1 AS SELECT grp, count(*) AS n FROM graft.pw.vt GROUP BY grp")
    // view text stored, expanded at resolution
    assert(new java.io.File(s"$warehouse/pw/v1/_view.yml").exists())
    assert(spark.sql("SELECT * FROM graft.pw.v1 ORDER BY grp")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("a", 1L), ("b", 2L)))
    // views compose with further SQL and with each other
    assert(spark.sql("SELECT sum(n) AS s FROM graft.pw.v1").collect().head.getLong(0) == 3L)
    // CREATE OR REPLACE changes the definition
    spark.sql("CREATE OR REPLACE VIEW graft.pw.v1 AS SELECT count(*) AS total FROM graft.pw.vt")
    assert(spark.sql("SELECT total FROM graft.pw.v1").collect().head.getLong(0) == 3L)
    // IF NOT EXISTS is a no-op on an existing view
    spark.sql("CREATE VIEW IF NOT EXISTS graft.pw.v1 AS SELECT 1 AS x")
    assert(spark.sql("SELECT total FROM graft.pw.v1").count() == 1)
    // plain CREATE over an existing view fails
    intercept[Exception](
      spark.sql("CREATE VIEW graft.pw.v1 AS SELECT 1 AS x"))
    // SHOW VIEWS lists it; views don't appear as tables
    assert(spark.sql("SHOW VIEWS IN graft.pw").collect().map(_.getString(1)).contains("v1"))
    assert(!spark.sql("SHOW TABLES IN graft.pw").collect().map(_.getString(1)).contains("v1"))
    // programmatic ViewCatalog surface agrees
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val vid = org.apache.spark.sql.connector.catalog.Identifier.of(Array("pw"), "v1")
    assert(cat.viewExists(vid) && cat.loadView(vid).query().contains("count(*)"))
    spark.sql("DROP VIEW graft.pw.v1")
    intercept[Exception](spark.sql("SELECT * FROM graft.pw.v1").collect())
    intercept[Exception](spark.sql("DROP VIEW graft.pw.v1"))
    spark.sql("DROP VIEW IF EXISTS graft.pw.v1") // no-op, no error
    spark.sql("DROP TABLE graft.pw.vt")
  }

  test("view existence probes are cached across analyzer passes") {
    spark.sql("CREATE TABLE graft.pw.vc (id BIGINT)")
    spark.sql("INSERT INTO graft.pw.vc VALUES (1), (2)")
    spark.sql("CREATE VIEW graft.pw.vcv AS SELECT id FROM graft.pw.vc WHERE id > 0")
    // warm the existence cache (one probe per relation)
    assert(spark.sql("SELECT * FROM graft.pw.vcv").count() == 2)
    spark.sql("SELECT v.id FROM graft.pw.vcv v JOIN graft.pw.vc t ON v.id = t.id")
      .queryExecution.analyzed
    // further analysis — multiple passes, multiple relations — must not
    // stat _view.yml again (the round-2 cost: one FS stat per relation
    // per analyzer pass)
    val calls0 = graft.sources.GraftCatalog.viewStatCalls.get()
    for (_ <- 1 to 5)
      spark.sql("SELECT v.id FROM graft.pw.vcv v JOIN graft.pw.vc t ON v.id = t.id")
        .queryExecution.analyzed
    assert(graft.sources.GraftCatalog.viewStatCalls.get() == calls0,
      "repeated analysis re-stats _view.yml instead of hitting the cache")
    // DDL invalidates: a drop is visible immediately...
    spark.sql("DROP VIEW graft.pw.vcv")
    intercept[Exception](spark.sql("SELECT * FROM graft.pw.vcv").collect())
    // ...and so is a recreate
    spark.sql("CREATE VIEW graft.pw.vcv AS SELECT id FROM graft.pw.vc WHERE id = 1")
    assert(spark.sql("SELECT * FROM graft.pw.vcv").count() == 1)
    spark.sql("DROP VIEW graft.pw.vcv")
    spark.sql("DROP TABLE graft.pw.vc")
  }

  test("row-level rewrites preserve the row keys of surviving rows") {
    spark.sql(
      s"""CREATE TABLE graft.pw.keyed_cow (row_key STRING, id BIGINT)
         |TBLPROPERTIES ('${graft.functions.RowKeyGenerator.Property}' =
         |  'graft.functions.DefaultRowKeyGenerator')""".stripMargin)
    spark.sql("INSERT INTO graft.pw.keyed_cow SELECT '', id FROM range(20)")
    val before = spark.sql("SELECT id, row_key FROM graft.pw.keyed_cow")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    spark.sql("DELETE FROM graft.pw.keyed_cow WHERE id = 7") // row-level COW
    val after = spark.sql("SELECT id, row_key FROM graft.pw.keyed_cow")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!after.contains(7L) && after.size == 19)
    assert(after == before - 7L,
      "surviving rows must keep their original row keys through a rewrite")
    spark.sql("DROP TABLE graft.pw.keyed_cow")
  }

  test("compaction merges small files per partition and keeps data + stats exact") {
    spark.sql("CREATE TABLE graft.pw.cmp (id BIGINT, grp STRING) PARTITIONED BY (grp)")
    for (i <- 0 until 4)
      spark.sql(s"INSERT INTO graft.pw.cmp SELECT id + ${i * 10}, " +
        s"CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(10)")
    def parquetFiles(): Seq[java.io.File] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        d.listFiles().toSeq.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
      walk(new java.io.File(s"$warehouse/pw/cmp/data")).filter(_.getName.endsWith(".parquet"))
    }
    val before = parquetFiles().size
    assert(before >= 8, s"expected many small files, got $before")
    val want = spark.table("graft.pw.cmp").collect().map(_.getLong(0)).sorted.toSeq

    val t = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("pw"), "cmp"))
      .asInstanceOf[graft.sources.GraftTable]
    val (removed, written) = graft.sources.Compaction.compact(spark, t)
    assert(removed == before && written < before,
      s"compacted $removed -> $written (before=$before)")
    // swap is manifest-level: originals stay on disk (time travel) until
    // vacuum physically reclaims everything no retained snapshot references
    assert(parquetFiles().size == before + written)
    val (reclaimed, _) = graft.sources.Snapshots.vacuum(
      s"$warehouse/pw/cmp", retain = 0, minAgeMillis = 0L)
    assert(reclaimed == before, s"vacuum reclaimed $reclaimed, want $before")
    assert(parquetFiles().size == written)
    // identical data, still partitioned on disk
    assert(spark.table("graft.pw.cmp").collect().map(_.getLong(0)).sorted.toSeq == want)
    assert(spark.sql("SELECT id FROM graft.pw.cmp WHERE grp = 'a'").count() == 20)
    // stats registry re-pointed: exact rows, no footer reads
    graft.sources.GraftScan.footerReads.set(0)
    val scan = t.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of()))
      .build().asInstanceOf[graft.sources.GraftScan]
    assert(scan.estimateStatistics().numRows().getAsLong == 40L)
    assert(graft.sources.GraftScan.footerReads.get() == 0L)
    // idempotent: second run finds nothing to do
    assert(graft.sources.Compaction.compact(spark, t, smallBytes = 10) == ((0, 0)))
    spark.sql("DROP TABLE graft.pw.cmp")
  }

  test("partitioned INSERT clusters rows: files per partition value, not per task") {
    spark.sql("CREATE TABLE graft.pw.clw (id BIGINT, grp STRING) PARTITIONED BY (grp)")
    // 4-task source, 2 partition values: without the write's requested
    // clustered distribution this would write up to 4 x 2 = 8 files
    spark.range(0, 4000).repartition(4)
      .selectExpr("id", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS grp")
      .writeTo("graft.pw.clw").append()
    def walk(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
    val files = walk(new java.io.File(s"$warehouse/pw/clw/data"))
      .filter(_.getName.endsWith(".parquet"))
    assert(files.size <= 3, s"clustered write produced ${files.size} files")
    assert(spark.table("graft.pw.clw").count() == 4000)
    assert(spark.sql("SELECT count(*) FROM graft.pw.clw WHERE grp = 'a'")
      .head().getLong(0) == 2000)
    spark.sql("DROP TABLE graft.pw.clw")
  }

  test("bucket partitioning: writes route to buckets, point lookups prune") {
    spark.sql(
      "CREATE TABLE graft.pw.bkt (k BIGINT, v STRING) PARTITIONED BY (bucket(8, k))")
    spark.range(0, 2000).selectExpr("id AS k", "CAST(id AS STRING) AS v")
      .writeTo("graft.pw.bkt").append()
    // on-disk layout: data/k.bucket=<id>/...
    val dirs = new java.io.File(s"$warehouse/pw/bkt/data").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("k.bucket=")), dirs)
    assert(dirs.length == 8, s"2000 keys should populate all 8 buckets: $dirs")
    assert(spark.table("graft.pw.bkt").count() == 2000)
    // point lookup: correct values...
    assert(spark.sql("SELECT v FROM graft.pw.bkt WHERE k = 1234")
      .collect().map(_.getString(0)).toSeq == Seq("1234"))
    assert(spark.sql("SELECT v FROM graft.pw.bkt WHERE k IN (5, 900)")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("5", "900"))
    // ...and only the matching bucket's files are planned
    val t = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("pw"), "bkt"))
      .asInstanceOf[graft.sources.GraftTable]
    def planned(fs: Array[org.apache.spark.sql.sources.Filter]): Int = {
      val b = t.newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of()))
      b.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters]
        .pushFilters(fs)
      b.build().asInstanceOf[graft.sources.GraftScan].toBatch.planInputPartitions().length
    }
    val total = planned(Array.empty)
    val one = planned(Array(org.apache.spark.sql.sources.EqualTo("k", 1234L)))
    assert(one * 4 <= total, s"bucket pruning: $one of $total partitions planned")
    // a DELETE on the bucket source column takes the row-level path
    spark.sql("DELETE FROM graft.pw.bkt WHERE k = 77")
    assert(spark.table("graft.pw.bkt").count() == 1999)
    assert(spark.sql("SELECT count(*) FROM graft.pw.bkt WHERE k = 77").head().getLong(0) == 0)
    spark.sql("DROP TABLE graft.pw.bkt")
  }

  test("write.sort.columns: INSERT lands range-disjoint files at ingest") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pw")
    spark.sql(
      """CREATE TABLE graft.pw.sw (id BIGINT, v DOUBLE)
        |TBLPROPERTIES ('write.sort.columns' = 'id')""".stripMargin)
    // an interleaved source: without the ordered distribution every task's
    // file would span the whole id domain. AQE would rightly coalesce a
    // 2000-row shuffle to one partition — pin it off so the test sees the
    // multi-task shape a real ingest has.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try
      spark.sql("INSERT INTO graft.pw.sw SELECT (id * 7919) % 2000 AS id, " +
        "CAST(id AS DOUBLE) FROM range(2000)")
    finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    val t = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("pw"), "sw"))
      .asInstanceOf[graft.sources.GraftTable]
    val fs = new org.apache.hadoop.fs.Path(t.dataDir)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val ranges = graft.sources.TableStats
      .read(fs, new org.apache.hadoop.fs.Path(t.dataDir))
      .values.toSeq.flatMap(_.cols.get("id"))
      .map { case (mn, mx) => (mn.toLong, mx.toLong) }.sorted
    assert(ranges.size >= 2, s"expected a range-partitioned multi-file insert, got $ranges")
    ranges.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax < bMin, s"overlapping ingest ranges: $ranges")
      case _ => ()
    }
    // a point query plans exactly one file straight after the insert
    val fresh = t.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of()))
    fresh.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters]
      .pushFilters(Array(org.apache.spark.sql.sources.EqualTo("id", 600L)))
    val parts = fresh.build().asInstanceOf[graft.sources.GraftScan]
      .toBatch.planInputPartitions()
    assert(parts.length == 1, s"point query planned ${parts.length} files, want 1")
    spark.sql("DROP TABLE graft.pw.sw")
  }

  test("ALTER COLUMN TYPE widening: metadata-only, mixed generations read") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pw")
    spark.sql("CREATE TABLE graft.pw.wd (id BIGINT, n INT, x FLOAT)")
    spark.sql("INSERT INTO graft.pw.wd VALUES (1, 10, CAST(1.5 AS FLOAT))," +
      " (2, 20, CAST(2.5 AS FLOAT))")
    spark.sql("ALTER TABLE graft.pw.wd ALTER COLUMN n TYPE BIGINT")
    spark.sql("ALTER TABLE graft.pw.wd ALTER COLUMN x TYPE DOUBLE")
    // post-widening insert writes the wide type; both generations coexist
    spark.sql("INSERT INTO graft.pw.wd VALUES (3, 4000000000, 3.25)")
    val rows = spark.sql("SELECT id, n, x FROM graft.pw.wd ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows == Seq((1L, 10L, 1.5), (2L, 20L, 2.5), (3L, 4000000000L, 3.25)))
    // filters on the widened column stay correct (residual evaluation)
    assert(spark.sql("SELECT id FROM graft.pw.wd WHERE n > 15").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    // aggregates over mixed generations
    assert(spark.sql("SELECT SUM(n) FROM graft.pw.wd").head().getLong(0) ==
      4000000030L)
    // narrowing and string conversions refuse loudly
    intercept[Exception](
      spark.sql("ALTER TABLE graft.pw.wd ALTER COLUMN id TYPE INT"))
    // compaction migrates old files to the wide type
    val t = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("pw"), "wd"))
      .asInstanceOf[graft.sources.GraftTable]
    graft.sources.Compaction.compact(spark, t)
    assert(spark.sql("SELECT SUM(n) FROM graft.pw.wd").head().getLong(0) ==
      4000000030L)
    spark.sql("DROP TABLE graft.pw.wd")
  }

  test("truncate(w, col) hidden partitioning prunes token directories") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pw")
    spark.sql(
      """CREATE TABLE graft.pw.tr (id BIGINT, w STRING, v DOUBLE)
        |PARTITIONED BY (truncate(100, id))""".stripMargin)
    spark.sql("INSERT INTO graft.pw.tr SELECT id, concat('k', id), " +
      "CAST(id AS DOUBLE) FROM range(1000)")
    // layout: data/id.trunc=<floor>/...
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val dataDir = new org.apache.hadoop.fs.Path(s"$wh/pw/tr/data")
    val fs = dataDir.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val dirs = fs.listStatus(dataDir).filter(_.isDirectory).map(_.getPath.getName)
    assert(dirs.count(_.startsWith("id.trunc=")) == 10, dirs.toSeq.sorted.mkString(","))
    // contents round-trip
    assert(spark.table("graft.pw.tr").count() == 1000)
    // point filter on the SOURCE column plans only its token directory
    def planned(f: org.apache.spark.sql.sources.Filter): Int = {
      val t = spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("pw"), "tr"))
        .asInstanceOf[graft.sources.GraftTable]
      val sb = t.newScanBuilder(
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of()))
      sb.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters]
        .pushFilters(Array(f))
      sb.build().asInstanceOf[graft.sources.GraftScan].toBatch.planInputPartitions().length
    }
    val all = planned(org.apache.spark.sql.sources.IsNotNull("id"))
    assert(planned(org.apache.spark.sql.sources.EqualTo("id", 250L)) * 5 <= all,
      "point query should plan ~1/10 of the files")
    assert(planned(org.apache.spark.sql.sources.GreaterThanOrEqual("id", 850L)) * 3 <= all,
      "range query should plan the tail token dirs only")
    // values stay correct through the pruned plan
    assert(spark.sql("SELECT COUNT(*) FROM graft.pw.tr WHERE id >= 850")
      .head().getLong(0) == 150)
    assert(spark.sql("SELECT v FROM graft.pw.tr WHERE id = 250").head().getDouble(0) == 250.0)
    spark.sql("DROP TABLE graft.pw.tr")

    // string truncation: prefix directories + startsWith pruning
    spark.sql(
      """CREATE TABLE graft.pw.trs (k STRING, v BIGINT)
        |PARTITIONED BY (truncate(2, k))""".stripMargin)
    spark.sql("INSERT INTO graft.pw.trs VALUES ('aardvark', 1), ('aargh', 2)," +
      " ('beta', 3), ('bet', 4), ('ca', 5), (NULL, 6)")
    val dirs2 = new org.apache.hadoop.fs.Path(s"$wh/pw/trs/data")
    val names2 = fs.listStatus(dirs2).filter(_.isDirectory).map(_.getPath.getName).sorted
    assert(names2.toSeq == Seq("k.trunc=__null__", "k.trunc=aa", "k.trunc=be", "k.trunc=ca"),
      names2.mkString(","))
    assert(spark.sql("SELECT SUM(v) FROM graft.pw.trs WHERE k LIKE 'be%'")
      .head().getLong(0) == 7)
    assert(spark.sql("SELECT v FROM graft.pw.trs WHERE k IS NULL").head().getLong(0) == 6)
    spark.sql("DROP TABLE graft.pw.trs")
  }

  test("partition spec evolution: mixed layouts read, new writes re-lay, compaction migrates") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pw")
    spark.sql(
      """CREATE TABLE graft.pw.pe (id BIGINT, lang STRING, v DOUBLE)
        |PARTITIONED BY (lang)""".stripMargin)
    spark.sql("INSERT INTO graft.pw.pe SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END, CAST(id AS DOUBLE) FROM range(100)")
    // evolve: lang dirs -> id range dirs; zero files rewritten
    spark.sql("ALTER TABLE graft.pw.pe SET PARTITION SPEC (truncate(50, id))")
    spark.sql("INSERT INTO graft.pw.pe SELECT id + 100, 'fr', CAST(id AS DOUBLE) FROM range(100)")
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val dataDir = new org.apache.hadoop.fs.Path(s"$wh/pw/pe/data")
    val fs = dataDir.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val topDirs = fs.listStatus(dataDir).filter(_.isDirectory).map(_.getPath.getName).sorted
    assert(topDirs.exists(_.startsWith("lang=")) && topDirs.exists(_.startsWith("id.trunc=")),
      topDirs.mkString(","))
    // both generations read through one scan
    assert(spark.table("graft.pw.pe").count() == 200)
    assert(spark.sql("SELECT COUNT(*) FROM graft.pw.pe WHERE lang = 'en'")
      .head().getLong(0) == 50)
    assert(spark.sql("SELECT COUNT(*) FROM graft.pw.pe WHERE id >= 150")
      .head().getLong(0) == 50)
    // partition DELETE is refused while layouts are mixed: it routes to
    // the row-level path and still deletes correctly
    spark.sql("DELETE FROM graft.pw.pe WHERE lang = 'de'")
    assert(spark.table("graft.pw.pe").count() == 150)
    assert(spark.sql("SELECT COUNT(*) FROM graft.pw.pe WHERE lang = 'de'")
      .head().getLong(0) == 0)
    // compaction migrates everything to the current layout
    val t = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("pw"), "pe"))
      .asInstanceOf[graft.sources.GraftTable]
    graft.sources.Compaction.compact(spark, t)
    val live = graft.sources.TableStats.read(fs, dataDir).keySet
    assert(live.nonEmpty && live.forall(_.startsWith("id.trunc=")),
      s"compaction should migrate layouts: $live")
    assert(spark.table("graft.pw.pe").count() == 150)
    // with one uniform layout again, partition deletes are metadata-only
    spark.sql("ALTER TABLE graft.pw.pe SET PARTITION SPEC (lang)")
    graft.sources.Compaction.compact(spark, t)
    spark.sql("DROP TABLE graft.pw.pe")

    // PARAMETER-ONLY evolution: the directory names stay identical, so
    // only the spec's since-version tells old files apart — without it a
    // width change would misprune pre-change files and silently lose rows
    spark.sql(
      """CREATE TABLE graft.pw.pw (id BIGINT, v DOUBLE)
        |PARTITIONED BY (truncate(100, id))""".stripMargin)
    spark.sql("INSERT INTO graft.pw.pw SELECT id, CAST(id AS DOUBLE) FROM range(200)")
    spark.sql("ALTER TABLE graft.pw.pw SET PARTITION SPEC (truncate(50, id))")
    assert(spark.sql("SELECT COUNT(*) FROM graft.pw.pw WHERE id >= 160")
      .head().getLong(0) == 40,
      "pre-change files must not prune under the new width")
    spark.sql("INSERT INTO graft.pw.pw SELECT id + 200, CAST(id AS DOUBLE) FROM range(50)")
    assert(spark.table("graft.pw.pw").count() == 250)
    // compaction migrates the old-width files (same dir names!)...
    val t2 = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("pw"), "pw"))
      .asInstanceOf[graft.sources.GraftTable]
    val (rm, wr) = graft.sources.Compaction.compact(spark, t2)
    assert(rm > 0 && wr > 0)
    // ...and everything still reads correctly under the new width
    assert(spark.sql("SELECT COUNT(*) FROM graft.pw.pw WHERE id >= 160")
      .head().getLong(0) == 90)
    assert(spark.table("graft.pw.pw").count() == 250)
    spark.sql("DROP TABLE graft.pw.pw")
  }

  test("sorted compaction clusters files into disjoint ranges that skip") {
    spark.sql("CREATE TABLE graft.pw.clus (id BIGINT, v DOUBLE)")
    // interleaved inserts: every file's id range spans the whole domain,
    // so range skipping can prune nothing
    for (i <- 0 until 6)
      spark.sql(s"INSERT INTO graft.pw.clus SELECT id * 6 + $i, CAST(id AS DOUBLE) " +
        s"FROM range(200)")
    val t = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("pw"), "clus"))
      .asInstanceOf[graft.sources.GraftTable]
    val want = spark.table("graft.pw.clus").collect().map(_.getLong(0)).sorted.toSeq

    val (removed, written) = graft.sources.Compaction.compact(
      spark, t, sortBy = Seq("id"), outputFiles = 4)
    assert(removed >= 6 && written >= 2 && written < removed,
      s"clustered $removed -> $written")
    assert(spark.table("graft.pw.clus").collect().map(_.getLong(0)).sorted.toSeq == want)

    // registered id ranges are now pairwise disjoint...
    val fs = new org.apache.hadoop.fs.Path(t.dataDir)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val ranges = graft.sources.TableStats
      .read(fs, new org.apache.hadoop.fs.Path(t.dataDir))
      .values.toSeq.flatMap(_.cols.get("id"))
      .map { case (mn, mx) => (mn.toLong, mx.toLong) }.sorted
    assert(ranges.size == written)
    ranges.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax < bMin, s"overlapping clustered ranges: $ranges")
      case _ => ()
    }
    // ...so a point query plans exactly one file
    val fresh = t.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of()))
    fresh.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters]
      .pushFilters(Array(org.apache.spark.sql.sources.EqualTo("id", 600L)))
    val parts = fresh.build().asInstanceOf[graft.sources.GraftScan]
      .toBatch.planInputPartitions()
    assert(parts.length == 1, s"point query planned ${parts.length} files, want 1")
    spark.sql("DROP TABLE graft.pw.clus")
  }

  test("z-order compaction clusters files that skip on BOTH dimensions") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pw")
    spark.sql("CREATE TABLE graft.pw.zclus (x BIGINT, y BIGINT, v DOUBLE)")
    // interleaved inserts over two INDEPENDENT dimensions: every file's x
    // range AND y range span the whole domain, so nothing prunes; a total
    // sort by x could never serve y-filters
    for (i <- 0 until 6)
      spark.sql(
        s"""INSERT INTO graft.pw.zclus
           |SELECT (id * 6 + $i) % 1024 AS x,
           |       ((id * 2654435761) + $i * 7919) % 1024 AS y,
           |       CAST(id AS DOUBLE) FROM range(512)""".stripMargin)
    val t = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("pw"), "zclus"))
      .asInstanceOf[graft.sources.GraftTable]
    val want = spark.table("graft.pw.zclus").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq

    val (removed, written) = graft.sources.Compaction.compact(
      spark, t, zorderBy = Seq("x", "y"), outputFiles = 16)
    assert(removed >= 6 && written >= 8, s"clustered $removed -> $written")
    // contents byte-exact through the rewrite
    assert(spark.table("graft.pw.zclus").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq == want)

    // a narrow filter on EITHER dimension plans a strict subset of files
    def planned(filter: org.apache.spark.sql.sources.Filter): Int = {
      val sb = t.newScanBuilder(
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of()))
      sb.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters]
        .pushFilters(Array(filter))
      sb.build().asInstanceOf[graft.sources.GraftScan].toBatch.planInputPartitions().length
    }
    val xHit = planned(org.apache.spark.sql.sources.LessThan("x", 128L))
    val yHit = planned(org.apache.spark.sql.sources.LessThan("y", 128L))
    assert(xHit < written, s"x-filter read all $written files (no z-clustering on x)")
    assert(yHit < written, s"y-filter read all $written files (no z-clustering on y)")
    spark.sql("DROP TABLE graft.pw.zclus")
  }

  test("format(\"graft\"): catalog-free read, USING graft table, direct append") {
    spark.sql("CREATE TABLE graft.pw.direct (id BIGINT, s STRING)")
    spark.sql("INSERT INTO graft.pw.direct VALUES (1, 'a'), (2, 'b')")
    val tdir = s"$warehouse/pw/direct"

    // catalog-free read: schema comes from the dir's _meta.yml
    val df = spark.read.format("graft").load(tdir)
    assert(df.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))

    // direct append through the same committing writer
    spark.range(3, 5).selectExpr("id", "CAST(id AS STRING) AS s")
      .write.format("graft").mode("append").save(tdir)
    assert(spark.table("graft.pw.direct").count() == 4)

    // session-catalog table over the same files
    spark.sql(s"CREATE TABLE direct_sql (id BIGINT, s STRING) " +
      s"USING graft OPTIONS (path '$tdir')")
    assert(spark.sql("SELECT count(*) FROM direct_sql").head.getLong(0) == 4)
    spark.sql("INSERT INTO direct_sql VALUES (9, 'z')")
    assert(spark.read.format("graft").load(tdir).count() == 5)
    // pushdown still reaches the scan through the provider path
    assert(spark.sql("SELECT s FROM direct_sql WHERE id = 9").head.getString(0) == "z")

    spark.sql("DROP TABLE direct_sql")
    spark.sql("DROP TABLE graft.pw.direct")
  }

  test("compaction must not resurrect rows a COW delete removed") {
    spark.sql("CREATE TABLE graft.pw.cres (id BIGINT)")
    for (i <- 0 until 3)
      spark.sql(s"INSERT INTO graft.pw.cres SELECT id + ${i * 10} FROM range(10)")
    // row-level COW: every file holds even ids, so all three are rewritten;
    // the originals stay ON DISK (time travel) but leave the manifest
    spark.sql("DELETE FROM graft.pw.cres WHERE id % 2 = 0")
    assert(spark.table("graft.pw.cres").count() == 15)
    // more live small files so compaction has real work next to the orphans
    for (i <- 3 until 5)
      spark.sql(s"INSERT INTO graft.pw.cres SELECT 2 * id + 1 + ${i * 20} FROM range(5)")
    val want = spark.table("graft.pw.cres").collect().map(_.getLong(0)).sorted.toSeq
    assert(want.size == 25 && want.forall(_ % 2 == 1))

    val t = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("pw"), "cres"))
      .asInstanceOf[graft.sources.GraftTable]
    val (removed, written) = graft.sources.Compaction.compact(spark, t)
    assert(removed >= 2 && written >= 1, s"compacted $removed -> $written")
    // victims came from the live manifest, never the directory: the
    // COW-deleted originals on disk must NOT be re-read and re-registered
    val got = spark.table("graft.pw.cres").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want, "compaction resurrected metadata-deleted rows")
    spark.sql("DROP TABLE graft.pw.cres")
  }

  test("stats lock: stale holders expire; unlock never removes a foreign lock") {
    import org.apache.hadoop.fs.Path
    import graft.sources.TableStats
    val tmp = java.nio.file.Files.createTempDirectory("graft_lock").toString
    val dataDir = new Path(tmp, "data")
    val fs = dataDir.getFileSystem(new org.apache.hadoop.conf.Configuration())
    fs.mkdirs(dataDir)
    val lock = new Path(dataDir.getParent, ".stats.lock")

    // a crashed holder's lock (old mtime) expires and the section runs
    val out = fs.create(lock, false)
    out.write("dead-holder".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    fs.setTimes(lock, System.currentTimeMillis() - 120000, -1)
    var ran = false
    TableStats.withLock(fs, dataDir) { ran = true }
    assert(ran, "stale lock must expire")
    assert(!fs.exists(lock), "our own lock is removed on unlock")

    // wrongful takeover: someone replaces our lock while we hold it —
    // unlock must leave THEIR lock alone (token mismatch)
    TableStats.withLock(fs, dataDir) {
      fs.delete(lock, false)
      val o2 = fs.create(lock, false)
      o2.write("intruder".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      o2.close()
    }
    assert(fs.exists(lock), "unlock deleted a lock it does not own")
    val in = fs.open(lock)
    val content = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    assert(content == "intruder")
    fs.delete(lock, false)
  }

  test("format(\"graft\") round-trips bucket partitioning") {
    spark.sql(
      "CREATE TABLE graft.pw.bktp (k BIGINT, v STRING) PARTITIONED BY (bucket(4, k))")
    spark.range(0, 100).selectExpr("id AS k", "CAST(id AS STRING) AS v")
      .writeTo("graft.pw.bktp").append()
    val dir = s"$warehouse/pw/bktp"

    // path-based read sees the bucket layout (no catalog involved)
    val df = spark.read.format("graft").load(dir)
    assert(df.count() == 100)
    assert(df.where("k = 42").select("v").head.getString(0) == "42")

    // path-based append routes rows into the same buckets the catalog
    // write path would (bucket specs, not identity pseudo-columns, and
    // no unresolvable bucket-clustered distribution request)
    spark.range(100, 110).selectExpr("id AS k", "CAST(id AS STRING) AS v")
      .write.format("graft").mode("append").save(dir)
    assert(spark.table("graft.pw.bktp").count() == 110)
    // catalog-path point lookup (bucket-pruned) finds the appended row:
    // proof the path write hashed into the correct bucket directory
    assert(spark.sql("SELECT v FROM graft.pw.bktp WHERE k = 105")
      .collect().map(_.getString(0)).toSeq == Seq("105"))
    spark.sql("DROP TABLE graft.pw.bktp")
  }

  test("format(\"graft\"): bare-dir save bootstraps _meta.yml; schema drift is gated") {
    val tdir = java.nio.file.Files.createTempDirectory("graft_bare").toString + "/t1"
    // first save into a BARE directory must leave a self-describing table
    spark.range(0, 5).selectExpr("id", "concat('a', id) AS name")
      .write.format("graft").mode("append").save(tdir)
    assert(new java.io.File(s"$tdir/_meta.yml").exists(),
      "first path-based save must bootstrap _meta.yml")
    assert(spark.read.format("graft").load(tdir).columns.toSeq == Seq("id", "name"))

    // an append carrying an undeclared column is refused loudly (its
    // files would be unreadable), unless mergeSchema evolves the table
    val extra = spark.range(5, 8)
      .selectExpr("id", "concat('b', id) AS name", "id * 2 AS extra")
    val e = intercept[IllegalArgumentException] {
      extra.write.format("graft").mode("append").save(tdir)
    }
    assert(e.getMessage.contains("mergeSchema"), e.getMessage)
    extra.write.format("graft").mode("append").option("mergeSchema", "true").save(tdir)
    val back = spark.read.format("graft").load(tdir)
    assert(back.columns.toSeq == Seq("id", "name", "extra"))
    assert(back.count() == 8)
    // pre-evolution rows read the new column as NULL; new rows carry it
    assert(back.where("extra IS NOT NULL").count() == 3)

    // a same-named column with a different type is always refused
    val t = intercept[IllegalArgumentException] {
      spark.range(0, 1).selectExpr("id", "CAST(id AS DOUBLE) AS name")
        .write.format("graft").mode("append").save(tdir)
    }
    assert(t.getMessage.contains("type mismatch"), t.getMessage)
  }

  test("INSERT OVERWRITE: static partition filter replaces only matched partitions") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ow")
    spark.sql(
      "CREATE TABLE graft.ow.ow (k STRING, v BIGINT, p STRING) PARTITIONED BY (p)")
    spark.sql("INSERT INTO graft.ow.ow VALUES ('a', 1, 'x'), ('b', 2, 'x'), ('c', 3, 'y')")
    spark.sql("INSERT OVERWRITE graft.ow.ow PARTITION (p = 'x') VALUES ('z', 9)")
    val got = spark.sql("SELECT k, v, p FROM graft.ow.ow ORDER BY k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq(("c", 3L, "y"), ("z", 9L, "x")),
      s"static overwrite must keep partitions outside the filter: $got")
  }

  test("dynamic partition overwrite replaces only the partitions written") {
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ow")
      spark.sql(
        "CREATE TABLE graft.ow.dow (k STRING, v BIGINT, p STRING) PARTITIONED BY (p)")
      spark.sql(
        "INSERT INTO graft.ow.dow VALUES ('a', 1, 'x'), ('b', 2, 'y'), ('c', 3, 'z')")
      // the backfill shape: rows land in x and y — z must survive untouched
      spark.sql("INSERT OVERWRITE graft.ow.dow VALUES ('n1', 10, 'x'), ('n2', 11, 'y')")
      val got = spark.sql("SELECT k, v, p FROM graft.ow.dow ORDER BY k").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
      assert(got == Seq(("c", 3L, "z"), ("n1", 10L, "x"), ("n2", 11L, "y")),
        s"dynamic overwrite must keep unwritten partitions: $got")
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
  }

  test("CHECK constraints: violating insert fails atomically, ADD validates") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ck")
    spark.sql("""CREATE TABLE graft.ck.t (id BIGINT, qty DOUBLE,
                |CONSTRAINT pos CHECK (qty > 0))""".stripMargin)
    spark.sql("INSERT INTO graft.ck.t VALUES (1, 2.0), (2, 0.5)")
    // batch with one bad row: nothing commits
    val e = intercept[Exception](
      spark.sql("INSERT INTO graft.ck.t VALUES (3, 1.0), (4, -1.0)"))
    assert(e.getMessage.contains("pos") || e.getMessage.contains("CHECK"))
    assert(spark.table("graft.ck.t").count() == 2)
    // NULL predicate result passes (SQL CHECK semantics)
    spark.sql("INSERT INTO graft.ck.t VALUES (5, NULL)")
    assert(spark.table("graft.ck.t").count() == 3)
    // ADD CONSTRAINT scans existing rows: id > 1 is violated by id=1
    val bad = intercept[Exception](
      spark.sql("ALTER TABLE graft.ck.t ADD CONSTRAINT big CHECK (id > 1)"))
    assert(bad.getMessage.toLowerCase.contains("constraint"))
    // a satisfiable one persists, enforces, and drops
    spark.sql("ALTER TABLE graft.ck.t ADD CONSTRAINT nn CHECK (id >= 0)")
    val ddl = spark.sql("DESCRIBE TABLE EXTENDED graft.ck.t")
      .collect().map(_.mkString("|")).mkString("\n")
    assert(ddl.contains("nn") && ddl.contains("CHECK"))
    val v = intercept[Exception](
      spark.sql("INSERT INTO graft.ck.t VALUES (-9, 1.0)"))
    assert(v.getMessage.contains("nn") || v.getMessage.contains("CHECK"))
    spark.sql("ALTER TABLE graft.ck.t DROP CONSTRAINT nn")
    spark.sql("INSERT INTO graft.ck.t VALUES (-9, 1.0)") // now legal
    assert(spark.table("graft.ck.t").count() == 4)
    intercept[Exception](spark.sql("ALTER TABLE graft.ck.t DROP CONSTRAINT ghost"))
  }

  test("CHECK constraints also gate UPDATE and MERGE rewrites") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ck")
    spark.sql("""CREATE TABLE graft.ck.m (id BIGINT, qty DOUBLE,
                |CONSTRAINT pos CHECK (qty > 0))""".stripMargin)
    spark.sql("INSERT INTO graft.ck.m VALUES (1, 2.0), (2, 3.0)")
    val up = intercept[Exception](
      spark.sql("UPDATE graft.ck.m SET qty = -5.0 WHERE id = 1"))
    assert(up.getMessage.contains("pos") || up.getMessage.contains("CHECK"))
    assert(spark.table("graft.ck.m").filter("qty <= 0").count() == 0)
    val mg = intercept[Exception](
      spark.sql("""MERGE INTO graft.ck.m t USING (SELECT 2 AS id) s ON t.id = s.id
                  |WHEN MATCHED THEN UPDATE SET qty = -1.0""".stripMargin))
    assert(mg.getMessage.contains("pos") || mg.getMessage.contains("CHECK"))
    assert(spark.table("graft.ck.m").filter("qty <= 0").count() == 0)
  }

  test("PRIMARY KEY / UNIQUE persist as informational constraints") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ck")
    spark.sql("""CREATE TABLE graft.ck.pk (id BIGINT, k STRING, v DOUBLE,
                |CONSTRAINT pkc PRIMARY KEY (id) RELY,
                |CONSTRAINT uk UNIQUE (k))""".stripMargin)
    val ddl = spark.sql("DESCRIBE TABLE EXTENDED graft.ck.pk")
      .collect().map(_.mkString("|")).mkString("\n")
    assert(ddl.contains("pkc") && ddl.contains("PRIMARY KEY"))
    assert(ddl.contains("uk") && ddl.contains("UNIQUE"))
    // informational: duplicate keys are NOT blocked
    spark.sql("INSERT INTO graft.ck.pk VALUES (1, 'a', 1.0), (1, 'a', 2.0)")
    assert(spark.table("graft.ck.pk").count() == 2)
    spark.sql("ALTER TABLE graft.ck.pk DROP CONSTRAINT uk")
    val ddl2 = spark.sql("DESCRIBE TABLE EXTENDED graft.ck.pk")
      .collect().map(_.mkString("|")).mkString("\n")
    assert(!ddl2.contains("uk") && ddl2.contains("pkc"))
    // ADD CONSTRAINT path for key constraints (no data scan)
    spark.sql("ALTER TABLE graft.ck.pk ADD CONSTRAINT uk2 UNIQUE (v)")
    assert(spark.sql("DESCRIBE TABLE EXTENDED graft.ck.pk")
      .collect().map(_.mkString("|")).mkString("\n").contains("uk2"))
  }

  test("column DEFAULTs fill through the ROW CODEC path (merge-on-read)") {
    // outstanding merge-on-read deletes make the scan emit rows through
    // the dead-key probe, covering the EXISTS_DEFAULT fill on that path
    // (the batch path is covered by q113)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ck")
    spark.sql("""CREATE TABLE graft.ck.mor (row_key STRING, v BIGINT)
                |TBLPROPERTIES ('write.mutation.mode' = 'merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO graft.ck.mor VALUES ('a', 1), ('b', 2), ('c', 3)")
    spark.sql("DELETE FROM graft.ck.mor WHERE row_key = 'b'")
    spark.sql("ALTER TABLE graft.ck.mor ADD COLUMN tag STRING DEFAULT 'old'")
    spark.sql("INSERT INTO graft.ck.mor (row_key, v) VALUES ('d', 4)")
    val got = spark.table("graft.ck.mor").orderBy("row_key")
      .collect().map(r => (r.getString(0), r.getString(2))).toSeq
    assert(got == Seq(("a", "old"), ("c", "old"), ("d", "old")))
    spark.sql("ALTER TABLE graft.ck.mor ALTER COLUMN tag SET DEFAULT 'new'")
    spark.sql("INSERT INTO graft.ck.mor (row_key, v) VALUES ('e', 5)")
    val got2 = spark.table("graft.ck.mor").orderBy("row_key")
      .collect().map(r => (r.getString(0), r.getString(2))).toSeq
    assert(got2 == Seq(("a", "old"), ("c", "old"), ("d", "old"), ("e", "new")))
  }

  test("WAP edges: duplicate id, non-append mode, ghost publish all rejected") {
    import org.apache.spark.sql.functions._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.wap")
    spark.sql("CREATE TABLE graft.wap.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.wap.t VALUES (1, 'a')")
    def staged(from: Int, until: Int, id: String) =
      spark.range(from, until).select(col("id"), lit("s").as("v"))
        .writeTo("graft.wap.t").option("wap.id", id)
    staged(10, 12, "w1").append()
    // same id cannot stage twice
    val dup = intercept[Exception](staged(20, 22, "w1").append())
    assert(dup.getMessage.contains("w1"))
    // live table still sees only the original row; audit sees staged
    assert(spark.table("graft.wap.t").count() == 1)
    assert(spark.sql("SELECT * FROM graft.wap.t VERSION AS OF 'wap-w1'").count() == 3)
    // non-append staged writes are refused (files must not replace live data)
    val ow = intercept[Exception](
      spark.range(0, 2).select(col("id"), lit("x").as("v"))
        .writeTo("graft.wap.t").option("wap.id", "w2").createOrReplace())
    assert(ow.getMessage.toLowerCase.contains("append") ||
      ow.getMessage.toLowerCase.contains("replace")) // staging table path rejects earlier
    spark.sql("ALTER TABLE graft.wap.t PUBLISH WAP 'w1'")
    assert(spark.table("graft.wap.t").count() == 3)
    // tag + adds list are gone: publish again fails, audit tag unresolvable
    val ghost = intercept[Exception](
      spark.sql("ALTER TABLE graft.wap.t PUBLISH WAP 'w1'"))
    assert(ghost.getMessage.contains("no staged WAP"))
    intercept[Exception](
      spark.sql("SELECT * FROM graft.wap.t VERSION AS OF 'wap-w1'").collect())
    // vacuum while a stage is pending must not delete staged files
    staged(30, 33, "w3").append()
    spark.sql("VACUUM graft.wap.t RETAIN 1 SNAPSHOTS")
    assert(spark.sql("SELECT * FROM graft.wap.t VERSION AS OF 'wap-w3'").count() == 6)
    spark.sql("ALTER TABLE graft.wap.t PUBLISH WAP 'w3'")
    assert(spark.table("graft.wap.t").count() == 6)
  }

  test("generated columns: computed, authoritative, partition routing sees them") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.gen")
    // a generated column can BE the partition column: routing must see
    // the computed value, and pruning must work on it
    spark.sql("""CREATE TABLE graft.gen.t (
                |  id BIGINT, name STRING,
                |  grp STRING GENERATED ALWAYS AS (substring(name, 1, 1)))
                |PARTITIONED BY (grp)""".stripMargin)
    spark.sql("INSERT INTO graft.gen.t (id, name) VALUES (1, 'apple'), (2, 'avocado'), (3, 'banana')")
    // supplied garbage is overridden
    spark.sql("INSERT INTO graft.gen.t VALUES (4, 'cherry', 'WRONG')")
    val got = spark.table("graft.gen.t").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(got == Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c")))
    // physical layout: directories named by the COMPUTED value
    val dirs = new java.io.File(s"$warehouse/gen/t/data").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("grp=a", "grp=b", "grp=c"))
    // non-deterministic generation expressions rejected at DDL
    intercept[Exception](spark.sql(
      "CREATE TABLE graft.gen.bad (a BIGINT, r DOUBLE GENERATED ALWAYS AS (rand()))"))
    // IDENTITY columns loudly unsupported
    intercept[Exception](spark.sql(
      "CREATE TABLE graft.gen.idt (a BIGINT GENERATED ALWAYS AS IDENTITY, b STRING)"))
  }

  test("OPTIMIZE ... WHERE compacts only the matched partitions") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.opt")
    spark.sql("""CREATE TABLE graft.opt.scoped (id BIGINT, v BIGINT, lang STRING)
                |PARTITIONED BY (lang)""".stripMargin)
    // several small files per partition
    for (i <- 0 until 3)
      spark.sql(s"""INSERT INTO graft.opt.scoped
                   |SELECT id + ${i * 10}, id, CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END
                   |FROM range(10)""".stripMargin)
    def filesOf(part: String): Set[String] = {
      val dd = new org.apache.hadoop.fs.Path(s"$warehouse/opt/scoped/data")
      graft.sources.TableStats
        .read(dd.getFileSystem(new org.apache.hadoop.conf.Configuration()), dd)
        .keySet.filter(_.startsWith(s"lang=$part/"))
    }
    val deBefore = filesOf("de")
    assert(filesOf("en").size == 3 && deBefore.size == 3)
    val res = spark.sql("OPTIMIZE graft.opt.scoped WHERE lang = 'en'").collect().head
    assert(res.getInt(0) == 3 && res.getInt(1) == 1, s"unexpected: $res")
    assert(filesOf("en").size == 1)
    assert(filesOf("de") == deBefore, "unmatched partition must be untouched")
    assert(spark.table("graft.opt.scoped").count() == 30)
    // scoped + clustering composes
    spark.sql("OPTIMIZE graft.opt.scoped WHERE lang = 'de' SORT BY id")
    assert(filesOf("de").size == 1)
    assert(spark.table("graft.opt.scoped").count() == 30)
    // non-partition-column predicate is refused loudly
    val bad = intercept[Exception](
      spark.sql("OPTIMIZE graft.opt.scoped WHERE v = 1").collect())
    assert(bad.getMessage.contains("identity partition"))
  }

  test("metadata tables: $files / $snapshots / $wap reflect engine state") {
    import org.apache.spark.sql.functions._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.meta")
    spark.sql("""CREATE TABLE graft.meta.t (id BIGINT, v BIGINT)
                |TBLPROPERTIES ('write.sort.columns' = 'id')""".stripMargin)
    spark.sql("INSERT INTO graft.meta.t SELECT id, id FROM range(100)")
    // $files carries the evidence-based sorted flag and exact row counts
    val files = spark.sql("SELECT * FROM graft.meta.`t$files`").collect()
    assert(files.nonEmpty)
    assert(files.map(_.getAs[Long]("rows")).sum == 100)
    assert(files.forall(_.getAs[Boolean]("sorted")))
    // $snapshots: one commit so far, taggable
    spark.sql("ALTER TABLE graft.meta.t CREATE TAG first")
    val snaps = spark.sql("SELECT * FROM graft.meta.`t$snapshots`").collect()
    assert(snaps.length == 1 && snaps.head.getAs[Long]("version") == 1L)
    assert(snaps.head.getAs[String]("tags") == "first")
    // $wap: a staged commit is visible with its audit version, then gone
    spark.createDataFrame(Seq((200L, 1L))).toDF("id", "v")
      .writeTo("graft.meta.t").option("wap.id", "w9").append()
    val wap = spark.sql("SELECT * FROM graft.meta.`t$wap`").collect()
    assert(wap.length == 1 && wap.head.getAs[String]("wap_id") == "w9" &&
      wap.head.getAs[Long]("rows") == 1L)
    spark.sql("ALTER TABLE graft.meta.t DISCARD WAP 'w9'")
    assert(spark.sql("SELECT * FROM graft.meta.`t$wap`").count() == 0)
    // a real table named with a dollar would shadow; unknown kinds miss
    intercept[Exception](spark.sql("SELECT * FROM graft.meta.`t$nope`").collect())
  }

  test("_version metadata column: rows carry their adding commit's version") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.meta")
    spark.sql("CREATE TABLE graft.meta.ver (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.meta.ver SELECT id, id FROM range(0, 3)")
    spark.sql("INSERT INTO graft.meta.ver SELECT id, id FROM range(3, 5)")
    val got = spark.sql(
      "SELECT id, _version FROM graft.meta.ver ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // first commit = version 1, second = version 2
    assert(got == Seq((0L, 1L), (1L, 1L), (2L, 1L), (3L, 2L), (4L, 2L)), got)
    // composes with _file (both metadata columns on one row), and the
    // per-version rollup is the audit query shape
    val both = spark.sql(
      "SELECT _file, _version, COUNT(*) AS n FROM graft.meta.ver GROUP BY 1, 2")
      .collect()
    assert(both.map(_.getAs[Long]("n")).sum == 5)
    assert(both.forall(r => r.getAs[String]("_file").nonEmpty))
    val byVer = spark.sql(
      "SELECT _version, COUNT(*) AS n FROM graft.meta.ver GROUP BY 1 ORDER BY 1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(byVer == Seq((1L, 3L), (2L, 2L)), byVer)
    spark.sql("DROP TABLE graft.meta.ver")
    // reserved metadata/change-feed names are refused as DATA columns —
    // a same-named column would collide with the appended field
    for (bad <- Seq("_version BIGINT", "_file STRING", "_change_type STRING",
        "_VERSION BIGINT")) // Spark resolves case-insensitively
      intercept[Exception](
        spark.sql(s"CREATE TABLE graft.meta.bad (id BIGINT, $bad)"))
    assert(!spark.catalog.tableExists("graft.meta.bad"))
  }

  test("write.target.file.bytes: one task rolls to bounded files, registry exact") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pw")
    // target = 8 row groups: the roll signal (parquet's flushed+buffered
    // size) tracks ENCODED bytes once groups flush — the documented
    // precondition for the size bound (and for OPTIMIZE convergence)
    spark.sql(
      """CREATE TABLE graft.pw.roll (id BIGINT, pad STRING)
        |TBLPROPERTIES ('write.target.file.bytes' = '65536',
        |               'write.rowgroup.bytes' = '8192',
        |               'write.compression' = 'uncompressed')""".stripMargin)
    // ONE task writing ~6 MB of incompressible rows must produce MANY
    // bounded files, not one: the rolling path closes each at ~64 KiB
    spark.range(0, 20000)
      .selectExpr("id", "repeat(md5(cast(id AS string)), 10) AS pad")
      .coalesce(1)
      .writeTo("graft.pw.roll").append()
    val dd = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.catalog.graft.warehouse") + "/pw/roll/data")
    val fs = dd.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val m = graft.sources.TableStats.read(fs, dd)
    assert(m.size > 5, s"expected rolled files, got ${m.size}")
    // every entry exact: rows sum to the corpus, per-file ranges cover it
    assert(m.values.map(_.rows).sum == 20000L)
    assert(m.values.forall(e => e.bytes > 0 && e.bytes < 4L * 65536),
      s"a rolled file escaped the bound: ${m.values.map(_.bytes).max}")
    val ids = m.values.flatMap(_.cols.get("id")).toSeq
    assert(ids.map(_._1.toLong).min == 0L && ids.map(_._2.toLong).max == 19999L)
    // registry-answered aggregates and real reads agree
    assert(spark.sql("SELECT count(*) FROM graft.pw.roll").head().getLong(0) == 20000L)
    assert(spark.sql("SELECT sum(id) FROM graft.pw.roll").head().getLong(0)
      == 19999L * 20000L / 2)
    assert(spark.table("graft.pw.roll").where("pad IS NULL").count() == 0)
    // CONVERGENCE: compaction clamps its small-file threshold to the
    // rolling target, so OPTIMIZE over target-sized rolled files reaches
    // a fixed point instead of re-rewriting its own outputs forever
    spark.sql("OPTIMIZE graft.pw.roll")
    val second = spark.sql("OPTIMIZE graft.pw.roll").collect().head
    assert(second.getInt(0) == 0 && second.getInt(1) == 0,
      s"second OPTIMIZE must be a no-op, rewrote ${second.getInt(0)} files")
    assert(spark.sql("SELECT count(*) FROM graft.pw.roll").head().getLong(0) == 20000L)
    spark.sql("DROP TABLE graft.pw.roll")
  }

  test("MERGE WITH SCHEMA EVOLUTION: new source columns evolve the target") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pw")
    spark.sql("CREATE TABLE graft.pw.mse_t (row_key STRING, id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.pw.mse_t VALUES ('a', 1, 10), ('b', 2, 20)")
    spark.sql(
      "CREATE TABLE graft.pw.mse_s (row_key STRING, id BIGINT, v BIGINT, extra STRING)")
    spark.sql("INSERT INTO graft.pw.mse_s VALUES ('b', 2, 99, 'hi'), ('c', 3, 30, 'new')")
    // PLAIN merge: schema must NOT change (the capability is gated on the
    // explicit WITH SCHEMA EVOLUTION syntax)
    spark.sql(
      """MERGE INTO graft.pw.mse_t t USING graft.pw.mse_s s ON t.row_key = s.row_key
        |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table("graft.pw.mse_t").schema.fieldNames.toSeq ==
      Seq("row_key", "id", "v"))
    // explicit evolution: `extra` lands (nullable), pre-existing rows
    // read NULL, matched/inserted rows carry the source value
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graft.pw.mse_t t
        |USING graft.pw.mse_s s ON t.row_key = s.row_key
        |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table("graft.pw.mse_t").schema.fieldNames.toSeq ==
      Seq("row_key", "id", "v", "extra"))
    val got = spark.sql("SELECT row_key, v, extra FROM graft.pw.mse_t ORDER BY row_key")
      .collect().map(r => (r.getString(0), r.getLong(1), Option(r.getString(2)))).toSeq
    assert(got == Seq(("a", 10L, None), ("b", 99L, Some("hi")), ("c", 30L, Some("new"))))
    // idempotent: re-running the evolved merge changes nothing structural
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graft.pw.mse_t t
        |USING graft.pw.mse_s s ON t.row_key = s.row_key
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(spark.table("graft.pw.mse_t").schema.fieldNames.length == 4)
    spark.sql("DROP TABLE graft.pw.mse_t")
    spark.sql("DROP TABLE graft.pw.mse_s")
  }

  test("rename and drop") {
    spark.sql("ALTER TABLE graft.pw.test_big RENAME TO graft.pw.test_big2")
    assert(spark.table("graft.pw.test_big2").count() == 1)
    spark.sql("DROP TABLE graft.pw.test_big2")
    spark.sql("DROP TABLE graft.pw.test_hash")
    val left = spark.sql("SHOW TABLES IN graft.pw").collect().map(_.getString(1)).toSet
    assert(left == Set("test", "test_insert"))
  }
}
