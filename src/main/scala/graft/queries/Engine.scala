package graft.queries

import graft.QueryDef
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

/** End-to-end exercises of the graft DSv2 engine (catalog → write → scan)
  * inside the correctness gate: data flows documents.parquet → CTAS/INSERT
  * into a graft-catalog table → SQL over the graft scan, and the oracle
  * checks the round-trip against the raw parquet. */
object Engine {

  private[queries] def ensureCatalog(s: SparkSession, dir: String): String = {
    graft.functions.NativeFunctions.register(s) // quant_dot in expr strings
    val id = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    s.conf.set("spark.sql.catalog.gcat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.gcat.warehouse", s"/tmp/graft_wh_$id")
    s.sql("CREATE NAMESPACE IF NOT EXISTS gcat.corpus")
    "gcat.corpus"
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- q30: CTAS into the graft catalog, filtered scan back ------------
    QueryDef(
      "q30_catalog_roundtrip",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.docs")
        s.sql(s"CREATE TABLE $ns.docs AS SELECT * FROM parquet.`$dir/documents.parquet`")
        s.sql(
          s"""SELECT doc_id, lang, n_chars FROM $ns.docs
             |WHERE n_chars >= 200 AND lang = 'en' ORDER BY doc_id""".stripMargin)
      },
      Some("""SELECT doc_id, lang, n_chars FROM documents
        WHERE n_chars >= 200 AND lang = 'en' ORDER BY doc_id""")),

    // ---- q31: INSERT with generated row keys — uniqueness invariants -----
    QueryDef(
      "q31_rowkey_insert",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.keyed")
        s.sql(
          s"""CREATE TABLE $ns.keyed (row_key STRING, doc_id BIGINT, fp STRING)
             |TBLPROPERTIES ('${graft.functions.RowKeyGenerator.Property}' =
             |  'graft.functions.DefaultRowKeyGenerator')""".stripMargin)
        // two identical appends: the generator must mint fresh unique keys
        // for every row of both writes (supplied '' is overridden)
        for (_ <- 1 to 2)
          s.sql(
            s"""INSERT INTO $ns.keyed
               |SELECT '', doc_id, md5(lower(text)) FROM parquet.`$dir/documents.parquet`"""
              .stripMargin)
        s.sql(
          s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             |       CAST(COUNT(DISTINCT row_key) AS BIGINT) AS n_keys,
             |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
             |FROM $ns.keyed""".stripMargin)
      },
      Some("""SELECT CAST(COUNT(*) * 2 AS BIGINT) AS n_rows,
        CAST(COUNT(*) * 2 AS BIGINT) AS n_keys,
        CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM documents""")),

    // ---- q55: CREATE VIEW over a graft table, query THROUGH the view -----
    // Exercises the full view path: DDL bridged to the ViewCatalog, view
    // text stored in _view.yml, expanded at resolution on read
    // (capability analog of HBaseSessionCatalog.scala:63-155).
    QueryDef(
      "q55_view_roundtrip",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP VIEW IF EXISTS $ns.long_docs")
        s.sql(s"DROP TABLE IF EXISTS $ns.vdocs")
        s.sql(s"CREATE TABLE $ns.vdocs AS SELECT * FROM parquet.`$dir/documents.parquet`")
        s.sql(
          s"""CREATE VIEW $ns.long_docs AS
             |SELECT lang, doc_id, n_chars FROM $ns.vdocs WHERE n_chars >= 300"""
            .stripMargin)
        s.sql(
          s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
             |       CAST(SUM(n_chars) AS BIGINT) AS chars
             |FROM $ns.long_docs GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM documents WHERE n_chars >= 300 GROUP BY lang ORDER BY lang""")),

    // ---- q57: storage-partitioned join through the catalog ---------------
    // Both sides are lang-partitioned graft tables; with v2 bucketing on,
    // the scans report KeyGroupedPartitioning and the lang-equality join
    // runs with NO shuffle on either side (plan shape proven in PlanSpec
    // "storage-partitioned"; this query gates the VALUES through the same
    // path). At 100 TB this is the bucketed co-located join.
    QueryDef(
      "q57_spj_join",
      (s0, dir) => {
        // isolated session: SPJ planning mode must not leak into the
        // other queries sharing the driver session
        val s = s0.newSession()
        val ns = ensureCatalog(s, dir)
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        s.sql(s"DROP TABLE IF EXISTS $ns.spj_a")
        s.sql(s"DROP TABLE IF EXISTS $ns.spj_b")
        s.sql(
          s"""CREATE TABLE $ns.spj_a (doc_id BIGINT, n_chars BIGINT, lang STRING)
             |PARTITIONED BY (lang)""".stripMargin)
        s.sql(
          s"""CREATE TABLE $ns.spj_b (doc_id BIGINT, source STRING, lang STRING)
             |PARTITIONED BY (lang)""".stripMargin)
        s.sql(s"""INSERT INTO $ns.spj_a
                 |SELECT doc_id, n_chars, lang FROM parquet.`$dir/documents.parquet`
                 |WHERE n_chars >= 350""".stripMargin)
        s.sql(s"""INSERT INTO $ns.spj_b
                 |SELECT doc_id, source, lang FROM parquet.`$dir/documents.parquet`
                 |WHERE source = 'src0'""".stripMargin)
        s.sql(
          s"""SELECT a.lang, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |       CAST(SUM(a.n_chars) AS BIGINT) AS chars
             |FROM $ns.spj_a a JOIN $ns.spj_b b ON a.lang = b.lang
             |GROUP BY a.lang ORDER BY a.lang""".stripMargin)
      },
      Some("""WITH a AS (SELECT doc_id, n_chars, lang FROM documents WHERE n_chars >= 350),
        b AS (SELECT doc_id, lang FROM documents WHERE source = 'src0')
        SELECT a.lang, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(a.n_chars) AS BIGINT) AS chars
        FROM a JOIN b ON a.lang = b.lang
        GROUP BY a.lang ORDER BY a.lang""")),

    // ---- q58: partition-level DELETE round-trip ---------------------------
    // DELETE FROM on partition columns is metadata-only (whole directories
    // dropped, stats registry updated); the scan after the delete must see
    // exactly the surviving partitions.
    QueryDef(
      "q58_partition_delete",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.pdel")
        s.sql(
          s"""CREATE TABLE $ns.pdel (doc_id BIGINT, n_chars BIGINT, lang STRING)
             |PARTITIONED BY (lang)""".stripMargin)
        s.sql(s"""INSERT INTO $ns.pdel
                 |SELECT doc_id, n_chars, lang FROM parquet.`$dir/documents.parquet`""".stripMargin)
        s.sql(s"DELETE FROM $ns.pdel WHERE lang IN ('de', 'fr')")
        s.sql(
          s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
             |       CAST(SUM(n_chars) AS BIGINT) AS chars
             |FROM $ns.pdel GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM documents WHERE lang NOT IN ('de', 'fr')
        GROUP BY lang ORDER BY lang""")),

    // ---- q63: row-level DELETE + UPDATE (copy-on-write) round-trip -------
    // Non-partition predicates go through SupportsRowLevelOperations:
    // runtime group filtering finds the files containing matching rows
    // and ONLY those are rewritten (untouched files survive byte-for-
    // byte). The oracle replays the same mutations relationally.
    QueryDef(
      "q63_row_level_mutations",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.rl")
        s.sql(
          s"""CREATE TABLE $ns.rl (doc_id BIGINT, n_chars BIGINT, lang STRING)
             |PARTITIONED BY (lang)""".stripMargin)
        s.sql(s"""INSERT INTO $ns.rl
                 |SELECT doc_id, n_chars, lang FROM parquet.`$dir/documents.parquet`""".stripMargin)
        s.sql(s"DELETE FROM $ns.rl WHERE doc_id % 97 = 3")           // row-level COW
        s.sql(s"UPDATE $ns.rl SET n_chars = n_chars + 7 WHERE doc_id % 50 = 1")
        s.sql(
          s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
             |       CAST(SUM(n_chars) AS BIGINT) AS chars,
             |       CAST(SUM(doc_id) AS BIGINT) AS id_sum
             |FROM $ns.rl GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN doc_id % 50 = 1 THEN n_chars + 7 ELSE n_chars END) AS BIGINT) AS chars,
        CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM documents WHERE doc_id % 97 <> 3
        GROUP BY lang ORDER BY lang""")),

    // ---- q64: MERGE INTO upsert (copy-on-write) ---------------------------
    // The full MERGE surface over the same group-filtered rewrite path:
    // matched rows update in place, unmatched source rows insert. The
    // oracle derives the merged state relationally (matched = doc_id
    // divisible by both 2 and 3).
    QueryDef(
      "q64_merge_upsert",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.mg")
        s.sql(s"""CREATE TABLE $ns.mg AS
                 |SELECT doc_id, n_chars, lang FROM parquet.`$dir/documents.parquet`
                 |WHERE doc_id % 2 = 0""".stripMargin)
        s.sql(
          s"""MERGE INTO $ns.mg t
             |USING (SELECT doc_id, n_chars, lang
             |       FROM parquet.`$dir/documents.parquet` WHERE doc_id % 3 = 0) s
             |ON t.doc_id = s.doc_id
             |WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars + 1000
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        s.sql(
          s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
             |       CAST(SUM(n_chars) AS BIGINT) AS chars,
             |       CAST(SUM(doc_id) AS BIGINT) AS id_sum
             |FROM $ns.mg GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN doc_id % 6 = 0 THEN n_chars + 1000 ELSE n_chars END) AS BIGINT) AS chars,
        CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM documents WHERE doc_id % 2 = 0 OR doc_id % 3 = 0
        GROUP BY lang ORDER BY lang""")),

    // ---- q67: multi-action MERGE incl. NOT MATCHED BY SOURCE --------------
    // The full Spark 4 MERGE matrix through the group-based COW path:
    // conditional UPDATE vs DELETE on match (ordered actions), conditional
    // INSERT on no-match, and UPDATE of target rows the source never
    // mentions (WHEN NOT MATCHED BY SOURCE — beyond the reference, which
    // has no MERGE at all). The oracle rebuilds the merged state
    // relationally from the same inputs.
    QueryDef(
      "q67_merge_multi_action",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.mg2")
        s.sql(s"""CREATE TABLE $ns.mg2 AS
                 |SELECT doc_id, n_chars, lang FROM parquet.`$dir/documents.parquet`
                 |WHERE doc_id % 2 = 0""".stripMargin)
        s.sql(
          s"""MERGE INTO $ns.mg2 t
             |USING (SELECT doc_id, n_chars, lang
             |       FROM parquet.`$dir/documents.parquet` WHERE doc_id % 3 = 0) s
             |ON t.doc_id = s.doc_id
             |WHEN MATCHED AND t.n_chars < 300 THEN UPDATE SET n_chars = t.n_chars + 1000
             |WHEN MATCHED THEN DELETE
             |WHEN NOT MATCHED AND s.n_chars >= 200 THEN INSERT *
             |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET n_chars = 0""".stripMargin)
        s.sql(
          s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
             |       CAST(SUM(n_chars) AS BIGINT) AS chars,
             |       CAST(SUM(doc_id) AS BIGINT) AS id_sum
             |FROM $ns.mg2 GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""WITH t AS (SELECT doc_id, n_chars, lang FROM documents WHERE doc_id % 2 = 0),
        s AS (SELECT doc_id, n_chars, lang FROM documents WHERE doc_id % 3 = 0),
        merged AS (
          -- matched + n_chars < 300: updated in place
          SELECT t.doc_id, t.n_chars + 1000 AS n_chars, t.lang
          FROM t JOIN s ON s.doc_id = t.doc_id WHERE t.n_chars < 300
          -- (matched with n_chars >= 300: deleted)
          UNION ALL
          -- not matched + n_chars >= 200: inserted
          SELECT s.doc_id, s.n_chars, s.lang FROM s
          WHERE s.doc_id NOT IN (SELECT doc_id FROM t) AND s.n_chars >= 200
          UNION ALL
          -- not matched by source: zeroed
          SELECT t.doc_id, 0 AS n_chars, t.lang FROM t
          WHERE t.doc_id NOT IN (SELECT doc_id FROM s))
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(n_chars) AS BIGINT) AS chars,
               CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM merged GROUP BY lang ORDER BY lang""")),

    // ---- q72: hash-bucket partitioning + pruned point lookups -------------
    // PARTITIONED BY (bucket(16, doc_id)): equal keys co-locate in one of
    // 16 directories without a directory per value; the IN-list lookup
    // prunes to the matching buckets before listing (at 100 TB: a point
    // read scans 1/16 of the table, and two co-bucketed tables join
    // bucket-to-bucket). Correctness gated against the raw parquet.
    QueryDef(
      "q72_bucketed_lookup",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.bdocs")
        s.sql(
          s"""CREATE TABLE $ns.bdocs (doc_id BIGINT, lang STRING, n_chars BIGINT)
             |PARTITIONED BY (bucket(16, doc_id))""".stripMargin)
        s.sql(s"""INSERT INTO $ns.bdocs
                 |SELECT doc_id, lang, n_chars FROM parquet.`$dir/documents.parquet`""".stripMargin)
        s.sql(
          s"""SELECT doc_id, lang, n_chars FROM $ns.bdocs
             |WHERE doc_id IN (3, 57, 123, 401) ORDER BY doc_id""".stripMargin)
      },
      Some("""SELECT doc_id, lang, n_chars FROM documents
        WHERE doc_id IN (3, 57, 123, 401) ORDER BY doc_id""")),

    // ---- q73: co-bucketed join (bucket-to-bucket, no shuffle) -------------
    // Both sides bucketed bucket(8, doc_id); with v2 bucketing on, the
    // join on doc_id runs bucket-to-bucket via the catalog-served bucket
    // function (plan shape proven in PlanSpec "co-bucketed"); this gates
    // the VALUES through that path. At 100 TB this is the join between
    // two large fact tables sharing a key — neither side shuffles.
    QueryDef(
      "q73_cobucketed_join",
      (s0, dir) => {
        val s = s0.newSession() // SPJ conf must not leak into other queries
        val ns = ensureCatalog(s, dir)
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        s.sql(s"DROP TABLE IF EXISTS $ns.bj_a")
        s.sql(s"DROP TABLE IF EXISTS $ns.bj_b")
        s.sql(s"""CREATE TABLE $ns.bj_a (doc_id BIGINT, n_chars BIGINT)
                 |PARTITIONED BY (bucket(8, doc_id))""".stripMargin)
        s.sql(s"""CREATE TABLE $ns.bj_b (doc_id BIGINT, lang STRING)
                 |PARTITIONED BY (bucket(8, doc_id))""".stripMargin)
        s.sql(s"""INSERT INTO $ns.bj_a
                 |SELECT doc_id, n_chars FROM parquet.`$dir/documents.parquet`
                 |WHERE n_chars >= 150""".stripMargin)
        s.sql(s"""INSERT INTO $ns.bj_b
                 |SELECT doc_id, lang FROM parquet.`$dir/documents.parquet`
                 |WHERE doc_id % 3 <> 1""".stripMargin)
        s.sql(
          s"""SELECT b.lang, CAST(COUNT(*) AS BIGINT) AS n,
             |       CAST(SUM(a.n_chars) AS BIGINT) AS chars
             |FROM $ns.bj_a a JOIN $ns.bj_b b ON a.doc_id = b.doc_id
             |GROUP BY b.lang ORDER BY b.lang""".stripMargin)
      },
      Some("""WITH a AS (SELECT doc_id, n_chars FROM documents WHERE n_chars >= 150),
        b AS (SELECT doc_id, lang FROM documents WHERE doc_id % 3 <> 1)
        SELECT b.lang, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a.n_chars) AS BIGINT) AS chars
        FROM a JOIN b ON a.doc_id = b.doc_id
        GROUP BY b.lang ORDER BY b.lang""")),

    // ---- q74: sorted compaction round-trip --------------------------------
    // Six interleaved inserts accrete small files whose doc_id ranges all
    // overlap; Compaction.compact(sortBy=doc_id) rewrites them into a few
    // range-disjoint files (the OPTIMIZE ... SORT analog). The gate: the
    // table's contents after the rewrite are byte-exact (aggregate
    // matches the raw parquet), proving the swap lost and duplicated
    // nothing.
    QueryDef(
      "q74_sorted_compaction",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.opt")
        s.sql(s"CREATE TABLE $ns.opt (doc_id BIGINT, lang STRING, n_chars BIGINT)")
        for (i <- 0 until 6)
          s.sql(s"""INSERT INTO $ns.opt
                   |SELECT doc_id, lang, n_chars FROM parquet.`$dir/documents.parquet`
                   |WHERE doc_id % 6 = $i""".stripMargin)
        val cat = s.sessionState.catalogManager.catalog("gcat")
          .asInstanceOf[graft.sources.GraftCatalog]
        val t = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
          Array("corpus"), "opt")).asInstanceOf[graft.sources.GraftTable]
        graft.sources.Compaction.compact(s, t, sortBy = Seq("doc_id"), outputFiles = 3)
        s.sql(
          s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
             |       CAST(SUM(n_chars) AS BIGINT) AS chars,
             |       CAST(SUM(doc_id) AS BIGINT) AS id_sum
             |FROM $ns.opt GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(n_chars) AS BIGINT) AS chars,
        CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM documents GROUP BY lang ORDER BY lang""")),

    // ---- q83: Z-ORDER compaction round-trip --------------------------------
    // Multi-dimensional clustering: six interleaved inserts whose doc_id
    // AND n_chars ranges all overlap are rewritten along the Z-curve over
    // (doc_id, n_chars), so every output file spans a narrow [min, max] on
    // BOTH columns and registered-range skipping serves filters on either
    // one (file-count pruning proven in GraftCatalogSpec "z-order"; this
    // query gates the VALUES: the post-rewrite table must still aggregate
    // byte-exact against the raw parquet, and a two-sided filter must
    // return exactly the oracle's rows through the clustered files).
    QueryDef(
      "q83_zorder_compaction",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.zopt")
        s.sql(s"CREATE TABLE $ns.zopt (doc_id BIGINT, lang STRING, n_chars BIGINT)")
        for (i <- 0 until 6)
          s.sql(s"""INSERT INTO $ns.zopt
                   |SELECT doc_id, lang, n_chars FROM parquet.`$dir/documents.parquet`
                   |WHERE doc_id % 6 = $i""".stripMargin)
        val cat = s.sessionState.catalogManager.catalog("gcat")
          .asInstanceOf[graft.sources.GraftCatalog]
        val t = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
          Array("corpus"), "zopt")).asInstanceOf[graft.sources.GraftTable]
        graft.sources.Compaction.compact(
          s, t, zorderBy = Seq("doc_id", "n_chars"), outputFiles = 4)
        s.sql(
          s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
             |       CAST(SUM(n_chars) AS BIGINT) AS chars,
             |       CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |       CAST(SUM(CASE WHEN doc_id < 100 AND n_chars < 300 THEN 1 ELSE 0 END) AS BIGINT) AS corner
             |FROM $ns.zopt GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(n_chars) AS BIGINT) AS chars,
        CAST(SUM(doc_id) AS BIGINT) AS id_sum,
        CAST(SUM(CASE WHEN doc_id < 100 AND n_chars < 300 THEN 1 ELSE 0 END) AS BIGINT) AS corner
        FROM documents GROUP BY lang ORDER BY lang""")),

    // ---- q84: RENAME COLUMN schema evolution -------------------------------
    // A metadata-only rename between two appends: the first generation of
    // files carries the OLD physical name, the second the new one, and a
    // filtered aggregate over the renamed column must read both
    // generations correctly — no files rewritten (the per-file name
    // resolution lives in GraftReaderFactory.open; guards and
    // compaction-migration in GraftCatalogSpec "RENAME COLUMN").
    QueryDef(
      "q84_rename_evolution",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.ren")
        s.sql(s"CREATE TABLE $ns.ren (doc_id BIGINT, lang STRING, nch BIGINT)")
        s.sql(s"""INSERT INTO $ns.ren
                 |SELECT doc_id, lang, n_chars FROM parquet.`$dir/documents.parquet`
                 |WHERE doc_id % 2 = 0""".stripMargin)
        s.sql(s"ALTER TABLE $ns.ren RENAME COLUMN nch TO n_chars")
        s.sql(s"""INSERT INTO $ns.ren
                 |SELECT doc_id, lang, n_chars FROM parquet.`$dir/documents.parquet`
                 |WHERE doc_id % 2 = 1""".stripMargin)
        s.sql(s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
                 |       CAST(SUM(n_chars) AS BIGINT) AS chars
                 |FROM $ns.ren WHERE n_chars >= 100
                 |GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM documents WHERE n_chars >= 100
        GROUP BY lang ORDER BY lang""")),

    // ---- q65: catalog-free format("graft") read ---------------------------
    // The DataSourceRegister surface: a table dir written through the
    // catalog is read back with spark.read.format("graft").load(dir) — no
    // catalog in the loop, schema/partitioning from _meta.yml (capability
    // analog of the reference's direct-FileFormat reads,
    // HBaseFileFormatTestSuite.scala:38-61).
    QueryDef(
      "q65_direct_read",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.fdocs")
        s.sql(s"""CREATE TABLE $ns.fdocs AS
                 |SELECT doc_id, lang, source, n_chars
                 |FROM parquet.`$dir/documents.parquet`""".stripMargin)
        val wh = s.conf.get("spark.sql.catalog.gcat.warehouse")
        s.read.format("graft").load(s"$wh/corpus/fdocs")
          .where("n_chars >= 250")
          .groupBy("lang", "source")
          .agg(org.apache.spark.sql.functions.count("*").cast("long").as("n"),
            org.apache.spark.sql.functions.sum("n_chars").cast("long").as("chars"))
          .orderBy("lang", "source")
      },
      Some("""SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM documents WHERE n_chars >= 250
        GROUP BY lang, source ORDER BY lang, source""")),

    // ---- q75: snapshot time travel (VERSION AS OF) ------------------------
    // Every commit records its manifest under _snapshots/ and never
    // physically deletes replaced files (see [[graft.sources.Snapshots]]),
    // so a pinned read replays the table exactly as of that commit. The
    // gate: CTAS the 'en' slice, capture that snapshot's version, then
    // mutate past it (append the rest + a COW DELETE); the VERSION AS OF
    // read must equal the oracle over the original CTAS input — both later
    // mutations invisible. At 100 TB this is how a training run pins its
    // corpus version while ingestion keeps committing.
    QueryDef(
      "q75_time_travel",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.tt")
        s.sql(s"""CREATE TABLE $ns.tt AS
                 |SELECT doc_id, lang, n_chars FROM parquet.`$dir/documents.parquet`
                 |WHERE lang = 'en'""".stripMargin)
        val wh = s.conf.get("spark.sql.catalog.gcat.warehouse")
        val dataDir = new org.apache.hadoop.fs.Path(s"$wh/corpus/tt/data")
        val fs = dataDir.getFileSystem(new org.apache.hadoop.conf.Configuration())
        val v1 = graft.sources.Snapshots.list(fs, dataDir).last._1
        s.sql(s"""INSERT INTO $ns.tt
                 |SELECT doc_id, lang, n_chars FROM parquet.`$dir/documents.parquet`
                 |WHERE lang <> 'en'""".stripMargin)
        s.sql(s"DELETE FROM $ns.tt WHERE n_chars < 200")
        s.sql(s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
                 |       CAST(SUM(n_chars) AS BIGINT) AS chars,
                 |       CAST(SUM(doc_id) AS BIGINT) AS id_sum
                 |FROM $ns.tt VERSION AS OF $v1
                 |GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(n_chars) AS BIGINT) AS chars,
        CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM documents WHERE lang = 'en'
        GROUP BY lang ORDER BY lang""")),

    // ---- q76: incremental append scan (change feed between snapshots) -----
    // The ingest-tailing read: option("since-version", m) narrows a scan
    // to files committed AFTER snapshot m, composing with
    // option("snapshot-version", n) as the inclusive end — so each poll
    // of a 100 TB table reads only what new commits added, verified
    // append-only over the range (Snapshots.readManifest throws if a COW
    // delete/compaction rewrote files inside it). Gate: three separate
    // append commits (en | de | the rest); the (v_en, v_de] window must
    // see exactly the 'de' slice.
    QueryDef(
      "q76_incremental_read",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.inc")
        s.sql(s"""CREATE TABLE $ns.inc AS
                 |SELECT doc_id, lang, n_chars FROM parquet.`$dir/documents.parquet`
                 |WHERE lang = 'en'""".stripMargin)
        val wh = s.conf.get("spark.sql.catalog.gcat.warehouse")
        val dataDir = new org.apache.hadoop.fs.Path(s"$wh/corpus/inc/data")
        val fs = dataDir.getFileSystem(new org.apache.hadoop.conf.Configuration())
        def v(): Long = graft.sources.Snapshots.list(fs, dataDir).last._1
        val vEn = v()
        s.sql(s"""INSERT INTO $ns.inc
                 |SELECT doc_id, lang, n_chars FROM parquet.`$dir/documents.parquet`
                 |WHERE lang = 'de'""".stripMargin)
        val vDe = v()
        s.sql(s"""INSERT INTO $ns.inc
                 |SELECT doc_id, lang, n_chars FROM parquet.`$dir/documents.parquet`
                 |WHERE lang NOT IN ('en', 'de')""".stripMargin)
        s.read
          .option("since-version", vEn)
          .option("snapshot-version", vDe)
          .table(s"$ns.inc")
          .groupBy("lang")
          .agg(org.apache.spark.sql.functions.count("*").cast("long").as("n"),
            org.apache.spark.sql.functions.sum("n_chars").cast("long").as("chars"),
            org.apache.spark.sql.functions.sum("doc_id").cast("long").as("id_sum"))
          .orderBy("lang")
      },
      Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(n_chars) AS BIGINT) AS chars,
        CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM documents WHERE lang = 'de'
        GROUP BY lang ORDER BY lang""")),

    // ---- q87: incremental materialized-view maintenance --------------------
    // The change feed (q76) and MERGE (q64/q67) composed into the thing
    // they exist for: an aggregate table kept current WITHOUT recomputing
    // the base. Seed the MV from the first commit, append more base data,
    // aggregate ONLY the (since, head] window, and MERGE the delta in —
    // matched groups add, new groups insert. At 100 TB the poll reads one
    // commit's files, never the table; the gate proves delta-maintenance
    // ≡ full recompute (the oracle aggregates everything from scratch).
    QueryDef(
      "q87_incremental_mv",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.mv_base")
        s.sql(s"DROP TABLE IF EXISTS $ns.mv")
        s.sql(s"""CREATE TABLE $ns.mv_base AS
                 |SELECT doc_id, lang, n_chars FROM parquet.`$dir/documents.parquet`
                 |WHERE lang = 'en'""".stripMargin)
        s.sql(s"""CREATE TABLE $ns.mv AS
                 |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
                 |       CAST(SUM(n_chars) AS BIGINT) AS chars
                 |FROM $ns.mv_base GROUP BY lang""".stripMargin)
        val wh = s.conf.get("spark.sql.catalog.gcat.warehouse")
        val dataDir = new org.apache.hadoop.fs.Path(s"$wh/corpus/mv_base/data")
        val fs = dataDir.getFileSystem(new org.apache.hadoop.conf.Configuration())
        val v1 = graft.sources.Snapshots.list(fs, dataDir).last._1
        s.sql(s"""INSERT INTO $ns.mv_base
                 |SELECT doc_id, lang, n_chars FROM parquet.`$dir/documents.parquet`
                 |WHERE lang <> 'en'""".stripMargin)
        // delta = only the files the second commit added, published as a
        // (tiny) delta table the MERGE consumes — the same shape a real
        // pipeline would checkpoint between poll and apply
        s.sql(s"DROP TABLE IF EXISTS $ns.mv_delta")
        s.read.option("since-version", v1).table(s"$ns.mv_base")
          .groupBy("lang")
          .agg(org.apache.spark.sql.functions.count("*").cast("long").as("n"),
            org.apache.spark.sql.functions.sum("n_chars").cast("long").as("chars"))
          .writeTo(s"$ns.mv_delta").create()
        s.sql(s"""MERGE INTO $ns.mv t USING $ns.mv_delta d ON t.lang = d.lang
                 |WHEN MATCHED THEN UPDATE SET n = t.n + d.n, chars = t.chars + d.chars
                 |WHEN NOT MATCHED THEN INSERT (lang, n, chars) VALUES (d.lang, d.n, d.chars)"""
            .stripMargin)
        s.sql(s"SELECT lang, n, chars FROM $ns.mv ORDER BY lang")
      },
      Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM documents GROUP BY lang ORDER BY lang""")),

    // ---- q88: RESTORE — roll the table back to a snapshot ------------------
    // The operational undo: a bad load (append) and a bad COW DELETE are
    // both erased by restoring the pre-mess snapshot. The restore commits
    // the OLD manifest as a NEW version — pure metadata, nothing
    // rewritten at any table size, and the bad commits stay time-
    // travelable for the post-mortem. Gate: after the rollback the table
    // must aggregate exactly as the original CTAS input.
    QueryDef(
      "q88_restore_rollback",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.rb")
        s.sql(s"""CREATE TABLE $ns.rb AS
                 |SELECT doc_id, lang, n_chars FROM parquet.`$dir/documents.parquet`
                 |WHERE lang = 'en'""".stripMargin)
        val wh = s.conf.get("spark.sql.catalog.gcat.warehouse")
        val tableDir = s"$wh/corpus/rb"
        val dataDir = new org.apache.hadoop.fs.Path(s"$tableDir/data")
        val fs = dataDir.getFileSystem(new org.apache.hadoop.conf.Configuration())
        val v1 = graft.sources.Snapshots.list(fs, dataDir).last._1
        // the mess: a wrong append and a destructive COW delete
        s.sql(s"""INSERT INTO $ns.rb
                 |SELECT doc_id, lang, n_chars FROM parquet.`$dir/documents.parquet`
                 |WHERE lang <> 'en'""".stripMargin)
        s.sql(s"DELETE FROM $ns.rb WHERE n_chars < 250")
        graft.sources.Snapshots.restore(tableDir, v1)
        s.sql(s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
                 |       CAST(SUM(n_chars) AS BIGINT) AS chars,
                 |       CAST(SUM(doc_id) AS BIGINT) AS id_sum
                 |FROM $ns.rb GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(n_chars) AS BIGINT) AS chars,
        CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM documents WHERE lang = 'en'
        GROUP BY lang ORDER BY lang""")),

    // ---- q89: days() hidden partitioning over event time -------------------
    // The 100 TB ingest layout: PARTITIONED BY (days(e_ts)) routes rows
    // into one directory per calendar day WITHOUT a user-visible day
    // column, and a plain range predicate on the timestamp prunes day
    // directories before anything is listed (Iceberg-style hidden
    // partitioning — Hive would demand a redundant WHERE dt = ...).
    // Pruning-by-file-count is proven in GraftCatalogSpec "days()"; this
    // gates the VALUES through the partition-derive write + pruned read.
    QueryDef(
      "q89_days_partitioning",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.ev")
        s.sql(s"""CREATE TABLE $ns.ev
                 |(event_id BIGINT, e_ts TIMESTAMP_NTZ, user_id BIGINT, value DOUBLE)
                 |PARTITIONED BY (days(e_ts))""".stripMargin)
        graft.Tables(s, dir).events
          .selectExpr("event_id", "ts AS e_ts", "user_id", "value")
          .writeTo(s"$ns.ev").append()
        s.sql(
          s"""SELECT CAST(date_format(e_ts, 'yyyy-MM-dd') AS STRING) AS day,
             |       CAST(COUNT(*) AS BIGINT) AS n,
             |       CAST(SUM(event_id) AS BIGINT) AS id_sum,
             |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
             |FROM $ns.ev
             |WHERE e_ts >= TIMESTAMP_NTZ '2024-01-10 00:00:00'
             |  AND e_ts <  TIMESTAMP_NTZ '2024-01-15 00:00:00'
             |GROUP BY 1 ORDER BY day""".stripMargin)
      },
      Some("""SELECT strftime(ts, '%Y-%m-%d') AS day,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(event_id) AS BIGINT) AS id_sum,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
          AND ts <  TIMESTAMP '2024-01-15 00:00:00'
        GROUP BY 1 ORDER BY day""")),

    // ---- q90: bloom-filtered fingerprint lookups ---------------------------
    // The high-cardinality point-lookup table: content fingerprints whose
    // [min, max] ranges overlap in every file, stored with per-row-group
    // bloom filters (write.bloom.columns — skip proven in
    // GraftCatalogSpec "bloom"). The gate drives VALUES through the
    // bloom'd files: probe fingerprints of every doc_id % 100 = 7
    // document plus one guaranteed-absent key; hits must resolve to
    // exactly the right documents and the absent key to nothing.
    QueryDef(
      "q90_bloom_lookup",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.fps")
        s.sql(s"""CREATE TABLE $ns.fps (doc_id BIGINT, fp STRING)
                 |TBLPROPERTIES ('write.bloom.columns'='fp', 'write.bloom.ndv'='8192')"""
            .stripMargin)
        s.sql(s"""INSERT INTO $ns.fps
                 |SELECT doc_id, md5(cast(text as binary))
                 |FROM parquet.`$dir/documents.parquet`""".stripMargin)
        s.sql(
          s"""SELECT b.doc_id, b.fp
             |FROM $ns.fps b
             |JOIN (SELECT md5(cast(text as binary)) AS fp
             |      FROM parquet.`$dir/documents.parquet` WHERE doc_id % 100 = 7
             |      UNION ALL SELECT 'not-a-real-fingerprint') p
             |  ON b.fp = p.fp
             |ORDER BY b.doc_id""".stripMargin)
      },
      Some("""SELECT b.doc_id, b.fp
        FROM (SELECT doc_id, md5(text) AS fp FROM documents) b
        JOIN (SELECT md5(text) AS fp FROM documents WHERE doc_id % 100 = 7
              UNION ALL SELECT 'not-a-real-fingerprint') p
          ON b.fp = p.fp
        ORDER BY b.doc_id""")),

    // ---- q93: merge-on-read mutations (equality deletes) ------------------
    // The same DELETE + UPDATE + MERGE surface as q63/q64, but through
    // `write.mutation.mode = merge-on-read` ([[graft.sources.GraftDelta]]):
    // mutations write row-key delete files under data/_deletes/ instead of
    // rewriting data files, and scans suppress deleted keys by data
    // sequence number at read time. At 100 TB that makes a point DELETE a
    // few-KB metadata write instead of a rewrite of every touched file.
    // The final read runs WITH the deletes outstanding (no compaction), so
    // the gate proves the read-time merge itself; the oracle replays the
    // mutations relationally, exactly as for the COW twins.
    QueryDef(
      "q93_mor_mutations",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.mor")
        s.sql(
          s"""CREATE TABLE $ns.mor (row_key STRING, doc_id BIGINT,
             |  n_chars BIGINT, lang STRING)
             |TBLPROPERTIES ('${graft.sources.GraftDeletes.ModeProp}' = 'merge-on-read')"""
            .stripMargin)
        s.sql(
          s"""INSERT INTO $ns.mor
             |SELECT CAST(doc_id AS STRING), doc_id, n_chars, lang
             |FROM parquet.`$dir/documents.parquet` WHERE doc_id % 2 = 0""".stripMargin)
        s.sql(s"DELETE FROM $ns.mor WHERE doc_id % 10 = 4")
        s.sql(s"UPDATE $ns.mor SET n_chars = n_chars + 7 WHERE doc_id % 10 = 6")
        s.sql(
          s"""MERGE INTO $ns.mor t
             |USING (SELECT CAST(doc_id AS STRING) AS row_key, doc_id,
             |              n_chars, lang
             |       FROM parquet.`$dir/documents.parquet` WHERE doc_id % 3 = 0) s
             |ON t.row_key = s.row_key
             |WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars + 1000
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        s.sql(
          s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
             |       CAST(SUM(n_chars) AS BIGINT) AS chars,
             |       CAST(SUM(doc_id) AS BIGINT) AS id_sum
             |FROM $ns.mor GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""WITH base AS (
          -- even docs, minus the %10=4 deletes, %10=6 updated in place
          SELECT doc_id,
                 CASE WHEN doc_id % 10 = 6 THEN n_chars + 7 ELSE n_chars END AS n_chars,
                 lang
          FROM documents WHERE doc_id % 2 = 0 AND doc_id % 10 <> 4),
        merged AS (
          -- matched (doc_id % 6 = 0 survivors): +1000
          SELECT b.doc_id, b.n_chars + 1000 AS n_chars, b.lang
          FROM base b WHERE b.doc_id % 3 = 0
          UNION ALL
          SELECT b.doc_id, b.n_chars, b.lang FROM base b WHERE b.doc_id % 3 <> 0
          UNION ALL
          -- unmatched source rows insert (odd multiples of 3, plus the
          -- even multiples of 3 the DELETE removed from the target)
          SELECT d.doc_id, d.n_chars, d.lang FROM documents d
          WHERE d.doc_id % 3 = 0
            AND (d.doc_id % 2 = 1 OR d.doc_id % 10 = 4))
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(n_chars) AS BIGINT) AS chars,
               CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM merged GROUP BY lang ORDER BY lang""")),

    // ---- q97: CDC change feed over merge-on-read mutations ----------------
    // [[graft.sources.Snapshots.changes]]: appends replay as inserts (only
    // the added files are read), merge-on-read DELETEs replay as delete
    // rows carrying their equality keys — so an incremental consumer stays
    // exact across mutations where the plain `since-version` append scan
    // must refuse. The gate drives insert → delete → insert and folds the
    // whole feed into per-change-type totals; the oracle replays the same
    // three commits relationally.
    QueryDef(
      "q97_cdc_feed",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.cdc")
        s.sql(
          s"""CREATE TABLE $ns.cdc (row_key STRING, doc_id BIGINT,
             |  n_chars BIGINT, lang STRING)
             |TBLPROPERTIES ('${graft.sources.GraftDeletes.ModeProp}' = 'merge-on-read')"""
            .stripMargin)
        s.sql(
          s"""INSERT INTO $ns.cdc
             |SELECT CAST(doc_id AS STRING), doc_id, n_chars, lang
             |FROM parquet.`$dir/documents.parquet` WHERE doc_id % 2 = 0""".stripMargin)
        s.sql(s"DELETE FROM $ns.cdc WHERE doc_id % 10 = 4")
        s.sql(
          s"""INSERT INTO $ns.cdc
             |SELECT CAST(doc_id AS STRING), doc_id, n_chars, lang
             |FROM parquet.`$dir/documents.parquet`
             |WHERE doc_id % 2 = 1 AND doc_id % 3 = 0""".stripMargin)
        val cat = s.sessionState.catalogManager.catalog("gcat")
          .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
            .of(Array("corpus"), "cdc")).asInstanceOf[graft.sources.GraftTable]
        import org.apache.spark.sql.functions._
        graft.sources.Snapshots.changes(s, tbl, since = 0L)
          .withColumn("id", coalesce(col("doc_id"), expr("CAST(row_key AS BIGINT)")))
          .groupBy(col("_change_type").as("op"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("id")).cast("long").as("id_sum"))
          .orderBy(col("op"))
      },
      Some("""WITH feed AS (
          SELECT 'insert' AS op, doc_id FROM documents WHERE doc_id % 2 = 0
          UNION ALL
          SELECT 'delete' AS op, doc_id FROM documents
          WHERE doc_id % 2 = 0 AND doc_id % 10 = 4
          UNION ALL
          SELECT 'insert' AS op, doc_id FROM documents
          WHERE doc_id % 2 = 1 AND doc_id % 3 = 0)
        SELECT op, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM feed GROUP BY op ORDER BY op""")),

    // ---- q100: ALTER COLUMN TYPE widening across file generations ---------
    // Metadata-only type evolution: rows inserted while the column was
    // INT keep their narrow physical files; after ALTER COLUMN ... TYPE
    // BIGINT the later insert writes 64-bit values an INT cannot hold.
    // The final aggregate reads BOTH generations through one scan —
    // Spark's vectorized reader widens the narrow files natively. The
    // oracle computes the same totals relationally.
    QueryDef(
      "q100_type_widening",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.wdn")
        s.sql(s"CREATE TABLE $ns.wdn (doc_id BIGINT, nc INT, lang STRING)")
        s.sql(
          s"""INSERT INTO $ns.wdn
             |SELECT doc_id, CAST(n_chars AS INT), lang
             |FROM parquet.`$dir/documents.parquet` WHERE doc_id % 2 = 0""".stripMargin)
        s.sql(s"ALTER TABLE $ns.wdn ALTER COLUMN nc TYPE BIGINT")
        s.sql(
          s"""INSERT INTO $ns.wdn
             |SELECT doc_id, n_chars + 4000000000, lang
             |FROM parquet.`$dir/documents.parquet` WHERE doc_id % 2 = 1""".stripMargin)
        s.sql(
          s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
             |       CAST(SUM(nc) AS BIGINT) AS total,
             |       CAST(MAX(nc) AS BIGINT) AS mx
             |FROM $ns.wdn GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN n_chars
                      ELSE n_chars + 4000000000 END) AS BIGINT) AS total,
        CAST(MAX(CASE WHEN doc_id % 2 = 0 THEN n_chars
                      ELSE n_chars + 4000000000 END) AS BIGINT) AS mx
        FROM documents GROUP BY lang ORDER BY lang""")),

    // ---- q101: snapshot TAGS — named, vacuum-protected pins ---------------
    // The reproducible-training-run primitive: CTAS the 'en' slice, tag
    // it `corpus-v1`, then mutate past it (append + row-level DELETE).
    // `VERSION AS OF 'corpus-v1'` must replay the tagged state exactly —
    // and keeps doing so forever, because vacuum never expires a tagged
    // manifest. Same gate shape as q75, addressed by NAME instead of
    // version number (numbers rotate; names are what jobs pin).
    QueryDef(
      "q101_snapshot_tag",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.tg")
        s.sql(s"""CREATE TABLE $ns.tg AS
                 |SELECT doc_id, lang, n_chars FROM parquet.`$dir/documents.parquet`
                 |WHERE lang = 'en'""".stripMargin)
        s.sql(s"ALTER TABLE $ns.tg CREATE TAG corpus-v1")
        s.sql(s"""INSERT INTO $ns.tg
                 |SELECT doc_id, lang, n_chars FROM parquet.`$dir/documents.parquet`
                 |WHERE lang <> 'en'""".stripMargin)
        s.sql(s"DELETE FROM $ns.tg WHERE n_chars < 200")
        s.sql(s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
                 |       CAST(SUM(n_chars) AS BIGINT) AS chars,
                 |       CAST(SUM(doc_id) AS BIGINT) AS id_sum
                 |FROM $ns.tg VERSION AS OF 'corpus-v1'
                 |GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(n_chars) AS BIGINT) AS chars,
        CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM documents WHERE lang = 'en'
        GROUP BY lang ORDER BY lang""")),

    // ---- q102: truncate(w, col) hidden partitioning -----------------------
    // Iceberg-style width truncation: `PARTITIONED BY (truncate(200,
    // doc_id))` lays one directory per id range of 200, and plain range
    // predicates on the SOURCE column prune range directories before any
    // listing — the id-range layout for columns too granular for identity
    // partitioning and too range-queried for hash buckets. The gate
    // writes through the transform, reads back through a range filter,
    // and the oracle replays relationally (pruning soundness is proven
    // in GraftCatalogSpec by planned-file counts).
    QueryDef(
      "q102_truncate_partitioning",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.trunc")
        s.sql(
          s"""CREATE TABLE $ns.trunc (doc_id BIGINT, n_chars BIGINT, lang STRING)
             |PARTITIONED BY (truncate(200, doc_id))""".stripMargin)
        s.sql(
          s"""INSERT INTO $ns.trunc
             |SELECT doc_id, n_chars, lang FROM parquet.`$dir/documents.parquet`"""
            .stripMargin)
        s.sql(
          s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
             |       CAST(SUM(n_chars) AS BIGINT) AS chars,
             |       CAST(SUM(doc_id) AS BIGINT) AS id_sum
             |FROM $ns.trunc WHERE doc_id >= 300 AND doc_id < 700
             |GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(n_chars) AS BIGINT) AS chars,
        CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM documents WHERE doc_id >= 300 AND doc_id < 700
        GROUP BY lang ORDER BY lang""")),

    // ---- q103: partition spec evolution -----------------------------------
    // `ALTER TABLE ... SET PARTITION SPEC` re-points the layout without
    // rewriting a file: the first half of the corpus lands under
    // lang= directories, the second under truncate(250, doc_id) ranges,
    // and one scan reads both generations (rows carry the partition
    // columns; old-layout files simply stop directory-pruning until
    // compaction migrates them). The oracle sees the union relationally.
    QueryDef(
      "q103_partition_evolution",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.pe")
        s.sql(
          s"""CREATE TABLE $ns.pe (doc_id BIGINT, n_chars BIGINT, lang STRING)
             |PARTITIONED BY (lang)""".stripMargin)
        s.sql(
          s"""INSERT INTO $ns.pe
             |SELECT doc_id, n_chars, lang FROM parquet.`$dir/documents.parquet`
             |WHERE doc_id % 2 = 0""".stripMargin)
        s.sql(s"ALTER TABLE $ns.pe SET PARTITION SPEC (truncate(250, doc_id))")
        s.sql(
          s"""INSERT INTO $ns.pe
             |SELECT doc_id, n_chars, lang FROM parquet.`$dir/documents.parquet`
             |WHERE doc_id % 2 = 1""".stripMargin)
        s.sql(
          s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
             |       CAST(SUM(n_chars) AS BIGINT) AS chars,
             |       CAST(SUM(doc_id) AS BIGINT) AS id_sum
             |FROM $ns.pe WHERE doc_id >= 100
             |GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(n_chars) AS BIGINT) AS chars,
        CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM documents WHERE doc_id >= 100
        GROUP BY lang ORDER BY lang""")),

    // ---- q106: incremental MV maintenance ACROSS copy-on-write mutations --
    // The q87 pipeline upgraded from append-only to full CDC: the base
    // table takes a COW DELETE and a COW UPDATE (the engine's DEFAULT
    // mutation mode), the change feed replays them with full pre/post
    // images ([[graft.sources.ChangeLog]]), and one signed aggregate over
    // the feed (insert/postimage add, delete/preimage subtract) MERGEs
    // into the MV. The gate proves delta-maintenance ≡ full recompute
    // across mutations — at 100 TB the poll reads one mutation's delta,
    // never the base table.
    QueryDef(
      "q106_cdc_cow_mv",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.cmv_base")
        s.sql(s"DROP TABLE IF EXISTS $ns.cmv")
        s.sql(s"""CREATE TABLE $ns.cmv_base AS
                 |SELECT CAST(doc_id AS STRING) AS row_key, doc_id, lang, n_chars
                 |FROM parquet.`$dir/documents.parquet`""".stripMargin)
        s.sql(s"""CREATE TABLE $ns.cmv AS
                 |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
                 |       CAST(SUM(n_chars) AS BIGINT) AS chars
                 |FROM $ns.cmv_base GROUP BY lang""".stripMargin)
        val wh = s.conf.get("spark.sql.catalog.gcat.warehouse")
        val dataDir = new org.apache.hadoop.fs.Path(s"$wh/corpus/cmv_base/data")
        val fs = dataDir.getFileSystem(new org.apache.hadoop.conf.Configuration())
        val v1 = graft.sources.Snapshots.list(fs, dataDir).last._1
        // copy-on-write mutations (no merge-on-read property set)
        s.sql(s"DELETE FROM $ns.cmv_base WHERE n_chars < 250")
        s.sql(s"UPDATE $ns.cmv_base SET n_chars = n_chars + 7 WHERE doc_id % 10 = 6")
        val cat = s.sessionState.catalogManager.catalog("gcat")
          .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
          .of(Array("corpus"), "cmv_base")).asInstanceOf[graft.sources.GraftTable]
        // signed delta: one aggregate over exactly the change rows
        graft.sources.Snapshots.changes(s, tbl, since = v1)
          .createOrReplaceTempView("cmv_feed")
        s.sql("""SELECT lang,
                |  CAST(SUM(CASE WHEN _change_type IN ('insert', 'update_postimage')
                |           THEN 1 ELSE -1 END) AS BIGINT) AS n,
                |  CAST(SUM(CASE WHEN _change_type IN ('insert', 'update_postimage')
                |           THEN n_chars ELSE -n_chars END) AS BIGINT) AS chars
                |FROM cmv_feed GROUP BY lang""".stripMargin)
          .createOrReplaceTempView("cmv_delta")
        s.sql(s"""MERGE INTO $ns.cmv t USING cmv_delta d ON t.lang = d.lang
                 |WHEN MATCHED AND t.n + d.n = 0 THEN DELETE
                 |WHEN MATCHED THEN UPDATE SET n = t.n + d.n, chars = t.chars + d.chars
                 |WHEN NOT MATCHED THEN INSERT (lang, n, chars) VALUES (d.lang, d.n, d.chars)"""
          .stripMargin)
        s.sql(s"SELECT lang, n, chars FROM $ns.cmv ORDER BY lang")
      },
      Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN doc_id % 10 = 6 THEN n_chars + 7 ELSE n_chars END)
          AS BIGINT) AS chars
        FROM documents WHERE n_chars >= 250
        GROUP BY lang ORDER BY lang""")),

    // ---- q107: CDC update pairing — Delta-parity change types -------------
    // Merge-on-read UPDATEs surface as paired update_preimage (the key,
    // values not recorded by MOR) + update_postimage (full new values)
    // instead of bare delete+insert, so a Delta-CDF-shaped consumer can
    // distinguish updates from churn. The oracle replays the commit
    // sequence relationally, including the postimage values (+7).
    QueryDef(
      "q107_cdc_update_pairing",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.cdc2")
        s.sql(
          s"""CREATE TABLE $ns.cdc2 (row_key STRING, doc_id BIGINT,
             |  n_chars BIGINT, lang STRING)
             |TBLPROPERTIES ('${graft.sources.GraftDeletes.ModeProp}' = 'merge-on-read')"""
            .stripMargin)
        s.sql(
          s"""INSERT INTO $ns.cdc2
             |SELECT CAST(doc_id AS STRING), doc_id, n_chars, lang
             |FROM parquet.`$dir/documents.parquet` WHERE doc_id % 2 = 0""".stripMargin)
        s.sql(s"UPDATE $ns.cdc2 SET n_chars = n_chars + 7 WHERE doc_id % 10 = 6")
        s.sql(s"DELETE FROM $ns.cdc2 WHERE doc_id % 10 = 4")
        val cat = s.sessionState.catalogManager.catalog("gcat")
          .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
          .of(Array("corpus"), "cdc2")).asInstanceOf[graft.sources.GraftTable]
        import org.apache.spark.sql.functions._
        graft.sources.Snapshots.changes(s, tbl, since = 0L)
          .withColumn("id", coalesce(col("doc_id"), expr("CAST(row_key AS BIGINT)")))
          .groupBy(col("_change_type").as("op"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("id")).cast("long").as("id_sum"),
            sum(coalesce(col("n_chars"), lit(0L))).cast("long").as("chars"))
          .orderBy(col("op"))
      },
      Some("""WITH feed AS (
          SELECT 'insert' AS op, doc_id, n_chars FROM documents WHERE doc_id % 2 = 0
          UNION ALL
          SELECT 'update_preimage', doc_id, 0 FROM documents
          WHERE doc_id % 2 = 0 AND doc_id % 10 = 6
          UNION ALL
          SELECT 'update_postimage', doc_id, n_chars + 7 FROM documents
          WHERE doc_id % 2 = 0 AND doc_id % 10 = 6
          UNION ALL
          SELECT 'delete', doc_id, 0 FROM documents
          WHERE doc_id % 2 = 0 AND doc_id % 10 = 4)
        SELECT op, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(doc_id) AS BIGINT) AS id_sum,
               CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM feed GROUP BY op ORDER BY op""")),

    // ---- q108: INSERT OVERWRITE — dynamic + static partition overwrite ----
    // The backfill primitive: dynamic mode replaces exactly the
    // partitions the incoming rows land in (en), a static PARTITION
    // clause replaces exactly the named partition (de), and every other
    // partition survives byte-identical. At 100 TB re-running one day's
    // pipeline rewrites that day's directories, never the table.
    QueryDef(
      "q108_dynamic_overwrite",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.dow")
        s.sql(s"""CREATE TABLE $ns.dow (doc_id BIGINT, n_chars BIGINT, lang STRING)
                 |PARTITIONED BY (lang)""".stripMargin)
        s.sql(s"""INSERT INTO $ns.dow
                 |SELECT doc_id, n_chars, lang
                 |FROM parquet.`$dir/documents.parquet`""".stripMargin)
        val prior = s.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        try {
          s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          s.sql(s"""INSERT OVERWRITE $ns.dow
                   |SELECT doc_id, n_chars + 1000, lang
                   |FROM parquet.`$dir/documents.parquet` WHERE lang = 'en'""".stripMargin)
        } finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prior)
        s.sql(s"""INSERT OVERWRITE $ns.dow PARTITION (lang = 'de')
                 |SELECT doc_id, n_chars + 500
                 |FROM parquet.`$dir/documents.parquet` WHERE lang = 'de'""".stripMargin)
        s.sql(s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
                 |       CAST(SUM(n_chars) AS BIGINT) AS chars,
                 |       CAST(SUM(doc_id) AS BIGINT) AS id_sum
                 |FROM $ns.dow GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN lang = 'en' THEN n_chars + 1000
                      WHEN lang = 'de' THEN n_chars + 500
                      ELSE n_chars END) AS BIGINT) AS chars,
        CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM documents GROUP BY lang ORDER BY lang""")),

    // ---- q112: enforced CHECK constraints -------------------------------
    // DSv2 constraints (TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT):
    // CREATE TABLE ... CONSTRAINT ... CHECK persists through the catalog,
    // [[graft.sources.GraftTable.constraints]] reports it enforced, and
    // Spark's analyzer validates every INSERT — the violating batch below
    // fails atomically (no partial rows), the valid rows land. ADD
    // CONSTRAINT validates existing data before persisting. The oracle
    // replays the surviving inserts relationally.
    QueryDef(
      "q112_check_constraint",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.ck")
        s.sql(s"""CREATE TABLE $ns.ck (
                 |  doc_id BIGINT, lang STRING, n_chars BIGINT,
                 |  CONSTRAINT chars_pos CHECK (n_chars > 0))""".stripMargin)
        s.sql(s"""INSERT INTO $ns.ck
                 |SELECT doc_id, lang, n_chars
                 |FROM parquet.`$dir/documents.parquet` WHERE n_chars > 0""".stripMargin)
        // a batch containing one violating row must commit NOTHING
        try s.sql(s"""INSERT INTO $ns.ck
                     |SELECT doc_id + 1000000, lang, n_chars - 1000000
                     |FROM parquet.`$dir/documents.parquet`""".stripMargin)
        catch { case _: Exception => () }
        // constraints survive the catalog round-trip and ADD validates
        s.sql(s"ALTER TABLE $ns.ck ADD CONSTRAINT lang_set CHECK (length(lang) = 2)")
        s.sql(s"ALTER TABLE $ns.ck DROP CONSTRAINT lang_set")
        s.sql(s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
                 |       CAST(SUM(n_chars) AS BIGINT) AS chars
                 |FROM $ns.ck GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM documents WHERE n_chars > 0
        GROUP BY lang ORDER BY lang""")),

    // ---- q113: column DEFAULT values ------------------------------------
    // SUPPORT_COLUMN_DEFAULT_VALUE: inserts that omit a column (or write
    // the DEFAULT keyword) fill CURRENT_DEFAULT; ADD COLUMN ... DEFAULT
    // backfills rows in files written BEFORE the column existed via
    // EXISTS_DEFAULT — metadata-only, the vectorized reader fills it per
    // file; SET DEFAULT changes only future inserts. The oracle replays
    // the insert sequence.
    QueryDef(
      "q113_column_defaults",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.dft")
        s.sql(s"""CREATE TABLE $ns.dft (
                 |  doc_id BIGINT, lang STRING DEFAULT 'xx')""".stripMargin)
        s.sql(s"""INSERT INTO $ns.dft (doc_id)
                 |SELECT doc_id FROM parquet.`$dir/documents.parquet`
                 |WHERE lang = 'en'""".stripMargin)
        s.sql(s"""INSERT INTO $ns.dft
                 |SELECT doc_id, lang FROM parquet.`$dir/documents.parquet`
                 |WHERE lang <> 'en'""".stripMargin)
        // files above predate the column: they read back 7 (EXISTS_DEFAULT)
        s.sql(s"ALTER TABLE $ns.dft ADD COLUMN score BIGINT DEFAULT 7")
        s.sql(s"ALTER TABLE $ns.dft ALTER COLUMN score SET DEFAULT 50")
        s.sql(s"""INSERT INTO $ns.dft (doc_id, lang)
                 |SELECT doc_id + 1000000, lang
                 |FROM parquet.`$dir/documents.parquet` WHERE lang = 'de'""".stripMargin)
        s.sql(s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
                 |       CAST(SUM(score) AS BIGINT) AS score_sum
                 |FROM $ns.dft GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""WITH rows0 AS (
          SELECT doc_id, 'xx' AS lang, 7 AS score FROM documents WHERE lang = 'en'
          UNION ALL
          SELECT doc_id, lang, 7 AS score FROM documents WHERE lang <> 'en'
          UNION ALL
          SELECT doc_id + 1000000, lang, 50 AS score FROM documents WHERE lang = 'de')
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(score) AS BIGINT) AS score_sum
        FROM rows0 GROUP BY lang ORDER BY lang""")),

    // ---- q116: write-audit-publish (WAP) staged commits ------------------
    // The production-pipeline gate: a batch stages under a WAP id
    // (`option("wap.id", ...)`) — live readers see NOTHING, the auditor
    // reads the staged snapshot via `VERSION AS OF 'wap-<id>'`, then
    // `PUBLISH WAP` folds the files in with one registry swap (no data
    // movement) and `DISCARD WAP` deletes a rejected batch's files. The
    // result pins all three observation points; the oracle reconstructs
    // them relationally.
    QueryDef(
      "q116_wap",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.wap1")
        s.sql(s"""CREATE TABLE $ns.wap1 AS
                 |SELECT doc_id, lang, n_chars
                 |FROM parquet.`$dir/documents.parquet` WHERE lang <> 'de'""".stripMargin)
        s.read.parquet(s"$dir/documents.parquet")
          .filter(col("lang") === "de").select(col("doc_id"), col("lang"), col("n_chars"))
          .writeTo(s"$ns.wap1").option("wap.id", "ingest1").append()
        val liveBefore = s.table(s"$ns.wap1").count()
        val audit = s.sql(
          s"SELECT COUNT(*) FROM $ns.wap1 VERSION AS OF 'wap-ingest1'").head().getLong(0)
        s.sql(s"ALTER TABLE $ns.wap1 PUBLISH WAP 'ingest1'")
        // a rejected batch: staged, audited bad, discarded — leaves no trace
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id") + 9000000, col("lang"), col("n_chars") * -1)
          .toDF("doc_id", "lang", "n_chars")
          .writeTo(s"$ns.wap1").option("wap.id", "bad").append()
        s.sql(s"ALTER TABLE $ns.wap1 DISCARD WAP 'bad'")
        s.sql(s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
                 |       CAST(SUM(n_chars) AS BIGINT) AS chars,
                 |       CAST($liveBefore AS BIGINT) AS live_before,
                 |       CAST($audit AS BIGINT) AS audit_rows
                 |FROM $ns.wap1 GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(n_chars) AS BIGINT) AS chars,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM documents WHERE lang <> 'de') AS live_before,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS audit_rows
        FROM documents GROUP BY lang ORDER BY lang""")),

    // ---- q118: GENERATED ALWAYS AS columns -------------------------------
    // DSv2 generated columns: Spark validates + persists the expression
    // at CREATE TABLE (non-deterministic expressions rejected); the graft
    // write path computes the value per row (driver-resolved, bound,
    // evaluated in the writer before row-key generation and partition
    // routing) and OVERRIDES whatever the query supplied — the inserts
    // below deliberately write garbage into both generated columns. The
    // oracle recomputes the expressions relationally.
    QueryDef(
      "q118_generated_columns",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.gen1")
        s.sql(s"""CREATE TABLE $ns.gen1 (
                 |  doc_id BIGINT, lang STRING, n_chars BIGINT,
                 |  chars_bucket BIGINT GENERATED ALWAYS AS (n_chars DIV 100),
                 |  lang_up STRING GENERATED ALWAYS AS (upper(lang)))""".stripMargin)
        s.sql(s"""INSERT INTO $ns.gen1
                 |SELECT doc_id, lang, n_chars, -1, 'junk'
                 |FROM parquet.`$dir/documents.parquet` WHERE lang <> 'de'""".stripMargin)
        s.sql(s"""INSERT INTO $ns.gen1 (doc_id, lang, n_chars)
                 |SELECT doc_id, lang, n_chars
                 |FROM parquet.`$dir/documents.parquet` WHERE lang = 'de'""".stripMargin)
        s.sql(s"""SELECT lang_up, CAST(COUNT(*) AS BIGINT) AS n,
                 |       CAST(SUM(chars_bucket) AS BIGINT) AS bucket_sum
                 |FROM $ns.gen1 GROUP BY lang_up ORDER BY lang_up""".stripMargin)
      },
      Some("""SELECT upper(lang) AS lang_up, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(n_chars // 100) AS BIGINT) AS bucket_sum
        FROM documents GROUP BY upper(lang) ORDER BY lang_up""")),

    // ---- q120: queryable metadata tables ---------------------------------
    // Iceberg-style `t$files` / `t$snapshots`: the table's own metadata
    // as SQL relations (find big files, watch snapshot growth — ops at
    // 100 TB without a custom tool). The gate cross-checks the metadata
    // AGAINST THE DATA: per-partition row counts summed from the files
    // registry must equal the real per-partition counts, and the
    // snapshot count after one CTAS + one INSERT is exactly 2 — both
    // parallelism-independent, so DuckDB can verify from the raw parquet.
    QueryDef(
      "q120_metadata_tables",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.meta1")
        s.sql(s"""CREATE TABLE $ns.meta1 (doc_id BIGINT, n_chars BIGINT, lang STRING)
                 |PARTITIONED BY (lang)""".stripMargin)
        s.sql(s"""INSERT INTO $ns.meta1
                 |SELECT doc_id, n_chars, lang
                 |FROM parquet.`$dir/documents.parquet` WHERE lang <> 'zh'""".stripMargin)
        s.sql(s"""INSERT INTO $ns.meta1
                 |SELECT doc_id, n_chars, lang
                 |FROM parquet.`$dir/documents.parquet` WHERE lang = 'zh'""".stripMargin)
        s.sql(s"""SELECT substring(f.partition, 6) AS lang,
                 |       CAST(SUM(f.rows) AS BIGINT) AS n_rows,
                 |       CAST(MAX(p.rows) AS BIGINT) AS n_rows_p,
                 |       (SELECT CAST(MAX(version) AS BIGINT)
                 |        FROM $ns.`meta1$$snapshots`) AS n_snapshots
                 |FROM $ns.`meta1$$files` f
                 |JOIN $ns.`meta1$$partitions` p ON p.partition = f.partition
                 |WHERE NOT f.is_delete
                 |GROUP BY substring(f.partition, 6)
                 |ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(COUNT(*) AS BIGINT) AS n_rows_p,
        CAST(2 AS BIGINT) AS n_snapshots
        FROM documents GROUP BY lang ORDER BY lang""")),

    // ---- q129: complete MIN/MAX/COUNT aggregate pushdown -------------------
    // `SELECT MIN(x), MAX(x), COUNT(*)` over a graft table is answered
    // ENTIRELY from the commit-time stats registry (GraftAggScan): the
    // global extreme is the fold of exact per-file ranges — one side-file
    // read, zero data I/O, regardless of table bytes (at 100 TB the
    // difference between a metadata lookup and a full scan). Two inserts
    // ensure the fold crosses files; the second leaves l_quantity NULL so
    // the gate also proves absent per-file ranges read as "all null here"
    // (MIN/MAX skip them — SQL semantics). Plan shape (GraftAggScan, no
    // footer reads) is asserted in PlanSpec; this gates the VALUES.
    QueryDef(
      "q129_agg_pushdown",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"""SELECT CAST(MIN(okey) AS BIGINT) AS min_k,
                 |       CAST(MAX(okey) AS BIGINT) AS max_k,
                 |       CAST(COUNT(*) AS BIGINT) AS n,
                 |       CAST(COUNT(qty) AS BIGINT) AS n_qty,
                 |       CAST(SUM(okey) AS BIGINT) AS sum_k,
                 |       MIN(qty) AS min_q, MAX(qty) AS max_q
                 |FROM $ns.aggp""".stripMargin)
      },
      Some("""SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_k,
        CAST(100000006 AS BIGINT) AS max_k,
        CAST(COUNT(*) + 7 AS BIGINT) AS n,
        CAST(COUNT(l_quantity) AS BIGINT) AS n_qty,
        CAST(SUM(l_orderkey) + 700000021 AS BIGINT) AS sum_k,
        MIN(l_quantity) AS min_q, MAX(l_quantity) AS max_q
        FROM lineitem"""),
      setup = Some((s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.aggp")
        s.sql(s"""CREATE TABLE $ns.aggp
                 |(okey BIGINT, qty DOUBLE, ship TIMESTAMP_NTZ)""".stripMargin)
        s.sql(s"""INSERT INTO $ns.aggp
                 |SELECT l_orderkey, l_quantity, l_shipdate
                 |FROM parquet.`$dir/lineitem.parquet`""".stripMargin)
        s.sql(s"""INSERT INTO $ns.aggp
                 |SELECT 100000000 + id, NULL, NULL FROM range(7)""".stripMargin)
        ()
      })),

    // ---- q131: ORDER BY + LIMIT (TopN) file pruning ------------------------
    // "Latest n events" — THE interactive query against an event log. The
    // scan implements SupportsPushDownTopN: per-file [min, max] ranges +
    // exact null counts from the commit-time registry prove which files
    // cannot hold a top-n row (strict-precedence rule, so ties and the
    // secondary sort key are safe), and only the survivors are listed or
    // opened. Four range-disjoint inserts + one all-null insert make the
    // pruning real: a DESC top-10 plans the highest file alone instead of
    // five. At 100 TB the difference is reading one file vs the table.
    // Plan shape (files actually pruned) is asserted in TopNSpec; this
    // gates the VALUES including the NULLS LAST tail.
    QueryDef(
      "q131_topn_pushdown",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"""SELECT eid, etype, val FROM $ns.topn
                 |ORDER BY eid DESC NULLS LAST, etype LIMIT 10""".stripMargin)
      },
      Some("""SELECT * FROM (
          SELECT event_id AS eid, event_type AS etype, value AS val
          FROM events
          UNION ALL
          SELECT NULL, concat('null-', CAST(id AS VARCHAR)), CAST(id AS DOUBLE)
          FROM range(3) t(id))
        ORDER BY eid DESC NULLS LAST, etype LIMIT 10"""),
      setup = Some((s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.topn")
        s.sql(s"CREATE TABLE $ns.topn (eid BIGINT, etype STRING, val DOUBLE)")
        val maxId = s.sql(s"SELECT max(event_id) FROM parquet.`$dir/events.parquet`")
          .first().getLong(0)
        val step = maxId / 4 + 1
        for (q <- 0 until 4) // range-DISJOINT files — the prunable layout
          s.sql(s"""INSERT INTO $ns.topn
                   |SELECT event_id, event_type, value
                   |FROM parquet.`$dir/events.parquet`
                   |WHERE event_id >= ${q * step} AND event_id < ${(q + 1) * step}""".stripMargin)
        s.sql(s"""INSERT INTO $ns.topn
                 |SELECT NULL, concat('null-', id), CAST(id AS DOUBLE)
                 |FROM range(3)""".stripMargin)
        ()
      })),

    // ---- q132: materialized view with freshness-gated auto-rewrite ---------
    // CREATE MATERIALIZED VIEW persists a (lang, source) aggregate; a
    // per-lang ROLLUP over the base then re-plans against the MV
    // (GraftMvRewrite — COUNT(*)→SUM(cnt), SUM→SUM, MAX→MAX), but ONLY
    // while the MV's recorded base snapshot version equals the base's
    // current version. The gate runs all three phases — fresh (served
    // from the MV), stale after an append (MUST fall back to the base:
    // phase-2 values include the new rows), refreshed (served from the
    // MV again, identical to phase 2) — so a broken freshness check or a
    // wrong fold produces wrong VALUES, not just a wrong plan. Plan
    // shape (MV actually scanned / base actually scanned per phase) is
    // asserted in MvRewriteSpec.
    QueryDef(
      "q132_mv_rewrite",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        def rollup(phase: String) = s"""
          |SELECT '$phase' AS phase, lang, count(*) AS cnt,
          |       CAST(sum(n_chars) AS BIGINT) AS sc,
          |       CAST(max(n_chars) AS BIGINT) AS mx
          |FROM $ns.mbase GROUP BY lang""".stripMargin
        // DataFrames are lazy — each phase is COLLECTED at its point in
        // time (a handful of per-lang rows) so later commits cannot
        // retroactively change it, then re-assembled for the dump
        val schema = s.sql(rollup("1-fresh")).schema
        val p1 = s.sql(rollup("1-fresh")).collect().toSeq
        s.sql(s"""INSERT INTO $ns.mbase
                 |SELECT doc_id, lang, source, n_chars
                 |FROM parquet.`$dir/documents.parquet` WHERE doc_id % 2 = 1""".stripMargin)
        val p2 = s.sql(rollup("2-stale")).collect().toSeq // stale: base data
        s.sql(s"REFRESH MATERIALIZED VIEW $ns.mvd")
        val p3 = s.sql(rollup("3-refreshed")).collect().toSeq
        s.createDataFrame(s.sparkContext.parallelize(p1 ++ p2 ++ p3, 1), schema)
          .orderBy("phase", "lang")
      },
      Some("""WITH ev AS (SELECT * FROM documents WHERE doc_id % 2 = 0)
        SELECT '1-fresh' AS phase, lang, count(*) AS cnt,
               CAST(sum(n_chars) AS BIGINT) AS sc, CAST(max(n_chars) AS BIGINT) AS mx
        FROM ev GROUP BY lang
        UNION ALL
        SELECT '2-stale', lang, count(*), CAST(sum(n_chars) AS BIGINT),
               CAST(max(n_chars) AS BIGINT) FROM documents GROUP BY lang
        UNION ALL
        SELECT '3-refreshed', lang, count(*), CAST(sum(n_chars) AS BIGINT),
               CAST(max(n_chars) AS BIGINT) FROM documents GROUP BY lang
        ORDER BY phase, lang"""),
      // fixture: even-rows base + MV build. The measured run keeps the
      // in-phase INSERT and REFRESH — freshness transitions ARE the
      // operator under test — but no longer charges the base CTAS + MV
      // build commits. NOTE the run is only value-exact on a fresh
      // fixture (Verify composes setup;run); the bench's second timing
      // run re-executes the phases against the already-refreshed MV,
      // which times the same plans over the grown base.
      setup = Some((s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.mvd")
        s.sql(s"DROP TABLE IF EXISTS $ns.mbase")
        s.sql(s"""CREATE TABLE $ns.mbase AS
                 |SELECT doc_id, lang, source, n_chars
                 |FROM parquet.`$dir/documents.parquet` WHERE doc_id % 2 = 0""".stripMargin)
        s.sql(s"""CREATE MATERIALIZED VIEW $ns.mvd AS
                 |SELECT lang, source, count(*) AS cnt, sum(n_chars) AS sc,
                 |       max(n_chars) AS mx
                 |FROM $ns.mbase GROUP BY lang, source""".stripMargin)
        ()
      })),

    // ---- q137: GROUP BY partition column folded from the registry ----------
    // `SELECT lang, COUNT(*), MIN(..), MAX(..) GROUP BY lang` over a
    // lang-partitioned table: every file belongs to exactly one group
    // (its directory), so the per-group fold of registered per-file stats
    // is exact and the WHOLE aggregate — grouping included — is answered
    // from one side-file read with no Aggregate node in the plan
    // (GraftAggScan groupBy). At 100 TB: per-partition corpus reports
    // (daily row counts, per-source extremes) become metadata lookups.
    // Two inserts make folds cross files; a NULL-metric insert exercises
    // the absent-range skip within one group. Plan shape (no
    // HashAggregate, zero footer reads, evolution/bucket withholds) is
    // asserted in PlanSpec; this gates the VALUES.
    QueryDef(
      "q137_grouped_agg_pushdown",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"""SELECT lang, COUNT(*) AS n,
                 |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
                 |       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
                 |       SUM(n_chars) AS sum_chars
                 |FROM $ns.gagg GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang,
          CAST(COUNT(*) + (CASE WHEN lang = 'en' THEN 4 ELSE 0 END) AS BIGINT) AS n,
          CAST(MIN(doc_id) AS BIGINT) AS first_doc,
          CAST(CASE WHEN lang = 'en' THEN 1000003 ELSE MAX(doc_id) END AS BIGINT) AS last_doc,
          CAST(MIN(n_chars) AS BIGINT) AS min_chars,
          CAST(MAX(n_chars) AS BIGINT) AS max_chars,
          CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY lang ORDER BY lang"""),
      setup = Some((s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.gagg")
        s.sql(s"""CREATE TABLE $ns.gagg (doc_id BIGINT, n_chars BIGINT, lang STRING)
                 |PARTITIONED BY (lang)""".stripMargin)
        s.sql(s"""INSERT INTO $ns.gagg
                 |SELECT doc_id, n_chars, lang
                 |FROM parquet.`$dir/documents.parquet` WHERE doc_id % 2 = 0""".stripMargin)
        s.sql(s"""INSERT INTO $ns.gagg
                 |SELECT doc_id, n_chars, lang
                 |FROM parquet.`$dir/documents.parquet` WHERE doc_id % 2 = 1""".stripMargin)
        s.sql(s"""INSERT INTO $ns.gagg
                 |SELECT 1000000 + id, NULL, 'en' FROM range(4)""".stripMargin)
        ()
      }))
  )
}
