package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The full-text index's contract. Serve path (q161/q162 over the
  * maintained fts2 tables): a token-RANGE-CLUSTERED postings table
  * file-prunes keyword lookups via the commit-time range registry, and
  * the positional phrase join is exact — including overlapping
  * self-adjacent occurrences. Clustering is an optimization only: an
  * unclustered copy answers identically. Maintenance (q170 onward):
  * folds, mutation folds, compaction and the donor-memoized corpus seed
  * all serve as a from-scratch rebuild would.
  */
class FtsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[8]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .getOrCreate()

  private lazy val wh = java.nio.file.Files
    .createTempDirectory("graft-fts").toString

  override def afterAll(): Unit = spark.stop()

  private def setupCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.gfts",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gfts.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gfts.t")
  }

  test("token-clustered postings file-prune an IN-list lookup (plan + values)") {
    setupCatalog()
    import spark.implicits._
    spark.sql("CREATE TABLE gfts.t.post (tok STRING, doc_id BIGINT, tf BIGINT)")
    // 4 tokens × 200 rows, range-clustered into 4 files: each file's
    // registered [min, max] on tok is a single token, so an IN-list on
    // one token disproves every other file at planning time
    val rows = for (t <- Seq("ant", "bee", "cat", "dog"); i <- 0 until 200)
      yield (t, i.toLong, (i % 5 + 1).toLong)
    rows.toDF("tok", "doc_id", "tf")
      .repartitionByRange(4, col("tok"))
      .sortWithinPartitions("tok", "doc_id")
      .writeTo("gfts.t.post").append()

    val all = spark.table("gfts.t.post")
    val pruned = all.where(col("tok").isin("ant"))
    assert(pruned.rdd.getNumPartitions < all.rdd.getNumPartitions,
      s"range clustering must file-prune: pruned=${pruned.rdd.getNumPartitions} " +
        s"all=${all.rdd.getNumPartitions}")
    assert(pruned.count() == 200)
    // multi-term serve shape: 2 of 4 files planned, values exact
    val two = all.where(col("tok").isin("ant", "dog"))
    assert(two.rdd.getNumPartitions < all.rdd.getNumPartitions)
    assert(two.groupBy("tok").count().collect().map(r =>
      r.getString(0) -> r.getLong(1)).toMap == Map("ant" -> 200L, "dog" -> 200L))
  }

  test("prefix lookup (startsWith) file-prunes against the token-clustered " +
      "layout — the q180 contract") {
    setupCatalog()
    import spark.implicits._
    spark.sql("CREATE TABLE gfts.t.post_pf (tok STRING, doc_id BIGINT, tf BIGINT)")
    // tokens sharing the 'sca' prefix cluster ADJACENTLY under range
    // partitioning; a prefix predicate is a [prefix, prefix') range the
    // registry's per-file [min, max] disproves for every other file
    val rows = for (t <- Seq("alpha", "scala", "scan", "zebra"); i <- 0 until 200)
      yield (t, i.toLong, 1L)
    rows.toDF("tok", "doc_id", "tf")
      .repartitionByRange(4, col("tok"))
      .sortWithinPartitions("tok", "doc_id")
      .writeTo("gfts.t.post_pf").append()

    val all = spark.table("gfts.t.post_pf")
    val pruned = all.where(col("tok").startsWith("sca"))
    assert(pruned.rdd.getNumPartitions < all.rdd.getNumPartitions,
      s"prefix range must file-prune: pruned=${pruned.rdd.getNumPartitions} " +
        s"all=${all.rdd.getNumPartitions}")
    // the prefix expands to exactly the two matching terms, counts exact
    val got = pruned.groupBy("tok").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("scala" -> 200L, "scan" -> 200L), s"got $got")
  }

  test("positional phrase join is exact, including overlapping occurrences") {
    setupCatalog()
    import spark.implicits._
    // doc 1: "x x x"   → phrase "x x" hits at pos 0 and 1 (overlap counts)
    // doc 2: "a x x b" → 1 hit;  doc 3: "x b x" → 0 hits
    val docs = Seq((1L, "x x x"), (2L, "a x x b"), (3L, "x b x"))
      .toDF("doc_id", "text")
    spark.sql("CREATE TABLE gfts.t.pos (tok STRING, doc_id BIGINT, pos BIGINT)")
    docs.select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .select(col("tok"), col("doc_id"), col("pos").cast("long").as("pos"))
      .repartitionByRange(2, col("tok"))
      .sortWithinPartitions("tok", "doc_id", "pos")
      .writeTo("gfts.t.pos").append()

    val pos = spark.table("gfts.t.pos")
    val first = pos.where(col("tok") === "x").select(col("doc_id"), col("pos"))
    val next = pos.where(col("tok") === "x")
      .select(col("doc_id"), (col("pos") - 1).as("pos"))
    val hits = first.join(next, Seq("doc_id", "pos"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(1L -> 2L, 2L -> 1L), s"got $hits")
  }

  test("clustering is an optimization only: unclustered postings answer identically") {
    setupCatalog()
    import spark.implicits._
    spark.sql("CREATE TABLE gfts.t.post_uc (tok STRING, doc_id BIGINT, tf BIGINT)")
    // same rows as the clustered table, written in interleaved appends so
    // every file's token range spans the domain (no pruning possible)
    val rows = for (t <- Seq("ant", "bee", "cat", "dog"); i <- 0 until 200)
      yield (t, i.toLong, (i % 5 + 1).toLong)
    val df = rows.toDF("tok", "doc_id", "tf")
    df.filter(col("doc_id") % 2 === 0).coalesce(1).writeTo("gfts.t.post_uc").append()
    df.filter(col("doc_id") % 2 === 1).coalesce(1).writeTo("gfts.t.post_uc").append()

    def serve(tbl: String): Map[Long, Long] =
      spark.table(tbl).where(col("tok").isin("ant", "cat"))
        .groupBy("doc_id").agg(sum(col("tf")).as("s"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(serve("gfts.t.post_uc") == serve("gfts.t.post"))
  }

  test("streaming maintenance keeps the postings current with the ingest (exactly once)") {
    // the production FTS lifecycle: DerivedMaintain tails the document
    // ingest table and derives each batch's postings exactly once (q160's
    // transactional bracket) — after two separate drains the postings
    // table must equal a from-scratch recompute, with no doubled rows
    setupCatalog()
    import spark.implicits._
    spark.sql("CREATE TABLE gfts.t.docs (doc_id BIGINT, text STRING)")
    spark.sql("CREATE TABLE gfts.t.posts (tok STRING, doc_id BIGINT, tf BIGINT)")
    spark.sql("CREATE TABLE gfts.t.meta (indexed_version BIGINT)")
    def derive(delta: org.apache.spark.sql.DataFrame) =
      Seq("gfts.t.posts" -> delta
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("tok"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
        .select(col("tok"), col("doc_id"), col("tf")))
    def drain(): Unit = graft.streaming.DerivedMaintain.start(
      spark, "gfts.t.docs", "gfts.t.meta",
      java.nio.file.Files.createTempDirectory("fts_ckpt").toString, derive)
      .awaitTermination()

    Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text")
      .writeTo("gfts.t.docs").append()
    drain()
    Seq((3L, "a a a")).toDF("doc_id", "text")
      .writeTo("gfts.t.docs").append()
    drain()

    val got = spark.table("gfts.t.posts").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = spark.table("gfts.t.docs")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want, s"postings must equal a full recompute: $got vs $want")
  }

  // ---- q170: incremental index maintenance pins ---------------------------

  private def setupGcat(): Unit = {
    spark.conf.set("spark.sql.catalog.gcat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcat.warehouse", wh)
  }

  private def srcVersion(ns: String): Long =
    graft.queries.Engine3.fts2SrcVersion(spark, ns)

  private def corpus(lo: Int, hi: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    (lo until hi).map(i =>
        (i.toLong, s"tok${i % 7} tok${i % 5} tok${i % 3} common"))
      .toDF("doc_id", "text")
  }

  /** Table rows as sorted strings, WITHOUT the `rev` maintenance column
    * (a fold's revision stamp differs between extend and rebuild by
    * construction; index CONTENT must not). */
  private def sortedRows(t: String): Seq[String] =
    spark.table(t).drop("rev").collect().map(_.toString).sorted.toSeq

  test("incremental fold reads ONLY the new commit and extend == rebuild") {
    setupGcat()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.t")
    val ns = "gcat.t"
    graft.queries.Engine3.fts2Create(spark, ns)
    // seed: 60 docs across several files, folded through the one routine
    corpus(0, 60).repartition(4).writeTo(s"$ns.fts2_src").append()
    val v1 = srcVersion(ns)
    graft.queries.Engine3.fts2Fold(spark, ns,
      spark.read.option("since-version", 0L).table(s"$ns.fts2_src"), v1)
    // delta: 20 new docs in one commit
    corpus(60, 80).repartition(1).writeTo(s"$ns.fts2_src").append()
    val delta = spark.read.option("since-version", v1).table(s"$ns.fts2_src")
    // PIN: the incremental scan plans only the delta commit's files —
    // fewer partitions than the full table, and exactly the delta's rows
    assert(delta.rdd.getNumPartitions < spark.table(s"$ns.fts2_src").rdd.getNumPartitions,
      "since-version must not plan the already-indexed files")
    assert(delta.select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
      == (60L until 80L).toSeq, "delta scan must return exactly the new commit")
    graft.queries.Engine3.fts2Fold(spark, ns, delta, srcVersion(ns))
    // extend == rebuild: a from-scratch build over the same 80 docs must
    // be ROW-IDENTICAL in postings and positions, and constant-equal in
    // the additive (nd, sl) log
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.r")
    val ns2 = "gcat.r"
    graft.queries.Engine3.fts2Create(spark, ns2)
    corpus(0, 80).writeTo(s"$ns2.fts2_src").append()
    graft.queries.Engine3.fts2Fold(spark, ns2,
      spark.read.option("since-version", 0L).table(s"$ns2.fts2_src"), srcVersion(ns2))
    assert(sortedRows(s"$ns.fts2_post") == sortedRows(s"$ns2.fts2_post"),
      "extended postings must equal a from-scratch rebuild")
    assert(sortedRows(s"$ns.fts2_pos") == sortedRows(s"$ns2.fts2_pos"),
      "extended positions must equal a from-scratch rebuild")
    def consts(n: String): (Long, Long) = {
      val r = spark.table(s"$n.fts2_glob")
        .agg(sum(col("nd")), sum(col("sl"))).first()
      (r.getLong(0), r.getLong(1))
    }
    assert(consts(ns) == consts(ns2), "corpus constants must sum identically")
    // the watermark advanced to the delta commit
    assert(spark.table(s"$ns.fts2_meta").agg(max(col("indexed_version")))
      .first().getLong(0) == srcVersion(ns))
  }

  test("mutation fold: tombstones + negative constants == rebuild; postings never rewritten") {
    setupGcat()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.m")
    val ns = "gcat.m"
    graft.queries.Engine3.fts2Create(spark, ns, withRowKey = true)
    import spark.implicits._
    def t(i: Long) = s"tok${i % 7} tok${i % 5} tok${i % 3} common"
    def withKey(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id").cast("string").as("row_key"),
        col("doc_id"), col("text"))
    withKey(corpus(0, 50)).writeTo(s"$ns.fts2_src").append()
    val v1 = srcVersion(ns)
    graft.queries.Engine3.fts2Fold(spark, ns,
      spark.read.option("since-version", 0L).table(s"$ns.fts2_src")
        .select(col("doc_id"), col("text")), v1)
    def postingKeys(n: String): Set[String] = {
      val dd = new org.apache.hadoop.fs.Path(
        s"$wh/${n.split('.')(1)}/fts2_post/data")
      graft.sources.TableStats.read(
        dd.getFileSystem(new org.apache.hadoop.conf.Configuration()), dd).keySet
    }
    val keysBefore = postingKeys(ns)
    // one maintenance INTERVAL holding several changes, including the
    // adversarial shapes: doc 7 deleted; doc 9 updated; doc 100
    // inserted; doc 200 inserted THEN deleted (must not resurrect);
    // doc 11 updated TWICE (only the final text may be indexed)
    spark.sql(s"DELETE FROM $ns.fts2_src WHERE doc_id = 7")
    spark.sql(s"UPDATE $ns.fts2_src SET text = 'tok9new common' WHERE doc_id = 9")
    withKey(Seq((100L, t(100))).toDF("doc_id", "text"))
      .writeTo(s"$ns.fts2_src").append()
    withKey(Seq((200L, "ghost common")).toDF("doc_id", "text"))
      .writeTo(s"$ns.fts2_src").append()
    spark.sql(s"DELETE FROM $ns.fts2_src WHERE doc_id = 200")
    spark.sql(s"UPDATE $ns.fts2_src SET text = 'intermediate' WHERE doc_id = 11")
    spark.sql(s"UPDATE $ns.fts2_src SET text = 'tok11final common' WHERE doc_id = 11")
    val v2 = srcVersion(ns)
    val cat = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("m"), "fts2_src")).asInstanceOf[graft.sources.GraftTable]
    val feed = graft.sources.Snapshots.changes(spark, tbl, since = v1, end = Some(v2))
    graft.queries.Engine3.fts2FoldFeed(spark, ns, s"$ns.fts2_src", feed, v1, v2)
    // the original postings files are UNTOUCHED — every pre-fold registry
    // entry survives verbatim (appends only; a COW rewrite would replace
    // keys and fail this subset check)
    assert(keysBefore.subsetOf(postingKeys(ns)),
      "mutation fold must never rewrite existing postings files")
    // rebuild the post-mutation corpus from scratch in a fresh namespace
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.mr")
    val ns2 = "gcat.mr"
    graft.queries.Engine3.fts2Create(spark, ns2)
    val after = corpus(0, 50)
      .where(col("doc_id") =!= 7L)
      .withColumn("text", when(col("doc_id") === 9L, lit("tok9new common"))
        .when(col("doc_id") === 11L, lit("tok11final common"))
        .otherwise(col("text")))
      .unionByName(Seq((100L, t(100))).toDF("doc_id", "text"))
    after.writeTo(s"$ns2.fts2_src").append()
    graft.queries.Engine3.fts2Fold(spark, ns2,
      spark.read.option("since-version", 0L).table(s"$ns2.fts2_src"),
      srcVersion(ns2))
    // serve equivalence: same BM25 scores, same constants, same phrase
    // counts — the maintained index answers as if rebuilt
    // 'intermediate' (doc 11's superseded text) and 'ghost' (doc 200's
    // insert-then-delete text) score in NEITHER index — a fold that
    // indexed per-commit feed rows instead of endpoint states would
    // resurrect them here and break the equality
    def serve(n: String): Seq[(Long, Long)] =
      graft.queries.Engine3.fts2Bm25(spark, n,
        Seq("common", "tok1", "tok9new", "tok11final", "intermediate", "ghost"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(serve(ns) == serve(ns2),
      "maintained serve must equal a from-scratch rebuild")
    def consts(n: String): (Long, Long) = {
      val r = spark.table(s"$n.fts2_glob")
        .agg(sum(col("nd")), sum(col("sl"))).first()
      (r.getLong(0), r.getLong(1))
    }
    assert(consts(ns) == consts(ns2),
      "negative constant rows must sum to the rebuilt corpus constants")
    // deleted doc's tokens no longer surface anywhere
    assert(serve(ns).forall(_._1 != 7L))
  }

  test("maintenance fuzz: random mutation intervals always equal a rebuild") {
    // four maintenance rounds of randomized (seeded) delete/update/insert
    // batches — including same-doc collisions within one interval — each
    // folded incrementally, each compared against a from-scratch rebuild
    // of the current corpus state on scores AND constants
    setupGcat()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.fz")
    val ns = "gcat.fz"
    graft.queries.Engine3.fts2Create(spark, ns, withRowKey = true)
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // driver-side mirror of the corpus (tiny by design)
    val state = scala.collection.mutable.Map[Long, String]()
    def txt(i: Long, salt: Int) = s"tok${(i + salt) % 7} tok${(i + salt) % 5} common"
    (0L until 40L).foreach(i => state(i) = txt(i, 0))
    state.toSeq.toDF("doc_id", "text")
      .select(col("doc_id").cast("string").as("row_key"), col("doc_id"), col("text"))
      .writeTo(s"$ns.fts2_src").append()
    var wm = srcVersion(ns)
    graft.queries.Engine3.fts2Fold(spark, ns,
      spark.read.option("since-version", 0L).table(s"$ns.fts2_src")
        .select(col("doc_id"), col("text")), wm)
    var nextId = 1000L
    val cat = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("fz"), "fts2_src")).asInstanceOf[graft.sources.GraftTable]
    def serveOf(n: String): Seq[(Long, Long)] =
      graft.queries.Engine3.fts2Bm25(spark, n,
        Seq("common", "tok1", "tok3", "fresh")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    def constsOf(n: String): (Long, Long) = {
      val r = spark.table(s"$n.fts2_glob")
        .agg(sum(col("nd")), sum(col("sl"))).first()
      (r.getLong(0), r.getLong(1))
    }
    for (round <- 1 to 4) {
      // 3-5 random ops; ids may repeat across ops in one interval
      (0 until (3 + rnd.nextInt(3))).foreach { _ =>
        rnd.nextInt(3) match {
          case 0 if state.nonEmpty => // delete a random live doc
            val id = state.keys.toSeq.sorted.apply(rnd.nextInt(state.size))
            spark.sql(s"DELETE FROM $ns.fts2_src WHERE doc_id = $id")
            state -= id
          case 1 if state.nonEmpty => // re-crawl a random live doc
            val id = state.keys.toSeq.sorted.apply(rnd.nextInt(state.size))
            val t = s"fresh ${txt(id, round)}"
            spark.sql(s"UPDATE $ns.fts2_src SET text = '$t' WHERE doc_id = $id")
            state(id) = t
          case _ => // insert a new doc
            val id = nextId; nextId += 1
            val t = txt(id, round)
            Seq((id, t)).toDF("doc_id", "text")
              .select(col("doc_id").cast("string").as("row_key"),
                col("doc_id"), col("text"))
              .writeTo(s"$ns.fts2_src").append()
            state(id) = t
        }
      }
      val v2 = srcVersion(ns)
      val feed = graft.sources.Snapshots.changes(spark, tbl, since = wm, end = Some(v2))
      graft.queries.Engine3.fts2FoldFeed(spark, ns, s"$ns.fts2_src", feed, wm, v2)
      wm = v2
      // randomly interleave COMPACTION with the maintenance rounds: a
      // compacted index must keep folding and serving identically (and
      // a compaction finding debt must empty the tombstone table)
      if (rnd.nextBoolean() && graft.queries.Engine3.fts2Compact(spark, ns)) {
        assert(spark.table(s"$ns.fts2_del").count() == 0,
          s"round $round: compaction must fold the tombstones away")
        assert(spark.table(s"$ns.fts2_glob").count() == 1)
      }
      // rebuild the CURRENT state from scratch and compare
      spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.fzr")
      graft.queries.Engine3.fts2Create(spark, "gcat.fzr")
      state.toSeq.toDF("doc_id", "text").writeTo("gcat.fzr.fts2_src").append()
      graft.queries.Engine3.fts2Fold(spark, "gcat.fzr",
        spark.table("gcat.fzr.fts2_src"), srcVersion("gcat.fzr"))
      assert(serveOf(ns) == serveOf("gcat.fzr"),
        s"round $round: maintained serve diverged from rebuild")
      assert(constsOf(ns) == constsOf("gcat.fzr"),
        s"round $round: additive constants diverged from rebuild")
    }
  }

  // ---- q173: index tombstone compaction pins -------------------------------

  private def serveScores(n: String, terms: Seq[String]): Seq[(Long, Long)] =
    graft.queries.Engine3.fts2Bm25(spark, n, terms).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq

  private def tableCount(t: String): Long = spark.table(t).count()

  test("compaction: serve(compacted) == serve(maintained) == rebuild; " +
      "tombstones empty, constants collapse to one row") {
    setupGcat()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.cp")
    val ns = "gcat.cp"
    graft.queries.Engine3.fts2Create(spark, ns, withRowKey = true)
    import spark.implicits._
    def withKey(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id").cast("string").as("row_key"),
        col("doc_id"), col("text"))
    withKey(corpus(0, 60)).writeTo(s"$ns.fts2_src").append()
    val v1 = srcVersion(ns)
    graft.queries.Engine3.fts2Fold(spark, ns,
      spark.read.option("since-version", 0L).table(s"$ns.fts2_src")
        .select(col("doc_id"), col("text")), v1)
    // mutations → fold → tombstones + a multi-row constants log
    spark.sql(s"DELETE FROM $ns.fts2_src WHERE doc_id % 10 = 3")
    spark.sql(s"UPDATE $ns.fts2_src SET text = 'compacted common' WHERE doc_id % 10 = 4")
    val v2 = srcVersion(ns)
    val cat = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("cp"), "fts2_src")).asInstanceOf[graft.sources.GraftTable]
    val feed = graft.sources.Snapshots.changes(spark, tbl, since = v1, end = Some(v2))
    graft.queries.Engine3.fts2FoldFeed(spark, ns, s"$ns.fts2_src", feed, v1, v2)
    val terms = Seq("common", "tok1", "compacted")
    val maintained = serveScores(ns, terms)
    assert(tableCount(s"$ns.fts2_del") > 0, "the fold must have left tombstones")
    assert(tableCount(s"$ns.fts2_glob") > 1, "the fold must have extended the log")

    assert(graft.queries.Engine3.fts2Compact(spark, ns), "debt exists, must compact")
    assert(serveScores(ns, terms) == maintained,
      "compaction must not change any answer")
    assert(tableCount(s"$ns.fts2_del") == 0, "tombstones must be folded away")
    assert(tableCount(s"$ns.fts2_glob") == 1, "constants log must collapse")
    // == rebuild from the post-mutation corpus
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.cpr")
    graft.queries.Engine3.fts2Create(spark, "gcat.cpr")
    spark.table(s"$ns.fts2_src").select(col("doc_id"), col("text"))
      .writeTo("gcat.cpr.fts2_src").append()
    graft.queries.Engine3.fts2Fold(spark, "gcat.cpr",
      spark.table("gcat.cpr.fts2_src"), srcVersion("gcat.cpr"))
    assert(serveScores("gcat.cpr", terms) == maintained,
      "compacted serve must equal a from-scratch rebuild")
    // idempotent: no debt left → compaction reports nothing to do
    assert(!graft.queries.Engine3.fts2Compact(spark, ns))
    // and maintenance continues normally on the compacted index
    withKey(corpus(300, 310)).writeTo(s"$ns.fts2_src").append()
    val v3 = srcVersion(ns)
    graft.queries.Engine3.fts2Fold(spark, ns,
      spark.read.option("since-version", v2).option("snapshot-version", v3)
        .table(s"$ns.fts2_src").select(col("doc_id"), col("text")), v3)
    assert(serveScores(ns, terms).size >= maintained.size)
  }

  test("post-compaction serve plans NO tombstone join; pre-compaction it does") {
    // gcat.cp was compacted above: its serve must not even SCAN fts2_del
    val clean = graft.queries.Engine3.fts2Bm25(spark, "gcat.cp", Seq("common"))
      .queryExecution.optimizedPlan.toString
    assert(!clean.contains("fts2_del"),
      s"zero-tombstone serve must plan no survival join:\n$clean")
    // a freshly-mutated index DOES plan the survival join
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.cp2")
    val ns = "gcat.cp2"
    graft.queries.Engine3.fts2Create(spark, ns, withRowKey = true)
    import spark.implicits._
    corpus(0, 20).select(col("doc_id").cast("string").as("row_key"),
        col("doc_id"), col("text"))
      .writeTo(s"$ns.fts2_src").append()
    val v1 = srcVersion(ns)
    graft.queries.Engine3.fts2Fold(spark, ns,
      spark.read.option("since-version", 0L).table(s"$ns.fts2_src")
        .select(col("doc_id"), col("text")), v1)
    spark.sql(s"DELETE FROM $ns.fts2_src WHERE doc_id = 5")
    val v2 = srcVersion(ns)
    val cat = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("cp2"), "fts2_src")).asInstanceOf[graft.sources.GraftTable]
    graft.queries.Engine3.fts2FoldFeed(spark, ns, s"$ns.fts2_src",
      graft.sources.Snapshots.changes(spark, tbl, since = v1, end = Some(v2)),
      v1, v2)
    val dirty = graft.queries.Engine3.fts2Bm25(spark, ns, Seq("common"))
      .queryExecution.optimizedPlan.toString
    assert(dirty.contains("fts2_del"),
      "tombstoned serve must plan the survival join")
  }

  test("oversized tombstone sets degrade the survival join from broadcast to " +
      "shuffle; answers identical") {
    setupGcat()
    // gcat.cp2 has tombstones. Below the ceiling: the survival join is a
    // FORCED broadcast (visible even with auto-broadcast disabled).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ns = "gcat.cp2"
      def planOf(): String =
        graft.queries.Engine3.fts2Bm25(spark, ns, Seq("common"))
          .queryExecution.sparkPlan.toString
      // the SURVIVAL join is the serve's only LeftOuter join (the df and
      // constants broadcasts are model-sized and stay broadcast either way)
      def survivalBroadcast(plan: String): Boolean = plan.linesIterator
        .exists(l => l.contains("BroadcastHashJoin") && l.contains("LeftOuter"))
      spark.conf.unset("graft.index.tombstoneBroadcastBytes")
      val smallPath = planOf()
      assert(survivalBroadcast(smallPath),
        s"under-ceiling tombstones must broadcast:\n$smallPath")
      val viaBroadcast = serveScores(ns, Seq("common", "tok1"))
      // above the ceiling (forced by a 1-byte ceiling): NO broadcast hint
      // — Spark picks a shuffle join; the driver never materializes the set
      spark.conf.set("graft.index.tombstoneBroadcastBytes", "1")
      val bigPath = planOf()
      assert(!survivalBroadcast(bigPath),
        s"over-ceiling tombstones must not force a broadcast:\n$bigPath")
      assert(serveScores(ns, Seq("common", "tok1")) == viaBroadcast,
        "both survival-join strategies must answer identically")
    } finally {
      spark.conf.unset("graft.index.tombstoneBroadcastBytes")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("churn: mutate+fold+compact rounds always return the tombstone table " +
      "to empty and keep serve == rebuild") {
    setupGcat()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.ch")
    val ns = "gcat.ch"
    graft.queries.Engine3.fts2Create(spark, ns, withRowKey = true)
    import spark.implicits._
    val state = scala.collection.mutable.Map[Long, String]()
    def txt(i: Long, salt: Int) = s"tok${(i + salt) % 7} tok${(i + salt) % 5} common"
    (0L until 30L).foreach(i => state(i) = txt(i, 0))
    state.toSeq.toDF("doc_id", "text")
      .select(col("doc_id").cast("string").as("row_key"), col("doc_id"), col("text"))
      .writeTo(s"$ns.fts2_src").append()
    var wm = srcVersion(ns)
    graft.queries.Engine3.fts2Fold(spark, ns,
      spark.read.option("since-version", 0L).table(s"$ns.fts2_src")
        .select(col("doc_id"), col("text")), wm)
    val cat = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("ch"), "fts2_src")).asInstanceOf[graft.sources.GraftTable]
    var nextId = 500L
    for (round <- 1 to 3) {
      // hammer: delete two live docs, update one, insert two
      val live = state.keys.toSeq.sorted
      Seq(live(round), live(round + 3)).foreach { id =>
        spark.sql(s"DELETE FROM $ns.fts2_src WHERE doc_id = $id"); state -= id
      }
      val uid = state.keys.toSeq.sorted.head
      val ut = s"fresh ${txt(uid, round)}"
      spark.sql(s"UPDATE $ns.fts2_src SET text = '$ut' WHERE doc_id = $uid")
      state(uid) = ut
      (0 until 2).foreach { _ =>
        val id = nextId; nextId += 1
        val t = txt(id, round)
        Seq((id, t)).toDF("doc_id", "text")
          .select(col("doc_id").cast("string").as("row_key"),
            col("doc_id"), col("text"))
          .writeTo(s"$ns.fts2_src").append()
        state(id) = t
      }
      val v2 = srcVersion(ns)
      graft.queries.Engine3.fts2FoldFeed(spark, ns, s"$ns.fts2_src",
        graft.sources.Snapshots.changes(spark, tbl, since = wm, end = Some(v2)),
        wm, v2)
      wm = v2
      assert(tableCount(s"$ns.fts2_del") > 0, s"round $round: fold left tombstones")
      assert(graft.queries.Engine3.fts2Compact(spark, ns))
      assert(tableCount(s"$ns.fts2_del") == 0,
        s"round $round: compaction must empty the tombstones")
      assert(tableCount(s"$ns.fts2_glob") == 1,
        s"round $round: constants must collapse")
      // == rebuild of the current state
      spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.chr")
      graft.queries.Engine3.fts2Create(spark, "gcat.chr")
      state.toSeq.toDF("doc_id", "text").writeTo("gcat.chr.fts2_src").append()
      graft.queries.Engine3.fts2Fold(spark, "gcat.chr",
        spark.table("gcat.chr.fts2_src"), srcVersion("gcat.chr"))
      val terms = Seq("common", "tok1", "fresh")
      assert(serveScores(ns, terms) == serveScores("gcat.chr", terms),
        s"round $round: compacted serve diverged from rebuild")
    }
  }

  test("dict compaction: churn rounds return dict_var to live-vocabulary " +
      "size, fuzzy serve identical before/after") {
    // the one maintained index table append-only folds never shrink:
    // dead terms' deletion neighborhoods accrete until dictCompact
    // rewrites the dict to live-df>0 vocabulary — the serve's own drop
    // rule, so answers cannot change.
    setupGcat()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.dc")
    val ns = "gcat.dc"
    graft.queries.Engine3.fts2Create(spark, ns, withRowKey = true)
    spark.sql(s"CREATE TABLE $ns.dict_var (variant STRING, tok STRING)")
    import spark.implicits._
    val state = scala.collection.mutable.Map[Long, String]()
    def txt(i: Long) = s"w${i}x shared common" // w<i>x: per-doc vocabulary
    def append(rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text")
        .select(col("doc_id").cast("string").as("row_key"),
          col("doc_id"), col("text"))
        .writeTo(s"$ns.fts2_src").append()
      rows.foreach { case (i, t) => state(i) = t }
    }
    append((0L until 9L).map(i => (i, txt(i))))
    var wm = srcVersion(ns)
    val seed = spark.read.option("since-version", 0L).table(s"$ns.fts2_src")
      .select(col("doc_id"), col("text"))
    graft.queries.Engine3.dictFold(spark, ns, seed) // dict first, fold second
    graft.queries.Engine3.fts2Fold(spark, ns, seed, wm)
    val cat = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("dc"), "fts2_src")).asInstanceOf[graft.sources.GraftTable]
    def fuzzy(): Seq[(String, Long, Long)] =
      graft.queries.Engine3.fuzzyServe(spark, ns, "w3x").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    var nextId = 100L
    for (round <- 1 to 3) {
      // kill three docs (their w<i>x terms die with them), add one
      val victims = state.keys.toSeq.sorted.take(3)
      victims.foreach { id =>
        spark.sql(s"DELETE FROM $ns.fts2_src WHERE doc_id = $id"); state -= id
      }
      append(Seq((nextId, txt(nextId)))); nextId += 1
      val v2 = srcVersion(ns)
      val feed = graft.sources.Snapshots.changes(spark, tbl,
        since = wm, end = Some(v2), hydrateMor = true)
      val affected = feed.select(col("doc_id")).distinct()
      val headDocs = spark.read.option("snapshot-version", v2)
        .table(s"$ns.fts2_src").join(affected, Seq("doc_id"), "left_semi")
      graft.queries.Engine3.dictFold(spark, ns,
        headDocs.select(col("doc_id"), col("text")))
      graft.queries.Engine3.fts2FoldFeed(spark, ns, s"$ns.fts2_src",
        feed, wm, v2)
      wm = v2
      // debt accreted: dead terms still in the dict, tombstones present
      victims.foreach { id =>
        assert(tableCount(s"$ns.dict_var") > 0 &&
          spark.table(s"$ns.dict_var").where(col("tok") === s"w${id}x")
            .count() > 0,
          s"round $round: precondition — dead term w${id}x still in dict")
      }
      val before = fuzzy()
      // dict debt pays off FIRST (keys on the tombstones fts2Compact
      // clears), then the index compaction — the production onBatch order
      assert(graft.queries.Engine3.dictCompactIfDebt(spark, ns, frac = 0.001),
        s"round $round: tombstone debt must trigger the dict compaction")
      assert(fuzzy() == before,
        s"round $round: dict compaction changed the fuzzy serve")
      victims.foreach { id =>
        assert(spark.table(s"$ns.dict_var").where(col("tok") === s"w${id}x")
          .count() == 0,
          s"round $round: dead term w${id}x must leave the dict")
      }
      assert(graft.queries.Engine3.fts2Compact(spark, ns))
      assert(fuzzy() == before,
        s"round $round: index compaction changed the fuzzy serve")
      // dict == a from-scratch rebuild's dict over the live corpus
      spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.dcr")
      spark.sql("DROP TABLE IF EXISTS gcat.dcr.dict_var")
      spark.sql("CREATE TABLE gcat.dcr.dict_var (variant STRING, tok STRING)")
      graft.queries.Engine3.dictFold(spark, "gcat.dcr",
        state.toSeq.toDF("doc_id", "text"))
      def rows(t: String): Set[(String, String)] =
        spark.table(t).collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(rows(s"$ns.dict_var") == rows("gcat.dcr.dict_var"),
        s"round $round: compacted dict must equal the rebuild dict")
    }
    // racing maintainers can double-append the same (variant, tok) rows
    // (both preFold dictFolds pass the anti-join); the serve distincts,
    // and compaction must RESTORE the one-row invariant
    import spark.implicits._
    val dup = spark.table(s"$ns.dict_var").limit(1).collect().head
    Seq((dup.getString(0), dup.getString(1))).toDF("variant", "tok")
      .writeTo(s"$ns.dict_var").append()
    val total = spark.table(s"$ns.dict_var").count()
    assert(total == spark.table(s"$ns.dict_var").distinct().count() + 1,
      "precondition: exactly one duplicated row")
    assert(graft.queries.Engine3.dictCompact(spark, ns))
    assert(spark.table(s"$ns.dict_var").count() ==
      spark.table(s"$ns.dict_var").distinct().count(),
      "compaction must restore one row per (variant, term)")
  }

  test("a compaction that crashes after the decide point rolls FORWARD to the " +
      "compacted index; before it, the maintained index keeps serving") {
    setupGcat()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.cc")
    val ns = "gcat.cc"
    graft.queries.Engine3.fts2Create(spark, ns, withRowKey = true)
    import spark.implicits._
    corpus(0, 25).select(col("doc_id").cast("string").as("row_key"),
        col("doc_id"), col("text"))
      .writeTo(s"$ns.fts2_src").append()
    val v1 = srcVersion(ns)
    graft.queries.Engine3.fts2Fold(spark, ns,
      spark.read.option("since-version", 0L).table(s"$ns.fts2_src")
        .select(col("doc_id"), col("text")), v1)
    spark.sql(s"DELETE FROM $ns.fts2_src WHERE doc_id % 6 = 1")
    val v2 = srcVersion(ns)
    val cat = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("cc"), "fts2_src")).asInstanceOf[graft.sources.GraftTable]
    graft.queries.Engine3.fts2FoldFeed(spark, ns, s"$ns.fts2_src",
      graft.sources.Snapshots.changes(spark, tbl, since = v1, end = Some(v2)),
      v1, v2)
    val terms = Seq("common", "tok2")
    val maintained = serveScores(ns, terms)
    // stage exactly what fts2Compact stages, in its serve-consistent
    // order, then crash between decide and complete
    val tombMax = graft.queries.Engine3.fts2TombMaxOpt(spark, ns)
    val txn = graft.sources.Transactions.begin(spark, wh)
    txn.replace(s"$ns.fts2_post", graft.queries.Engine3.fts2Surviving(
      spark.table(s"$ns.fts2_post"), tombMax)
      .repartitionByRange(1, col("tok"))
      .sortWithinPartitions(col("tok"), col("doc_id")))
    txn.replace(s"$ns.fts2_pos", graft.queries.Engine3.fts2Surviving(
      spark.table(s"$ns.fts2_pos"), tombMax)
      .repartitionByRange(1, col("tok"))
      .sortWithinPartitions(col("tok"), col("doc_id"), col("pos")))
    txn.replace(s"$ns.fts2_del", spark.table(s"$ns.fts2_del").limit(0))
    txn.replace(s"$ns.fts2_glob", spark.table(s"$ns.fts2_glob")
      .agg(sum(col("nd")).cast("long").as("nd"),
        sum(col("sl")).cast("long").as("sl")))
    txn.writeIntent()
    txn.decide()
    // pre-recovery: every stage invisible — the maintained index serves
    assert(serveScores(ns, terms) == maintained)
    assert(tableCount(s"$ns.fts2_del") > 0)
    val (fwd, _) = graft.sources.Transactions.recover(spark, wh, minAgeMillis = 0L)
    assert(fwd == 1)
    assert(serveScores(ns, terms) == maintained,
      "recovered compaction must not change any answer")
    assert(tableCount(s"$ns.fts2_del") == 0)
    assert(tableCount(s"$ns.fts2_glob") == 1)
  }

  test("compaction mid-publish crash matrix: EVERY k-of-4 prefix state serves " +
      "identically, and recovery completes each") {
    // fts2Compact's scaladoc claims its stage order (post, pos, del,
    // glob) makes every mid-publish prefix serve-consistent. Pin it: for
    // k = 1, 2, 3 published participants, the index must answer exactly
    // as before AND after the compaction — then recover() finishes the
    // remaining swaps and the debt is gone. (k = 0 is the existing
    // decided-crash test; k = 4 is a completed compaction.)
    setupGcat()
    for (k <- 1 to 3) {
      val db = s"cm$k"
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS gcat.$db")
      val ns = s"gcat.$db"
      graft.queries.Engine3.fts2Create(spark, ns, withRowKey = true)
      import spark.implicits._
      corpus(0, 30).select(col("doc_id").cast("string").as("row_key"),
          col("doc_id"), col("text"))
        .writeTo(s"$ns.fts2_src").append()
      val v1 = srcVersion(ns)
      graft.queries.Engine3.fts2Fold(spark, ns,
        spark.read.option("since-version", 0L).table(s"$ns.fts2_src")
          .select(col("doc_id"), col("text")), v1)
      spark.sql(s"DELETE FROM $ns.fts2_src WHERE doc_id % 5 = 2")
      val v2 = srcVersion(ns)
      val cat = spark.sessionState.catalogManager.catalog("gcat")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
          .of(Array(db), "fts2_src")).asInstanceOf[graft.sources.GraftTable]
      graft.queries.Engine3.fts2FoldFeed(spark, ns, s"$ns.fts2_src",
        graft.sources.Snapshots.changes(spark, tbl, since = v1, end = Some(v2)),
        v1, v2)
      val terms = Seq("common", "tok3")
      val before = serveScores(ns, terms)
      // stage the compaction's four replaces in ITS order, decide, then
      // "crash" after publishing only the first k participants
      val tombMax = graft.queries.Engine3.fts2TombMaxOpt(spark, ns)
      val txn = graft.sources.Transactions.begin(spark, wh)
      txn.replace(s"$ns.fts2_post", graft.queries.Engine3.fts2Surviving(
        spark.table(s"$ns.fts2_post"), tombMax)
        .repartitionByRange(1, col("tok"))
        .sortWithinPartitions(col("tok"), col("doc_id")))
      txn.replace(s"$ns.fts2_pos", graft.queries.Engine3.fts2Surviving(
        spark.table(s"$ns.fts2_pos"), tombMax)
        .repartitionByRange(1, col("tok"))
        .sortWithinPartitions(col("tok"), col("doc_id"), col("pos")))
      txn.replace(s"$ns.fts2_del", spark.table(s"$ns.fts2_del").limit(0))
      txn.replace(s"$ns.fts2_glob", spark.table(s"$ns.fts2_glob")
        .agg(sum(col("nd")).cast("long").as("nd"),
          sum(col("sl")).cast("long").as("sl")))
      txn.writeIntent()
      txn.decide()
      val tables = Seq("fts2_post", "fts2_pos", "fts2_del", "fts2_glob")
      (1 to k).foreach { n =>
        graft.sources.Snapshots.publishWap(
          s"$wh/$db/${tables(n - 1)}", s"txn-${txn.id}-$n")
      }
      // the torn mid-publish state must answer EXACTLY as before
      assert(serveScores(ns, terms) == before,
        s"k=$k published: the prefix state must serve identically")
      // recovery completes the remaining swaps; answers still identical,
      // the debt gone
      val (fwd, _) = graft.sources.Transactions.recover(spark, wh, minAgeMillis = 0L)
      assert(fwd == 1, s"k=$k: recover must roll the compaction forward")
      assert(serveScores(ns, terms) == before,
        s"k=$k recovered: compaction must not change any answer")
      assert(tableCount(s"$ns.fts2_del") == 0)
      assert(tableCount(s"$ns.fts2_glob") == 1)
    }
  }

  test("compaction + vacuum physically reclaims the replaced postings bytes") {
    // the point of compaction is that the STORAGE shrinks once history
    // expires: the registry swap alone keeps replaced files on disk for
    // time travel — vacuum(retain=1, minAge=0) must then delete every
    // pre-compaction postings file while the compacted serve answers
    // unchanged
    setupGcat()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.vr")
    val ns = "gcat.vr"
    graft.queries.Engine3.fts2Create(spark, ns, withRowKey = true)
    import spark.implicits._
    corpus(0, 40).select(col("doc_id").cast("string").as("row_key"),
        col("doc_id"), col("text"))
      .writeTo(s"$ns.fts2_src").append()
    val v1 = srcVersion(ns)
    graft.queries.Engine3.fts2Fold(spark, ns,
      spark.read.option("since-version", 0L).table(s"$ns.fts2_src")
        .select(col("doc_id"), col("text")), v1)
    spark.sql(s"DELETE FROM $ns.fts2_src WHERE doc_id % 4 = 1")
    val v2 = srcVersion(ns)
    val cat = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("vr"), "fts2_src")).asInstanceOf[graft.sources.GraftTable]
    graft.queries.Engine3.fts2FoldFeed(spark, ns, s"$ns.fts2_src",
      graft.sources.Snapshots.changes(spark, tbl, since = v1, end = Some(v2)),
      v1, v2)
    def physical(t: String): Set[String] = {
      val dd = new org.apache.hadoop.fs.Path(s"$wh/vr/$t/data")
      val fsys = dd.getFileSystem(new org.apache.hadoop.conf.Configuration())
      val out = scala.collection.mutable.Set[String]()
      val it = fsys.listFiles(dd, true)
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.endsWith(".parquet")) out += p.toString
      }
      out.toSet
    }
    val preFiles = physical("fts2_post")
    assert(preFiles.nonEmpty)
    val terms = Seq("common", "tok1")
    assert(graft.queries.Engine3.fts2Compact(spark, ns))
    val served = serveScores(ns, terms)
    // replaced files still on disk (time travel) until history expires
    assert(physical("fts2_post").intersect(preFiles) == preFiles,
      "the registry swap must not physically delete")
    for (t <- Seq("fts2_post", "fts2_pos", "fts2_del", "fts2_glob"))
      graft.sources.Snapshots.vacuum(s"$wh/vr/$t", retain = 1, minAgeMillis = 0L)
    val postVacuum = physical("fts2_post")
    assert(postVacuum.intersect(preFiles).isEmpty,
      s"vacuum must reclaim every replaced postings file; survivors: " +
        s"${postVacuum.intersect(preFiles).take(3)}")
    assert(serveScores(ns, terms) == served,
      "reclamation must not change any answer")
    assert(spark.table(s"$ns.fts2_del").count() == 0)
  }

  test("a failed maintenance transaction leaves the index serving the OLD state") {
    setupGcat()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.c")
    val ns = "gcat.c"
    graft.queries.Engine3.fts2Create(spark, ns)
    corpus(0, 40).writeTo(s"$ns.fts2_src").append()
    graft.queries.Engine3.fts2Fold(spark, ns,
      spark.read.option("since-version", 0L).table(s"$ns.fts2_src"), srcVersion(ns))
    val postBefore = sortedRows(s"$ns.fts2_post")
    val globBefore = sortedRows(s"$ns.fts2_glob")
    // a maintenance run that crashes AFTER staging the postings but
    // BEFORE the constants: the transaction rolls back — a torn index
    // (postings without the constants that scale their idf) must never
    // become visible
    import spark.implicits._
    val badPost = Seq(("tokX", 999L, 1L, 4L)).toDF("tok", "doc_id", "tf", "dl")
    intercept[RuntimeException] {
      graft.sources.Transactions.run(spark, wh) { txn =>
        txn.write(s"$ns.fts2_post", badPost)
        throw new RuntimeException("crash before the constants advance")
      }
    }
    assert(sortedRows(s"$ns.fts2_post") == postBefore,
      "rolled-back postings must not surface")
    assert(sortedRows(s"$ns.fts2_glob") == globBefore)
    // and the next fold proceeds normally on the intact index
    corpus(40, 50).writeTo(s"$ns.fts2_src").append()
    val v = spark.table(s"$ns.fts2_meta")
      .agg(max(col("indexed_version"))).first().getLong(0)
    graft.queries.Engine3.fts2Fold(spark, ns,
      spark.read.option("since-version", v).table(s"$ns.fts2_src"), srcVersion(ns))
    assert(spark.table(s"$ns.fts2_post").where(col("doc_id") >= 40).count() > 0)
  }

  test("dictCompact losing its replace race to a concurrent preFold append " +
      "SKIPS benignly; the append survives; the retry compacts") {
    // the q187/q188 topology's hazard: the winner's onBatch dictCompact
    // stages its REPLACE while the loser's preFold dictFold appends —
    // the commit's replace-base check catches the race, and the
    // compaction must come back as `false` (debt remains, next trigger
    // retries), NOT as an exception that would kill the maintainer's
    // stream mid-drain.
    setupGcat()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.drx")
    val ns = "gcat.drx"
    graft.queries.Engine3.fts2Create(spark, ns)
    spark.sql(s"CREATE TABLE $ns.dict_var (variant STRING, tok STRING)")
    import spark.implicits._
    val seed = (0L until 6L).map(i => (i, s"w${i}x shared common"))
      .toDF("doc_id", "text")
    seed.writeTo(s"$ns.fts2_src").append()
    graft.queries.Engine3.dictFold(spark, ns, seed)
    graft.queries.Engine3.fts2Fold(spark, ns,
      spark.table(s"$ns.fts2_src"), srcVersion(ns))
    val before = spark.table(s"$ns.dict_var").count()
    val committed = graft.queries.Engine3.dictCompact(spark, ns,
      raceSeam = () => graft.queries.Engine3.dictFold(spark, ns,
        Seq((100L, "zzfresh shared")).toDF("doc_id", "text")))
    assert(!committed, "a compaction losing the replace race must skip, not throw")
    // the loser rolled back whole: every pre-race row AND the racing
    // append survive
    assert(spark.table(s"$ns.dict_var")
      .where(col("tok") === "zzfresh").count() > 0,
      "the racing preFold append must survive the compaction's rollback")
    assert(spark.table(s"$ns.dict_var").count() > before)
    // quiet retry commits (and re-applies the serve's own drop rule)
    assert(graft.queries.Engine3.dictCompact(spark, ns),
      "the next trigger must compact cleanly")
  }

  test("donor memo: a seed copy keeps serving the seed while its donor is " +
      "mutated; re-seeding the donor is a no-op until it moves") {
    // every index gate seeds through the donor memo (fts2SeedCorpus,
    // ann3SeedFrom with a cacheKey): the first namespace folds inline and
    // becomes the donor, later ones copy its seed rows pinned at the
    // seed-time versions. A copy must equal a rebuild from the unmutated
    // corpus even after the donor takes a mutation fold, and the donor
    // itself must have moved. A fresh session: the gate seeds register
    // the gcat catalog under a warehouse of their own.
    val spark = this.spark.newSession()
    import spark.implicits._
    def srcVersion(ns: String): Long = graft.queries.Engine3.fts2SrcVersion(spark, ns)
    val dir = java.nio.file.Files.createTempDirectory("graft-donor").toString
    (0L until 40L).map(i => (i, s"tok${i % 7} hash join tok${i % 5} common"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val E3 = graft.queries.Engine3
    val E2 = graft.queries.Engine2
    val (donor, copy, rebuild) = ("gcat.dmd", "gcat.dmc", "gcat.dmr")
    E3.fts2SeedCorpus(spark, donor, dir)
    E3.fts2SeedCorpus(spark, copy, dir)
    // re-seeding the untouched donor commits nothing
    val donorPost = E3.tableVersion(spark, donor, "fts2_post")
    E3.fts2SeedCorpus(spark, donor, dir)
    assert(E3.tableVersion(spark, donor, "fts2_post") == donorPost)
    // the rebuild folds the corpus directly, outside the memo
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $rebuild")
    E3.fts2Create(spark, rebuild)
    spark.read.parquet(s"$dir/documents.parquet").writeTo(s"$rebuild.fts2_src").append()
    E3.fts2Fold(spark, rebuild, spark.table(s"$rebuild.fts2_src"), srcVersion(rebuild))
    // the mutation fold on the donor: a takedown and a re-crawl
    val v1 = srcVersion(donor)
    spark.sql(s"DELETE FROM $donor.fts2_src WHERE doc_id % 3 = 0")
    spark.sql(s"UPDATE $donor.fts2_src SET text = 'hash join hash join' WHERE doc_id % 3 = 1")
    val v2 = srcVersion(donor)
    val tbl = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("dmd"), "fts2_src"))
      .asInstanceOf[graft.sources.GraftTable]
    E3.fts2FoldFeed(spark, donor, s"$donor.fts2_src",
      graft.sources.Snapshots.changes(spark, tbl, since = v1, end = Some(v2)), v1, v2)
    def bm25(n: String): Seq[(Long, Long)] =
      E3.fts2Bm25(spark, n, Seq("hash", "tok3", "common")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    def phrase(n: String): Long = {
      val tomb = E3.fts2TombMaxOpt(spark, n)
      val pos = spark.table(s"$n.fts2_pos")
      E3.fts2Surviving(pos.where(col("tok") === "hash"), tomb)
        .select(col("doc_id"), col("pos"))
        .join(E3.fts2Surviving(pos.where(col("tok") === "join"), tomb)
          .select(col("doc_id"), (col("pos") - 1).as("pos")), Seq("doc_id", "pos"))
        .count()
    }
    assert(bm25(copy) == bm25(rebuild), "the copy must serve the seed")
    assert(phrase(copy) == phrase(rebuild))
    assert(bm25(donor) != bm25(rebuild), "the donor's serve must have moved")
    assert(phrase(donor) != phrase(rebuild))
    // re-seeding the MOVED donor folds inline again (its old rows are gone)
    E3.fts2SeedCorpus(spark, donor, dir)
    assert(bm25(donor) == bm25(rebuild) && phrase(donor) == phrase(rebuild))

    // the ANN side: 24 deterministic 64-dim vectors, flattened
    def flat(ids: Seq[Long]): org.apache.spark.sql.DataFrame =
      ids.flatMap(i => (0 until 64).map(p =>
          (i, p, ((i * 31 + p * 7) % 13 - 6).toDouble / 7)))
        .toDF("vec_id", "pos", "v")
    val key = Some(s"$dir|ann")
    E2.ann3SeedFrom(spark, "gcat.dad", flat(0L until 24L), key)
    E2.ann3SeedFrom(spark, "gcat.dac", flat(0L until 24L), key)
    E2.ann3SeedFrom(spark, "gcat.dar", flat(0L until 24L))
    E2.ann3MutateAndFold(spark, "gcat.dad")
    val queries = E2.annRegroup(flat(0L until 24L))
    def ann(n: String): Seq[String] = {
      val tomb = E2.ann3TombMaxOpt(spark, n)
      val live = E2.ann3Surviving(spark.table(s"$n.ann3_post"), tomb)
        .agg(count(lit(1)).cast("long").as("n_live"))
      E2.annServe(queries, E2.regroupCent(spark.table(s"$n.ann3_cent")),
        E2.regroupBook(spark.table(s"$n.ann3_book")),
        probed => E2.ann3Surviving(spark.table(s"$n.ann3_post")
          .where(col("list_id").isin(probed: _*)), tomb),
        proof = Some(live)).collect().map(_.toString).toSeq
    }
    assert(ann("gcat.dac") == ann("gcat.dar"), "the ANN copy must serve the seed")
    assert(ann("gcat.dad") != ann("gcat.dar"), "the ANN donor's serve must have moved")
    scala.reflect.io.Path(spark.conf.get("spark.sql.catalog.gcat.warehouse"))
      .deleteRecursively()
    scala.reflect.io.Path(dir).deleteRecursively()
  }
}
