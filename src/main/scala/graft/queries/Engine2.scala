package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 engine-gate queries: index-as-tables ANN serving and
  * incremental (delta-only) dedup — the two "build once, keep current,
  * serve cheaply" production shapes, composed from engine capabilities
  * that already exist (identity partition pruning, incremental snapshot
  * reads, MERGE INTO).
  */
object Engine2 {

  /** Shared with [[Engine.ensureCatalog]] — all gates use one per-sfDir
    * warehouse. */
  private def ensureCatalog(s: SparkSession, dir: String): String =
    Engine.ensureCatalog(s, dir)

  /** embeddings as (vec_id, e array<double>) — same numeric contract as
    * [[Vectors]]: per-element products/distances quantized to integers at
    * 1e9 (exact, order-independent sums; bit-identical vs DuckDB). */
  private def emb(t: Tables): DataFrame =
    t.embeddings.select(
      col("vec_id"), col("embedding").cast("array<double>").as("e"))

  // native quant arithmetic (bit-identical to the HOF spellings the
  // oracles replay — QuantProdSumSpec)
  private val n2Expr = "quant_dot(%1$s, %1$s, 1e9)"
  private val dotExpr = "quant_dot(%s, %s, 1e9)"
  private val sqDistExpr = "quant_dist2(sv, cv, 1e9)"

  // ---- q154 shared helpers (used by both its setup and its run) ----------
  private def annFlat(df: DataFrame): DataFrame =
    df.select(col("vec_id"), posexplode(col("e")).as(Seq("pos", "v")))
  private[graft] def annRegroup(df: DataFrame): DataFrame = df.groupBy(col("vec_id"))
    .agg(expr("transform(array_sort(collect_list(struct(pos, v))), x -> x.v)").as("e"))
  /** LIVE registry head of a graft table under the gcat warehouse —
    * liveVersion, not the raw listing tail, so a crashed commit's orphan
    * snapshot can never become a watermark that skips the healed
    * commit's rows. */
  private def gcatTableVersion(s: SparkSession, db: String, table: String): Long =
    catTableVersion(s, "gcat", db, table)

  private def catTableVersion(s: SparkSession, cat: String, db: String,
      table: String): Long = {
    val wh = s.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val dd = new org.apache.hadoop.fs.Path(s"$wh/$db/$table/data")
    val fs = dd.getFileSystem(new org.apache.hadoop.conf.Configuration())
    graft.sources.TableStats.liveVersion(fs, dd).getOrElse(
      throw new IllegalStateException(s"graft: $db.$table has no registry head"))
  }

  /** Latest committed version of the q154 source table. */
  private def annSrcVersion(s: SparkSession): Long =
    gcatTableVersion(s, "corpus", "ann_src")
  /** Encode `src` (vec_id, e) against the quantizer — the ONE routine
    * both the initial build and every maintenance batch run;
    * cent = (cid, ce), book = (code, j, cv).
    *
    * The quantizer is MODEL-SIZED by construction (k centroids, 8×k
    * codewords — the same property the previous implementation leaned on
    * to `broadcast()` both sides), so instead of riding it through two
    * broadcast joins + two corpus-wide row_number windows + a corpus
    * self-join on vid, it is collected once and folded into LITERAL
    * arrays (the [[graft.ml.KMeans.withCluster]] discipline): the whole
    * encode becomes ONE narrow projection over `src` — zero shuffles,
    * zero joins (guide §2.4), per-element arithmetic in the compiled
    * quant_dot/quant_dist2 natives. Bit-equivalence with the window
    * spelling: the argmax/argmin folds scan cid- (resp. code-)ascending
    * literals with a strict comparison, so ties keep the LOWER id —
    * exactly row_number() over (cos DESC, cid) / (d, code) — and Spark's
    * total double ordering (NaN greatest) matches the sort's NaN
    * placement. The codeword fold takes its first candidate
    * unconditionally, so a subvector whose distances are all NaN gets
    * the lowest code, as the sort gave it. */
  private[graft] def annEncode(src: DataFrame, cent: DataFrame, book: DataFrame): DataFrame = {
    graft.functions.NativeFunctions.register(src.sparkSession)
    // cn2 computed IN Spark (same quant_dot the joins used) at collect
    // time, so the literal carries bit-identical norms
    val centRows = cent
      .select(col("cid"), col("ce"), expr(n2Expr.format("ce")).as("cn2"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)
    val centLit = array(centRows.map { case (cid, ce, cn2) =>
      struct(lit(cid).as("cid"), typedLit(ce.toSeq).as("ce"), lit(cn2).as("cn2"))
    }: _*)
    val bookRows = book.select(col("j"), col("code"), col("cv")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
    val bookLit = array((0 to 7).map { j =>
      array(bookRows.filter(_._1 == j).sortBy(_._2).map { case (_, code, cv) =>
        struct(lit(code).as("code"), typedLit(cv.toSeq).as("cv"))
      }: _*)
    }: _*)
    src
      .withColumn("cents", centLit)
      .withColumn("books", bookLit)
      .withColumn("n2", expr(n2Expr.format("e")))
      .withColumn("list_id", expr(
        """aggregate(
          |  transform(cents, cc -> struct(
          |    cc.cid AS cid,
          |    quant_dot(e, cc.ce, 1e9) / sqrt(n2 * cc.cn2) AS cos)),
          |  struct(CAST(-1 AS BIGINT) AS cid, CAST('-Infinity' AS DOUBLE) AS cos),
          |  (best, s) -> CASE WHEN s.cos > best.cos THEN s ELSE best END
          |).cid""".stripMargin))
      .select(col("vec_id").as("vid"), col("list_id"),
        explode(expr(
          """transform(sequence(0, 7), jj -> struct(
            |  jj AS j,
            |  aggregate(
            |    transform(element_at(books, jj + 1), bc -> struct(
            |      bc.code AS code,
            |      quant_dist2(slice(e, jj * 8 + 1, 8), bc.cv, 1e9) AS d)),
            |    struct(CAST(-1 AS BIGINT) AS code, CAST('Infinity' AS DOUBLE) AS d),
            |    (best, s) -> CASE WHEN best.code < 0 OR s.d < best.d THEN s ELSE best END
            |  ).code AS code))""".stripMargin)).as("jc"))
      .select(col("vid"), col("jc.j").as("j"), col("jc.code").as("code"),
        col("list_id"))
  }

  /** Rebuild (cid, ce) centroid arrays from their flat index-table rows
    * (pos is unique per cid, so the sort-by-struct ordering is total). */
  private[graft] def regroupCent(df: DataFrame): DataFrame = df.groupBy(col("cid"))
    .agg(expr("transform(array_sort(collect_list(struct(pos, v))), x -> x.v)").as("ce"))

  /** Rebuild (code, j, cv) codeword arrays from their flat rows. */
  private[graft] def regroupBook(df: DataFrame): DataFrame =
    df.groupBy(col("code"), col("j"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, v))), x -> x.v)").as("cv"))

  // ---- q172/q175 shared: mutation fold, survival guard, compaction --------

  /** Seed the q172-shape index tables in `ns2` (its own namespace): the
    * row-keyed flattened source, the FROZEN first-16 quantizer, the
    * whole corpus encoded at rev v1. */
  private[graft] def ann3Seed(s: SparkSession, ns2: String, dir: String): Unit = {
    Engine.ensureCatalog(s, dir)
    ann3SeedFrom(s, ns2, annFlat(emb(Tables(s, dir))), cacheKey = Some(dir))
  }

  /** Process-memoized corpus encode for [[ann3Seed]]: the read-only
    * [[annServeNs]] and six maintenance gates seed their OWN namespaces
    * from the SAME corpus — same flat source, same frozen vec_id < 16
    * quantizer, same rev stamp (fresh tables commit identically). The
    * FIRST consumer seeds inline (its committed tables ARE the
    * materialization) and registers itself as the DONOR; later consumers
    * copy the donor's cent/book/post rows pinned at the donor's
    * seed-time snapshot versions. Replaces the round-13 temp-parquet
    * cache, which made the single-consumer (isolated-gate) case strictly
    * slower — an extra full write+read of the encode — and leaked its
    * temp dirs. Row-identical either way; process-local (each
    * bench/oracle invocation re-encodes from the parquet inputs); a seed
    * stamped at a different version computes fresh. Re-seeding the donor
    * itself follows [[Engine3.fts2SeedCorpus]]: a no-op while its tables
    * stand at the seed versions, an inline re-encode once mutated.
    * Value: (donor ns, src version, cent version, book version, post
    * version). */
  private val annSeedCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long, Long, Long, Long)]()

  /** [[ann3Seed]] over an arbitrary flat (vec_id, pos, v) source —
    * catalog-generic (the conf keys derive from `ns2`), so specs can
    * seed synthetic vectors under suite-private catalogs. The quantizer
    * freezes on vec_id < 16 of THIS source. */
  private[graft] def ann3SeedFrom(s: SparkSession, ns2: String,
      flat: DataFrame, cacheKey: Option[String] = None): Unit = {
    val Array(cat, db) = ns2.split('.')
    val memo = cacheKey.flatMap(k => Option(annSeedCache.get(k)))
    // the registered donor, still at its seed versions, already holds
    // exactly the seed (and recreating it would drop what copies read)
    if (memo.exists { case (dns, srcV, centV, bookV, postV) =>
        dns == ns2 && Engine3.standsAt(s, ns2, "ann3_src" -> srcV,
          "ann3_cent" -> centV, "ann3_book" -> bookV, "ann3_post" -> postV) })
      return
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $ns2")
    for (tb <- Seq("ann3_src", "ann3_cent", "ann3_book", "ann3_post",
        "ann3_del", "ann3_meta"))
      s.sql(s"DROP TABLE IF EXISTS $ns2.$tb")
    s.sql(s"CREATE TABLE $ns2.ann3_src (row_key STRING, vec_id BIGINT, pos INT, v DOUBLE)")
    s.sql(s"CREATE TABLE $ns2.ann3_cent (cid BIGINT, pos INT, v DOUBLE)")
    s.sql(s"CREATE TABLE $ns2.ann3_book (j INT, code BIGINT, pos INT, v DOUBLE)")
    s.sql(
      s"""CREATE TABLE $ns2.ann3_post (vid BIGINT, j INT, code BIGINT,
         |list_id BIGINT, rev BIGINT) PARTITIONED BY (list_id)""".stripMargin)
    s.sql(s"CREATE TABLE $ns2.ann3_del (vid BIGINT, rev BIGINT)")
    s.sql(s"CREATE TABLE $ns2.ann3_meta (indexed_version BIGINT)")
    flat
      .select(concat_ws(":", col("vec_id"), col("pos")).as("row_key"),
        col("vec_id"), col("pos"), col("v"))
      .writeTo(s"$ns2.ann3_src").append()
    val v1 = catTableVersion(s, cat, db, "ann3_src")
    // the seed is ONE transaction, like every later fold: (a) quantizer,
    // postings, and watermark land all-or-nothing (a crash can't leave
    // centroids without postings), and (b) the coordinator HEAD names
    // every index table from birth — which is what lets a pinned serve
    // racing the FIRST maintenance fold resolve a consistent pre-fold
    // cut instead of falling back to torn live reads
    val coord = s.conf.get(s"spark.sql.catalog.$cat.warehouse")
    // corpus-driven seeds share ONE committed encode via the donor memo
    // ([[annSeedCache]]); synthetic/spec sources (cacheKey = None)
    // compute inline, un-memoized
    memo match {
      case Some((dns, `v1`, centV, bookV, postV)) if dns != ns2 =>
        // copy the donor's seed rows pinned at its seed-time versions —
        // later mutation folds on the donor can't leak in
        graft.sources.Transactions.run(s, coord) { txn =>
          txn.write(s"$ns2.ann3_cent",
            s.read.option("snapshot-version", centV).table(s"$dns.ann3_cent")
              .select(col("cid"), col("pos"), col("v")))
          txn.write(s"$ns2.ann3_book",
            s.read.option("snapshot-version", bookV).table(s"$dns.ann3_book")
              .select(col("j"), col("code"), col("pos"), col("v")))
          txn.write(s"$ns2.ann3_post",
            s.read.option("snapshot-version", postV).table(s"$dns.ann3_post")
              .select(col("vid"), col("j"), col("code"), col("list_id"), col("rev")))
          txn.write(s"$ns2.ann3_meta",
            s.range(1).select(lit(v1).as("indexed_version")))
        }
      case _ =>
        val seed = annRegroup(s.table(s"$ns2.ann3_src")
          .select(col("vec_id"), col("pos"), col("v"))).persist()
        // the frozen quantizer is 16 rows: collect ONCE and re-plan as
        // LocalRelations — the cent/book writes and the encode's model
        // collect stop re-scanning the cached regroup each
        import s.implicits._
        val rows16 = seed.filter(col("vec_id") < 16)
          .select(col("vec_id"), col("e")).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
          .sortBy(_._1)
        val cent0 = rows16.toDF("cid", "ce")
        val book0 = rows16.flatMap { case (id, e) =>
          (0 to 7).map(j => (id, j, e.slice(j * 8, j * 8 + 8)))
        }.toDF("code", "j", "cv")
        graft.sources.Transactions.run(s, coord) { txn =>
          txn.write(s"$ns2.ann3_cent",
            cent0.select(col("cid"), posexplode(col("ce")).as(Seq("pos", "v"))))
          txn.write(s"$ns2.ann3_book",
            book0.select(col("j"), col("code"), posexplode(col("cv")).as(Seq("pos", "v"))))
          txn.write(s"$ns2.ann3_post",
            annEncode(seed, cent0, book0).withColumn("rev", lit(v1)))
          txn.write(s"$ns2.ann3_meta",
            s.range(1).select(lit(v1).as("indexed_version")))
        }
        seed.unpersist(blocking = false)
        // register this namespace as the donor for later corpus seeds
        cacheKey.foreach { dirKey =>
          annSeedCache.put(dirKey, (ns2, v1,
            catTableVersion(s, cat, db, "ann3_cent"),
            catTableVersion(s, cat, db, "ann3_book"),
            catTableVersion(s, cat, db, "ann3_post")))
        }
    }
  }

  /** The q172 mutation interval applied to `ns2`'s index — takedown
    * (vec_id % 7 = 3), re-embedding (abs on % 7 = 5, SELF-GUARDED so
    * re-runs are empty intervals), then the endpoint-state feed fold:
    * tombstone every affected vec_id at rev = head, re-encode affected
    * vectors WHOLE from the pinned source against the frozen quantizer,
    * advance postings + tombstones + watermark in ONE transaction. */
  private[graft] def ann3MutateAndFold(s: SparkSession, ns2: String): Unit = {
    // catalog-generic like its sibling ann3SeedFrom: every resolution
    // derives from ns2 — a hardcoded catalog here would mutate one
    // catalog's table and fold another's feed
    val Array(catName, db) = ns2.split('.')
    val v1 = s.table(s"$ns2.ann3_meta")
      .agg(max(col("indexed_version"))).first().getLong(0)
    s.sql(s"DELETE FROM $ns2.ann3_src WHERE vec_id % 7 = 3")
    s.sql(s"UPDATE $ns2.ann3_src SET v = abs(v) WHERE vec_id % 7 = 5 AND v < 0")
    val v2 = catTableVersion(s, catName, db, "ann3_src")
    val cat = s.sessionState.catalogManager.catalog(catName)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array(db), "ann3_src")).asInstanceOf[graft.sources.GraftTable]
    val feed = graft.sources.Snapshots.changes(s, tbl,
      since = v1, end = Some(v2), hydrateMor = true)
    ann3FoldFeed(s, ns2, feed, v2)
  }

  /** The q172 ENDPOINT-STATE fold as a feed-shaped routine (what
    * [[graft.streaming.IndexMaintain]] drives): tombstone every affected
    * vec_id at rev = `v2`, re-encode affected vectors WHOLE from the
    * source pinned at `v2` against the FROZEN quantizer read back from
    * the index tables, advance postings + tombstones + watermark in ONE
    * transaction. Handles inserts, deletes, and updates uniformly. */
  private[graft] def ann3FoldFeed(s: SparkSession, ns2: String,
      feed: DataFrame, v2: Long, expect: Option[Long] = None): Unit = {
    val coord = s.conf.get(s"spark.sql.catalog.${ns2.split('.')(0)}.warehouse")
    val affected = feed.select(col("vec_id")).distinct()
    val postVecs = annRegroup(
      s.read.option("snapshot-version", v2).table(s"$ns2.ann3_src")
        .join(broadcast(affected), Seq("vec_id"), "left_semi")
        .select(col("vec_id"), col("pos"), col("v")))
    val centT = regroupCent(s.table(s"$ns2.ann3_cent"))
    val bookT = regroupBook(s.table(s"$ns2.ann3_book"))
    val newPost = annEncode(postVecs, centT, bookT)
      .withColumn("rev", lit(v2))
    val tomb = affected.select(col("vec_id").as("vid"), lit(v2).as("rev"))
    graft.sources.Transactions.run(s, coord) { txn =>
      // the Engine3.fts2Fold single-maintainer check, dense-side twin:
      // `expect` (the interval's base watermark, set by IndexMaintain)
      // re-checked at the commit point, so a duplicate maintainer's
      // fold aborts instead of double-indexing same-rev postings
      expect.foreach { w =>
        txn.precondition(s"$ns2.ann3_meta watermark == $w (single-maintainer)") {
          graft.streaming.IndexMaintain.watermark(s, s"$ns2.ann3_meta") == w
        }
      }
      txn.write(s"$ns2.ann3_post", newPost)
      txn.write(s"$ns2.ann3_del", tomb)
      txn.write(s"$ns2.ann3_meta",
        s.range(1).select(lit(v2).as("indexed_version")))
    }
  }

  /** Registry-sized tombstone aggregate (the FTS guard's dense-side
    * twin, [[Engine3.fts2TombMaxOpt]]): None when there are no
    * tombstones — the serve plans NO survival join; broadcast under the
    * shared ceiling; plain join above it. */
  private[graft] def ann3TombMaxOpt(s: SparkSession, ns2: String): Option[DataFrame] =
    ann3TombMaxOpt(s, Engine3.ServePin.live(s, ns2))

  private[graft] def ann3TombMaxOpt(s: SparkSession,
      pin: Engine3.ServePin): Option[DataFrame] = {
    // sized AND read at the pin's cut (see Engine3.fts2TombMaxOpt)
    val (rows, bytes) = pin.stats("ann3_del")
    if (rows == 0L) None
    else {
      val agg = pin.table("ann3_del")
        .groupBy(col("vid")).agg(max(col("rev")).as("trev"))
      // ONE ceiling for both serves (Engine3 owns the conf key/default)
      Some(if (bytes <= Engine3.tombBroadcastBytes(s)) broadcast(agg) else agg)
    }
  }

  /** Survival filter over `(vid, ..., rev)` rows; None is the identity. */
  private[graft] def ann3Surviving(df: DataFrame,
      tombMax: Option[DataFrame]): DataFrame =
    tombMax.fold(df)(t =>
      df.join(t, Seq("vid"), "left")
        .where(col("trev").isNull || col("rev") >= col("trev"))
        .drop("trev"))

  /** COMPACT the maintained ANN index (the q173 discipline applied to
    * dense retrieval): rewrite the postings to their SURVIVING rows —
    * rev-filtered by exactly the serve's survival rule, re-landed under
    * the same list_id partitioning — and truncate the tombstone table,
    * two staged REPLACES in ONE transaction (postings first, so any
    * mid-publish prefix serves identically). The watermark does not
    * move. Returns false (nothing runs) with no tombstones. */
  private[graft] def annCompact(s: SparkSession, ns2: String): Boolean = {
    val coord = s.conf.get(s"spark.sql.catalog.${ns2.split('.')(0)}.warehouse")
    val (tombRows, _) = Engine3.registryStats(s, ns2, "ann3_del")
    if (tombRows == 0L) return false
    val tombMax = ann3TombMaxOpt(s, ns2)
    Engine3.compactTxn(s, coord, s"$ns2 ANN") { txn =>
      txn.replace(s"$ns2.ann3_post",
        ann3Surviving(s.table(s"$ns2.ann3_post"), tombMax))
      txn.replace(s"$ns2.ann3_del", s.table(s"$ns2.ann3_del").limit(0))
    }
  }

  /** [[Engine3.fts2CompactIfDebt]]'s dense-side twin: compact when
    * tombstone rows exceed `frac` of live postings rows (registry
    * metadata only — free per maintenance batch). ANN postings are 8
    * codes per vector and tombstones one per mutated vector, so the
    * dead-posting fraction at trigger is ~frac × 8; the default fires
    * around a few-percent vector churn. */
  private[graft] def annCompactIfDebt(s: SparkSession, ns2: String,
      frac: Double = 0.05): Boolean = {
    val (tombRows, _) = Engine3.registryStats(s, ns2, "ann3_del")
    tombRows > 0L && {
      val (postRows, _) = Engine3.registryStats(s, ns2, "ann3_post")
      tombRows.toDouble > frac * math.max(postRows, 1L).toDouble &&
        annCompact(s, ns2)
    }
  }

  /** The ONE IVF-PQ serve pipeline (q154 directly; q142, q179, q172,
    * q175, q185 and q189 through [[annIndexServe]] over their ann3
    * namespaces): probe the top-2 lists per query against the broadcast
    * centroids, read ONLY the probed lists' postings (supplied by
    * `postOf`, which annIndexServe wraps in the tombstone-survival
    * filter), optionally restrict candidates by a metadata predicate
    * (`filterVids`, the q179 left-semi post-filter), ADC-score via the
    * broadcast codebook LUT, rank top-3 per query, and append the
    * caller's proof-of-maintenance columns when given. A tie-break or
    * expression change here applies to every ANN serve uniformly —
    * exactly the reason annEncode is shared on the build side. */
  private[graft] def annServe(eAll: DataFrame, centT: DataFrame, bookT: DataFrame,
      postOf: Seq[java.lang.Long] => DataFrame,
      proof: Option[DataFrame] = None,
      filterVids: Option[DataFrame] = None): DataFrame = {
    // The quantizer tables are MODEL-SIZED by construction (k centroids,
    // 8×k codewords — the same bound that justified broadcasting them).
    // Collect each ONCE and re-plan as LocalRelations: the serve plan
    // stops re-running the regroup/exchange subtree for the probe, the
    // centroid norms, the ADC LUT, and the dynamic-partition-pruning
    // subquery Spark injects on the partitioned postings join (the r13
    // q189 plan re-computed the whole probe pipeline inside that
    // subquery). Row-identical: the same rows, the same expressions.
    val sess = eAll.sparkSession
    import sess.implicits._
    val centL = centT.select(col("cid"), col("ce")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
      .sortBy(_._1).toDF("cid", "ce")
    val bookL = bookT.select(col("code"), col("j"), col("cv")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toSeq)).toSeq
      .sortBy(t => (t._2, t._1)).toDF("code", "j", "cv")
    val q = eAll.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val qn = q.select(col("qid"), expr(n2Expr.format("qe")).as("qn2"))
    val cn2T = centL.select(col("cid"), expr(n2Expr.format("ce")).as("cn2"))
    val wProbe = Window.partitionBy(col("qid")).orderBy(desc("cos"), col("cid"))
    val probe = q.crossJoin(broadcast(centL))
      .withColumn("dot", expr(dotExpr.format("qe", "ce")))
      .join(qn, "qid")
      .join(broadcast(cn2T), "cid")
      .withColumn("cos", expr("dot / sqrt(qn2 * cn2)"))
      .withColumn("rn", row_number().over(wProbe)).filter(col("rn") <= 2)
      .select(col("qid"), col("cid").as("list_id"))
    val probed = probe.select("list_id").distinct()
      .collect().map(r => Long.box(r.getLong(0))).toSeq
    val post = postOf(probed)
    val qsubs = q
      .select(col("qid"), explode(expr("sequence(0, 7)")).as("j"), col("qe"))
      .select(col("qid"), col("j"), expr("slice(qe, j * 8 + 1, 8)").as("sv"))
    val lut = qsubs.join(broadcast(bookL), "j")
      .withColumn("d", expr(sqDistExpr))
      .select(col("qid"), col("j"), col("code"), col("d"))
    val wRank = Window.partitionBy(col("qid")).orderBy(col("adist"), col("vid"))
    // probe (<= 2 lists x queries) and lut (queries x 8 x k codewords)
    // are model/query-sized: broadcast them explicitly so the postings —
    // the only corpus-scale side — are never shuffled or sorted for
    // these joins (§3.1; the r13 plan sort-merge-joined a 384-row lut)
    val cand0 = post.join(broadcast(probe), "list_id")
      .filter(col("qid") =!= col("vid"))
    val cand = filterVids.fold(cand0)(f => cand0.join(f, Seq("vid"), "left_semi"))
    val ranked = cand
      .join(broadcast(lut), Seq("qid", "j", "code"))
      .groupBy(col("qid"), col("vid"))
      .agg(sum(col("d")).as("adist"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("vid"), col("adist"))
    proof.fold(ranked)(p => ranked.crossJoin(broadcast(p)))
      .orderBy(col("qid"), col("rank"))
  }

  /** The namespace the read-only ANN gates (q142, q179) serve from: the
    * maintained index seeded with the whole corpus ([[ann3Seed]]) and
    * never mutated, so it carries no tombstones. */
  private val annServeNs = "gcat.ann_serve"

  /** [[annServe]] over a maintained ann3 namespace at ONE pinned cut
    * ([[Engine3.ServePin]]): centroids and codebooks regrouped from their
    * flat rows, postings pruned by identity partition on the probed
    * lists and survival-filtered against the tombstone aggregate (None
    * — no join — when the cut has no tombstones), an optional metadata
    * candidate filter (q179's left-semi post-filter; its (vec_id, label)
    * scan never reads the embedding arrays — PlanSpec pins it), and the
    * named proof columns the maintenance gates pin: `n_live` (surviving
    * postings), `n_tomb` (tombstone rows), `n_cent` (centroids). */
  private def annIndexServe(s: SparkSession, dir: String, ns: String,
      proofs: Seq[String] = Nil, filterVids: Option[DataFrame] = None): DataFrame = {
    val pin = Engine3.ServePin.of(s, ns)
    val centT = regroupCent(pin.table("ann3_cent"))
    val bookT = regroupBook(pin.table("ann3_book"))
    val tombMax = ann3TombMaxOpt(s, pin)
    def counted(df: DataFrame, name: String) = df.agg(count(lit(1)).cast("long").as(name))
    val proof = proofs.map {
      case "n_live" => counted(ann3Surviving(pin.table("ann3_post"), tombMax), "n_live")
      case "n_tomb" => counted(pin.table("ann3_del"), "n_tomb")
      case "n_cent" => counted(centT, "n_cent")
    }.reduceOption((a, b) => a.crossJoin(broadcast(b)))
    annServe(emb(Tables(s, dir)), centT, bookT,
      probed => ann3Surviving(pin.table("ann3_post")
        .where(col("list_id").isin(probed: _*)), tombMax), // identity partition pruning
      proof, filterVids)
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- q142: persisted ANN index — build once, search many --------------
    // q81 computes the IVF-PQ index inline every run; the production shape
    // builds it ONCE into catalog tables and serves every search from them
    // — the maintained index, seeded whole into [[annServeNs]] (the
    // donor-memoized seed every ANN gate shares):
    //  - ann3_cent (cid, pos, v)            — 16 coarse centroids, exploded
    //    to flat rows (graft tables are flat-schema by design);
    //  - ann3_book (j, code, pos, v)        — 8×16 PQ codewords;
    //  - ann3_post (vid, j, code, list_id, rev) PARTITIONED BY (list_id) —
    //    the inverted lists: each vector's 8 PQ codes live in its coarse
    //    list's partition.
    // The search phase touches ONLY the index tables: centroids/codebooks
    // are KB-sized broadcasts, and the postings scan carries an IN-list on
    // list_id — identity partition pruning drops every unprobed list's
    // files at planning time, so serving cost is O(probed lists), not
    // O(corpus), at any table size. The probed-list collect is
    // nqueries × nprobe ≤ 6 longs (metadata-sized, the justified
    // model-collect pattern). Same quantized math as q81, so the oracle
    // replays build + search end-to-end from the raw embeddings.
    QueryDef(
      "q142_ann_index_tables",
      (s, dir) => annIndexServe(s, dir, annServeNs),
      // q81's replay with the query set restricted to qid < 3: the build is
      // deterministic, so searching the persisted index ≡ computing the
      // index inline.
      Some {
        def fold(a: String, b: String): String =
          s"""list_sum(list_transform(range(1, len($a.embedding) + 1),
             |  i -> round(CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE) * 1e9)))""".stripMargin
        s"""WITH norms AS (SELECT vec_id,
                   list_sum(list_transform(embedding,
                     x -> round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e9))) AS n2
                 FROM embeddings),
        e AS (SELECT vec_id, embedding FROM embeddings),
        ascore AS (
          SELECT a.vec_id AS qid, c.vec_id AS vid,
            ${fold("a", "c")} / sqrt(nq.n2 * nv.n2) AS cos
          FROM e a JOIN e c ON c.vec_id < 16
          JOIN norms nq ON nq.vec_id = a.vec_id JOIN norms nv ON nv.vec_id = c.vec_id),
        ranked AS (
          SELECT qid, vid, cos,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
          FROM ascore),
        assign AS (SELECT qid AS member, vid AS cid FROM ranked WHERE rn = 1),
        probe AS (SELECT qid, vid AS cid FROM ranked WHERE rn <= 2 AND qid < 3),
        cand AS (
          SELECT DISTINCT p.qid, a.member AS vid
          FROM probe p JOIN assign a ON a.cid = p.cid WHERE a.member <> p.qid),
        subs AS (SELECT vec_id, j FROM e, range(0, 8) r(j)),
        dists AS (
          SELECT s.vec_id, s.j, c.vec_id AS cw,
            list_sum(list_transform(range(0, 8),
              i -> round((CAST(a.embedding[s.j * 8 + i + 1] AS DOUBLE)
                          - CAST(c.embedding[s.j * 8 + i + 1] AS DOUBLE))
                         * (CAST(a.embedding[s.j * 8 + i + 1] AS DOUBLE)
                            - CAST(c.embedding[s.j * 8 + i + 1] AS DOUBLE)) * 1e9))) AS dist
          FROM subs s JOIN e a ON a.vec_id = s.vec_id JOIN e c ON c.vec_id < 16),
        codes AS (
          SELECT vec_id AS vid, j, cw AS code FROM (
            SELECT vec_id, j, cw,
              ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dist, cw) AS rn
            FROM dists) WHERE rn = 1),
        lut AS (SELECT vec_id AS qid, j, cw AS code, dist AS d
                FROM dists WHERE vec_id < 3),
        adc AS (
          SELECT cand.qid, cand.vid, SUM(l.d) AS adist
          FROM cand JOIN codes c ON c.vid = cand.vid
          JOIN lut l ON l.qid = cand.qid AND l.j = c.j AND l.code = c.code
          GROUP BY cand.qid, cand.vid)
        SELECT qid, rank, vid, adist FROM (
          SELECT qid, vid, adist,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS rank
          FROM adc)
        WHERE rank <= 3 ORDER BY qid, rank"""
      },
      // build-once fixture: quantize the corpus and persist the index
      // tables — the measured query above serves from them alone, so the
      // bench reports index BUILD (setup) and SERVE (query) separately
      setup = Some((s, dir) => ann3Seed(s, annServeNs, dir))),

    // ---- q179: FILTERED vector search — metadata predicate + ANN ----------
    // The production vector-search shape ("nearest English docs",
    // "nearest under this license"): top-k over the persisted IVF-PQ
    // index restricted to vectors whose METADATA satisfies a predicate
    // (label = 1 here). Post-filter strategy over the probed lists:
    //  - the metadata scan is COLUMN-PRUNED to (vec_id, label) with the
    //    predicate pushed to parquet — never reads the embeddings;
    //  - the filter applies as a LEFT-SEMI join on the probed postings
    //    (after identity partition pruning), so the ADC aggregation only
    //    ever sees surviving candidates — list pruning and filtering
    //    compose instead of fighting;
    //  - everything else is exactly q142's serve ([[annIndexServe]] is
    //    the ONE routine) — ranks shift because excluded vectors free
    //    slots, which the oracle replays with the same predicate.
    // At tight selectivities the production lever is probe width (read
    // more lists), orthogonal to this shape. At 100 TB: O(probed lists)
    // postings + one pruned metadata scan, never the corpus.
    QueryDef(
      "q179_ann_filtered",
      (s, dir) => {
        val filt = s.read.parquet(s"$dir/embeddings.parquet")
          .where(col("label") === 1)
          .select(col("vec_id").as("vid"))
        annIndexServe(s, dir, annServeNs, filterVids = Some(filt))
      },
      // q142's replay with the label predicate applied to the CANDIDATE
      // side only (queries are external probes, never filtered)
      Some {
        s"""WITH norms AS (SELECT vec_id,
                   list_sum(list_transform(embedding,
                     x -> round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e9))) AS n2
                 FROM embeddings),
        e AS (SELECT vec_id, embedding FROM embeddings),
        ascore AS (
          SELECT a.vec_id AS qid, c.vec_id AS vid,
            list_sum(list_transform(range(1, len(a.embedding) + 1),
              i -> round(CAST(a.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) * 1e9)))
              / sqrt(nq.n2 * nv.n2) AS cos
          FROM e a JOIN e c ON c.vec_id < 16
          JOIN norms nq ON nq.vec_id = a.vec_id JOIN norms nv ON nv.vec_id = c.vec_id),
        ranked AS (
          SELECT qid, vid, cos,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
          FROM ascore),
        assign AS (SELECT qid AS member, vid AS cid FROM ranked WHERE rn = 1),
        probe AS (SELECT qid, vid AS cid FROM ranked WHERE rn <= 2 AND qid < 3),
        cand AS (
          SELECT DISTINCT p.qid, a.member AS vid
          FROM probe p JOIN assign a ON a.cid = p.cid
          JOIN embeddings fm ON fm.vec_id = a.member AND fm.label = 1
          WHERE a.member <> p.qid),
        subs AS (SELECT vec_id, j FROM e, range(0, 8) r(j)),
        dists AS (
          SELECT s.vec_id, s.j, c.vec_id AS cw,
            list_sum(list_transform(range(0, 8),
              i -> round((CAST(a.embedding[s.j * 8 + i + 1] AS DOUBLE)
                          - CAST(c.embedding[s.j * 8 + i + 1] AS DOUBLE))
                         * (CAST(a.embedding[s.j * 8 + i + 1] AS DOUBLE)
                            - CAST(c.embedding[s.j * 8 + i + 1] AS DOUBLE)) * 1e9))) AS dist
          FROM subs s JOIN e a ON a.vec_id = s.vec_id JOIN e c ON c.vec_id < 16),
        codes AS (
          SELECT vec_id AS vid, j, cw AS code FROM (
            SELECT vec_id, j, cw,
              ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dist, cw) AS rn
            FROM dists) WHERE rn = 1),
        lut AS (SELECT vec_id AS qid, j, cw AS code, dist AS d
                FROM dists WHERE vec_id < 3),
        adc AS (
          SELECT cand.qid, cand.vid, SUM(l.d) AS adist
          FROM cand JOIN codes c ON c.vid = cand.vid
          JOIN lut l ON l.qid = cand.qid AND l.j = c.j AND l.code = c.code
          GROUP BY cand.qid, cand.vid)
        SELECT qid, rank, vid, adist FROM (
          SELECT qid, vid, adist,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS rank
          FROM adc)
        WHERE rank <= 3 ORDER BY qid, rank"""
      },
      // the same q142 build-once fixture — filtered serve reuses the index
      setup = Some((s, dir) => ann3Seed(s, annServeNs, dir))),

    // ---- q143: incremental dedup — delta-only against persisted state ----
    // At 100 TB nobody re-deduplicates the corpus per ingest batch: the
    // fingerprints seen so far live in a STATE table, and each new batch
    // (a) is read via the verified incremental snapshot scan — ONLY the
    // files the new commit added, never the base corpus; (b) classifies
    // its docs against the state (left join; within-batch first-occurrence
    // via one window); (c) MERGEs its novel fingerprints back into the
    // state. Work per batch is O(batch + state-join), independent of
    // corpus size. Gate: seed with the doc_id % 5 != 0 slice, ingest the
    // % 5 = 0 slice as the delta; the report (and the post-MERGE state
    // row count read back from the table) must equal the oracle's
    // from-scratch replay.
    QueryDef(
      "q143_incremental_dedup",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.dd_base")
        s.sql(s"DROP TABLE IF EXISTS $ns.dd_state")
        s.sql(s"""CREATE TABLE $ns.dd_base AS
                 |SELECT doc_id, lang, text FROM parquet.`$dir/documents.parquet`
                 |WHERE doc_id % 5 <> 0""".stripMargin)
        // NULL text maps to the shared sentinel fp (DedupIngest.NullTextFp):
        // a NULL fp would never match itself in the join/MERGE below
        val sentinel = graft.streaming.DedupIngest.NullTextFp
        s.sql(s"""CREATE TABLE $ns.dd_state AS
                 |SELECT coalesce(md5(cast(text AS binary)), '$sentinel') AS fp,
                 |       CAST(MIN(doc_id) AS BIGINT) AS keeper
                 |FROM $ns.dd_base GROUP BY 1""".stripMargin)
        val wh = s.conf.get("spark.sql.catalog.gcat.warehouse")
        val conf = new org.apache.hadoop.conf.Configuration()
        val dataDir = new org.apache.hadoop.fs.Path(s"$wh/corpus/dd_base/data")
        val fs = dataDir.getFileSystem(conf)
        val v1 = graft.sources.Snapshots.list(fs, dataDir).last._1
        val stateDir = new org.apache.hadoop.fs.Path(s"$wh/corpus/dd_state/data")
        val vState = graft.sources.Snapshots.list(fs, stateDir).last._1
        s.sql(s"""INSERT INTO $ns.dd_base
                 |SELECT doc_id, lang, text FROM parquet.`$dir/documents.parquet`
                 |WHERE doc_id % 5 = 0""".stripMargin)
        // delta-only read: just the files the second commit added
        val delta = s.read.option("since-version", v1).table(s"$ns.dd_base")
          .withColumn("fp", graft.streaming.DedupIngest.fingerprint(col("text")))
        // classification must see the PRE-batch state: Spark plans lazily,
        // so an unpinned read would observe the MERGE below (every delta
        // fp "seen"). Snapshot pinning gives the transactional read the
        // batch semantics require — and is exactly what a concurrent
        // ingest pipeline does at scale.
        val st = s.read.option("snapshot-version", vState).table(s"$ns.dd_state")
        val wFp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
        val marked = delta
          .join(st.select(col("fp"), lit(1).as("seen")), Seq("fp"), "left")
          .withColumn("rn", row_number().over(wFp))
          .withColumn("is_new", col("seen").isNull && col("rn") === 1)
        marked.filter(col("is_new"))
          .select(col("fp"), col("doc_id").as("keeper"))
          .createOrReplaceTempView("graft_dd_new")
        s.sql(s"""MERGE INTO $ns.dd_state t USING graft_dd_new s ON t.fp = s.fp
                 |WHEN NOT MATCHED THEN INSERT (fp, keeper) VALUES (s.fp, s.keeper)""".stripMargin)
        // state_total comes from the table AFTER the merge — proves the
        // state actually advanced, not just the in-memory classification
        val stateTotal = s.table(s"$ns.dd_state")
          .agg(count(lit(1)).cast("long").as("state_total"))
        marked.groupBy(col("lang"))
          .agg(count(lit(1)).cast("long").as("delta_docs"),
            sum(when(col("is_new"), 1L).otherwise(0L)).cast("long").as("new_unique"),
            sum(when(!col("is_new"), 1L).otherwise(0L)).cast("long").as("dup_docs"))
          .crossJoin(stateTotal)
          .orderBy(col("lang"))
      },
      Some(s"""WITH base AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
        delta AS (SELECT *, coalesce(md5(text), '${graft.streaming.DedupIngest.NullTextFp}') AS dfp
                  FROM documents WHERE doc_id % 5 = 0),
        state AS (SELECT DISTINCT coalesce(md5(text), '${graft.streaming.DedupIngest.NullTextFp}') AS fp FROM base),
        m AS (
          SELECT d.lang, d.doc_id,
            (s.fp IS NOT NULL) AS seen,
            ROW_NUMBER() OVER (PARTITION BY d.dfp ORDER BY d.doc_id) AS rn
          FROM delta d LEFT JOIN state s ON s.fp = d.dfp)
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS delta_docs,
          CAST(SUM(CASE WHEN NOT seen AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS new_unique,
          CAST(SUM(CASE WHEN seen OR rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
          (SELECT CAST(COUNT(DISTINCT coalesce(md5(text), '${graft.streaming.DedupIngest.NullTextFp}')) AS BIGINT)
           FROM documents) AS state_total
        FROM m GROUP BY lang ORDER BY lang""")),

    // ---- q145: FILTERED aggregate pushdown (partition-predicate absorb) --
    // "COUNT yesterday's partition" — THE operational query at 100 TB. A
    // WHERE over identity partition columns is exactly enforced by
    // directory pruning, so the scan absorbs it (no residual), Spark
    // offers the aggregate, and COUNT/SUM/MIN/MAX fold from the registry
    // entries of just the matching partitions: zero data I/O however big
    // the table. PlanSpec asserts the plan shape; this gate checks values.
    QueryDef(
      "q145_filtered_agg",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.fagg")
        s.sql(s"""CREATE TABLE $ns.fagg (doc_id BIGINT, n_chars BIGINT, lang STRING)
                 |PARTITIONED BY (lang)""".stripMargin)
        s.sql(s"""INSERT INTO $ns.fagg
                 |SELECT doc_id, n_chars, lang
                 |FROM parquet.`$dir/documents.parquet`""".stripMargin)
        s.sql(s"""SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 |       CAST(SUM(n_chars) AS BIGINT) AS chars,
                 |       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
                 |       CAST(MAX(doc_id) AS BIGINT) AS last_doc
                 |FROM $ns.fagg WHERE lang IN ('en', 'de')""".stripMargin)
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(n_chars) AS BIGINT) AS chars,
        CAST(MIN(doc_id) AS BIGINT) AS first_doc,
        CAST(MAX(doc_id) AS BIGINT) AS last_doc
        FROM documents WHERE lang IN ('en', 'de')""")),

    // ---- q144: per-commit ingest audit via the _version metadata column --
    // "Which ingest commit wrote these rows, and what did each deliver?"
    // answered in plain SQL: rows carry the snapshot version whose commit
    // added their file (`_version`, like `_file` — per-file constants, zero
    // storage). Two known commits (en, then the rest) make the rollup
    // deterministic. At 100 TB this is the per-batch ingest report without
    // any bookkeeping table — the audit falls out of the scan.
    QueryDef(
      "q144_commit_audit",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.audit")
        s.sql(s"""CREATE TABLE $ns.audit AS
                 |SELECT doc_id, lang, n_chars FROM parquet.`$dir/documents.parquet`
                 |WHERE lang = 'en'""".stripMargin)
        s.sql(s"""INSERT INTO $ns.audit
                 |SELECT doc_id, lang, n_chars FROM parquet.`$dir/documents.parquet`
                 |WHERE lang <> 'en'""".stripMargin)
        s.sql(s"""SELECT _version AS commit_version,
                 |       CAST(COUNT(*) AS BIGINT) AS n,
                 |       CAST(SUM(n_chars) AS BIGINT) AS chars,
                 |       CAST(SUM(doc_id) AS BIGINT) AS id_sum
                 |FROM $ns.audit GROUP BY _version ORDER BY _version""".stripMargin)
      },
      Some("""SELECT CAST(CASE WHEN lang = 'en' THEN 1 ELSE 2 END AS BIGINT) AS commit_version,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(n_chars) AS BIGINT) AS chars,
        CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM documents GROUP BY 1 ORDER BY commit_version""")),

    // ---- q146: PARTIAL aggregate pushdown (non-partition GROUP BY) -------
    // GROUP BY a DATA column (not a partition): complete pushdown is
    // impossible in general, but on an ingest layout where every file is
    // single-valued in the group column (here: one group per commit, the
    // clustered/partition-less sharding shape), the scan returns one
    // per-file partial row from the registry and Spark finishes the
    // grouping — file-count-many rows shuffle, zero data I/O. PlanSpec
    // asserts the plan shape + footer counters; this gate checks values.
    QueryDef(
      "q146_partial_agg",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.pagg")
        s.sql(s"CREATE TABLE $ns.pagg (grp BIGINT, doc_id BIGINT, n_chars BIGINT)")
        for (g <- 0 to 3)
          s.sql(s"""INSERT INTO $ns.pagg
                   |SELECT doc_id % 4, doc_id, n_chars
                   |FROM parquet.`$dir/documents.parquet` WHERE doc_id % 4 = $g""".stripMargin)
        s.sql(s"""SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
                 |  CAST(SUM(n_chars) AS BIGINT) AS chars,
                 |  CAST(COUNT(n_chars) AS BIGINT) AS n_nonnull,
                 |  CAST(MIN(doc_id) AS BIGINT) AS first_doc,
                 |  CAST(MAX(doc_id) AS BIGINT) AS last_doc
                 |FROM $ns.pagg GROUP BY grp ORDER BY grp""".stripMargin)
      },
      Some("""SELECT CAST(doc_id % 4 AS BIGINT) AS grp, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(n_chars) AS BIGINT) AS chars,
        CAST(COUNT(n_chars) AS BIGINT) AS n_nonnull,
        CAST(MIN(doc_id) AS BIGINT) AS first_doc,
        CAST(MAX(doc_id) AS BIGINT) AS last_doc
        FROM documents GROUP BY 1 ORDER BY grp""")),

    // ---- q154: incremental ANN index maintenance (frozen quantizer) -----
    // q142 builds the index once; production keeps it CURRENT without a
    // rebuild: new vectors arrive in the ingest table, and maintenance
    //  (a) reads ONLY the new commit's rows via the verified incremental
    //      snapshot scan (never the base corpus),
    //  (b) encodes them against the FROZEN quantizer read back from the
    //      index's own catalog tables (KB-sized broadcasts — the
    //      centroids/codebooks never retrain per batch), and
    //  (c) appends their postings into the partitioned postings table.
    // Because the quantizer is frozen, build-then-extend is provably
    // IDENTICAL to building over the full corpus — which is exactly what
    // the oracle replays from scratch. Work per batch is O(batch × k),
    // independent of corpus size; the serve path afterwards is q142's
    // (broadcast index tables + IN-list-pruned postings partitions). The
    // n_postings column proves the index table itself advanced.
    QueryDef(
      "q154_ann_index_upsert",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        val t = Tables(s, dir)
        val eAll = emb(t)

        // high-water mark: the last source version the index covers, read
        // from the index's own meta table (what a production incremental
        // index persists between maintenance runs — seeded in `setup`)
        val v1 = s.table(s"$ns.ann2_meta")
          .agg(max(col("indexed_version"))).first().getLong(0)

        // delta ingest + incremental maintenance: ONLY commits past the
        // watermark, against the quantizer READ BACK from the index tables
        annFlat(eAll.filter(col("vec_id") % 4 === 0)).writeTo(s"$ns.ann_src").append()
        val delta = annRegroup(s.read.option("since-version", v1).table(s"$ns.ann_src"))
        val centT = regroupCent(s.table(s"$ns.ann2_cent"))
        val bookT = regroupBook(s.table(s"$ns.ann2_book"))
        annEncode(delta, centT, bookT).writeTo(s"$ns.ann2_post").append()
        // advance the watermark (append-only log; readers take the max)
        s.sql(s"INSERT INTO $ns.ann2_meta VALUES (${annSrcVersion(s)})")

        // serve q142-style over the maintained index; n_postings proves
        // the postings table itself advanced to full-corpus size
        annServe(eAll, centT, bookT,
          probed => s.table(s"$ns.ann2_post").where(col("list_id").isin(probed: _*)),
          proof = Some(s.table(s"$ns.ann2_post")
            .agg(count(lit(1)).cast("long").as("n_postings"))))
      },
      // frozen quantizer ⇒ build-then-extend ≡ build-over-all: the oracle
      // computes the SAME index from scratch over the full corpus, with
      // centroids/codewords = the seed's first 16 vectors
      Some {
        def fold(a: String, b: String): String =
          s"""list_sum(list_transform(range(1, len($a.embedding) + 1),
             |  i -> round(CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE) * 1e9)))""".stripMargin
        s"""WITH norms AS (SELECT vec_id,
                   list_sum(list_transform(embedding,
                     x -> round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e9))) AS n2
                 FROM embeddings),
        e AS (SELECT vec_id, embedding FROM embeddings),
        ascore AS (
          SELECT a.vec_id AS qid, c.vec_id AS vid,
            ${fold("a", "c")} / sqrt(nq.n2 * nv.n2) AS cos
          FROM e a JOIN e c ON c.vec_id < 22 AND c.vec_id % 4 <> 0
          JOIN norms nq ON nq.vec_id = a.vec_id JOIN norms nv ON nv.vec_id = c.vec_id),
        ranked AS (
          SELECT qid, vid, cos,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
          FROM ascore),
        assign AS (SELECT qid AS member, vid AS cid FROM ranked WHERE rn = 1),
        probe AS (SELECT qid, vid AS cid FROM ranked WHERE rn <= 2 AND qid < 3),
        cand AS (
          SELECT DISTINCT p.qid, a.member AS vid
          FROM probe p JOIN assign a ON a.cid = p.cid WHERE a.member <> p.qid),
        subs AS (SELECT vec_id, j FROM e, range(0, 8) r(j)),
        dists AS (
          SELECT s.vec_id, s.j, c.vec_id AS cw,
            list_sum(list_transform(range(0, 8),
              i -> round((CAST(a.embedding[s.j * 8 + i + 1] AS DOUBLE)
                          - CAST(c.embedding[s.j * 8 + i + 1] AS DOUBLE))
                         * (CAST(a.embedding[s.j * 8 + i + 1] AS DOUBLE)
                            - CAST(c.embedding[s.j * 8 + i + 1] AS DOUBLE)) * 1e9))) AS dist
          FROM subs s JOIN e a ON a.vec_id = s.vec_id
          JOIN e c ON c.vec_id < 22 AND c.vec_id % 4 <> 0),
        codes AS (
          SELECT vec_id AS vid, j, cw AS code FROM (
            SELECT vec_id, j, cw,
              ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dist, cw) AS rn
            FROM dists) WHERE rn = 1),
        lut AS (SELECT vec_id AS qid, j, cw AS code, dist AS d
                FROM dists WHERE vec_id < 3),
        adc AS (
          SELECT cand.qid, cand.vid, SUM(l.d) AS adist
          FROM cand JOIN codes c ON c.vid = cand.vid
          JOIN lut l ON l.qid = cand.qid AND l.j = c.j AND l.code = c.code
          GROUP BY cand.qid, cand.vid)
        SELECT qid, rank, vid, adist,
          (SELECT CAST(8 * COUNT(*) AS BIGINT) FROM embeddings) AS n_postings
        FROM (
          SELECT qid, vid, adist,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS rank
          FROM adc)
        WHERE rank <= 3 ORDER BY qid, rank"""
      },
      // fixture: seed corpus + initial index build + watermark — so the
      // measured query above is exactly ONE maintenance batch (delta
      // ingest, frozen-quantizer encode, watermark advance) plus the serve
      setup = Some((s, dir) => {
        val ns = ensureCatalog(s, dir)
        val t = Tables(s, dir)
        val eAll = emb(t)
        for (tb <- Seq("ann_src", "ann2_cent", "ann2_book", "ann2_post", "ann2_meta"))
          s.sql(s"DROP TABLE IF EXISTS $ns.$tb")
        s.sql(s"CREATE TABLE $ns.ann_src (vec_id BIGINT, pos INT, v DOUBLE)")
        s.sql(s"CREATE TABLE $ns.ann2_cent (cid BIGINT, pos INT, v DOUBLE)")
        s.sql(s"CREATE TABLE $ns.ann2_book (j INT, code BIGINT, pos INT, v DOUBLE)")
        s.sql(
          s"""CREATE TABLE $ns.ann2_post (vid BIGINT, j INT, code BIGINT, list_id BIGINT)
             |PARTITIONED BY (list_id)""".stripMargin)
        s.sql(s"CREATE TABLE $ns.ann2_meta (indexed_version BIGINT)")

        // seed corpus (vec_id % 4 != 0)
        annFlat(eAll.filter(col("vec_id") % 4 =!= 0)).writeTo(s"$ns.ann_src").append()
        val v1 = annSrcVersion(s)

        // initial build: quantizer = the seed's first 16 vectors (ids
        // < 22 with %4 != 0 is exactly 16 of them — deterministic).
        // Persisted: three eager build actions below would otherwise
        // re-scan + re-shuffle the regroup each time.
        val seed = annRegroup(s.table(s"$ns.ann_src")).persist()
        // quantizer = 16 rows: collect once, re-plan as LocalRelations
        // (the cent/book writes and the encode's model collect otherwise
        // each re-scan the cached regroup)
        import s.implicits._
        val rows16 = seed.filter(col("vec_id") < 22)
          .select(col("vec_id"), col("e")).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
          .sortBy(_._1)
        val cent0 = rows16.toDF("cid", "ce")
        val book0 = rows16.flatMap { case (id, ev) =>
          (0 to 7).map(j => (id, j, ev.slice(j * 8, j * 8 + 8)))
        }.toDF("code", "j", "cv")
        cent0.select(col("cid"), posexplode(col("ce")).as(Seq("pos", "v")))
          .writeTo(s"$ns.ann2_cent").append()
        book0.select(col("j"), col("code"), posexplode(col("cv")).as(Seq("pos", "v")))
          .writeTo(s"$ns.ann2_book").append()
        annEncode(seed, cent0, book0).writeTo(s"$ns.ann2_post").append()
        seed.unpersist(blocking = false)
        // the index records how far into the source it has indexed
        s.sql(s"INSERT INTO $ns.ann2_meta VALUES ($v1)")
        ()
      })),

    // ---- q155: incremental MV refresh across row MUTATIONS (cdc) ---------
    // REFRESH MATERIALIZED VIEW over a range holding a copy-on-write
    // DELETE plus appends must repair the MV INCREMENTALLY from the
    // commit-recorded change feed (MaterializedViews.tryCdcIncremental):
    // groups that lost rows are recomputed from the base pruned to
    // exactly those group keys, insert-only groups fold in O(delta), and
    // the refresh never re-aggregates the corpus. The oracle pins BOTH
    // the values (the post-mutation aggregate replayed relationally) and
    // the ROUTE — the first output column is the refresh's reported mode,
    // compared against the literal 'incremental-cdc', so a silent
    // degrade to full recompute fails the gate even though full would
    // produce the same numbers. At 100 TB: a GDPR-delete touching a
    // handful of groups repairs those groups instead of a corpus re-agg.
    QueryDef(
      "q155_mv_incremental_cdc",
      (s, dir) => {
        val ns = Engine.ensureCatalog(s, dir)
        s.sql(s"DELETE FROM $ns.mvcdc WHERE doc_id % 7 = 3")
        s.sql(
          s"""INSERT INTO $ns.mvcdc
             |SELECT CAST(doc_id AS STRING), doc_id, lang, source, n_chars
             |FROM parquet.`$dir/documents.parquet`
             |WHERE doc_id % 2 = 1 AND doc_id % 5 = 0""".stripMargin)
        val mode = s.sql(s"REFRESH MATERIALIZED VIEW $ns.mvcdc_mv")
          .collect().head.getString(1)
        s.table(s"$ns.mvcdc_mv")
          .select(lit(mode).as("mode"), col("lang"), col("source"),
            col("cnt").cast("long").as("cnt"), col("sc").cast("long").as("sc"),
            col("mn").cast("long").as("mn"), col("mx").cast("long").as("mx"))
          .orderBy("lang", "source")
      },
      Some("""WITH after_m AS (
          SELECT lang, source, n_chars FROM documents
          WHERE doc_id % 2 = 0 AND doc_id % 7 <> 3
          UNION ALL
          SELECT lang, source, n_chars FROM documents
          WHERE doc_id % 2 = 1 AND doc_id % 5 = 0)
        SELECT 'incremental-cdc' AS mode, lang, source,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(n_chars) AS BIGINT) AS sc,
               CAST(min(n_chars) AS BIGINT) AS mn,
               CAST(max(n_chars) AS BIGINT) AS mx
        FROM after_m GROUP BY lang, source ORDER BY lang, source"""),
      // fixture: keyed even-docs base + the MV build; the measured run
      // keeps the DELETE + INSERT + REFRESH — the repair itself is the
      // operator under test. Value-exact only on a fresh fixture (Verify
      // composes setup;run); the bench's second run re-times the same
      // repair plans against the mutated base.
      setup = Some((s, dir) => {
        val ns = Engine.ensureCatalog(s, dir)
        s.sql(s"DROP MATERIALIZED VIEW IF EXISTS $ns.mvcdc_mv")
        s.sql(s"DROP TABLE IF EXISTS $ns.mvcdc")
        s.sql(
          s"""CREATE TABLE $ns.mvcdc AS
             |SELECT CAST(doc_id AS STRING) AS row_key, doc_id, lang, source,
             |       n_chars
             |FROM parquet.`$dir/documents.parquet` WHERE doc_id % 2 = 0"""
            .stripMargin)
        s.sql(
          s"""CREATE MATERIALIZED VIEW $ns.mvcdc_mv AS
             |SELECT lang, source, count(*) AS cnt, sum(n_chars) AS sc,
             |       min(n_chars) AS mn, max(n_chars) AS mx
             |FROM $ns.mvcdc GROUP BY lang, source""".stripMargin)
        ()
      })),

    // ---- q156: incremental MV refresh across MERGE-ON-READ deletes -------
    // Same gate shape as q155, but the base table mutates in
    // merge-on-read mode: DELETE/UPDATE commit only equality KEYS plus
    // replacement rows — no preimage values are ever written. The
    // refresh still reports 'incremental-cdc' because the HYDRATED
    // change feed (Snapshots.changes hydrateMor) recovers each deleted
    // row's full preimage from ONE key-pruned read of the prior
    // snapshot (≤4096 keys push an IN filter into the scan — registry
    // ranges and blooms prune it to the files holding those keys), and
    // the MV repairs exactly the touched groups. At 100 TB this is the
    // GDPR path for MOR tables: the delete itself is O(keys) metadata,
    // and the nightly MV repair O(affected groups) — the corpus is
    // never re-aggregated. The oracle replays delete+update+append
    // relationally AND pins the route (mode column vs the literal).
    QueryDef(
      "q156_mv_incremental_mor",
      (s, dir) => {
        val ns = Engine.ensureCatalog(s, dir)
        s.sql(s"DELETE FROM $ns.mvmor WHERE doc_id % 7 = 2")
        s.sql(s"UPDATE $ns.mvmor SET n_chars = n_chars + 11 WHERE doc_id % 7 = 5")
        s.sql(
          s"""INSERT INTO $ns.mvmor
             |SELECT CAST(doc_id AS STRING), doc_id, lang, source, n_chars
             |FROM parquet.`$dir/documents.parquet`
             |WHERE doc_id % 2 = 1 AND doc_id % 3 = 0""".stripMargin)
        val mode = s.sql(s"REFRESH MATERIALIZED VIEW $ns.mvmor_mv")
          .collect().head.getString(1)
        s.table(s"$ns.mvmor_mv")
          .select(lit(mode).as("mode"), col("lang"), col("source"),
            col("cnt").cast("long").as("cnt"), col("sc").cast("long").as("sc"),
            col("mn").cast("long").as("mn"), col("mx").cast("long").as("mx"))
          .orderBy("lang", "source")
      },
      Some("""WITH after_m AS (
          SELECT lang, source,
                 CASE WHEN doc_id % 7 = 5 THEN n_chars + 11 ELSE n_chars END
                   AS n_chars
          FROM documents WHERE doc_id % 2 = 0 AND doc_id % 7 <> 2
          UNION ALL
          SELECT lang, source, n_chars FROM documents
          WHERE doc_id % 2 = 1 AND doc_id % 3 = 0)
        SELECT 'incremental-cdc' AS mode, lang, source,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(n_chars) AS BIGINT) AS sc,
               CAST(min(n_chars) AS BIGINT) AS mn,
               CAST(max(n_chars) AS BIGINT) AS mx
        FROM after_m GROUP BY lang, source ORDER BY lang, source"""),
      setup = Some((s, dir) => {
        val ns = Engine.ensureCatalog(s, dir)
        s.sql(s"DROP MATERIALIZED VIEW IF EXISTS $ns.mvmor_mv")
        s.sql(s"DROP TABLE IF EXISTS $ns.mvmor")
        s.sql(
          s"""CREATE TABLE $ns.mvmor
             |TBLPROPERTIES ('${graft.sources.GraftDeletes.ModeProp}' =
             |  'merge-on-read')
             |AS SELECT CAST(doc_id AS STRING) AS row_key, doc_id, lang,
             |          source, n_chars
             |FROM parquet.`$dir/documents.parquet` WHERE doc_id % 2 = 0"""
            .stripMargin)
        s.sql(
          s"""CREATE MATERIALIZED VIEW $ns.mvmor_mv AS
             |SELECT lang, source, count(*) AS cnt, sum(n_chars) AS sc,
             |       min(n_chars) AS mn, max(n_chars) AS mx
             |FROM $ns.mvmor GROUP BY lang, source""".stripMargin)
        ()
      })),

    // ---- q157: COUNT(col) + AVG served from the materialized view --------
    // An MV storing count(x) (the NON-NULL count) alongside sum(x) lets
    // the rewrite serve AVG(x) = SUM(s_x)/SUM(c_x): both stored columns
    // are integral, so the partial folds are exact and the one final
    // double division is the only floating-point step — numerically
    // identical to DuckDB's exact-sum avg, and deterministic under any
    // partial-aggregation order (the base plan's double running sum is
    // not). count(x) itself rewrites as SUM(c_x) with NULL-ignoring
    // semantics preserved (the all-NULL group reads 0). The measured
    // query aggregates a corpus-shaped base by lang but scans ONLY the
    // MV (plan pinned in MvRewriteSpec); at 100 TB a quality dashboard's
    // avg-length-by-language panel reads a table the size of the
    // language list.
    QueryDef(
      "q157_mv_avg_rewrite",
      (s, dir) => {
        val ns = Engine.ensureCatalog(s, dir)
        s.sql(
          s"""SELECT lang, count(*) AS cnt, count(nc) AS c_nc,
             |       avg(nc) AS a_nc
             |FROM $ns.mvavg GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""WITH b AS (
          SELECT lang,
                 CASE WHEN doc_id % 11 = 0 THEN NULL ELSE n_chars END AS nc
          FROM documents)
        SELECT lang, CAST(count(*) AS BIGINT) AS cnt,
               CAST(count(nc) AS BIGINT) AS c_nc, avg(nc) AS a_nc
        FROM b GROUP BY lang ORDER BY lang"""),
      setup = Some((s, dir) => {
        val ns = Engine.ensureCatalog(s, dir)
        s.sql(s"DROP MATERIALIZED VIEW IF EXISTS $ns.mvavg_mv")
        s.sql(s"DROP TABLE IF EXISTS $ns.mvavg")
        s.sql(
          s"""CREATE TABLE $ns.mvavg AS
             |SELECT lang,
             |       CASE WHEN doc_id % 11 = 0 THEN CAST(NULL AS BIGINT)
             |            ELSE n_chars END AS nc
             |FROM parquet.`$dir/documents.parquet`""".stripMargin)
        s.sql(
          s"""CREATE MATERIALIZED VIEW $ns.mvavg_mv AS
             |SELECT lang, count(*) AS cnt, count(nc) AS c_nc, sum(nc) AS s_nc
             |FROM $ns.mvavg GROUP BY lang""".stripMargin)
        ()
      })),

    // ---- q158: STREAMING materialized-view maintenance -------------------
    // MvMaintain tails the base table's streaming change feed
    // (checkpointed commit offsets, restart resume) and runs the
    // incremental REFRESH router after each delivered micro-batch — the
    // MV tracks the base continuously with per-batch O(delta) cost
    // instead of a scheduled full recompute. The measured run lands a
    // COW DELETE + an append while NO maintainer is running, then
    // starts one with Trigger.AvailableNow: it must drain the backlog,
    // refresh the MV to the live head, and terminate. The mode column
    // pins the ROUTE CENSUS: every non-noop refresh the maintainer ran
    // must have routed incrementally (fold or cdc group-repair) — a
    // single silent degrade to full recompute fails the gate even
    // though the values would match. At 100 TB this is the serving
    // pattern for freshness-critical aggregates: the stream moves only
    // commit metadata, each refresh repairs only the range's delta, and
    // a crashed refresh self-heals on the next batch (the range derives
    // from the MV's recorded version, not stream offsets).
    QueryDef(
      "q158_mv_streaming_maintain",
      (s, dir) => {
        val ns = Engine.ensureCatalog(s, dir)
        s.sql(s"DELETE FROM $ns.mvstr WHERE doc_id % 11 = 4")
        s.sql(
          s"""INSERT INTO $ns.mvstr
             |SELECT CAST(doc_id AS STRING), doc_id, lang, n_chars
             |FROM parquet.`$dir/documents.parquet`
             |WHERE doc_id % 2 = 1 AND doc_id % 7 = 0""".stripMargin)
        val modes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val ckpt = java.nio.file.Files.createTempDirectory("mvstr_ckpt").toString
        graft.streaming.MvMaintain.start(s, s"$ns.mvstr_mv", ckpt,
          onRefresh = (_, m) => { modes.add(m); () }).awaitTermination()
        import scala.jdk.CollectionConverters._
        // noop refreshes (already-drained ranges) are expected; any live
        // refresh must be incremental or incremental-cdc, never full
        val live = modes.asScala.toSeq.filter(_ != "noop")
        val census =
          if (live.nonEmpty && live.forall(_.startsWith("incremental")))
            "incremental"
          else "degraded:" + live.mkString("+")
        s.table(s"$ns.mvstr_mv")
          .select(lit(census).as("mode"), col("lang"),
            col("cnt").cast("long").as("cnt"), col("sc").cast("long").as("sc"))
          .orderBy("lang")
      },
      Some("""WITH after_m AS (
          SELECT lang, n_chars FROM documents
          WHERE doc_id % 3 = 0 AND doc_id % 11 <> 4
          UNION ALL
          SELECT lang, n_chars FROM documents
          WHERE doc_id % 2 = 1 AND doc_id % 7 = 0)
        SELECT 'incremental' AS mode, lang,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(n_chars) AS BIGINT) AS sc
        FROM after_m GROUP BY lang ORDER BY lang"""),
      // fixture: the keyed base + its MV; the measured run keeps the
      // mutations + the maintainer drain — continuous maintenance is the
      // operator under test. Value-exact only on a fresh fixture.
      setup = Some((s, dir) => {
        val ns = Engine.ensureCatalog(s, dir)
        s.sql(s"DROP MATERIALIZED VIEW IF EXISTS $ns.mvstr_mv")
        s.sql(s"DROP TABLE IF EXISTS $ns.mvstr")
        s.sql(
          s"""CREATE TABLE $ns.mvstr AS
             |SELECT CAST(doc_id AS STRING) AS row_key, doc_id, lang, n_chars
             |FROM parquet.`$dir/documents.parquet` WHERE doc_id % 3 = 0"""
            .stripMargin)
        s.sql(
          s"""CREATE MATERIALIZED VIEW $ns.mvstr_mv AS
             |SELECT lang, count(*) AS cnt, sum(n_chars) AS sc
             |FROM $ns.mvstr GROUP BY lang""".stripMargin)
        ()
      })),

    // ---- q159: multi-table ATOMIC transaction ----------------------------
    // A base table and its per-batch stats log must advance TOGETHER:
    // Transactions.run stages both appends as invisible WAP commits,
    // writes an intent, then a create-exclusive commit marker (the
    // decision point), then publishes each table with one registry swap
    // — after a crash anywhere, Transactions.recover converges to
    // all-visible or all-rolled-back (the interruption matrix is pinned
    // in TransactionsSpec). The measured run commits one transaction
    // and ABORTS a second mid-body: the summary side recomputed from
    // the base must equal the stats log exactly — a torn commit (base
    // without its summary, or the aborted batch leaking into either
    // table) breaks the row-for-row match. At 100 TB this is how an
    // ingest keeps derived tables (indexes, stats, replicas) consistent
    // with their source across failures without any cross-table lock:
    // staging moves only the batch's files, the decision is one marker
    // create, publish is one registry swap per table.
    QueryDef(
      "q159_multi_table_txn",
      (s, dir) => {
        val ns = Engine.ensureCatalog(s, dir)
        val coord = s.conf.get("spark.sql.catalog.gcat.warehouse")
        val docs = s.read.parquet(s"$dir/documents.parquet")
        def slice(m: Int) = docs.filter(col("doc_id") % 4 === m)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        // the committed transaction: batch + its summary, atomically
        graft.sources.Transactions.run(s, coord) { txn =>
          txn.write(s"$ns.txna", slice(1))
          txn.write(s"$ns.txnb", slice(1).groupBy(col("lang"))
            .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sc")))
        }
        // the aborted transaction: neither side may surface
        try graft.sources.Transactions.run(s, coord) { txn =>
          txn.write(s"$ns.txna", slice(2))
          throw new RuntimeException("audit rejected the batch")
        } catch { case _: RuntimeException => () }
        val base = s.table(s"$ns.txna").groupBy(col("lang"))
          .agg(count(lit(1)).cast("long").as("cnt"),
            sum(col("n_chars")).cast("long").as("sc"))
          .select(lit("base").as("side"), col("lang"), col("cnt"), col("sc"))
        val log = s.table(s"$ns.txnb").groupBy(col("lang"))
          .agg(sum(col("cnt")).cast("long").as("cnt"),
            sum(col("sc")).cast("long").as("sc"))
          .select(lit("summary").as("side"), col("lang"), col("cnt"), col("sc"))
        base.unionByName(log).orderBy("side", "lang")
      },
      Some("""WITH rows_v AS (
          SELECT lang, n_chars FROM documents WHERE doc_id % 4 IN (0, 1)),
        agg AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS cnt,
                 CAST(sum(n_chars) AS BIGINT) AS sc
          FROM rows_v GROUP BY lang)
        SELECT 'base' AS side, lang, cnt, sc FROM agg
        UNION ALL
        SELECT 'summary' AS side, lang, cnt, sc FROM agg
        ORDER BY side, lang"""),
      // fixture: the seed batch (%4=0) and ITS summary row, committed as
      // a transaction too — so the measured run's log-vs-base equality
      // spans two transactional appends. Value-exact on a fresh fixture.
      setup = Some((s, dir) => {
        val ns = Engine.ensureCatalog(s, dir)
        val coord = s.conf.get("spark.sql.catalog.gcat.warehouse")
        s.sql(s"DROP TABLE IF EXISTS $ns.txna")
        s.sql(s"DROP TABLE IF EXISTS $ns.txnb")
        s.sql(s"CREATE TABLE $ns.txna (doc_id BIGINT, lang STRING, n_chars BIGINT)")
        s.sql(s"CREATE TABLE $ns.txnb (lang STRING, cnt BIGINT, sc BIGINT)")
        val seed = s.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 4 === 0)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        graft.sources.Transactions.run(s, coord) { txn =>
          txn.write(s"$ns.txna", seed)
          txn.write(s"$ns.txnb", seed.groupBy(col("lang"))
            .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sc")))
        }
        ()
      })),

    // ---- q160: EXACTLY-ONCE streaming derived-table maintenance ----------
    // DerivedMaintain is the streaming production shape of q154's
    // incremental index: tail an append-only ingest table and, per
    // micro-batch, derive rows from the source delta (the verified
    // incremental scan past the recorded watermark, end PINNED at the
    // batch's live version) and commit them TOGETHER with the watermark
    // advance in one multi-table transaction (q159's protocol). That
    // bracket upgrades foreachBatch's at-least-once to exactly-once for
    // the derived tables: a replayed batch either sees the advanced
    // watermark (empty range, no-op) or finds the transaction rolled
    // back and re-derives — never half, never twice (crash matrix in
    // DerivedMaintainSpec). The measured run lands two ingest commits
    // with no maintainer running, then drains one: the derived table
    // aggregated by lang must match the source exactly — ANY double
    // derivation doubles a count and fails the oracle. At 100 TB this is
    // how per-document derived tables (postings, fingerprints, quality
    // scores) track an ingest stream with per-batch O(delta) cost and no
    // reconciliation job.
    QueryDef(
      "q160_exactly_once_derive",
      (s, dir) => {
        val ns = Engine.ensureCatalog(s, dir)
        s.sql(
          s"""INSERT INTO $ns.eod
             |SELECT doc_id, lang, n_chars
             |FROM parquet.`$dir/documents.parquet` WHERE doc_id % 5 = 1"""
            .stripMargin)
        s.sql(
          s"""INSERT INTO $ns.eod
             |SELECT doc_id, lang, n_chars
             |FROM parquet.`$dir/documents.parquet` WHERE doc_id % 5 = 2"""
            .stripMargin)
        val ckpt = java.nio.file.Files.createTempDirectory("eod_ckpt").toString
        graft.streaming.DerivedMaintain.start(
          s, s"$ns.eod", s"$ns.eod_meta", ckpt,
          delta => Seq(s"$ns.eod_d" -> delta.select(
            col("doc_id"), col("lang"), (col("n_chars") * 2).as("chars2"))))
          .awaitTermination()
        s.table(s"$ns.eod_d").groupBy(col("lang"))
          .agg(count(lit(1)).cast("long").as("cnt"),
            sum(col("chars2")).cast("long").as("sc"))
          .orderBy("lang")
      },
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(n_chars * 2) AS BIGINT) AS sc
        FROM documents WHERE doc_id % 5 IN (0, 1, 2)
        GROUP BY lang ORDER BY lang"""),
      // fixture: ingest + derived + watermark tables, seed batch already
      // derived by one maintainer drain — the measured run is exactly the
      // incremental path. Value-exact on a fresh fixture.
      setup = Some((s, dir) => {
        val ns = Engine.ensureCatalog(s, dir)
        for (tb <- Seq("eod", "eod_d", "eod_meta"))
          s.sql(s"DROP TABLE IF EXISTS $ns.$tb")
        s.sql(s"CREATE TABLE $ns.eod (doc_id BIGINT, lang STRING, n_chars BIGINT)")
        s.sql(s"CREATE TABLE $ns.eod_d (doc_id BIGINT, lang STRING, chars2 BIGINT)")
        s.sql(s"CREATE TABLE $ns.eod_meta (indexed_version BIGINT)")
        s.sql(
          s"""INSERT INTO $ns.eod
             |SELECT doc_id, lang, n_chars
             |FROM parquet.`$dir/documents.parquet` WHERE doc_id % 5 = 0"""
            .stripMargin)
        val ckpt = java.nio.file.Files.createTempDirectory("eod_seed").toString
        graft.streaming.DerivedMaintain.start(
          s, s"$ns.eod", s"$ns.eod_meta", ckpt,
          delta => Seq(s"$ns.eod_d" -> delta.select(
            col("doc_id"), col("lang"), (col("n_chars") * 2).as("chars2"))))
          .awaitTermination()
        ()
      })),

    // ---- q172: ANN index maintenance across row MUTATIONS (cdc) ----------
    // q154 keeps the ANN index current under APPENDS; production vector
    // stores also DELETE (takedowns) and UPDATE (re-embeddings). Exactly
    // q171's discipline, applied to dense retrieval: the fold reads the
    // commit-recorded change feed for (watermark, head] and
    //  - tombstones EVERY affected vec_id at rev = head (deleted vectors
    //    get no re-encode, so the tombstone is their removal),
    //  - re-encodes affected vectors WHOLE from the post-mutation source
    //    pinned at head (never from the feed's postimage rows — a
    //    value-level update may touch only some of a vector's 64 slots,
    //    and a partial regroup would encode garbage), against the FROZEN
    //    quantizer read back from the index tables, at the same rev —
    //    which the survival rule (posting lives iff rev >= tombstone
    //    rev) does not kill;
    //  - advances postings + tombstones + watermark in ONE transaction.
    // The affected-vector re-read is a row-key/bloom-prunable semi-join
    // — O(mutated vectors), never the corpus; the partitioned postings
    // are NEVER read or rewritten. Serve filters only the PROBED lists'
    // postings against ONE registry-sized tombstone aggregate (q175's
    // compaction pays the debt off; the serve degrades broadcast →
    // shuffle past the ceiling). The oracle replays
    // assignment/ADC from the post-mutation corpus with the ORIGINAL
    // frozen quantizer — served ranks must be as if rebuilt.
    QueryDef(
      "q172_ann_mutations",
      (s, dir) => {
        ann3MutateAndFold(s, "gcat.ann3")
        // serve q154-style over the MAINTAINED index: probed lists only,
        // survival-filtered against ONE registry-sized tombstone
        // aggregate (broadcast under the ceiling, plain join above it)
        annIndexServe(s, dir, "gcat.ann3", Seq("n_live"))
      },
      // frozen quantizer (ORIGINAL first-16 vectors) over the
      // POST-MUTATION corpus — maintained serve ≡ from-scratch rebuild
      Some(ann3RebuildOracle("")),
      // fixture: its OWN namespace, row-keyed flattened source (row-level
      // DELETE/UPDATE need the key), the WHOLE corpus indexed at rev v1
      // against the frozen first-16 quantizer
      setup = Some((s, dir) => ann3Seed(s, "gcat.ann3", dir))),

    // ---- q175: ANN index tombstone COMPACTION ------------------------------
    // q173's discipline applied to dense retrieval: q172's mutation folds
    // leave the partitioned postings untouched and pay with a tombstone
    // set that every serve must survival-join. annCompact rewrites the
    // SURVIVING postings (rev-filtered by exactly the serve's rule,
    // re-landed under the same list_id partitioning) and truncates the
    // tombstone table — two staged REPLACES in one transaction, postings
    // first so a mid-publish crash leaves a prefix that serves
    // identically. The measured run compacts, then serves the q154 probe
    // with n_tomb PINNED 0; the zero-tombstone serve plans NO survival
    // join (the n_live proof doubles as evidence the rewrite dropped
    // exactly the dead rows: 8 codes × live vectors). The oracle replays
    // assignment/ADC from the post-mutation corpus with the frozen
    // quantizer — compacted serve ≡ maintained serve ≡ rebuild. A re-run
    // finds no tombstones and compacts nothing.
    QueryDef(
      "q175_ann_index_compaction",
      (s, dir) => {
        annCompact(s, "gcat.ann4")
        // ONE pinned cut for the whole serve (quantizer, postings,
        // tombstones — none after compaction)
        annIndexServe(s, dir, "gcat.ann4", Seq("n_live", "n_tomb"))
      },
      Some(ann3RebuildOracle(",\n          CAST(0 AS BIGINT) AS n_tomb")),
      // fixture: own namespace, seeded + mutation-folded through the
      // SHARED q172 routines — the measured run starts with real debt
      setup = Some((s, dir) => {
        ann3Seed(s, "gcat.ann4", dir)
        ann3MutateAndFold(s, "gcat.ann4")
      })),

    // ---- q185: ANN index RE-QUANTIZATION — retrain + atomic whole swap ----
    // Every maintenance fold deliberately FREEZES the quantizer (q154:
    // retraining per batch would re-encode the corpus per batch). The
    // price is drift: after enough churn the frozen centroids/codebooks
    // describe a corpus that no longer exists, and recall decays. This
    // is the periodic payoff job — REBUILD INDEX:
    //  - retrain the quantizer on the CURRENT corpus (deterministic
    //    here: the 16 smallest live vec_ids — production would run
    //    ml.KMeans, the swap protocol is identical);
    //  - re-encode the whole head-pinned corpus against it;
    //  - swap cent + book + post, TRUNCATE the tombstones, and advance
    //    the watermark in ONE q159 transaction. Unlike compaction (where any
    //    publish prefix serves identically), a quantizer swap has no
    //    serve-consistent prefix — postings encoded against one
    //    quantizer are meaningless under another — which is exactly
    //    what the transaction's all-or-nothing publish + readAt's
    //    cross-table snapshot exist for: a live reader pins all-old or
    //    all-new, a crash rolls forward at recover.
    // The watermark advances to head in the SAME transaction — the
    // rebuild consumed every source commit up to it (leaving it behind
    // would double-index the outstanding interval on the next fold).
    // Cost is O(corpus) by definition — run it like any index rebuild,
    // at drift thresholds, not per batch. The oracle replays
    // assignment/ADC with the RETRAINED quantizer over the post-mutation
    // corpus; n_tomb and n_cent are pinned proof columns.
    QueryDef(
      "q185_ann_requantize",
      (s, dir) => {
        ann3Requantize(s, "gcat.ann5")
        // pinned cut INCLUDING the quantizer: the requantize swap
        // publishes cent/book/post/del in one transaction, so a serve
        // racing it must read all four at one boundary
        annIndexServe(s, dir, "gcat.ann5", Seq("n_live", "n_tomb", "n_cent"))
      },
      // the RETRAINED quantizer (16 smallest LIVE ids of the
      // post-mutation corpus) replayed from scratch
      Some(ann3RebuildOracle(
        ",\n          CAST(0 AS BIGINT) AS n_tomb, CAST(16 AS BIGINT) AS n_cent",
        centsSql =
          """SELECT vec_id, CASE WHEN vec_id % 7 = 5
                  THEN list_transform(embedding, x -> abs(x))
                  ELSE embedding END AS embedding
             FROM embeddings WHERE vec_id % 7 <> 3
             ORDER BY vec_id LIMIT 16""")),
      // fixture: seeded + churned through the SHARED q172 routines — the
      // measured run starts from a drifted, debt-carrying index
      setup = Some((s, dir) => {
        ann3Seed(s, "gcat.ann5", dir)
        ann3MutateAndFold(s, "gcat.ann5")
      })),

    // ---- q189: REBUILD INDEX with the REAL Lloyd retrain ------------------
    // q185 exercises the swap protocol under the deterministic seed
    // quantizer; this gate flips spark.graft.ann.requantize.retrain and
    // runs the PRODUCTION path end to end: ml.KMeans Lloyd (k = 16,
    // 4 iterations, first-k init — no RNG) for the coarse centroids plus
    // 8 per-subspace codebook fits, all fed from ONE cached head-pinned
    // scan, then the identical four-table atomic swap and the shared
    // IVF-PQ serve. Every step is quantized-exact (quant_dot /
    // quant_dist2 / CentroidAggD's 1e9 integer buffers), so the oracle
    // UNROLLS the same four Lloyd iterations in SQL — coarse over the
    // 64-dim corpus, all 8 subspace fits at once grouped by j — and the
    // fitted centroids, codebooks, assignments, and ADC ranking
    // hash-match exactly (the q56/q109 replay discipline applied to the
    // whole rebuild). At 100 TB: per iteration one narrow argmax map
    // over the cached corpus + one k×d-bounded partial-merge aggregate;
    // the corpus is scanned once, models are the only collects.
    QueryDef(
      "q189_requantize_retrained",
      (s, dir) => {
        s.conf.set("spark.graft.ann.requantize.retrain", "true")
        try ann3Requantize(s, "gcat.ann6")
        finally s.conf.unset("spark.graft.ann.requantize.retrain")
        // q185's pinned serve, verbatim (the retrain changes the MODEL,
        // never the serve path)
        annIndexServe(s, dir, "gcat.ann6", Seq("n_live", "n_tomb", "n_cent"))
      },
      Some(retrainedRebuildOracle),
      setup = Some((s, dir) => {
        ann3Seed(s, "gcat.ann6", dir)
        ann3MutateAndFold(s, "gcat.ann6")
      }))
  )

  /** The q189 oracle: the WHOLE retrained rebuild replayed in SQL.
    * Training assignment uses KMeans.withCluster's similarity
    * (quant_dot / sqrt(centroid n2) — the vector's own norm is constant
    * per row and KMeans omits it); the final encode and the probe use
    * annServe's full cosine (both norms), exactly as the Scala path
    * does. Updates are CentroidAggD's quantized means:
    * (Σ round(xᵢ·1e9)) / n / 1e9. Four iterations unrolled for the
    * coarse fit; four for ALL EIGHT subspace fits at once (grouped by
    * j). Empty clusters drop out of a GROUP BY exactly as they drop out
    * of the Scala model. */
  private def retrainedRebuildOracle: String = {
    // one coarse Lloyd iteration (64-dim, cluster labels = seed ids)
    def csim(cent: String, out: String) =
      s"""$out AS (
         |  SELECT e.id, c.cluster,
         |    list_sum(list_transform(range(1, 65),
         |      i -> round(e.emb[i] * c.c[i] * 1e9))) /
         |    sqrt(list_sum(list_transform(c.c, x -> round(x * x * 1e9)))) AS sim
         |  FROM e CROSS JOIN $cent c)""".stripMargin
    def cassign(scores: String, out: String) =
      s"""$out AS (
         |  SELECT id, cluster FROM (
         |    SELECT id, cluster,
         |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY sim DESC, cluster) AS rn
         |    FROM $scores) WHERE rn = 1)""".stripMargin
    def cupdate(assignName: String, out: String) =
      s"""${out}_s AS (
         |  SELECT a.cluster, p.i, SUM(round(e.emb[p.i] * 1e9)) AS sm, COUNT(*) AS n
         |  FROM $assignName a JOIN e ON e.id = a.id CROSS JOIN pos64 p
         |  GROUP BY a.cluster, p.i),
         |$out AS (
         |  SELECT cluster, list((sm / n) / 1e9 ORDER BY i) AS c
         |  FROM ${out}_s GROUP BY cluster)""".stripMargin
    def citer(n: Int) =
      s"${csim(s"c${n - 1}", s"cs$n")}, ${cassign(s"cs$n", s"ca$n")}, " +
        s"${cupdate(s"ca$n", s"c$n")}"
    // one subspace Lloyd iteration: all 8 independent 8-dim fits at
    // once, keyed by j
    def ssim(cent: String, out: String) =
      s"""$out AS (
         |  SELECT s.id, s.j, c.cluster,
         |    list_sum(list_transform(range(1, 9),
         |      i -> round(s.sv[i] * c.c[i] * 1e9))) /
         |    sqrt(list_sum(list_transform(c.c, x -> round(x * x * 1e9)))) AS sim
         |  FROM se s JOIN $cent c ON c.j = s.j)""".stripMargin
    def sassign(scores: String, out: String) =
      s"""$out AS (
         |  SELECT id, j, cluster FROM (
         |    SELECT id, j, cluster,
         |      ROW_NUMBER() OVER (PARTITION BY id, j ORDER BY sim DESC, cluster) AS rn
         |    FROM $scores) WHERE rn = 1)""".stripMargin
    def supdate(assignName: String, out: String) =
      s"""${out}_s AS (
         |  SELECT a.j, a.cluster, p.i, SUM(round(s.sv[p.i] * 1e9)) AS sm, COUNT(*) AS n
         |  FROM $assignName a JOIN se s ON s.id = a.id AND s.j = a.j
         |  CROSS JOIN pos8 p
         |  GROUP BY a.j, a.cluster, p.i),
         |$out AS (
         |  SELECT j, cluster, list((sm / n) / 1e9 ORDER BY i) AS c
         |  FROM ${out}_s GROUP BY j, cluster)""".stripMargin
    def siter(n: Int) =
      s"${ssim(s"b${n - 1}", s"bs$n")}, ${sassign(s"bs$n", s"ba$n")}, " +
        s"${supdate(s"ba$n", s"b$n")}"
    s"""WITH corp AS (
          SELECT vec_id,
                 CASE WHEN vec_id % 7 = 5
                      THEN list_transform(embedding, x -> abs(x))
                      ELSE embedding END AS embedding
          FROM embeddings WHERE vec_id % 7 <> 3),
        e AS (SELECT vec_id AS id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
              FROM corp),
        pos64 AS (SELECT CAST(i AS BIGINT) AS i FROM range(1, 65) t(i)),
        pos8 AS (SELECT CAST(i AS BIGINT) AS i FROM range(1, 9) t(i)),
        ids16 AS (SELECT id FROM e ORDER BY id LIMIT 16),
        c0 AS (SELECT CAST(id AS INT) AS cluster, emb AS c
               FROM e WHERE id IN (SELECT id FROM ids16)),
        ${citer(1)}, ${citer(2)}, ${citer(3)}, ${citer(4)},
        cents AS (SELECT CAST(cluster AS BIGINT) AS cid, c FROM c4),
        se AS (SELECT id, j,
                 list_transform(range(j * 8 + 1, j * 8 + 9), i -> emb[i]) AS sv
               FROM e, range(0, 8) r(j)),
        b0 AS (SELECT j, CAST(id AS INT) AS cluster, sv AS c
               FROM se WHERE id IN (SELECT id FROM ids16)),
        ${siter(1)}, ${siter(2)}, ${siter(3)}, ${siter(4)},
        book AS (SELECT j, CAST(cluster AS BIGINT) AS code, c AS cv FROM b4),
        norms AS (SELECT id, list_sum(list_transform(emb,
                    x -> round(x * x * 1e9))) AS n2 FROM e),
        cnorms AS (SELECT cid, list_sum(list_transform(c,
                     x -> round(x * x * 1e9))) AS n2 FROM cents),
        ascore AS (
          SELECT e.id AS qid, cents.cid AS vid,
            list_sum(list_transform(range(1, 65),
              i -> round(e.emb[i] * cents.c[i] * 1e9))) / sqrt(nq.n2 * nv.n2) AS cos
          FROM e CROSS JOIN cents
          JOIN norms nq ON nq.id = e.id JOIN cnorms nv ON nv.cid = cents.cid),
        ranked AS (
          SELECT qid, vid, cos,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
          FROM ascore),
        assign AS (SELECT qid AS member, vid AS cid FROM ranked WHERE rn = 1),
        probe AS (SELECT qid, vid AS cid FROM ranked WHERE rn <= 2 AND qid < 3),
        cand AS (
          SELECT DISTINCT p.qid, a.member AS vid
          FROM probe p JOIN assign a ON a.cid = p.cid WHERE a.member <> p.qid),
        dists AS (
          SELECT s.id, s.j, b.code,
            list_sum(list_transform(range(1, 9),
              i -> round((s.sv[i] - b.cv[i]) * (s.sv[i] - b.cv[i]) * 1e9))) AS dist
          FROM se s JOIN book b ON b.j = s.j),
        codes AS (
          SELECT id AS vid, j, code FROM (
            SELECT id, j, code,
              ROW_NUMBER() OVER (PARTITION BY id, j ORDER BY dist, code) AS rn
            FROM dists) WHERE rn = 1),
        lut AS (SELECT id AS qid, j, code, dist AS d FROM dists WHERE id < 3),
        adc AS (
          SELECT cand.qid, cand.vid, SUM(l.d) AS adist
          FROM cand JOIN codes c ON c.vid = cand.vid
          JOIN lut l ON l.qid = cand.qid AND l.j = c.j AND l.code = c.code
          GROUP BY cand.qid, cand.vid)
        SELECT qid, rank, vid, adist,
          (SELECT CAST(8 * COUNT(*) AS BIGINT) FROM corp) AS n_live,
          CAST(0 AS BIGINT) AS n_tomb,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM cents) AS n_cent
        FROM (
          SELECT qid, vid, adist,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS rank
          FROM adc)
        WHERE rank <= 3 ORDER BY qid, rank"""
  }

  /** REBUILD INDEX for the maintained ANN stack (q185): retrain the
    * quantizer on the head-pinned CURRENT corpus, re-encode everything,
    * and swap the index tables + advance the watermark in ONE
    * transaction. The q173/q175
    * compactions keep the postings healthy under churn; this is the
    * deeper periodic job that pays off QUANTIZER DRIFT — the one debt a
    * frozen-quantizer maintenance discipline cannot fold incrementally.
    * No serve-consistent publish prefix exists for a quantizer swap, so
    * consistency during the publish window comes from the transaction
    * protocol itself (all-or-nothing + readAt snapshots + roll-forward
    * recover), not from publish ordering. */
  private[graft] def ann3Requantize(s: SparkSession, ns2: String): Unit = {
    val Array(catName, db) = ns2.split('.')
    val coord = s.conf.get(s"spark.sql.catalog.$catName.warehouse")
    val head = catTableVersion(s, catName, db, "ann3_src")
    // persisted like ann3SeedFrom's seed: the regroup feeds the retrain,
    // the encode, and (through them) four replace writes — uncached it
    // would re-run the O(corpus) scan+groupBy per write
    val live = annRegroup(
      s.read.option("snapshot-version", head).table(s"$ns2.ann3_src")
        .select(col("vec_id"), col("pos"), col("v"))).persist()
    try {
      // retrain is CONF-SWITCHED. Default: the deterministic seed
      // quantizer (16 smallest live ids) the q185 oracle replays in SQL.
      // Production sets spark.graft.ann.requantize.retrain=true for the
      // real Lloyd retrain — coarse centroids from k-means over the live
      // corpus, PQ codewords from per-subspace k-means — the drift
      // payoff RequantizeSpec measures (retrained beats frozen on
      // post-churn recall). Both paths are deterministic (KMeans inits
      // from the first k ids, no RNG) and the swap protocol below is
      // identical either way.
      val retrain = s.conf.getOption("spark.graft.ann.requantize.retrain")
        .exists(_.toBoolean)
      val (cent, book) =
        if (!retrain) {
          // the seed quantizer is 16 rows: collect ONCE and re-plan as
          // LocalRelations, so the two index-table replaces and the
          // encode's model collect stop re-running the cached regroup +
          // top-16 job each (model-sized driver data, like the retrain
          // branch's fitGrouped output below)
          import s.implicits._
          val q16 = live.orderBy(col("vec_id")).limit(16)
            .select(col("vec_id"), col("e")).collect()
            .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
          (q16.toDF("cid", "ce"),
            q16.flatMap { case (id, e) =>
              (0 to 7).map(j => (id, j, e.slice(j * 8, j * 8 + 8)))
            }.toDF("code", "j", "cv"))
        } else {
          // model-sized collects only; ALL NINE fits (8 subspaces +
          // the coarse full-vector fit as group 8) run as ONE grouped
          // Lloyd dataflow off the cached `live` — 4 assignment+update
          // jobs total instead of 9 × 4 stage barriers, bit-identical
          // per group to nine separate KMeans.fit calls
          val grouped = live.select(col("vec_id").as("id"),
              explode(expr("sequence(0, 8)")).as("gi"), col("e"))
            .select(col("gi").cast("int").as("g"), col("id"),
              expr("CASE WHEN gi = 8 THEN e ELSE slice(e, gi * 8 + 1, 8) END")
                .as("e"))
          // fitGrouped's result is a driver-local frame (9 × 16 rows)
          val models = graft.ml.KMeans.fitGrouped(grouped, 16, 4)
          val cents = models.filter(col("g") === 8)
            .select(col("cluster").cast("long").as("cid"), col("c").as("ce"))
          val bookT = models.filter(col("g") < 8)
            .select(col("g").cast("int").as("j"),
              col("cluster").cast("long").as("code"), col("c").as("cv"))
          (cents, bookT)
        }
      val enc = annEncode(live, cent, book)
        .select(col("vid"), col("j"), col("code"), col("list_id"),
          lit(head).as("rev"))
      graft.sources.Transactions.run(s, coord) { txn =>
        txn.replace(s"$ns2.ann3_cent",
          cent.select(col("cid"), posexplode(col("ce")).as(Seq("pos", "v"))))
        txn.replace(s"$ns2.ann3_book",
          book.select(col("j"), col("code"), posexplode(col("cv")).as(Seq("pos", "v"))))
        txn.replace(s"$ns2.ann3_post", enc)
        txn.replace(s"$ns2.ann3_del", s.table(s"$ns2.ann3_del").limit(0))
        // the rebuild CONSUMES every source commit up to head (it encoded
        // the head state), so the watermark advances IN the same
        // transaction — leaving it behind would make the next maintenance
        // fold re-index (old watermark, head] on top of the rebuilt rows:
        // same-rev duplicates that survive their own tombstones and
        // double the summed ADC distances
        txn.write(s"$ns2.ann3_meta",
          s.range(1).select(lit(head).as("indexed_version")))
      }
    } finally live.unpersist()
  }

  /** The q172/q175 oracle: IVF-PQ assignment + ADC over the
    * POST-MUTATION corpus with the ORIGINAL frozen quantizer, replayed
    * relationally. `extraCols` appends pinned proof columns to the final
    * SELECT (q175 pins `n_tomb = 0`). */
  private def ann3RebuildOracle(extraCols: String,
      centsSql: String =
        "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16"): String = {
    def fold(a: String, b: String): String =
      s"""list_sum(list_transform(range(1, len($a.embedding) + 1),
         |  i -> round(CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE) * 1e9)))""".stripMargin
    s"""WITH corp AS (
          SELECT vec_id,
                 CASE WHEN vec_id % 7 = 5
                      THEN list_transform(embedding, x -> abs(x))
                      ELSE embedding END AS embedding
          FROM embeddings WHERE vec_id % 7 <> 3),
        cents AS ($centsSql),
        norms AS (SELECT vec_id,
                   list_sum(list_transform(embedding,
                     x -> round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e9))) AS n2
                 FROM corp),
        cnorms AS (SELECT vec_id,
                   list_sum(list_transform(embedding,
                     x -> round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e9))) AS n2
                 FROM cents),
        ascore AS (
          SELECT a.vec_id AS qid, c.vec_id AS vid,
            ${fold("a", "c")} / sqrt(nq.n2 * nv.n2) AS cos
          FROM corp a JOIN cents c ON TRUE
          JOIN norms nq ON nq.vec_id = a.vec_id JOIN cnorms nv ON nv.vec_id = c.vec_id),
        ranked AS (
          SELECT qid, vid, cos,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
          FROM ascore),
        assign AS (SELECT qid AS member, vid AS cid FROM ranked WHERE rn = 1),
        probe AS (SELECT qid, vid AS cid FROM ranked WHERE rn <= 2 AND qid < 3),
        cand AS (
          SELECT DISTINCT p.qid, a.member AS vid
          FROM probe p JOIN assign a ON a.cid = p.cid WHERE a.member <> p.qid),
        subs AS (SELECT vec_id, j FROM corp, range(0, 8) r(j)),
        dists AS (
          SELECT s.vec_id, s.j, c.vec_id AS cw,
            list_sum(list_transform(range(0, 8),
              i -> round((CAST(a.embedding[s.j * 8 + i + 1] AS DOUBLE)
                          - CAST(c.embedding[s.j * 8 + i + 1] AS DOUBLE))
                         * (CAST(a.embedding[s.j * 8 + i + 1] AS DOUBLE)
                            - CAST(c.embedding[s.j * 8 + i + 1] AS DOUBLE)) * 1e9))) AS dist
          FROM subs s JOIN corp a ON a.vec_id = s.vec_id
          JOIN cents c ON TRUE),
        codes AS (
          SELECT vec_id AS vid, j, cw AS code FROM (
            SELECT vec_id, j, cw,
              ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dist, cw) AS rn
            FROM dists) WHERE rn = 1),
        lut AS (SELECT vec_id AS qid, j, cw AS code, dist AS d
                FROM dists WHERE vec_id < 3),
        adc AS (
          SELECT cand.qid, cand.vid, SUM(l.d) AS adist
          FROM cand JOIN codes c ON c.vid = cand.vid
          JOIN lut l ON l.qid = cand.qid AND l.j = c.j AND l.code = c.code
          GROUP BY cand.qid, cand.vid)
        SELECT qid, rank, vid, adist,
          (SELECT CAST(8 * COUNT(*) AS BIGINT) FROM corp) AS n_live$extraCols
        FROM (
          SELECT qid, vid, adist,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS rank
          FROM adc)
        WHERE rank <= 3 ORDER BY qid, rank"""
  }
}
