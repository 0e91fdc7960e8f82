package graft.queries

import graft.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 engine gates: the persisted FULL-TEXT index — the sparse-
  * retrieval sibling of q142's persisted ANN index. Build the inverted
  * index ONCE into catalog tables whose files are range-clustered by
  * token; every keyword/phrase search afterwards reads only the files
  * that can hold its terms (registry range pruning on the pushed IN
  * filter) — O(matching postings), never a corpus scan.
  */
object Engine3 {

  private def ensureCatalog(s: SparkSession, dir: String): String =
    Engine.ensureCatalog(s, dir)

  /** Exactly q71's BM25 per-(doc, term) partial: rational idf variant
    * (no log — keeps both engines bit-identical), quantized to integer
    * micros BEFORE the per-doc sum so aggregation order cannot matter. */
  private val bm25Part =
    "round(((nd - df + 0.5) / (df + 0.5)) * tf * 2.2 / " +
      "(tf + 1.2 * (0.25 + 0.75 * dl / (sl / nd))) * 1e6)"

  /** [[bm25Part]]'s corpus constants (sl, nd) as doubles, summed over a
    * `fts2_glob` constants log (every fold appends its ± rows). */
  private def bm25Consts(glob: DataFrame): DataFrame =
    glob.agg(sum(col("sl")).cast("double").as("sl"),
      sum(col("nd")).cast("double").as("nd"))

  /** [[Vectors]]' integer-exact embedding arithmetic (per-element products
    * quantized at 1e9 — sums of exact integers in double, order-free). */
  private val n2E = "quant_dot(%1$s, %1$s, 1e9)"
  private val dotE = "quant_dot(%s, %s, 1e9)"

  /** The namespace every read-only full-text gate (q161, q162, q164,
    * q176-q178, q180-q182) serves from: the maintained index seeded
    * with the whole corpus ([[fts2SeedCorpus]]) and never mutated, so it
    * carries no tombstones and its serves plan no survival join. */
  private val ftsServe = "gcat.fts_serve"

  // ---- q170 shared helpers (used by both its setup and its run, and
  // driven directly by FtsSpec's delta-path / crash pins) ------------------

  /** q161's tokenization over an arbitrary (doc_id, text) frame. */
  private[graft] def fts2Tokenize(df: DataFrame): DataFrame =
    df.select(col("doc_id"), split(col("text"), " ").as("sp"))
      .withColumn("dl", size(col("sp")).cast("long"))

  /** LIVE registry head of the q170 ingest table in `ns` (a `cat.ns`
    * two-part name under that catalog's warehouse). liveVersion, not
    * `list(...).last`: the raw listing can name a crashed commit's
    * orphan snapshot above the head, and folding "up to" an orphan would
    * permanently skip the healed commit's rows. */
  private[graft] def fts2SrcVersion(s: SparkSession, ns: String): Long = {
    val Array(cat, db) = ns.split('.')
    val wh = s.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val srcDir = new org.apache.hadoop.fs.Path(s"$wh/$db/fts2_src/data")
    val fs = srcDir.getFileSystem(new org.apache.hadoop.conf.Configuration())
    graft.sources.TableStats.liveVersion(fs, srcDir).getOrElse(
      throw new IllegalStateException(s"graft: $ns.fts2_src has no registry head"))
  }

  /** LIVE (rows, bytes) of a graft table's data entries, straight from
    * the stats registry — one metadata read, no data I/O. What sizes the
    * tombstone survival join ([[fts2TombMaxOpt]]) and decides whether a
    * compaction has anything to fold ([[fts2Compact]]). */
  private[graft] def registryStats(s: SparkSession, ns: String,
      table: String): (Long, Long) = {
    val Array(cat, db) = ns.split('.')
    val wh = s.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val dd = new org.apache.hadoop.fs.Path(s"$wh/$db/$table/data")
    val fs = dd.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val m = graft.sources.TableStats.readIfExists(fs, dd)
      .getOrElse(Map.empty[String, graft.sources.TableStats.Entry])
    val data = m.view.filterKeys(!graft.sources.GraftDeletes.isDeleteRel(_))
    (data.valuesIterator.map(_.rows).sum,
      data.valuesIterator.map(e => math.max(e.bytes, 0L)).sum)
  }

  /** Like [[registryStats]] but AT a pinned snapshot version: sums the
    * manifest the table had at `version` (None = live head). What sizes
    * a PINNED serve's tombstone guard — the live registry may already
    * say "zero tombstones" (a compaction just published) while the
    * pinned version still has them; sizing from the wrong side would
    * skip the survival join the pinned read needs. */
  private[graft] def registryStatsAt(s: SparkSession, ns: String,
      table: String, version: Option[Long]): (Long, Long) = version match {
    case None => registryStats(s, ns, table)
    case Some(v) =>
      val Array(cat, db) = ns.split('.')
      val wh = s.conf.get(s"spark.sql.catalog.$cat.warehouse")
      val dd = new org.apache.hadoop.fs.Path(s"$wh/$db/$table/data")
      val fs = dd.getFileSystem(new org.apache.hadoop.conf.Configuration())
      // readManifest THROWS (not None) for a snapshot expired by vacuum.
      // Vacuum retains coordinator-HEAD versions precisely so a pinned
      // serve never hits this ([[graft.sources.Transactions
      // .headPinnedVersion]]); the catch covers OUT-OF-BAND expiry (a
      // vacuum addressed by a different path spelling, manual cleanup)
      // by degrading to live stats — a sizing heuristic miss, strictly
      // better than killing the serve, and the pinned data read that
      // follows fails loudly anyway if the snapshot is truly gone.
      val m = (try graft.sources.Snapshots.readManifest(fs, dd, Some(v), None)
        catch { case _: IllegalArgumentException =>
          Some(graft.sources.TableStats.readIfExists(fs, dd)
            .getOrElse(Map.empty[String, graft.sources.TableStats.Entry])) })
        .getOrElse(Map.empty[String, graft.sources.TableStats.Entry])
      val data = m.view.filterKeys(!graft.sources.GraftDeletes.isDeleteRel(_))
      (data.valuesIterator.map(_.rows).sum,
        data.valuesIterator.map(e => math.max(e.bytes, 0L)).sum)
  }

  /** One CONSISTENT cross-table cut for a maintained-index serve.
    *
    * Every maintained-index serve used to read its tables LIVE —
    * correct whenever the gates drain maintenance before serving, but
    * q187 made serve-under-maintenance the production topology, and a
    * live serve racing a fold's publish can plan `fts2_post` at rev
    * v+1 against tombstones still at rev v: postings without the
    * tombstones that kill their predecessors, transiently doubled
    * scores. The folds commit all tables atomically
    * ([[graft.sources.Transactions]]), so the fix is read-side: resolve
    * ONE version set per serve and pin every index table to it.
    *
    * The set comes from the coordinator's cross-table HEAD
    * ([[graft.sources.Transactions.headVersions]]), which advances only
    * after a transaction's every participant is live — so a serve sees
    * either none or all of any fold's writes ("pre-fold or post-fold,
    * never a third answer"). Resolution per serve is one small file
    * read; per pinned table, one registry head read (the staleness
    * probe below) — all metadata-sized, no data I/O.
    *
    * Fallback rules, per table:
    *  - a table with NO head entry while its NAMESPACE has completed
    *    transactions reads EMPTY: under the one-coordinator index
    *    topology the pinned tables are written ONLY by transactions
    *    (seeds included), so "never in head" means "empty at every
    *    completed cut" — its FIRST transactional publish may be landing
    *    right now (fts2_del's first mutation fold), and a live read of
    *    it against pinned siblings would be exactly the torn view
    *    pinning exists to prevent (fresh tombstones killing postings
    *    nothing replaces yet);
    *  - a table with no head entry in a namespace with NO completed
    *    transactions at all reads LIVE — the bootstrap/fixture state
    *    (an index being born has no cut to pin; serving mid-seed is out
    *    of contract);
    *  - a head entry ABOVE the table's live head is STALE — only
    *    possible via drop/recreate races the DROP-side purge hasn't
    *    covered (an out-of-band rm) — and demotes to the missing-entry
    *    rules. A mid-publish racer can only make head TRAIL live, never
    *    exceed it, so the probe never un-pins a consistent cut. */
  private[graft] final class ServePin(s: SparkSession, ns: String,
      head: Map[String, Long]) {
    def table(name: String): DataFrame = cut(name) match {
      case ServePin.At(v) =>
        s.read.option("snapshot-version", v).table(s"$ns.$name")
      case ServePin.Empty => s.table(s"$ns.$name").limit(0)
      case ServePin.Live => s.table(s"$ns.$name")
    }
    /** Like [[table]], but the Empty demotion reads LIVE instead — for
      * side-state tables (the fuzzy dict) whose writers became
      * transactional AFTER data could already exist: a legacy dict has
      * rows but no head entry, so the Empty rule's premise ("pinned
      * tables are written only by transactions, seeds included") does
      * not hold for it, and serving it empty silently blanks every
      * suggestion. The first transactional dict write in a namespace
      * (a dictFold append or a dictCompact replace) adds the head entry
      * and upgrades the table to pinned reads from then on — the
      * compaction-vs-pinned-serve race is closed exactly where the
      * maintained topology runs compactions at all. */
    def tableOrLive(name: String): DataFrame = cut(name) match {
      case ServePin.At(v) =>
        s.read.option("snapshot-version", v).table(s"$ns.$name")
      case _ => s.table(s"$ns.$name")
    }
    def stats(name: String): (Long, Long) = cut(name) match {
      case ServePin.At(v) => registryStatsAt(s, ns, name, Some(v))
      case ServePin.Empty => (0L, 0L)
      case ServePin.Live => registryStats(s, ns, name)
    }
    private[graft] def cut(name: String): ServePin.Cut =
      if (head.isEmpty) ServePin.Live
      else {
        // resolve the dir EXACTLY like Transactions.Txn does (catalog
        // loadTable), so the head map's keys match byte-for-byte
        val ident = s.sessionState.sqlParser
          .parseMultipartIdentifier(s"$ns.$name")
        graft.sources.GraftViewBridge.resolveIdent(s, ident) match {
          case None => ServePin.Live
          case Some((cat, tid)) =>
            val dir = cat.loadTable(tid)
              .asInstanceOf[graft.sources.GraftTable].tableDir
            def missing: ServePin.Cut = {
              val nsPrefix =
                dir.substring(0, dir.lastIndexOf('/') + 1)
              if (head.keysIterator.exists(_.startsWith(nsPrefix)))
                ServePin.Empty
              else ServePin.Live
            }
            head.get(dir) match {
              case Some(hv) =>
                val dd = new org.apache.hadoop.fs.Path(dir, "data")
                val live = graft.sources.TableStats.liveVersion(
                  dd.getFileSystem(new org.apache.hadoop.conf.Configuration()), dd)
                // demote ONLY on an affirmative live < head (the
                // drop/recreate signature). liveVersion returns None not
                // just for never-written tables but for a registry
                // TRANSIENTLY unreadable under a racing publish's
                // rename/CRC swap — and a table with a head entry was by
                // definition published through a completed transaction,
                // so None here is overwhelmingly the transient race:
                // demoting on it turned a healthy pinned table into an
                // EMPTY serve (NULL BM25 constants — the interleaved
                // spec caught it under cross-suite load). Trusting the
                // head on None leaves the out-of-band-deleted-table case
                // (rm without DROP) failing LOUDLY at the pinned read
                // (missing snapshot) instead of silently serving empty —
                // the right trade for a corruption case the catalog's
                // purge discipline already owns.
                if (live.forall(hv <= _)) ServePin.At(hv) else missing
              case None => missing
            }
        }
      }
  }

  private[graft] object ServePin {
    private[graft] sealed trait Cut
    private[graft] final case class At(v: Long) extends Cut
    private[graft] case object Empty extends Cut
    private[graft] case object Live extends Cut

    /** The pinned cut for serving `ns`'s maintained index — resolves
      * the coordinator HEAD once; every [[ServePin.table]] read off one
      * instance is the same consistent version set. */
    def of(s: SparkSession, ns: String): ServePin =
      new ServePin(s, ns, graft.sources.Transactions.headVersions(
        s.conf.get(s"spark.sql.catalog.${ns.split('.')(0)}.warehouse")))
    /** All-live reads — the MAINTAINER'S OWN side (folds, compactions):
      * a writer must see current state, and it already serializes
      * against its siblings via the checked-commit guard. */
    def live(s: SparkSession, ns: String): ServePin =
      new ServePin(s, ns, Map.empty)
  }

  /** Token-range shard count for one index write, derived from the
    * batch's PLANNED input size (the optimizer's sizeInBytes — file
    * bytes for table/parquet reads, row estimates for in-memory data;
    * no job runs). One shard per ~32 MB of input, clamped to
    * [1, `graft.index.maxShards` (default 65536)]: a 100 TB seed build
    * spreads its tokenize+group shuffle over tens of thousands of
    * reducers (raise `graft.index.targetShardBytes` there to balance
    * shard size vs file count) while a delta fold's few megabytes land
    * in ONE token-clustered file — the same routine,
    * scale-proportional at both ends (the round-9 verdict's seed-funnel
    * fix; a hardcoded count was either a seed bottleneck or delta file
    * spam, and a hardcoded CAP would quietly re-create the funnel at
    * the next scale jump). */
  private[graft] def fts2ShardCount(df: DataFrame): Int = {
    val conf = df.sparkSession.conf
    val target = conf.getOption("graft.index.targetShardBytes").map(_.toLong)
      .getOrElse(32L * 1024 * 1024)
    val maxShards = conf.getOption("graft.index.maxShards").map(_.toInt)
      .getOrElse(65536)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    (bytes / target).min(maxShards - 1).max(0).toInt + 1
  }

  /** Broadcast ceiling for the tombstone survival join: the tombstone
    * table's live bytes (registry metadata) must stay under this for the
    * serve to broadcast the max-rev aggregate; above it the survival
    * join degrades to a plain (shuffleable) join instead of blowing the
    * driver — the defensive bound that holds between compactions.
    * `graft.index.tombstoneBroadcastBytes` overrides (tests). */
  private[graft] def tombBroadcastBytes(s: SparkSession): Long =
    s.conf.getOption("graft.index.tombstoneBroadcastBytes").map(_.toLong)
      .getOrElse(64L * 1024 * 1024)

  /** Token-clustered postings + positions + additive (nd, sl) constants
    * for one batch of (doc_id, text), stamped with revision `rev` —
    * the shared production of every index fold (seed, append delta,
    * update postimages). */
  private def fts2IndexRows(batch: DataFrame, rev: Long,
      shardsOpt: Option[Int] = None): (DataFrame, DataFrame, DataFrame) = {
    // shard count ∝ the BATCH's planned bytes: the seed build (the whole
    // corpus through this same routine) fans its tokenize+group shuffle
    // out, a delta fold collapses to one token-clustered file. Callers
    // whose batch is a JOIN pass `shardsOpt` from a base-scan estimate —
    // size-only join stats are not delta-sized (fts2FoldFeed's semi-join
    // plans the whole left snapshot)
    fts2IndexRowsFromDocs(fts2Tokenize(batch), rev,
      shardsOpt.getOrElse(fts2ShardCount(batch)))
  }

  /** [[fts2IndexRows]] over an already-tokenized `docs` frame — split out
    * so O(corpus) callers (seed fold, retokenize) can persist the
    * tokenization once instead of re-running it for each of the three
    * derived frames (postings, positions, constants) their transaction
    * writes. Delta folds keep the inline path: persisting a few-KB batch
    * costs more than the repeated split(). */
  private def fts2IndexRowsFromDocs(docs: DataFrame, rev: Long,
      shards: Int): (DataFrame, DataFrame, DataFrame) = {
    val post = docs
      .select(col("doc_id"), col("dl"), explode(col("sp")).as("tok"))
      .groupBy(col("tok"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast("long").as("tf"))
      .repartitionByRange(shards, col("tok"))
      .sortWithinPartitions(col("tok"), col("doc_id"))
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"),
        lit(rev).as("rev"))
    val pos = docs
      .select(col("doc_id"), posexplode(col("sp")).as(Seq("pos", "tok")))
      .select(col("tok"), col("doc_id"), col("pos").cast("long").as("pos"),
        lit(rev).as("rev"))
      .repartitionByRange(shards, col("tok"))
      .sortWithinPartitions(col("tok"), col("doc_id"), col("pos"))
    val glob = docs.agg(count(lit(1)).cast("long").as("nd"),
      sum(col("dl")).cast("long").as("sl"))
    (post, pos, glob)
  }

  /** Fold ONE batch of NEW documents (doc_id, text) into the persisted
    * full-text index — the ONE routine that builds the seed AND extends
    * with every append delta (the q154 discipline, applied to sparse
    * retrieval). Because a batch contributes per-(tok, doc) tf rows,
    * per-(tok, doc, pos) position rows, and additive (nd, sl) corpus
    * constants — and df is derived at serve time from the postings
    * themselves — build(seed) followed by fold(delta) is row-identical
    * to build(seed + delta): the equivalence q170's oracle replays from
    * scratch.
    *
    * All FOUR index tables (postings, positions, constants log,
    * watermark log) advance in ONE multi-table transaction (q159's
    * protocol), so a crash anywhere leaves the index serving the
    * previous consistent state — never a torn one (postings without
    * their constants would mis-scale every BM25 idf). Work per batch is
    * O(batch tokens), independent of index size: the existing postings
    * are never read, let alone rewritten. */
  private[graft] def fts2Fold(s: SparkSession, ns: String, batch: DataFrame,
      newVersion: Long, expect: Option[Long] = None,
      dictExpect: Option[Long] = None): Unit = {
    val (post, pos, glob) = fts2IndexRows(batch, newVersion)
    fts2FoldFrames(s, ns, post, pos, glob, newVersion, expect, dictExpect)
  }

  /** Process-memoized WHOLE-CORPUS seed: every maintained full-text
    * namespace the gates use (the read-only [[ftsServe]] and seven
    * maintenance gates' own) starts from the same deterministic fold
    * input (tokenize + token-clustering of the full corpus, stamped at
    * the same seed version — fresh tables commit identically).
    *
    * The FIRST consumer folds inline — its own committed tables ARE the
    * materialization — and registers itself as the DONOR; later
    * consumers copy the donor's seed rows, pinned at the donor's
    * seed-time snapshot versions (so the donor's subsequent mutation
    * folds never leak into a copy). This replaces round 13's
    * temp-parquet cache, which (a) made the single-consumer case
    * strictly slower (an extra full write+read of the index rows — the
    * isolated-gate regression the round-13 verdict flagged), (b) lost
    * the token-range sharding on read-back (split packing concatenated
    * shard files, degrading registry range pruning for every consumer —
    * the q186 scale defect), and (c) leaked the temp dirs. A donor copy
    * has none of these: [[graft.sources.GraftTable]]'s scan plans ONE
    * partition per file, so the donor's range-sharded files land 1:1 in
    * the copy with identical clustering and registry ranges.
    *
    * Re-seeding the donor ITSELF cannot copy (recreating its tables
    * drops the rows a copy reads): while its tables still stand at the
    * seed versions it already holds exactly the seed and nothing runs;
    * once mutated it folds inline again and re-registers.
    *
    * Process-local (never reused across bench/oracle invocations: every
    * run re-computes from the parquet inputs). Value: (donor ns, src
    * version, post version, pos version, glob version). */
  private val seedFoldCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Long, Long, Long, Long)]()

  /** (Re)create `ns`'s maintained index tables, ingest the whole corpus
    * as the row-keyed `fts2_src` (row-level DELETE/UPDATE need the key)
    * and seed the index from it through the donor memo. Returns the
    * source version the seed is stamped at. */
  private[graft] def fts2SeedCorpus(s: SparkSession, ns: String,
      dir: String): Long = {
    ensureCatalog(s, dir)
    // the sharding confs shape the donor's file layout — a same-process
    // caller running under different sharding must not reuse a donor
    // built under the old values (round-13 ADVICE)
    val key = s"$dir|" +
      s"${s.conf.getOption("graft.index.targetShardBytes").getOrElse("")}|" +
      s"${s.conf.getOption("graft.index.maxShards").getOrElse("")}"
    val memo = Option(seedFoldCache.get(key))
    memo match {
      case Some((`ns`, v1, postV, posV, _)) if standsAt(s, ns,
          "fts2_src" -> v1, "fts2_post" -> postV, "fts2_pos" -> posV) => v1
      case _ =>
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $ns")
        fts2Create(s, ns, withRowKey = true)
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id").cast("string").as("row_key"),
            col("doc_id"), col("text"))
          .writeTo(s"$ns.fts2_src").append()
        val v1 = fts2SrcVersion(s, ns)
        memo match {
          case Some((donor, `v1`, postV, posV, globV)) if donor != ns =>
            val post = s.read.option("snapshot-version", postV)
              .table(s"$donor.fts2_post")
              .select(col("tok"), col("doc_id"), col("tf"), col("dl"), col("rev"))
              .sortWithinPartitions(col("tok"), col("doc_id"))
            val pos = s.read.option("snapshot-version", posV)
              .table(s"$donor.fts2_pos")
              .select(col("tok"), col("doc_id"), col("pos"), col("rev"))
              .sortWithinPartitions(col("tok"), col("doc_id"), col("pos"))
            val glob = s.read.option("snapshot-version", globV)
              .table(s"$donor.fts2_glob").select(col("nd"), col("sl"))
            fts2FoldFrames(s, ns, post, pos, glob, v1, None, None)
          case _ =>
            val batch = s.read.parquet(s"$dir/documents.parquet")
              .select(col("doc_id"), col("text"))
            // persist the tokenization once: the transaction writes THREE
            // frames derived from it (postings, positions, constants) and
            // would otherwise re-split the whole corpus per frame
            val shards = fts2ShardCount(batch)
            val docs = fts2Tokenize(batch)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              val (post, pos, glob) = fts2IndexRowsFromDocs(docs, v1, shards)
              fts2FoldFrames(s, ns, post, pos, glob, v1, None, None)
            } finally docs.unpersist(blocking = false)
            seedFoldCache.put(key, (ns, v1, tableVersion(s, ns, "fts2_post"),
              tableVersion(s, ns, "fts2_pos"), tableVersion(s, ns, "fts2_glob")))
        }
        v1
    }
  }

  private def fts2FoldFrames(s: SparkSession, ns: String, post: DataFrame,
      pos: DataFrame, glob: DataFrame, newVersion: Long,
      expect: Option[Long], dictExpect: Option[Long]): Unit = {
    val coord = s.conf.get(s"spark.sql.catalog.${ns.split('.')(0)}.warehouse")
    graft.sources.Transactions.run(s, coord) { txn =>
      // `expect` = the watermark this batch's interval starts from (set
      // by IndexMaintain): re-checked at the commit point under the
      // coordinator lock, so a duplicate maintainer's fold of the same
      // interval aborts instead of double-indexing its rows
      expect.foreach { w =>
        txn.precondition(s"$ns.fts2_meta watermark == $w (single-maintainer)") {
          graft.streaming.IndexMaintain.watermark(s, s"$ns.fts2_meta") == w
        }
      }
      // `dictExpect` = the dict version this interval's [[dictFold]]
      // landed (fuzzy-maintained namespaces only): a [[dictCompact]]
      // squeezing between the dict fold and THIS commit computed
      // liveness without this batch's postings and may have stripped a
      // term the batch resurrects — abort, and the interval re-runs
      // whole (preFold re-adds the term against the compacted dict)
      dictExpect.foreach { dv =>
        txn.precondition(s"$ns.dict_var version == $dv (dict-fold pair)") {
          dictVersion(s, ns) == dv
        }
      }
      txn.write(s"$ns.fts2_post", post)
      txn.write(s"$ns.fts2_pos", pos)
      txn.write(s"$ns.fts2_glob", glob)
      txn.write(s"$ns.fts2_meta",
        s.range(1).select(lit(newVersion).as("indexed_version")))
    }
  }

  /** Fold ONE change-feed interval (DELETEs, UPDATEs, INSERTs) into the
    * index — the MUTATION side of incremental maintenance (q171), the
    * same commit-recorded discipline the MV engine uses (q155/q156),
    * with MERGE-ON-READ semantics applied to the index itself. The feed
    * contributes ONLY the affected doc_id set; everything indexed comes
    * from the ENDPOINT STATES of the interval, because one interval can
    * hold several changes to one doc (insert-then-delete, double
    * update) and per-commit feed rows would double-index intermediate
    * revisions or resurrect a finally-deleted doc:
    *
    *  - every affected doc gets a TOMBSTONE row (doc_id, rev = v2): a
    *    tombstone at rev r kills every posting with rev < r at serve
    *    time — the existing token-clustered postings are NEVER read or
    *    rewritten, so a mutation batch costs O(batch), not O(index);
    *  - affected docs are re-indexed WHOLE from the source pinned AT v2
    *    (a doc deleted by the interval's end is simply absent — the
    *    tombstone is its removal) at rev = v2, which the same-rev
    *    tombstone does not kill (survival rule is rev >= tombstone rev);
    *  - the constants delta is (contribution at v2) − (contribution at
    *    v1) of the affected docs — two pinned semi-join reads, exact for
    *    any number of changes inside the interval.
    *
    * All five writes land in ONE transaction; serve-time survival is
    * [[fts2Surviving]]. Tombstones accumulate O(deleted docs) and are
    * the index's compaction debt — [[fts2Compact]] folds them into a
    * rewrite (and [[fts2CompactIfDebt]] triggers it from the registry's
    * own row counts), exactly like MOR delete-file compaction. */
  private[graft] def fts2FoldFeed(s: SparkSession, ns: String, srcTable: String,
      feed: DataFrame, v1: Long, v2: Long, expect: Option[Long] = None,
      dictExpect: Option[Long] = None): Unit = {
    val coord = s.conf.get(s"spark.sql.catalog.${ns.split('.')(0)}.warehouse")
    val affected = feed.select(col("doc_id")).distinct()
    def state(v: Long): DataFrame =
      s.read.option("snapshot-version", v).table(srcTable)
        .join(broadcast(affected), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("text"))
    val negGlob = fts2Tokenize(state(v1))
      .agg((-count(lit(1))).cast("long").as("nd"),
        (-sum(col("dl"))).cast("long").as("sl"))
      .where(col("nd") =!= 0L)
    // shard the re-index shuffle from the FEED's planned bytes (delta-
    // sized: change-file scans for exactly this interval), never from
    // state(v2)'s plan — size-only stats price a left-semi join at the
    // LEFT side, i.e. the whole pinned snapshot, and a small takedown on
    // a 100 TB corpus would shard its O(batch) rows corpus-wide (the
    // same trap fts2Compact documents for its post-join rewrites)
    val (postRows, posRows, posGlob0) =
      fts2IndexRows(state(v2), v2, Some(fts2ShardCount(feed)))
    val posGlob = posGlob0.where(col("nd") =!= 0L)
    val tomb = affected.select(col("doc_id"), lit(v2).as("rev"))
    graft.sources.Transactions.run(s, coord) { txn =>
      // the fts2Fold single-maintainer check (see its comment): the
      // endpoint-state fold of (v1, v2] is only valid while the index
      // is still AT v1 — a duplicate maintainer's fold aborts here
      expect.foreach { w =>
        txn.precondition(s"$ns.fts2_meta watermark == $w (single-maintainer)") {
          graft.streaming.IndexMaintain.watermark(s, s"$ns.fts2_meta") == w
        }
      }
      // see [[fts2Fold]]: abort if a dict compaction squeezed between
      // this interval's dictFold and this commit
      dictExpect.foreach { dv =>
        txn.precondition(s"$ns.dict_var version == $dv (dict-fold pair)") {
          dictVersion(s, ns) == dv
        }
      }
      txn.write(s"$ns.fts2_post", postRows)
      txn.write(s"$ns.fts2_pos", posRows)
      txn.write(s"$ns.fts2_del", tomb)
      txn.write(s"$ns.fts2_glob", posGlob.unionByName(negGlob))
      txn.write(s"$ns.fts2_meta",
        s.range(1).select(lit(v2).as("indexed_version")))
    }
  }

  /** COMPACT the maintained full-text index: fold the accumulated
    * tombstones into a physical rewrite, so the serve returns to the
    * zero-tombstone fast path — the index-side OPTIMIZE ([[
    * graft.sources.Compaction]] is its table-side sibling; the debt this
    * pays off is exactly what [[fts2FoldFeed]]'s scaladoc calls MOR
    * delete files):
    *
    *  - fts2_post / fts2_pos are rewritten to their SURVIVING rows
    *    (survival rule rev >= tombstone rev — identical to the serve
    *    filter, so the rewrite changes no answer), re-clustered by token
    *    with a size-derived shard count;
    *  - fts2_del empties (a staged TRUNCATE);
    *  - fts2_glob's additive ± log collapses to its one-row sum.
    *
    * All four swaps land in ONE q159 transaction, staged in
    * serve-consistent order: a crash mid-publish leaves a prefix —
    * rewritten postings with the (now-redundant) tombstones still
    * present — that serves exactly the same answers; the tombstones can
    * only truncate AFTER both rewrites are live. The watermark
    * (fts2_meta) does not move: compaction consumes no source commits.
    * Cost is O(live index), zero source I/O; run it when the tombstone
    * fraction grows, like any MOR compaction. Returns false (and runs
    * nothing) when there is no debt: no tombstones and an
    * already-collapsed constants log. Single-maintainer discipline: a
    * fold racing the compaction is caught by the transaction's
    * replace-base check and the compaction rolls back whole. */
  private[graft] def fts2Compact(s: SparkSession, ns: String): Boolean = {
    val coord = s.conf.get(s"spark.sql.catalog.${ns.split('.')(0)}.warehouse")
    val (tombRows, _) = registryStats(s, ns, "fts2_del")
    val (globRows, _) = registryStats(s, ns, "fts2_glob")
    if (tombRows == 0L && globRows <= 1L) return false
    val consts = s.table(s"$ns.fts2_glob")
      .agg(sum(col("nd")).cast("long").as("nd"),
        sum(col("sl")).cast("long").as("sl"))
    compactTxn(s, coord, s"$ns FTS") { txn =>
      if (tombRows > 0L) {
        // an append-only index (tombRows == 0) skips the rewrite: its
        // postings carry no dead rows, only the constants log needs
        // collapsing
        val tombMax = fts2TombMaxOpt(s, ns)
        // shard counts from the BASE scans (an upper bound of the
        // survivors): a post-join plan's size estimate multiplies the
        // sides and would wildly over-shard
        val postShards = fts2ShardCount(s.table(s"$ns.fts2_post"))
        val posShards = fts2ShardCount(s.table(s"$ns.fts2_pos"))
        txn.replace(s"$ns.fts2_post",
          fts2Surviving(s.table(s"$ns.fts2_post"), tombMax)
            .repartitionByRange(postShards, col("tok"))
            .sortWithinPartitions(col("tok"), col("doc_id")))
        txn.replace(s"$ns.fts2_pos",
          fts2Surviving(s.table(s"$ns.fts2_pos"), tombMax)
            .repartitionByRange(posShards, col("tok"))
            .sortWithinPartitions(col("tok"), col("doc_id"), col("pos")))
        txn.replace(s"$ns.fts2_del", s.table(s"$ns.fts2_del").limit(0))
      }
      txn.replace(s"$ns.fts2_glob", consts)
    }
  }

  /** Run one compaction transaction, absorbing the lost-race abort as a
    * benign SKIP: compactions stage REPLACEs, so a concurrent
    * maintainer's fold landing between stage and commit trips the
    * replace-base check and rolls the compaction back whole — correct,
    * and NOT an error: the debt is still there and the next debt
    * trigger retries. Without this, a compaction losing that race
    * inside an `onBatch` hook would kill the maintainer's stream.
    * Returns whether the compaction committed. */
  private[graft] def compactTxn(s: SparkSession, coord: String, what: String)(
      body: graft.sources.Transactions.Txn => Unit): Boolean =
    try { graft.sources.Transactions.run(s, coord)(body); true }
    catch {
      case e: graft.sources.Transactions.ReplaceRaceLost =>
        graft.GraftLog.debug(s"graft: $what compaction lost its replace " +
          s"race to a concurrent fold — skipped, next trigger retries " +
          s"(${e.getMessage})")
        false
      // a compaction's own precondition (e.g. dictCompact's liveness
      // basis) failing is the same benign backpressure as the replace
      // race: the debt is still there, the next trigger retries
      case e: graft.sources.Transactions.PreconditionFailed =>
        graft.GraftLog.debug(s"graft: $what compaction's basis moved " +
          s"under it — skipped, next trigger retries (${e.getMessage})")
        false
    }

  /** The compaction POLICY that makes the tombstone debt self-bounding
    * (what the serve guard's "bounded compaction debt" promise rests
    * on): compact when tombstone rows exceed `frac` of live postings
    * rows — BOTH read from the registry, zero data I/O, so the check is
    * free to run per maintenance batch. Wire it into
    * [[graft.streaming.IndexMaintain]]'s `onBatch` and the index
    * compacts itself under churn; between triggers the serve's sized
    * broadcast→shuffle fallback holds the line. `frac` compares
    * tombstones (one per mutated DOC) against postings (one per (tok,
    * doc)), so the dead-POSTING fraction at trigger is roughly frac ×
    * tokens-per-doc — the default 0.05 fires around a few-percent doc
    * churn for typical documents. Returns true when a compaction ran. */
  private[graft] def fts2CompactIfDebt(s: SparkSession, ns: String,
      frac: Double = 0.05): Boolean = {
    val (tombRows, _) = registryStats(s, ns, "fts2_del")
    tombRows > 0L && {
      val (postRows, _) = registryStats(s, ns, "fts2_post")
      tombRows.toDouble > frac * math.max(postRows, 1L).toDouble &&
        fts2Compact(s, ns)
    }
  }

  /** One max-rev row per tombstoned doc — computed ONCE per serve and
    * joined into every survival filter. SIZED FROM THE REGISTRY before
    * any plan exists: an index with NO tombstones (fresh, or just
    * compacted) returns None and the serve plans NO survival join at
    * all; a tombstone set under [[tombBroadcastBytes]] broadcasts; a
    * larger one (heavy churn between compactions) degrades to a plain
    * join — Spark picks a shuffle strategy — instead of broadcasting an
    * unbounded aggregate through the driver. [[fts2Compact]] is what
    * returns the index to the None tier. */
  private[graft] def fts2TombMaxOpt(s: SparkSession, ns: String): Option[DataFrame] =
    fts2TombMaxOpt(s, ServePin.live(s, ns))

  private[graft] def fts2TombMaxOpt(s: SparkSession,
      pin: ServePin): Option[DataFrame] = {
    // sized AND read at the pin's version: the live registry may
    // already be compacted-clean while the pinned cut still carries
    // tombstones (and vice versa)
    val (rows, bytes) = pin.stats("fts2_del")
    if (rows == 0L) None
    else {
      val agg = pin.table("fts2_del")
        .groupBy(col("doc_id")).agg(max(col("rev")).as("trev"))
      Some(if (bytes <= tombBroadcastBytes(s)) broadcast(agg) else agg)
    }
  }

  /** The SURVIVING postings under tombstones, applied AFTER `filtered`
    * has cut the postings down (tok IN-list, single-token) — so the join
    * is O(retrieved postings + tombstones), never a postings-table
    * shuffle. `tombMax = None` (no tombstones) is the identity. */
  private[graft] def fts2Surviving(filtered: DataFrame,
      tombMax: Option[DataFrame]): DataFrame =
    tombMax.fold(filtered)(t =>
      filtered.join(t, Seq("doc_id"), "left")
        .where(col("trev").isNull || col("rev") >= col("trev"))
        .drop("trev"))

  /** Per-(doc, term) BM25 from the MAINTAINED index: survival-filtered
    * postings, corpus constants summed over the additive (± rows) log.
    * The serve shape q170 and q171 share. */
  private[graft] def fts2Bm25(s: SparkSession, ns: String,
      terms: Seq[String]): DataFrame = {
    val pin = ServePin.of(s, ns)
    fts2Bm25At(terms, fts2TombMaxOpt(s, pin), pin)
  }

  private[graft] def fts2Bm25At(terms: Seq[String],
      tombMax: Option[DataFrame], pin: ServePin): DataFrame = {
    val post = fts2Surviving(
      pin.table("fts2_post").where(col("tok").isin(terms: _*)), tombMax)
    val dfx = post.groupBy(col("tok"))
      .agg(count(lit(1)).cast("double").as("df"))
    val glob = bm25Consts(pin.table("fts2_glob"))
    post.join(broadcast(dfx), "tok")
      .crossJoin(broadcast(glob))
      .withColumn("part", expr(bm25Part))
      .groupBy(col("doc_id"))
      .agg(sum(col("part")).cast("long").as("score_micro"))
  }

  /** The full maintained-index serve q170 and q171 share: BM25 top-20
    * for `terms`, corpus constants, and a `first second` phrase count —
    * all survival-filtered against ONE broadcast tombstone aggregate
    * and ONE constants fold. */
  private def fts2ServeAll(s: SparkSession, ns: String, terms: Seq[String],
      first: String, second: String): DataFrame = {
    // ONE pinned cut for the whole serve: postings, positions,
    // constants, and tombstones all resolve at the same fold boundary
    val pin = ServePin.of(s, ns)
    val tombMax = fts2TombMaxOpt(s, pin)
    val top = fts2Bm25At(terms, tombMax, pin)
      .orderBy(desc("score_micro"), col("doc_id"))
      .limit(20)
    val posT = pin.table("fts2_pos")
    val a = fts2Surviving(posT.where(col("tok") === first), tombMax)
      .select(col("doc_id"), col("pos"))
    val b = fts2Surviving(posT.where(col("tok") === second), tombMax)
      .select(col("doc_id"), (col("pos") - 1).as("pos"))
    val nPhrase = a.join(b, Seq("doc_id", "pos"))
      .agg(count(lit(1)).cast("long").as("n_phrase"))
    val consts = pin.table("fts2_glob")
      .agg(sum(col("nd")).cast("long").as("nd"),
        sum(col("sl")).cast("long").as("sl"))
    top.crossJoin(broadcast(consts))
      .crossJoin(broadcast(nPhrase))
      .orderBy(desc("score_micro"), col("doc_id"))
  }

  /** (Re)create the q170/q171 index tables empty. `withRowKey` gives the
    * ingest table a row_key column (required for the row-level DELETE /
    * UPDATE mutations q171 feeds from). */
  private[graft] def fts2Create(s: SparkSession, ns: String,
      withRowKey: Boolean = false): Unit = {
    Seq("fts2_src", "fts2_post", "fts2_pos", "fts2_del", "fts2_glob", "fts2_meta")
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS $ns.$t"))
    val rk = if (withRowKey) "row_key STRING, " else ""
    s.sql(s"CREATE TABLE $ns.fts2_src (${rk}doc_id BIGINT, text STRING)")
    s.sql(s"CREATE TABLE $ns.fts2_post (tok STRING, doc_id BIGINT, tf BIGINT, dl BIGINT, rev BIGINT)")
    s.sql(s"CREATE TABLE $ns.fts2_pos (tok STRING, doc_id BIGINT, pos BIGINT, rev BIGINT)")
    s.sql(s"CREATE TABLE $ns.fts2_del (doc_id BIGINT, rev BIGINT)")
    s.sql(s"CREATE TABLE $ns.fts2_glob (nd BIGINT, sl BIGINT)")
    s.sql(s"CREATE TABLE $ns.fts2_meta (indexed_version BIGINT)")
  }

  /** The q184/q187 hybrid serve over the MAINTAINED indexes — sparse
    * BM25 top-20 (IN-pruned + survival-filtered inside [[fts2Bm25]]),
    * dense IVF-PQ ADC top-20 for query vector `qid` over the PROBED
    * lists of the maintained ann3 postings (identity partition pruning,
    * the same survival guard), RRF-fused in exact-integer nanos.
    * O(terms' postings + probed lists) per serve; shared so the
    * single-maintainer (q184) and dual-maintainer (q187) gates serve
    * through ONE code path. */
  private[graft] def hybridServe(s: SparkSession, fts: String, ann: String,
      terms: Seq[String], qid: Long = 0L): DataFrame = {
    val topk = udaf(graft.functions.TopKAgg(20),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[graft.functions.TopKIn]())
    // sparse: maintained BM25 (survival-filtered inside fts2Bm25)
    val sr = fts2Bm25(s, fts, terms)
      .agg(topk(col("score_micro").cast("double"), col("doc_id")).as("top"))
      .select(posexplode(col("top")))
      .select((col("pos") + 1).cast("long").as("rank_s"),
        col("col.id").as("doc_id"))
    // dense: maintained IVF-PQ serve for query vector 0 — probe the
    // top-2 frozen centroids, read ONLY those lists' partitions,
    // survival-filter, ADC against the frozen codebooks. One pinned cut
    // for the dense index too (its own namespace, same coordinator):
    // quantizer, postings, and tombstones resolve at one fold boundary.
    // ann3_src (the ingest source, not an index table) stays live — a
    // query-vector lookup, never torn.
    val annPin = ServePin.of(s, ann)
    val centT = Engine2.regroupCent(annPin.table("ann3_cent"))
    val bookT = Engine2.regroupBook(annPin.table("ann3_book"))
    val q0 = Engine2.annRegroup(
      s.table(s"$ann.ann3_src").where(col("vec_id") === qid)
        .select(col("vec_id"), col("pos"), col("v")))
      .select(col("e").as("qe"))
    val probed = q0.crossJoin(broadcast(centT))
      .withColumn("dot", expr(dotE.format("qe", "ce")))
      .withColumn("qn2", expr(n2E.format("qe")))
      .withColumn("cn2", expr(n2E.format("ce")))
      .withColumn("cos", expr("dot / sqrt(qn2 * cn2)"))
      .orderBy(desc("cos"), col("cid")).limit(2)
      .select("cid").collect().map(r => Long.box(r.getLong(0))).toSeq
    val tombMax = Engine2.ann3TombMaxOpt(s, annPin)
    val post = Engine2.ann3Surviving(
      annPin.table("ann3_post").where(col("list_id").isin(probed: _*)),
      tombMax)
    val lut = q0.select(explode(expr("sequence(0, 7)")).as("j"), col("qe"))
      .select(col("j"), expr("slice(qe, j * 8 + 1, 8)").as("sv"))
      .join(broadcast(bookT), "j")
      .withColumn("d", expr("quant_dist2(sv, cv, 1e9)"))
      .select(col("j"), col("code"), col("d"))
    val dr = post.filter(col("vid") =!= qid)
      .join(broadcast(lut), Seq("j", "code"))
      .groupBy(col("vid"))
      .agg(sum(col("d")).as("adist"))
      // top-20 nearest = TopKAgg on the NEGATED distance (exact
      // integers in double; ties by vid ascending, as the oracle)
      .agg(topk(-col("adist"), col("vid")).as("top"))
      .select(posexplode(col("top")))
      .select((col("pos") + 1).cast("long").as("rank_d"),
        col("col.id").as("doc_id"))
    sr.join(dr, Seq("doc_id"), "full_outer")
      .withColumn("rrf_nano", expr(
        "cast(round((coalesce(1.0 / (60 + cast(rank_s as double)), 0.0) + " +
          "coalesce(1.0 / (60 + cast(rank_d as double)), 0.0)) * 1e9) as bigint)"))
      .select(col("doc_id"), col("rank_s"), col("rank_d"), col("rrf_nano"))
      .orderBy(desc("rrf_nano"), col("doc_id"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- q161: persisted full-text index — build once, search many -------
    // q71 computes BM25 inline, scanning the corpus per query; the
    // production shape tokenizes ONCE into catalog tables and serves
    // every search from them — the maintained index, seeded whole into
    // [[ftsServe]] (the donor-memoized seed every index gate shares):
    //  - fts2_post (tok, doc_id, tf, dl, rev) — per-(doc, term)
    //    frequencies + doc length, written range-clustered by token
    //    (repartitionByRange + sortWithinPartitions), so each file's
    //    registered [min, max] on `tok` is narrow and DISJOINT;
    //  - fts2_glob (nd, sl) — the additive corpus-constants log (one
    //    seed row here; summed at serve time like every maintained serve).
    // The search pushes `tok IN (...)` into the scan: commit-time range
    // registry entries disprove the IN-list per file, so only the files
    // whose token range can hold a query term are ever opened
    // (FtsSpec pins the pruned plan). Per-term document frequency falls
    // out of the retrieved postings themselves (df = rows per term) —
    // no separate stats table to drift. At 100 TB a 3-term query reads
    // O(3 terms' postings), not 100 TB; the oracle replays build+serve
    // from the raw corpus (the build is deterministic).
    QueryDef(
      "q161_fts_index_serve",
      // tok IN (...) → parquet pushdown + per-file range disproof over
      // the token-clustered files (inside fts2Bm25)
      (s, _) => fts2Bm25(s, ftsServe, Seq("join", "scan", "hash"))
        .orderBy(desc("score_micro"), col("doc_id"))
        .limit(20),
      // the index build is deterministic, so serving from it ≡ q71's
      // inline computation — the oracle replays from the raw corpus
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        dd AS (SELECT doc_id, CAST(len(sp) AS BIGINT) AS dl, sp FROM d),
        g AS (SELECT CAST(SUM(dl) AS DOUBLE) AS sl, CAST(COUNT(*) AS DOUBLE) AS nd FROM dd),
        t AS (SELECT doc_id, dl, unnest(sp) AS tok FROM dd),
        tf AS (SELECT doc_id, dl, tok, CAST(COUNT(*) AS DOUBLE) AS tf
               FROM t WHERE tok IN ('join', 'scan', 'hash') GROUP BY doc_id, dl, tok),
        dfx AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
        parts AS (
          SELECT tf.doc_id,
            round(((g.nd - dfx.df + 0.5) / (dfx.df + 0.5)) * tf.tf * 2.2 /
              (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / (g.sl / g.nd))) * 1e6) AS part
          FROM tf JOIN dfx USING (tok) CROSS JOIN g)
        SELECT doc_id, CAST(SUM(part) AS BIGINT) AS score_micro
        FROM parts GROUP BY doc_id
        ORDER BY score_micro DESC, doc_id LIMIT 20"""),
      // build-once fixture: tokenize the corpus into the postings table,
      // RANGE-CLUSTERED by token so the serve's IN-list file-prunes; the
      // bench reports index BUILD (setup) and SERVE (query) separately
      setup = Some((s, dir) => fts2SeedCorpus(s, ftsServe, dir))),

    // ---- q162: PHRASE search over the positional index -------------------
    // Bag-of-words postings cannot answer "hash join" AS A PHRASE; the
    // positional index (tok, doc_id, pos) can: adjacency is an equi-join
    // of the first term's positions with the second term's positions
    // shifted by one — per-doc, per-position, exact. Both position reads
    // push their single-token filter into the token-clustered scan, so a
    // phrase query over 100 TB reads O(the two terms' position lists) —
    // the join key (doc_id, pos) is dense and never corpus-wide. The
    // oracle rebuilds positions relationally from the raw text.
    QueryDef(
      "q162_fts_phrase",
      (s, _) => {
        val pos = s.table(s"$ftsServe.fts2_pos")
        val first = pos.where(col("tok") === "hash")
          .select(col("doc_id"), col("pos"))
        val next = pos.where(col("tok") === "join")
          .select(col("doc_id"), (col("pos") - 1).as("pos"))
        first.join(next, Seq("doc_id", "pos"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("long").as("n_hits"))
          .orderBy(desc("n_hits"), col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        u AS (SELECT doc_id, unnest(list_transform(range(1, len(sp) + 1),
                i -> struct_pack(pos := i, tok := sp[i]))) AS u FROM d),
        p AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM u)
        SELECT p1.doc_id, CAST(count(*) AS BIGINT) AS n_hits
        FROM p p1 JOIN p p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
        WHERE p1.tok = 'hash' AND p2.tok = 'join'
        GROUP BY p1.doc_id ORDER BY n_hits DESC, p1.doc_id"""),
      // fixture: q161's seed, whose positional table (fts2_pos) is
      // token-range-clustered like its postings — one build serves every
      // phrase/proximity query after it
      setup = Some((s, dir) => fts2SeedCorpus(s, ftsServe, dir))),

    // ---- q163: COPY INTO — exactly-once external-file ingest --------------
    // A landing zone (an upstream job's drop directory) is loaded into a
    // graft table exactly once PER FILE: CopyInto lists the zone,
    // anti-joins the loaded-files LOG TABLE (distributed — the log is
    // never collected), and commits the new files' rows + their log
    // entries in ONE multi-table transaction (q159's protocol), so a
    // crashed or re-run loader can never double-ingest. The measured run
    // drops a second batch into the SAME zone, copies (only the new
    // files load), then copies again (loads nothing) — the loaded-file
    // counts are pinned as literals and the table must equal the oracle's
    // union of both batches. At 100 TB this is the nightly vendor-drop
    // path: list one directory, move only new files, no reconciliation.
    QueryDef(
      "q163_copy_into",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        val wh = s.conf.get("spark.sql.catalog.gcat.warehouse")
        val src = s"$wh/ci_src"
        s.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 3 === 1)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .repartition(3)
          .write.mode("append").parquet(src)
        val n2 = graft.sources.CopyInto.run(s, wh, s"$ns.ci_docs", s"$ns.ci_log", src).size
        val n3 = graft.sources.CopyInto.run(s, wh, s"$ns.ci_docs", s"$ns.ci_log", src).size
        val filesTotal = s.table(s"$ns.ci_log")
          .agg(count(lit(1)).cast("long").as("files_total"))
        s.table(s"$ns.ci_docs").groupBy(col("lang"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("n_chars")).cast("long").as("chars"),
            sum(col("doc_id")).cast("long").as("id_sum"))
          .withColumn("loaded_second", lit(n2.toLong))
          .withColumn("loaded_third", lit(n3.toLong))
          .crossJoin(broadcast(filesTotal))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_chars) AS BIGINT) AS chars,
               CAST(sum(doc_id) AS BIGINT) AS id_sum,
               CAST(3 AS BIGINT) AS loaded_second,
               CAST(0 AS BIGINT) AS loaded_third,
               CAST(5 AS BIGINT) AS files_total
        FROM documents WHERE doc_id % 3 IN (0, 1)
        GROUP BY lang ORDER BY lang"""),
      // fixture: the target + log tables, the landing zone seeded with
      // batch 1 (2 files) and already copied once — the measured run is
      // exactly one incremental drop + the idempotent re-run
      setup = Some((s, dir) => {
        val ns = ensureCatalog(s, dir)
        val wh = s.conf.get("spark.sql.catalog.gcat.warehouse")
        val src = new org.apache.hadoop.fs.Path(s"$wh/ci_src")
        val fs = src.getFileSystem(new org.apache.hadoop.conf.Configuration())
        fs.delete(src, true)
        s.sql(s"DROP TABLE IF EXISTS $ns.ci_docs")
        s.sql(s"DROP TABLE IF EXISTS $ns.ci_log")
        s.sql(s"CREATE TABLE $ns.ci_docs (doc_id BIGINT, lang STRING, n_chars BIGINT)")
        s.sql(s"CREATE TABLE $ns.ci_log (file_name STRING, n_bytes BIGINT)")
        s.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .repartition(2)
          .write.mode("append").parquet(src.toString)
        graft.sources.CopyInto.run(s, wh, s"$ns.ci_docs", s"$ns.ci_log", src.toString)
        ()
      })),

    // ---- q164: hybrid retrieval — reciprocal-rank fusion ------------------
    // Production RAG retrieval is HYBRID: a sparse BM25 ranking (exact
    // term matches, rare identifiers) fused with a dense embedding
    // ranking (semantic similarity) via reciprocal-rank fusion:
    // rrf(d) = Σ 1/(60 + rank_i(d)). Both rankings come from engine
    // primitives this library already serves at scale — BM25 from the
    // q161 postings index (IN-list file-pruned scan), cosine from the
    // embedding table (the q27 brute-force probe; q142's IVF-PQ index is
    // the drop-in at corpus scale) — and both top-20 cuts use the
    // map-side-combining TopKAgg, so no reducer ever sees a corpus-sized
    // group and NO global window exists anywhere in the plan. RRF itself
    // is rank arithmetic: engine-exact, tiny (the two 20-row lists), and
    // the oracle replays the whole fusion relationally.
    QueryDef(
      "q164_hybrid_rrf",
      (s, dir) => {
        val topk = udaf(graft.functions.TopKAgg(20),
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[graft.functions.TopKIn]())
        // sparse: BM25 top-20 from the persisted index (scores are exact
        // integer micros — TopKAgg's (score DESC, id ASC) is the
        // oracle's ROW_NUMBER tie-break)
        val sr = fts2Bm25(s, ftsServe, Seq("join", "scan", "hash"))
          .agg(topk(col("score_micro").cast("double"), col("doc_id")).as("top"))
          .select(posexplode(col("top")))
          .select((col("pos") + 1).cast("long").as("rank_s"),
            col("col.id").as("doc_id"))
        // dense: exact cosine of query vector 0 vs the corpus (vec_id
        // aligns with doc_id); quantized dot/norms — bit-identical ranks
        val e = s.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        val q0 = e.filter(col("vec_id") === 0).select(col("e").as("qe"))
        val dr = e.filter(col("vec_id") =!= 0)
          .select(col("vec_id").as("vid"), col("e").as("ve"))
          .crossJoin(broadcast(q0))
          .withColumn("dot", expr(dotE.format("qe", "ve")))
          .withColumn("qn2", expr(n2E.format("qe")))
          .withColumn("vn2", expr(n2E.format("ve")))
          .withColumn("cos", expr("dot / sqrt(qn2 * vn2)"))
          .agg(topk(col("cos"), col("vid")).as("top"))
          .select(posexplode(col("top")))
          .select((col("pos") + 1).cast("long").as("rank_d"),
            col("col.id").as("doc_id"))
        // fusion: two 20-row lists, full outer on doc_id; a doc missing
        // from one list contributes 0 from that side
        sr.join(dr, Seq("doc_id"), "full_outer")
          .withColumn("rrf_nano", expr(
            "cast(round((coalesce(1.0 / (60 + cast(rank_s as double)), 0.0) + " +
              "coalesce(1.0 / (60 + cast(rank_d as double)), 0.0)) * 1e9) as bigint)"))
          .select(col("doc_id"), col("rank_s"), col("rank_d"), col("rrf_nano"))
          .orderBy(desc("rrf_nano"), col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        dd AS (SELECT doc_id, CAST(len(sp) AS BIGINT) AS dl, sp FROM d),
        g AS (SELECT CAST(SUM(dl) AS DOUBLE) AS sl, CAST(COUNT(*) AS DOUBLE) AS nd FROM dd),
        t AS (SELECT doc_id, dl, unnest(sp) AS tok FROM dd),
        tf AS (SELECT doc_id, dl, tok, CAST(COUNT(*) AS DOUBLE) AS tf
               FROM t WHERE tok IN ('join', 'scan', 'hash') GROUP BY doc_id, dl, tok),
        dfx AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
        parts AS (
          SELECT tf.doc_id,
            round(((g.nd - dfx.df + 0.5) / (dfx.df + 0.5)) * tf.tf * 2.2 /
              (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / (g.sl / g.nd))) * 1e6) AS part
          FROM tf JOIN dfx USING (tok) CROSS JOIN g),
        sparse AS (SELECT doc_id, SUM(part) AS score FROM parts GROUP BY doc_id),
        sr AS (SELECT doc_id, rank_s FROM (
          SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank_s
          FROM sparse) WHERE rank_s <= 20),
        norms AS (SELECT vec_id,
            list_sum(list_transform(embedding,
              x -> round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e9))) AS n2
          FROM embeddings),
        q0 AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        dots AS (SELECT c.vec_id AS vid,
            list_sum(list_transform(range(1, len(q.embedding) + 1),
              i -> round(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) * 1e9))) AS dot
          FROM embeddings c, q0 q WHERE c.vec_id <> 0),
        scored AS (SELECT vid, dot / sqrt(nq.n2 * nv.n2) AS cos
          FROM dots JOIN norms nq ON nq.vec_id = 0 JOIN norms nv ON nv.vec_id = vid),
        dr AS (SELECT vid AS doc_id, rank_d FROM (
          SELECT vid, ROW_NUMBER() OVER (ORDER BY cos DESC, vid) AS rank_d
          FROM scored) WHERE rank_d <= 20),
        f AS (SELECT COALESCE(sr.doc_id, dr.doc_id) AS doc_id, sr.rank_s, dr.rank_d
              FROM sr FULL OUTER JOIN dr ON sr.doc_id = dr.doc_id)
        SELECT doc_id, rank_s, rank_d,
          CAST(round((coalesce(1.0 / (60 + rank_s), 0.0) +
                      coalesce(1.0 / (60 + rank_d), 0.0)) * 1e9) AS BIGINT) AS rrf_nano
        FROM f ORDER BY rrf_nano DESC, doc_id"""),
      // fixture: the same q161 index seed — hybrid serving reuses it
      setup = Some((s, dir) => fts2SeedCorpus(s, ftsServe, dir))),

    // ---- q165: CHECKSUM TABLE — replica verification without data motion --
    // "Is the replica byte-for-byte the source?" answered by comparing ONE
    // row per side: CHECKSUM TABLE computes an order-independent content
    // digest (sum of per-row xxhash64 in decimal(38,0) — overflow-free,
    // partial-aggregation-order-free) over one distributed scan. The gate
    // holds the same logical rows in three physical disguises — the
    // source (unpartitioned copy-on-write), the replica (lang-partitioned
    // MERGE-ON-READ), and a tampered copy (one value off in one row) —
    // deletes the same slice from all three (a COW rewrite on one side,
    // MOR delete entries on the other), and must find source ≡ replica
    // but source ≠ tampered: the digest sees logical content through any
    // layout, clustering, or mutation history. At 100 TB this replaces a
    // cross-cluster row-level diff with two metadata-sized answers.
    QueryDef(
      "q165_checksum_replica",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        for (t <- Seq("cks_src", "cks_rep", "cks_tam"))
          s.sql(s"DELETE FROM $ns.$t WHERE doc_id % 9 = 4")
        def cks(t: String): (Long, java.math.BigDecimal) = {
          val r = s.sql(s"CHECKSUM TABLE $ns.$t").collect().head
          (r.getLong(0), r.getDecimal(1))
        }
        val (srcN, srcC) = cks("cks_src")
        val (repN, repC) = cks("cks_rep")
        val (tamN, tamC) = cks("cks_tam")
        s.range(1).select(
          lit(srcN).as("rows"),
          lit(repN == srcN && repC.compareTo(srcC) == 0).as("replica_equal"),
          lit(tamN == srcN && tamC.compareTo(srcC) == 0).as("tampered_equal"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS rows,
               true AS replica_equal, false AS tampered_equal
        FROM documents WHERE doc_id % 9 <> 4"""),
      // fixture: the same logical rows in three physical disguises
      setup = Some((s, dir) => {
        val ns = ensureCatalog(s, dir)
        for (t <- Seq("cks_src", "cks_rep", "cks_tam"))
          s.sql(s"DROP TABLE IF EXISTS $ns.$t")
        s.sql(
          s"""CREATE TABLE $ns.cks_src AS
             |SELECT CAST(doc_id AS STRING) AS row_key, doc_id, lang, n_chars
             |FROM parquet.`$dir/documents.parquet`""".stripMargin)
        s.sql(
          s"""CREATE TABLE $ns.cks_rep
             |PARTITIONED BY (lang)
             |TBLPROPERTIES ('${graft.sources.GraftDeletes.ModeProp}' =
             |  'merge-on-read')
             |AS SELECT CAST(doc_id AS STRING) AS row_key, doc_id, lang,
             |          n_chars
             |FROM parquet.`$dir/documents.parquet`""".stripMargin)
        s.sql(
          s"""CREATE TABLE $ns.cks_tam AS
             |SELECT CAST(doc_id AS STRING) AS row_key, doc_id, lang,
             |       n_chars + CASE WHEN doc_id % 101 = 7 THEN 1 ELSE 0 END
             |         AS n_chars
             |FROM parquet.`$dir/documents.parquet`""".stripMargin)
        ()
      })),

    // ---- q166: SHALLOW CLONE — zero-copy table branch ----------------------
    // `CREATE TABLE dst SHALLOW CLONE src` copies O(manifest) METADATA and
    // zero data: the clone's registry references the source snapshot's
    // files (`ext:` keys) and pins it with a vacuum-proof tag. The gate
    // clones the corpus table, then mutates BOTH sides differently (COW
    // DELETE on the clone, a different DELETE on the source) and reads
    // per-lang aggregates from each: full divergence from one shared set
    // of files. `files_copied` pins the zero-copy claim itself — the
    // number of data files in the clone's directory immediately after
    // the clone MUST be 0 (the oracle carries it as a literal). At
    // 100 TB this is the dev-branch / experiment-fork primitive:
    // branching the corpus costs a manifest write, not a copy.
    QueryDef(
      "q166_shallow_clone",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.sc_cl")
        s.sql(s"CREATE TABLE $ns.sc_cl SHALLOW CLONE $ns.sc_src")
        // zero-copy evidence, captured BEFORE the clone's own mutation
        // lands rewrite files in its directory (driver-side listing of
        // ONE directory — metadata-sized)
        val wh = s.conf.get("spark.sql.catalog.gcat.warehouse")
        val cloneData = new org.apache.hadoop.fs.Path(s"$wh/${ns.split('.')(1)}/sc_cl/data")
        val fs = cloneData.getFileSystem(new org.apache.hadoop.conf.Configuration())
        var filesCopied = 0L
        val it = fs.listFiles(cloneData, true)
        while (it.hasNext)
          if (it.next().getPath.getName.endsWith(".parquet")) filesCopied += 1
        // diverge: COW DELETE on the clone, a DIFFERENT delete on the
        // source — both read from the same original files
        s.sql(s"DELETE FROM $ns.sc_cl WHERE doc_id % 7 = 3")
        s.sql(s"DELETE FROM $ns.sc_src WHERE doc_id % 5 = 0")
        def agg(t: String, pfx: String): DataFrame =
          s.table(s"$ns.$t").groupBy(col("lang"))
            .agg(count(lit(1)).cast("long").as(s"${pfx}_n"),
              sum(col("n_chars")).cast("long").as(s"${pfx}_chars"))
        agg("sc_cl", "clone").join(agg("sc_src", "src"), Seq("lang"))
          .withColumn("files_copied", lit(filesCopied))
          .orderBy(col("lang"))
      },
      Some("""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS clone_n,
                     CAST(sum(n_chars) AS BIGINT) AS clone_chars
              FROM documents WHERE doc_id % 7 <> 3 GROUP BY lang),
           s AS (SELECT lang, CAST(count(*) AS BIGINT) AS src_n,
                     CAST(sum(n_chars) AS BIGINT) AS src_chars
              FROM documents WHERE doc_id % 5 <> 0 GROUP BY lang)
        SELECT c.lang, clone_n, clone_chars, src_n, src_chars,
               CAST(0 AS BIGINT) AS files_copied
        FROM c JOIN s USING (lang) ORDER BY lang"""),
      // fixture: a fresh source each run — the measured statement clones
      // the PRISTINE corpus table, so the gate is idempotent
      setup = Some((s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.sc_cl")
        s.sql(s"DROP TABLE IF EXISTS $ns.sc_src")
        s.sql(
          s"""CREATE TABLE $ns.sc_src AS
             |SELECT CAST(doc_id AS STRING) AS row_key, doc_id, lang, n_chars
             |FROM parquet.`$dir/documents.parquet`""".stripMargin)
        ()
      })),

    // ---- q167: replica DIFF + targeted repair via grouped checksums -------
    // `CHECKSUM TABLE t GROUP BY lang` returns ONE digest row per group —
    // so "which part of the replica diverged?" costs two |groups|-row
    // frames instead of a cross-cluster row diff. The gate's replica
    // carries a corruption in exactly one lang; the measured run compares
    // grouped digests (driver-side, metadata-sized), repairs ONLY the
    // diverged group — a METADATA-ONLY partition DELETE on the
    // lang-partitioned replica + one partition-PRUNED insert from the
    // source — and re-verifies whole-table digests. n_diverged and the
    // final equality are pinned: repairing too much, too little, or not
    // converging all fail. At 100 TB: diff = 2 scans summarized to
    // |partitions| rows, repair = one partition's bytes, verify = 2 rows.
    QueryDef(
      "q167_replica_repair",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        def grouped(t: String): Map[String, (Long, java.math.BigDecimal)] =
          s.sql(s"CHECKSUM TABLE $ns.$t GROUP BY lang").collect()
            .map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2))).toMap
        val (src, rep) = (grouped("rr_src"), grouped("rr_rep"))
        val diverged = (src.keySet ++ rep.keySet)
          .filter(l => src.get(l) != rep.get(l)).toSeq.sorted
        for (l0 <- diverged) {
          val l = l0.replace("'", "''") // group values come from table data
          s.sql(s"DELETE FROM $ns.rr_rep WHERE lang = '$l'")
          s.sql(s"INSERT INTO $ns.rr_rep SELECT * FROM $ns.rr_src WHERE lang = '$l'")
        }
        def whole(t: String): (Long, java.math.BigDecimal) = {
          val r = s.sql(s"CHECKSUM TABLE $ns.$t").collect().head
          (r.getLong(0), r.getDecimal(1))
        }
        val (sw, rw) = (whole("rr_src"), whole("rr_rep"))
        s.table(s"$ns.rr_rep").groupBy(col("lang"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("n_chars")).cast("long").as("chars"))
          .withColumn("n_diverged", lit(diverged.size.toLong))
          .withColumn("repaired_equal",
            lit(sw._1 == rw._1 && sw._2.compareTo(rw._2) == 0))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_chars) AS BIGINT) AS chars,
               CAST(1 AS BIGINT) AS n_diverged, true AS repaired_equal
        FROM documents GROUP BY lang ORDER BY lang"""),
      // fixture: source = the corpus, lang-partitioned; replica = the
      // same rows except a one-lang corruption (n_chars off by one on a
      // doc_id slice of 'en' only)
      setup = Some((s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.rr_src")
        s.sql(s"DROP TABLE IF EXISTS $ns.rr_rep")
        s.sql(
          s"""CREATE TABLE $ns.rr_src
             |PARTITIONED BY (lang) AS
             |SELECT CAST(doc_id AS STRING) AS row_key, doc_id, n_chars, lang
             |FROM parquet.`$dir/documents.parquet`""".stripMargin)
        s.sql(
          s"""CREATE TABLE $ns.rr_rep
             |PARTITIONED BY (lang) AS
             |SELECT CAST(doc_id AS STRING) AS row_key, doc_id,
             |       n_chars + CASE WHEN lang = 'en' AND doc_id % 13 = 5
             |                      THEN 1 ELSE 0 END AS n_chars, lang
             |FROM parquet.`$dir/documents.parquet`""".stripMargin)
        ()
      })),

    // ---- q168: STREAM-STREAM interval join (clicks × purchases) -----------
    // Spark's native two-stream watermarked join — no custom state:
    // purchases attribute to any click by the same user in the preceding
    // hour. INNER join pairs emit eagerly; the watermark exists to bound
    // the join STATE (a click evicts once no future purchase can match
    // it), which is what lets the query run unbounded at 100 TB/day. The
    // oracle replays the identical interval join relationally — the
    // streaming and batch answers must agree row-for-row.
    QueryDef(
      "q168_stream_stream_join",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        val stream = s.readStream.table(s"$ns.evt_ss")
        def side(t: String) = stream.where(col("event_type") === t)
          .select(col("event_id"), col("user_id"), col("ts_ns").as("ts"))
        val joined = graft.streaming.EventStreams.clickPurchaseJoin(
          side("click"), side("purchase"))
        val qn = s"q168_pairs_${System.nanoTime()}"
        val ckpt = java.nio.file.Files.createTempDirectory("q168_ckpt").toString
        // state partitions ∝ the SOURCE's planned bytes (clamped to the
        // session setting): the two-sided join materializes 2 state
        // stores per partition and commits each per micro-batch, so
        // sizing them for batch parallelism charges cores × batches of
        // empty-store commits on a replay this size — while the 100 TB
        // stream keeps the deployment's full parallelism via the clamp
        // (results are partition-count invariant; the oracle pins them)
        val nState = graft.streaming.EventStreams.statePartitions(
          s, s.table(s"$ns.evt_ss"))
        graft.streaming.EventStreams.withStatePartitions(s, nState) {
          joined.writeStream.format("memory").queryName(qn)
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start().awaitTermination()
        }
        s.table(qn).groupBy(col("user_id"))
          .agg(count(lit(1)).cast("long").as("n_pairs"),
            sum(col("lat_us")).cast("long").as("lat_us_sum"))
          .orderBy(col("user_id"))
      },
      // the comparison happens at MICROSECOND precision on both sides:
      // the Spark side floors each event's epoch-nanos to µs
      // (timestamp_micros(ts div 1000), [[EventStreams.clickPurchaseJoin]])
      // before joining, so the oracle must floor per-event too — at raw
      // ns a boundary pair's membership and the lat_us sum would diverge
      // whenever the corpus' timestamps are not µs-aligned
      Some("""WITH c AS (SELECT event_id AS cid, user_id, epoch_ns(ts) // 1000 AS tc
                 FROM events WHERE event_type = 'click'),
             p AS (SELECT event_id AS pid, user_id, epoch_ns(ts) // 1000 AS tp
                 FROM events WHERE event_type = 'purchase'),
             j AS (SELECT c.user_id AS u, tp - tc AS lat
                 FROM c JOIN p ON p.user_id = c.user_id
                   AND tp >= tc AND tp <= tc + 3600000000)
        SELECT u AS user_id, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(lat) AS BIGINT) AS lat_us_sum
        FROM j GROUP BY u ORDER BY user_id"""),
      // fixture: the events corpus as a graft table (epoch-nanos ts) —
      // the streaming source reads its registered files
      setup = Some((s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.evt_ss")
        graft.Tables(s, dir).events
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("ts_ns"))
          .writeTo(s"$ns.evt_ss").create()
        ()
      })),

    // ---- q169: MERGE WITH SCHEMA EVOLUTION --------------------------------
    // The upsert that GROWS the schema: a source batch carrying a column
    // the target never declared (a new quality score) merges in ONE
    // statement — Spark's ResolveMergeIntoSchemaEvolution derives the
    // AddColumn from the source schema (gated on the table advertising
    // AUTOMATIC_SCHEMA_EVOLUTION + the explicit syntax; plain MERGE is
    // untouched) and applies it through the catalog's metadata-only
    // evolution BEFORE the merge: no file rewrite, pre-existing rows
    // read NULL, the row-level MERGE then rewrites only matched groups.
    // At 100 TB "the upstream added a field" costs one ALTER + the
    // merge's own delta — never a table rewrite.
    QueryDef(
      "q169_merge_schema_evolution",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(
          s"""MERGE WITH SCHEMA EVOLUTION INTO $ns.mse_tgt t
             |USING $ns.mse_src s ON t.row_key = s.row_key
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        s.table(s"$ns.mse_tgt").groupBy(col("lang"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("n_chars")).cast("long").as("chars"),
            count(col("quality")).cast("long").as("q_n"),
            coalesce(sum(col("quality")), lit(0L)).cast("long").as("q_sum"))
          .orderBy(col("lang"))
      },
      Some("""WITH t0 AS (SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 0),
           s AS (SELECT doc_id, lang, n_chars, n_chars % 97 AS quality
                 FROM documents WHERE doc_id % 3 = 0),
           m AS (SELECT doc_id, lang, n_chars, quality FROM s
                 UNION ALL
                 SELECT doc_id, lang, n_chars, NULL AS quality FROM t0
                 WHERE doc_id NOT IN (SELECT doc_id FROM s))
        SELECT lang, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_chars) AS BIGINT) AS chars,
               CAST(count(quality) AS BIGINT) AS q_n,
               CAST(coalesce(sum(quality), 0) AS BIGINT) AS q_sum
        FROM m GROUP BY lang ORDER BY lang"""),
      // fixture: target without the column, source with it
      setup = Some((s, dir) => {
        val ns = ensureCatalog(s, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns.mse_tgt")
        s.sql(s"DROP TABLE IF EXISTS $ns.mse_src")
        s.sql(
          s"""CREATE TABLE $ns.mse_tgt AS
             |SELECT CAST(doc_id AS STRING) AS row_key, doc_id, lang, n_chars
             |FROM parquet.`$dir/documents.parquet` WHERE doc_id % 2 = 0""".stripMargin)
        s.sql(
          s"""CREATE TABLE $ns.mse_src AS
             |SELECT CAST(doc_id AS STRING) AS row_key, doc_id, lang, n_chars,
             |       n_chars % 97 AS quality
             |FROM parquet.`$dir/documents.parquet` WHERE doc_id % 3 = 0""".stripMargin)
        ()
      })),

    // ---- q170: INCREMENTAL full-text index maintenance --------------------
    // q161/q162 build their index once; production keeps it CURRENT
    // without a rebuild — the q154 discipline applied to sparse
    // retrieval. New documents land in the ingest table; maintenance
    //  (a) reads ONLY the new commit's rows via the verified incremental
    //      snapshot scan (never the already-indexed corpus),
    //  (b) tokenizes just the delta and appends its tf rows / position
    //      rows / additive (nd, sl) constants — per-(tok, doc) rows are
    //      disjoint across batches and df is derived from the postings
    //      at serve time, so build(seed)+fold(delta) is row-identical to
    //      build(seed+delta), which is exactly what the oracle replays
    //      from the raw corpus, and
    //  (c) advances all FOUR index tables in ONE q159 transaction, so a
    //      crash anywhere leaves the previous consistent index — never
    //      postings without the constants that scale their idf.
    // The measured run ingests the delta, folds it, then serves a
    // 3-term BM25 top-20 and a phrase count from the EXTENDED index;
    // the output also carries the corpus constants, proving every index
    // table advanced. At 100 TB a 0.1% daily append costs O(delta
    // tokens), not a corpus re-tokenize — the gap this closes vs the
    // build-once q161.
    QueryDef(
      "q170_fts_incremental",
      (s, dir) => {
        val ns = ensureCatalog(s, dir)
        // high-water mark: last ingest version the index covers
        val v1 = s.table(s"$ns.fts2_meta")
          .agg(max(col("indexed_version"))).first().getLong(0)
        // delta ingest (the docs the seed build excluded) + maintenance:
        // ONLY commits in (watermark, head] are read and folded — BOTH
        // ends pinned (the repo's incremental-maintenance discipline,
        // DerivedMaintain/MvMaintain), so a commit racing the fold can
        // neither be half-seen across the fold's three evaluations nor
        // double-indexed by the next fold: rows past v2 stay for the
        // next watermark interval
        s.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), col("text"))
          .writeTo(s"$ns.fts2_src").append()
        val v2 = fts2SrcVersion(s, ns)
        val delta = s.read.option("since-version", v1)
          .option("snapshot-version", v2).table(s"$ns.fts2_src")
        fts2Fold(s, ns, delta, v2)

        // serve from the EXTENDED index: q161's BM25 shape with the
        // corpus constants summed over the additive constants log, plus
        // q162's phrase join — through the shared maintained-serve
        // helper (the tombstone filter is a no-op here: nothing deleted)
        fts2ServeAll(s, ns, Seq("sort", "merge", "stream"), "hash", "join")
      },
      // extend ≡ rebuild: the oracle replays the WHOLE index (seed +
      // delta = the full corpus) from the raw documents
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        dd AS (SELECT doc_id, CAST(len(sp) AS BIGINT) AS dl, sp FROM d),
        g AS (SELECT CAST(SUM(dl) AS DOUBLE) AS sl, CAST(COUNT(*) AS DOUBLE) AS nd FROM dd),
        t AS (SELECT doc_id, dl, unnest(sp) AS tok FROM dd),
        tf AS (SELECT doc_id, dl, tok, CAST(COUNT(*) AS DOUBLE) AS tf
               FROM t WHERE tok IN ('sort', 'merge', 'stream') GROUP BY doc_id, dl, tok),
        dfx AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
        parts AS (
          SELECT tf.doc_id,
            round(((g.nd - dfx.df + 0.5) / (dfx.df + 0.5)) * tf.tf * 2.2 /
              (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / (g.sl / g.nd))) * 1e6) AS part
          FROM tf JOIN dfx USING (tok) CROSS JOIN g),
        scores AS (SELECT doc_id, CAST(SUM(part) AS BIGINT) AS score_micro
          FROM parts GROUP BY doc_id
          ORDER BY score_micro DESC, doc_id LIMIT 20),
        u AS (SELECT doc_id, unnest(list_transform(range(1, len(sp) + 1),
                i -> struct_pack(pos := i, tok := sp[i]))) AS u FROM d),
        p AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM u),
        ph AS (SELECT CAST(count(*) AS BIGINT) AS n_phrase
          FROM p p1 JOIN p p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
          WHERE p1.tok = 'hash' AND p2.tok = 'join'),
        gl AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(dl) AS BIGINT) AS sl FROM dd)
        SELECT s.doc_id, s.score_micro, gl.nd, gl.sl, ph.n_phrase
        FROM scores s CROSS JOIN gl CROSS JOIN ph
        ORDER BY score_micro DESC, doc_id"""),
      // fixture: ingest the SEED slice and build the seed index through
      // the SAME fold routine the measured run extends with (one code
      // path; since-version 0 = everything committed so far)
      setup = Some((s, dir) => {
        val ns = ensureCatalog(s, dir)
        fts2Create(s, ns)
        s.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 5 =!= 0)
          .select(col("doc_id"), col("text"))
          .writeTo(s"$ns.fts2_src").append()
        val v1 = fts2SrcVersion(s, ns)
        val seed = s.read.option("since-version", 0L)
          .option("snapshot-version", v1).table(s"$ns.fts2_src")
        fts2Fold(s, ns, seed, v1)
        ()
      })),

    // ---- q171: FTS index maintenance across row MUTATIONS (cdc) ----------
    // q170 keeps the index current under APPENDS; production corpora also
    // DELETE (takedowns, GDPR) and UPDATE (re-crawls). The fold reads the
    // commit-recorded change feed for (watermark, head] — the same
    // preimage discipline the MV engine uses (q155/q156) — and applies
    // MERGE-ON-READ semantics to the index itself: preimages become
    // (doc_id, rev) TOMBSTONES plus a NEGATIVE row in the additive
    // (nd, sl) constants log (dl recomputed from the preimage text the
    // feed carries); postimages re-index at the same rev, which the
    // survival rule (posting lives iff rev >= tombstone rev) does not
    // kill. The token-clustered postings are NEVER read or rewritten —
    // a delete/update batch costs O(batch tokens) at any index size;
    // serve filters the RETRIEVED postings against ONE registry-sized
    // tombstone aggregate (the compaction debt q173 pays off; the serve
    // degrades broadcast → shuffle if it ever outgrows the ceiling).
    // All five writes land in one q159 transaction. The oracle replays
    // BM25 +
    // phrase + constants from the post-mutation corpus — served scores
    // must be as if the index were rebuilt from scratch.
    QueryDef(
      "q171_fts_mutations",
      (s, _) => {
        val ns2 = "gcat.fts3"
        val v1 = s.table(s"$ns2.fts2_meta")
          .agg(max(col("indexed_version"))).first().getLong(0)
        // the mutation batch: a takedown slice + a re-crawl slice (the
        // update is self-guarding, so a re-run mutates nothing and the
        // feed interval is empty — fold is a no-op, serve unchanged)
        s.sql(s"DELETE FROM $ns2.fts2_src WHERE doc_id % 9 = 4")
        s.sql(
          s"""UPDATE $ns2.fts2_src
             |SET text = concat(text, ' recrawled')
             |WHERE doc_id % 9 = 5 AND text NOT LIKE '%recrawled'""".stripMargin)
        val v2 = fts2SrcVersion(s, ns2)
        val cat = s.sessionState.catalogManager.catalog("gcat")
          .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
            .of(Array("fts3"), "fts2_src")).asInstanceOf[graft.sources.GraftTable]
        val feed = graft.sources.Snapshots.changes(s, tbl,
          since = v1, end = Some(v2))
        fts2FoldFeed(s, ns2, s"$ns2.fts2_src", feed, v1, v2)
        // serve from the maintained index: 'recrawled' only exists in
        // updated docs — scoring it proves updates re-indexed; the
        // constants prove the tombstoned docs left nd/sl
        fts2ServeAll(s, ns2, Seq("scan", "merge", "recrawled"), "hash", "join")
      },
      // the oracle rebuilds the index from the POST-MUTATION corpus
      Some("""WITH corp AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 9 = 5 THEN text || ' recrawled'
                      ELSE text END AS text
          FROM documents WHERE doc_id % 9 <> 4),
        d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM corp),
        dd AS (SELECT doc_id, CAST(len(sp) AS BIGINT) AS dl, sp FROM d),
        g AS (SELECT CAST(SUM(dl) AS DOUBLE) AS sl, CAST(COUNT(*) AS DOUBLE) AS nd FROM dd),
        t AS (SELECT doc_id, dl, unnest(sp) AS tok FROM dd),
        tf AS (SELECT doc_id, dl, tok, CAST(COUNT(*) AS DOUBLE) AS tf
               FROM t WHERE tok IN ('scan', 'merge', 'recrawled') GROUP BY doc_id, dl, tok),
        dfx AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
        parts AS (
          SELECT tf.doc_id,
            round(((g.nd - dfx.df + 0.5) / (dfx.df + 0.5)) * tf.tf * 2.2 /
              (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / (g.sl / g.nd))) * 1e6) AS part
          FROM tf JOIN dfx USING (tok) CROSS JOIN g),
        scores AS (SELECT doc_id, CAST(SUM(part) AS BIGINT) AS score_micro
          FROM parts GROUP BY doc_id
          ORDER BY score_micro DESC, doc_id LIMIT 20),
        u AS (SELECT doc_id, unnest(list_transform(range(1, len(sp) + 1),
                i -> struct_pack(pos := i, tok := sp[i]))) AS u FROM d),
        p AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM u),
        ph AS (SELECT CAST(count(*) AS BIGINT) AS n_phrase
          FROM p p1 JOIN p p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
          WHERE p1.tok = 'hash' AND p2.tok = 'join'),
        gl AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(dl) AS BIGINT) AS sl FROM dd)
        SELECT s.doc_id, s.score_micro, gl.nd, gl.sl, ph.n_phrase
        FROM scores s CROSS JOIN gl CROSS JOIN ph
        ORDER BY score_micro DESC, doc_id"""),
      // fixture: its OWN namespace (gates stay independent of q170),
      // row-keyed ingest table (row-level DELETE/UPDATE need it), the
      // WHOLE corpus seeded and indexed through the shared fold
      setup = Some((s, dir) => fts2SeedCorpus(s, "gcat.fts3", dir))),

    // ---- q173: index tombstone COMPACTION ----------------------------------
    // q171/q172's mutation folds deliberately never touch the existing
    // postings — their debt is a tombstone set that grows O(deleted docs)
    // and a ± constants log that grows O(folds), both living rent-free in
    // every serve's survival join. fts2Compact is the index-side OPTIMIZE
    // that pays it off: rewrite the SURVIVING postings/positions
    // (rev-filtered by exactly the serve's survival rule, token
    // re-clustered at a size-derived shard count), truncate the tombstone
    // table, and collapse the constants log to one row — four staged
    // REPLACES in ONE q159 transaction, ordered so a crash mid-publish
    // leaves a prefix that serves identically (tombstones can only empty
    // AFTER both rewrites are live). The measured run compacts, then
    // serves BM25 + phrase + constants from the compacted index WITH
    // PROOF COLUMNS: n_tomb (pinned 0 — the tombstone table emptied) and
    // glob_rows (pinned 1 — the log collapsed); the zero-tombstone serve
    // also plans NO survival join at all (FtsSpec pins the plan). The
    // oracle replays the post-mutation corpus from scratch:
    // serve(compacted) ≡ serve(maintained) ≡ rebuild. A re-run finds no
    // debt and compacts nothing — the serve is unchanged. At 100 TB this
    // is the periodic job that keeps churn from ever growing the
    // survival join past its broadcast budget.
    QueryDef(
      "q173_fts_index_compaction",
      (s, dir) => {
        ensureCatalog(s, dir)
        val ns2 = "gcat.fts5"
        fts2Compact(s, ns2)
        val tombs = s.table(s"$ns2.fts2_del")
          .agg(count(lit(1)).cast("long").as("n_tomb"))
        val globRows = s.table(s"$ns2.fts2_glob")
          .agg(count(lit(1)).cast("long").as("glob_rows"))
        fts2ServeAll(s, ns2, Seq("scan", "merge", "refreshed"), "hash", "join")
          .crossJoin(broadcast(tombs))
          .crossJoin(broadcast(globRows))
          .orderBy(desc("score_micro"), col("doc_id"))
      },
      // the oracle rebuilds the index from the POST-MUTATION corpus and
      // pins the physical proof columns as literals
      Some("""WITH corp AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 11 = 4 THEN text || ' refreshed'
                      ELSE text END AS text
          FROM documents WHERE doc_id % 11 <> 3),
        d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM corp),
        dd AS (SELECT doc_id, CAST(len(sp) AS BIGINT) AS dl, sp FROM d),
        g AS (SELECT CAST(SUM(dl) AS DOUBLE) AS sl, CAST(COUNT(*) AS DOUBLE) AS nd FROM dd),
        t AS (SELECT doc_id, dl, unnest(sp) AS tok FROM dd),
        tf AS (SELECT doc_id, dl, tok, CAST(COUNT(*) AS DOUBLE) AS tf
               FROM t WHERE tok IN ('scan', 'merge', 'refreshed') GROUP BY doc_id, dl, tok),
        dfx AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
        parts AS (
          SELECT tf.doc_id,
            round(((g.nd - dfx.df + 0.5) / (dfx.df + 0.5)) * tf.tf * 2.2 /
              (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / (g.sl / g.nd))) * 1e6) AS part
          FROM tf JOIN dfx USING (tok) CROSS JOIN g),
        scores AS (SELECT doc_id, CAST(SUM(part) AS BIGINT) AS score_micro
          FROM parts GROUP BY doc_id
          ORDER BY score_micro DESC, doc_id LIMIT 20),
        u AS (SELECT doc_id, unnest(list_transform(range(1, len(sp) + 1),
                i -> struct_pack(pos := i, tok := sp[i]))) AS u FROM d),
        p AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM u),
        ph AS (SELECT CAST(count(*) AS BIGINT) AS n_phrase
          FROM p p1 JOIN p p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
          WHERE p1.tok = 'hash' AND p2.tok = 'join'),
        gl AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(dl) AS BIGINT) AS sl FROM dd)
        SELECT s.doc_id, s.score_micro, gl.nd, gl.sl, ph.n_phrase,
               CAST(0 AS BIGINT) AS n_tomb, CAST(1 AS BIGINT) AS glob_rows
        FROM scores s CROSS JOIN gl CROSS JOIN ph
        ORDER BY score_micro DESC, doc_id"""),
      // fixture: own namespace; seed the WHOLE corpus through the shared
      // fold, then a takedown + re-crawl interval folded as mutations —
      // the measured run starts with real compaction debt
      setup = Some((s, dir) => {
        val ns2 = "gcat.fts5"
        val v1 = fts2SeedCorpus(s, ns2, dir)
        s.sql(s"DELETE FROM $ns2.fts2_src WHERE doc_id % 11 = 3")
        s.sql(
          s"""UPDATE $ns2.fts2_src SET text = concat(text, ' refreshed')
             |WHERE doc_id % 11 = 4 AND text NOT LIKE '%refreshed'""".stripMargin)
        val v2 = fts2SrcVersion(s, ns2)
        val cat = s.sessionState.catalogManager.catalog("gcat")
          .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
            .of(Array("fts5"), "fts2_src")).asInstanceOf[graft.sources.GraftTable]
        fts2FoldFeed(s, ns2, s"$ns2.fts2_src",
          graft.sources.Snapshots.changes(s, tbl, since = v1, end = Some(v2)),
          v1, v2)
        ()
      })),

    // ---- q174: STREAMING index maintenance (no manual folds) ---------------
    // q170/q171 verify the fold routines; production doesn't CALL them —
    // a maintainer does. IndexMaintain tails the ingest table's change
    // feed (the MvMaintain discipline: the stream is only a commit
    // notification) and per micro-batch drives the verified folds over
    // `(watermark, head]`, both ends pinned: an insert-only interval
    // takes the cheap incremental-scan fold (no tombstone debt from mere
    // appends), an interval with deletes/updates takes the
    // endpoint-state feed fold. Exactly-once comes from the folds
    // themselves (watermark advances IN the index transaction), so a
    // replayed or restarted drain no-ops. The measured run lands THREE
    // interleaved source commits — an insert batch, a takedown, a
    // re-crawl — starts the maintainer with a FRESH checkpoint, drains,
    // and serves BM25 + phrase + constants from the maintained index;
    // the oracle rebuilds from the post-mutation corpus. At 100 TB this
    // is the always-on job that keeps retrieval fresh against a 24/7
    // ingest with per-trigger O(batch) cost.
    QueryDef(
      "q174_fts_streaming_maintenance",
      (s, dir) => {
        ensureCatalog(s, dir)
        val ns2 = "gcat.fts6"
        // three source commits, NO fold calls anywhere in this run. All
        // three are self-guarded so a re-run mutates nothing and the
        // maintainer's drain is a no-op (watermark == head).
        val have = s.table(s"$ns2.fts2_src").select(col("doc_id"))
        val newDocs = s.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 3 === 1)
          .select(col("doc_id"), col("text"))
          .join(have, Seq("doc_id"), "left_anti")
          .select(col("doc_id").cast("string").as("row_key"),
            col("doc_id"), col("text"))
        if (!newDocs.isEmpty) newDocs.writeTo(s"$ns2.fts2_src").append()
        // the takedown slice is DISJOINT from the insert slice (% 3 = 0
        // vs % 3 = 1): a deletion overlapping the inserts would make the
        // anti-join guard re-insert the deleted docs on every re-run —
        // an insert/delete oscillation that never reaches the idle state
        s.sql(s"DELETE FROM $ns2.fts2_src WHERE doc_id % 7 = 2 AND doc_id % 3 = 0")
        s.sql(
          s"""UPDATE $ns2.fts2_src SET text = concat(text, ' restreamed')
             |WHERE doc_id % 7 = 5 AND text NOT LIKE '%restreamed'""".stripMargin)
        // a re-run's mutations are all guarded no-ops: when the source
        // head hasn't moved past the watermark there is nothing to
        // drain, and the gate skips the streaming startup the way
        // q171/q172's re-run folds degenerate to watermark advances (a
        // production maintainer is LONG-RUNNING — it pays startup once,
        // not per trigger)
        val head = fts2SrcVersion(s, ns2)
        val wm = s.table(s"$ns2.fts2_meta")
          .agg(max(col("indexed_version"))).first().getLong(0)
        if (head > wm) {
          val ckpt = java.nio.file.Files.createTempDirectory("q174_ckpt").toString
          graft.streaming.IndexMaintain.start(
            s, s"$ns2.fts2_src", s"$ns2.fts2_meta", ckpt,
            s.conf.get("spark.sql.catalog.gcat.warehouse"),
            foldAppend = (delta, v1, v2) =>
              fts2Fold(s, ns2, delta.select(col("doc_id"), col("text")), v2,
                expect = Some(v1)),
            foldFeed = (feed, v1, v2) =>
              fts2FoldFeed(s, ns2, s"$ns2.fts2_src", feed, v1, v2,
                expect = Some(v1)))
            .awaitTermination()
        }
        fts2ServeAll(s, ns2, Seq("scan", "merge", "restreamed"), "hash", "join")
      },
      // the oracle rebuilds from the corpus as the maintainer left it:
      // seed slice (%3=0) + streamed inserts (%3=1), minus the takedown
      // (%7=2), with the re-crawl suffix on %7=5
      Some("""WITH corp AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 5 THEN text || ' restreamed'
                      ELSE text END AS text
          FROM documents WHERE doc_id % 3 IN (0, 1)
            AND NOT (doc_id % 7 = 2 AND doc_id % 3 = 0)),
        d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM corp),
        dd AS (SELECT doc_id, CAST(len(sp) AS BIGINT) AS dl, sp FROM d),
        g AS (SELECT CAST(SUM(dl) AS DOUBLE) AS sl, CAST(COUNT(*) AS DOUBLE) AS nd FROM dd),
        t AS (SELECT doc_id, dl, unnest(sp) AS tok FROM dd),
        tf AS (SELECT doc_id, dl, tok, CAST(COUNT(*) AS DOUBLE) AS tf
               FROM t WHERE tok IN ('scan', 'merge', 'restreamed') GROUP BY doc_id, dl, tok),
        dfx AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
        parts AS (
          SELECT tf.doc_id,
            round(((g.nd - dfx.df + 0.5) / (dfx.df + 0.5)) * tf.tf * 2.2 /
              (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / (g.sl / g.nd))) * 1e6) AS part
          FROM tf JOIN dfx USING (tok) CROSS JOIN g),
        scores AS (SELECT doc_id, CAST(SUM(part) AS BIGINT) AS score_micro
          FROM parts GROUP BY doc_id
          ORDER BY score_micro DESC, doc_id LIMIT 20),
        u AS (SELECT doc_id, unnest(list_transform(range(1, len(sp) + 1),
                i -> struct_pack(pos := i, tok := sp[i]))) AS u FROM d),
        p AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM u),
        ph AS (SELECT CAST(count(*) AS BIGINT) AS n_phrase
          FROM p p1 JOIN p p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
          WHERE p1.tok = 'hash' AND p2.tok = 'join'),
        gl AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(dl) AS BIGINT) AS sl FROM dd)
        SELECT s.doc_id, s.score_micro, gl.nd, gl.sl, ph.n_phrase
        FROM scores s CROSS JOIN gl CROSS JOIN ph
        ORDER BY score_micro DESC, doc_id"""),
      // fixture: own namespace, the SEED slice (%3=0) indexed through the
      // shared fold — the measured run is exactly the maintained lifecycle
      setup = Some((s, dir) => {
        ensureCatalog(s, dir)
        val ns2 = "gcat.fts6"
        s.sql("CREATE NAMESPACE IF NOT EXISTS gcat.fts6")
        fts2Create(s, ns2, withRowKey = true)
        s.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 3 === 0)
          .select(col("doc_id").cast("string").as("row_key"),
            col("doc_id"), col("text"))
          .writeTo(s"$ns2.fts2_src").append()
        val v1 = fts2SrcVersion(s, ns2)
        fts2Fold(s, ns2,
          s.read.option("since-version", 0L).option("snapshot-version", v1)
            .table(s"$ns2.fts2_src").select(col("doc_id"), col("text")), v1)
        ()
      })),

    // ---- q176: BATCHED keyword serving — N queries, one shared scan --------
    // Production retrieval rarely serves one query at a time: a training
    // run scores thousands of probes, an eval sweep replays a query log.
    // Serving them individually repeats the scan per query; the batched
    // shape answers ALL of them from one SHARED pruned read:
    //  - the union of every query's terms pushes as a single IN-list
    //    into the token-clustered scan (the pruned postings are read
    //    twice — df aggregate + score join, like q161 — but the cost is
    //    O(distinct terms' postings) and INDEPENDENT of the query
    //    count);
    //  - per-term document frequency is computed ONCE and shared by
    //    every query that uses the term;
    //  - the (qid, tok) pairs broadcast onto the postings (query sets
    //    are KB-sized), per-(qid, doc) BM25 sums aggregate in one
    //    shuffle, and the per-query top-5 cut uses the map-side-
    //    combining TopKAgg — no global window, no reducer ever sees
    //    more than one query's candidates.
    // The oracle replays every query relationally from the raw corpus;
    // ranks must agree query-for-query. At 100 TB this is why a query
    // LOG costs barely more than its most expensive member.
    QueryDef(
      "q176_fts_batch_serve",
      (s, _) => {
        import s.implicits._
        val queries = Seq(
          0L -> Seq("join", "scan", "hash"),
          1L -> Seq("sort", "merge"),
          2L -> Seq("stream", "filter", "scan"))
        val qdf = queries.flatMap { case (q, ts) => ts.map(q -> _) }
          .toDF("qid", "tok")
        val allTerms = queries.flatMap(_._2).distinct
        // ONE IN-pruned pass over the postings; df shared across queries
        val post = s.table(s"$ftsServe.fts2_post").where(col("tok").isin(allTerms: _*))
        val dfx = post.groupBy(col("tok"))
          .agg(count(lit(1)).cast("double").as("df"))
        val glob = bm25Consts(s.table(s"$ftsServe.fts2_glob"))
        val topk = udaf(graft.functions.TopKAgg(5),
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[graft.functions.TopKIn]())
        post.join(broadcast(dfx), "tok")
          .join(broadcast(qdf), "tok")
          .crossJoin(broadcast(glob))
          .withColumn("part", expr(bm25Part))
          .groupBy(col("qid"), col("doc_id"))
          .agg(sum(col("part")).as("score"))
          .groupBy(col("qid"))
          .agg(topk(col("score"), col("doc_id")).as("top"))
          .select(col("qid"), posexplode(col("top")))
          .select(col("qid"), (col("pos") + 1).cast("long").as("rank"),
            col("col.id").as("doc_id"),
            col("col.score").cast("long").as("score_micro"))
          .orderBy(col("qid"), col("rank"))
      },
      Some("""WITH q AS (SELECT * FROM (VALUES
            (0, 'join'), (0, 'scan'), (0, 'hash'),
            (1, 'sort'), (1, 'merge'),
            (2, 'stream'), (2, 'filter'), (2, 'scan')) AS t(qid, tok)),
        d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        dd AS (SELECT doc_id, CAST(len(sp) AS BIGINT) AS dl, sp FROM d),
        g AS (SELECT CAST(SUM(dl) AS DOUBLE) AS sl, CAST(COUNT(*) AS DOUBLE) AS nd FROM dd),
        t AS (SELECT doc_id, dl, unnest(sp) AS tok FROM dd),
        tf AS (SELECT doc_id, dl, tok, CAST(COUNT(*) AS DOUBLE) AS tf
               FROM t WHERE tok IN (SELECT DISTINCT tok FROM q)
               GROUP BY doc_id, dl, tok),
        dfx AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
        parts AS (
          SELECT q.qid, tf.doc_id,
            round(((g.nd - dfx.df + 0.5) / (dfx.df + 0.5)) * tf.tf * 2.2 /
              (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / (g.sl / g.nd))) * 1e6) AS part
          FROM tf JOIN dfx USING (tok) JOIN q USING (tok) CROSS JOIN g),
        scored AS (SELECT qid, doc_id, SUM(part) AS score
          FROM parts GROUP BY qid, doc_id)
        SELECT CAST(qid AS BIGINT) AS qid, rank, doc_id,
               CAST(score AS BIGINT) AS score_micro
        FROM (SELECT qid, doc_id, score,
                ROW_NUMBER() OVER (PARTITION BY qid
                  ORDER BY score DESC, doc_id) AS rank
              FROM scored)
        WHERE rank <= 5 ORDER BY qid, rank"""),
      // fixture: the same q161 index seed — batched serving reuses it
      setup = Some((s, dir) => fts2SeedCorpus(s, ftsServe, dir))),

    // ---- q177: PROXIMITY search over the positional index ------------------
    // The SpanNear operator: "hash NEAR/3 join" — the two terms within 3
    // token positions of each other, either order. Phrase search (q162)
    // is the degenerate window; proximity is what query languages
    // actually expose (quoted-phrase-with-slop). Both position lists
    // push their single-token filter into the token-clustered scan, the
    // join keys on the dense doc_id, and the window test is a residual
    // |p1 − p2| ≤ k — per doc the lists are tiny, so the pair space is
    // O(per-doc occurrences²) never corpus². The oracle rebuilds
    // positions relationally. At 100 TB: O(two terms' position lists),
    // like q162.
    QueryDef(
      "q177_fts_proximity",
      (s, _) => {
        val pos = s.table(s"$ftsServe.fts2_pos")
        val a = pos.where(col("tok") === "hash")
          .select(col("doc_id"), col("pos").as("p1"))
        val b = pos.where(col("tok") === "join")
          .select(col("doc_id"), col("pos").as("p2"))
        a.join(b, Seq("doc_id"))
          .where(abs(col("p1") - col("p2")) <= 3)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("long").as("n_pairs"),
            min(abs(col("p1") - col("p2"))).cast("long").as("closest"))
          .orderBy(desc("n_pairs"), col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        u AS (SELECT doc_id, unnest(list_transform(range(1, len(sp) + 1),
                i -> struct_pack(pos := i, tok := sp[i]))) AS u FROM d),
        p AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM u)
        SELECT p1.doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(min(abs(p1.pos - p2.pos)) AS BIGINT) AS closest
        FROM p p1 JOIN p p2 ON p2.doc_id = p1.doc_id
          AND abs(p1.pos - p2.pos) <= 3
        WHERE p1.tok = 'hash' AND p2.tok = 'join'
        GROUP BY p1.doc_id ORDER BY n_pairs DESC, p1.doc_id"""),
      // fixture: the same q161 index seed (its positional table)
      setup = Some((s, dir) => fts2SeedCorpus(s, ftsServe, dir))),

    // ---- q178: BOOLEAN retrieval — AND / NOT over the postings index -------
    // The query-language staple the ranked serves don't cover: docs that
    // contain ALL required terms and NONE of the excluded ones, ranked by
    // BM25 over the required terms. All three term lists come from ONE
    // IN-pruned pass over the token-clustered postings:
    //  - AND = per-doc matched-term count == |required| (postings are
    //    unique per (tok, doc), so COUNT(*) is the distinct-term count —
    //    no DISTINCT shuffle);
    //  - NOT = left-anti join against the excluded term's doc list (its
    //    postings were already read by the same pruned scan);
    //  - ranking reuses the q161 BM25 parts over the required postings.
    // At 100 TB: O(three terms' postings files), the anti-join's build
    // side is one term's doc list — never a corpus scan, no global window.
    QueryDef(
      "q178_fts_boolean",
      (s, _) => {
        val required = Seq("scan", "filter")
        val excluded = "hash"
        val post = s.table(s"$ftsServe.fts2_post")
          .where(col("tok").isin(required :+ excluded: _*))
        val reqPost = post.where(col("tok").isin(required: _*))
        val negDocs = post.where(col("tok") === excluded).select("doc_id")
        val dfx = reqPost.groupBy(col("tok"))
          .agg(count(lit(1)).cast("double").as("df"))
        val glob = bm25Consts(s.table(s"$ftsServe.fts2_glob"))
        reqPost.join(broadcast(dfx), "tok")
          .crossJoin(broadcast(glob))
          .withColumn("part", expr(bm25Part))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("nt"),
            sum(col("part")).cast("long").as("score_micro"))
          .where(col("nt") === required.size)
          .join(negDocs, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("score_micro"))
          .orderBy(desc("score_micro"), col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        dd AS (SELECT doc_id, CAST(len(sp) AS BIGINT) AS dl, sp FROM d),
        g AS (SELECT CAST(SUM(dl) AS DOUBLE) AS sl, CAST(COUNT(*) AS DOUBLE) AS nd FROM dd),
        t AS (SELECT doc_id, dl, unnest(sp) AS tok FROM dd),
        tf AS (SELECT doc_id, dl, tok, CAST(COUNT(*) AS DOUBLE) AS tf
               FROM t WHERE tok IN ('scan', 'filter') GROUP BY doc_id, dl, tok),
        dfx AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
        neg AS (SELECT DISTINCT doc_id FROM t WHERE tok = 'hash'),
        scored AS (
          SELECT tf.doc_id, COUNT(*) AS nt,
            CAST(SUM(round(((g.nd - dfx.df + 0.5) / (dfx.df + 0.5)) * tf.tf * 2.2 /
              (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / (g.sl / g.nd))) * 1e6)) AS BIGINT)
              AS score_micro
          FROM tf JOIN dfx USING (tok) CROSS JOIN g
          GROUP BY tf.doc_id)
        SELECT doc_id, score_micro FROM scored
        WHERE nt = 2 AND doc_id NOT IN (SELECT doc_id FROM neg)
        ORDER BY score_micro DESC, doc_id"""),
      // fixture: the same q161 index seed
      setup = Some((s, dir) => fts2SeedCorpus(s, ftsServe, dir))),

    // ---- q180: PREFIX search — `sca*` as a range over the clustered index --
    // Wildcard-prefix term match, the autocomplete/stemming primitive.
    // `startsWith` pushes into the scan as a string-range predicate
    // (FilterTranslate maps StringStartsWith to a [prefix, prefix')
    // range), and because the postings files are RANGE-CLUSTERED by
    // token, the registry's per-file [min, max] token ranges disprove
    // the prefix for every file that can't hold it — a prefix query
    // opens O(matching tokens' postings), exactly like the IN-list
    // serves, with no term dictionary to maintain. The query expands
    // the prefix to its matching terms with per-term document counts
    // and the per-term BM25-ready df — the expansion step of a real
    // `sca*` OR-query. At 100 TB: the prefix's token range is
    // contiguous in the clustered layout, so the read is a handful of
    // adjacent files.
    QueryDef(
      "q180_fts_prefix",
      (s, _) =>
        s.table(s"$ftsServe.fts2_post")
          .where(col("tok").startsWith("sca"))
          .groupBy(col("tok"))
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(col("tf")).cast("long").as("n_occurrences"))
          .orderBy(desc("n_docs"), col("tok")),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        t AS (SELECT doc_id, unnest(sp) AS tok FROM d)
        SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM t WHERE tok LIKE 'sca%'
        GROUP BY tok ORDER BY n_docs DESC, tok"""),
      // fixture: the same q161 index seed
      setup = Some((s, dir) => fts2SeedCorpus(s, ftsServe, dir))),

    // ---- q181: SNIPPET extraction — the ±2-token window around the hit ----
    // Search UIs and RAG prompts don't show postings, they show context.
    // The positional index gives each matching doc's FIRST occurrence of
    // the term with one pruned read (single-token filter → token-
    // clustered file prune, then min(pos) per doc); fetching the words
    // around it joins back to the CORPUS — but only for the matched
    // docs, as a join on the dense doc_id key (on a graft table this is
    // the row-key/bloom-prunable bulk-get shape, q05/q152). The snippet
    // itself is row-local array slicing. At 100 TB: O(term's postings)
    // + O(matched docs) text fetch, never a corpus scan.
    QueryDef(
      "q181_fts_snippets",
      (s, dir) => {
        val hits = s.table(s"$ftsServe.fts2_pos")
          .where(col("tok") === "stream")
          .groupBy(col("doc_id"))
          // fts2_pos positions are 0-based; i is the 1-based array index
          .agg((min(col("pos")) + 1).as("i"))
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), split(col("text"), " ").as("sp"))
        hits.join(docs, "doc_id")
          .withColumn("a", greatest(col("i") - 2, lit(1)))
          .withColumn("b", least(col("i") + 2, size(col("sp")).cast("long")))
          .select(col("doc_id"),
            concat_ws(" ", slice(col("sp"), col("a").cast("int"),
              (col("b") - col("a") + 1).cast("int"))).as("snippet"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        h AS (SELECT doc_id, CAST(list_position(sp, 'stream') AS BIGINT) AS i, sp
              FROM d WHERE list_contains(sp, 'stream'))
        SELECT doc_id,
          array_to_string(sp[CAST(greatest(i - 2, 1) AS BIGINT):
                             CAST(least(i + 2, len(sp)) AS BIGINT)], ' ') AS snippet
        FROM h ORDER BY doc_id"""),
      // fixture: the same q161 index seed (its positional table)
      setup = Some((s, dir) => fts2SeedCorpus(s, ftsServe, dir))),

    // ---- q182: FUZZY term lookup — SymSpell deletion neighborhoods ---------
    // "Did you mean": index terms within edit distance 1 of a misspelled
    // query ('sow' → 'row' by substitution, 'slow' by deletion), WITHOUT an O(dictionary) edit-distance scan. The
    // SymSpell trick: two strings are within levenshtein 1 iff they
    // share a member of each other's DELETION neighborhood (the string
    // itself + every single-character deletion), so candidates come from
    // an equality JOIN on the variant key — the dictionary side explodes
    // to (len+1) keys per term, the query side is a handful of literals,
    // and the exact levenshtein verify runs only on the joined
    // candidates (kills the distance-2 pairs that share a variant, e.g.
    // transpositions). At 100 TB the deletion-variant table is the
    // persisted artifact (append-maintained like any index; ~(len+1)×
    // dictionary rows), and a lookup is a point join — this query
    // derives it inline from the postings' term dictionary and scores
    // matches by df so the suggestion ranking is corpus-grounded.
    QueryDef(
      "q182_fts_fuzzy_term",
      (s, _) => {
        val query = "sow"
        val qVariants = (query +: query.indices.map(i =>
          query.substring(0, i) + query.substring(i + 1))).distinct
        val dict = s.table(s"$ftsServe.fts2_post")
          .groupBy(col("tok")).agg(count(lit(1)).cast("long").as("df"))
        val variants = dict.select(col("tok"), col("df"), explode(expr(
          """array_union(array(tok), transform(sequence(1, length(tok)),
            |  i -> concat(substring(tok, 1, i - 1),
            |              substring(tok, i + 1, length(tok)))))""".stripMargin))
          .as("variant"))
        variants
          .where(col("variant").isin(qVariants: _*))
          .select(col("tok"), col("df")).distinct()
          .withColumn("dist", levenshtein(col("tok"), lit(query)))
          .where(col("dist") <= 1)
          .select(col("tok"), col("dist").cast("long").as("dist"), col("df"))
          .orderBy(col("dist"), desc("df"), col("tok"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        t AS (SELECT doc_id, unnest(sp) AS tok FROM d),
        dict AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
                 FROM (SELECT DISTINCT doc_id, tok FROM t) GROUP BY tok)
        SELECT tok, CAST(levenshtein(tok, 'sow') AS BIGINT) AS dist, df
        FROM dict WHERE levenshtein(tok, 'sow') <= 1
        ORDER BY dist, df DESC, tok"""),
      // fixture: the same q161 index seed
      setup = Some((s, dir) => fts2SeedCorpus(s, ftsServe, dir))),

    // ---- q183: MAINTAINED fuzzy suggestions — the variant dict as an index -
    // q182's deletion-variant table, upgraded from derived-inline to a
    // PERSISTED, MAINTAINED artifact riding the q170/q171 index
    // lifecycle: the dict folds per batch (tokens of the batch's
    // head-pinned affected docs, anti-joined against the dict's known
    // terms — O(batch tokens + dict), never the corpus), and stays
    // APPEND-ONLY under mutations because correctness lives at serve
    // time: suggestions take their df from the LIVE survival-filtered
    // postings (an IN-pruned read over the candidate terms — the
    // q142-probed-lists collect pattern, model-sized), so a term whose
    // last doc died suggests df=0 and drops without the dict ever
    // rewriting. The gate runs the full lifecycle: seed fold + seed
    // dict, a takedown (df shrinks) + a re-crawl introducing the NEW
    // term 'sown' (enters the dict via the delta fold, distance 1 from
    // the probe), serve ≡ the oracle's brute-force levenshtein over the
    // post-mutation corpus. At 100 TB: dict ≈ vocabulary-sized (the one
    // corpus-independent table in the stack), folds are O(batch), a
    // lookup is a point join + one pruned postings read.
    QueryDef(
      "q183_fts_fuzzy_maintained",
      (s, _) => {
        val ns2 = "gcat.fts7"
        val v1 = s.table(s"$ns2.fts2_meta")
          .agg(max(col("indexed_version"))).first().getLong(0)
        // the mutation batch (self-guarding — a re-run mutates nothing,
        // the interval is empty, and both folds are skipped whole)
        s.sql(s"DELETE FROM $ns2.fts2_src WHERE doc_id % 7 = 2")
        s.sql(
          s"""UPDATE $ns2.fts2_src
             |SET text = concat(text, ' sown')
             |WHERE doc_id % 7 = 3 AND text NOT LIKE '%sown'""".stripMargin)
        val v2 = fts2SrcVersion(s, ns2)
        if (v2 > v1) {
          val cat = s.sessionState.catalogManager.catalog("gcat")
            .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
          val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
              .of(Array("fts7"), "fts2_src")).asInstanceOf[graft.sources.GraftTable]
          val feed = graft.sources.Snapshots.changes(s, tbl,
            since = v1, end = Some(v2))
          // dict delta FIRST, index fold SECOND — the crash-safe order
          // for a dict that lives outside the fold's transaction: a
          // crash after dictFold leaves extra dict terms whose postings
          // df = 0 (harmless — the dict is a lossy SUPERSET by design
          // and the serve filters on live df), and the un-advanced
          // watermark re-runs the whole interval. The reverse order
          // would advance the watermark and then lose the interval's
          // new terms FOREVER (the re-run sees an empty interval).
          // Tokens come from the affected docs' HEAD state (the
          // endpoint-state discipline — postimage rows may be partial),
          // minus terms the dict already knows.
          val affected = feed.select(col("doc_id")).distinct()
          val headDocs = s.read.option("snapshot-version", v2)
            .table(s"$ns2.fts2_src")
            .join(affected, Seq("doc_id"), "left_semi")
          dictFold(s, ns2, headDocs.select(col("doc_id"), col("text")))
          fts2FoldFeed(s, ns2, s"$ns2.fts2_src", feed, v1, v2)
        }
        fuzzyServe(s, ns2, "sow")
      },
      // brute-force levenshtein over the POST-MUTATION corpus dictionary
      Some("""WITH corp AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 3 THEN text || ' sown'
                      ELSE text END AS text
          FROM documents WHERE doc_id % 7 <> 2),
        d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM corp),
        t AS (SELECT doc_id, unnest(sp) AS tok FROM d),
        dict AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
                 FROM (SELECT DISTINCT doc_id, tok FROM t) GROUP BY tok)
        SELECT tok, CAST(levenshtein(tok, 'sow') AS BIGINT) AS dist, df
        FROM dict WHERE levenshtein(tok, 'sow') <= 1
        ORDER BY dist, df DESC, tok"""),
      // fixture: own namespace, row-keyed ingest (mutations need
      // identity), the WHOLE corpus seeded through the shared fold +
      // the dict's seed fold
      setup = Some((s, dir) => {
        val ns2 = "gcat.fts7"
        val v1 = fts2SeedCorpus(s, ns2, dir)
        s.sql(s"CREATE TABLE IF NOT EXISTS $ns2.dict_var (variant STRING, tok STRING)")
        // the dict's seed fold follows the (memoized) index seed: a crash
        // between the two fails the setup, and a re-run recreates the
        // index tables and re-folds the dict (it only ever adds terms)
        dictFold(s, ns2, s.read.option("snapshot-version", v1)
          .table(s"$ns2.fts2_src").select(col("doc_id"), col("text")))
        ()
      })),

    // ---- q184: HYBRID retrieval over the MAINTAINED indexes ----------------
    // q164's RRF fusion, upgraded from a never-mutated seed (and a
    // brute-force dense probe) to the production state: a corpus that
    // has taken a takedown (id % 7 = 3 deleted from BOTH the docs and
    // their embeddings) and a re-crawl
    // (id % 7 = 5: new text + new embedding), with BOTH retrieval
    // indexes kept current by their change-feed folds (q171's FTS
    // discipline, q172's ANN discipline) — never rebuilt. The serve
    // composes the two maintained read paths end to end:
    //  - sparse: BM25 top-20 from the fts2 postings, IN-pruned +
    //    survival-filtered against the registry-sized tombstone guard;
    //  - dense: IVF-PQ ADC top-20 for query vector 0 over the PROBED
    //    lists of the maintained ann3 postings (frozen quantizer,
    //    identity partition pruning, the same survival guard);
    //  - fusion: rrf = Σ 1/(60 + rank), rank arithmetic over two 20-row
    //    lists (q164's exact-integer nanos).
    // The oracle replays BOTH rankings from the post-mutation state
    // (text from the mutated corpus; ADC with the ORIGINAL frozen
    // first-16 quantizer) and fuses relationally — the maintained hybrid
    // serve must answer as if both indexes were rebuilt from scratch.
    // At 100 TB this is the RAG serving stack under churn: each fold is
    // O(batch), each serve is O(terms' postings + probed lists), and the
    // two indexes advance under their own transactions without ever
    // coordinating with each other.
    QueryDef(
      "q184_hybrid_maintained",
      (s, _) =>
        hybridServe(s, "gcat.hfts", "gcat.hann", Seq("join", "scan", "hash")),
      // both rankings replayed from the POST-MUTATION state: text from
      // the mutated corpus, ADC with the ORIGINAL frozen quantizer
      Some("""WITH corp AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 5 THEN text || ' recrawled'
                      ELSE text END AS text
          FROM documents WHERE doc_id % 7 <> 3),
        d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM corp),
        dd AS (SELECT doc_id, CAST(len(sp) AS BIGINT) AS dl, sp FROM d),
        g AS (SELECT CAST(SUM(dl) AS DOUBLE) AS sl, CAST(COUNT(*) AS DOUBLE) AS nd FROM dd),
        t AS (SELECT doc_id, dl, unnest(sp) AS tok FROM dd),
        tf AS (SELECT doc_id, dl, tok, CAST(COUNT(*) AS DOUBLE) AS tf
               FROM t WHERE tok IN ('join', 'scan', 'hash') GROUP BY doc_id, dl, tok),
        dfx AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
        parts AS (
          SELECT tf.doc_id,
            round(((g.nd - dfx.df + 0.5) / (dfx.df + 0.5)) * tf.tf * 2.2 /
              (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / (g.sl / g.nd))) * 1e6) AS part
          FROM tf JOIN dfx USING (tok) CROSS JOIN g),
        sr AS (
          SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank_s
          FROM (SELECT doc_id, SUM(part) AS score FROM parts GROUP BY doc_id)
          ORDER BY rank_s LIMIT 20),
        corp_e AS (
          SELECT vec_id,
                 CASE WHEN vec_id % 7 = 5
                      THEN list_transform(embedding, x -> abs(x))
                      ELSE embedding END AS embedding
          FROM embeddings WHERE vec_id % 7 <> 3),
        cents AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16),
        norms AS (SELECT vec_id,
                   list_sum(list_transform(embedding,
                     x -> round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e9))) AS n2
                 FROM corp_e),
        cnorms AS (SELECT vec_id,
                   list_sum(list_transform(embedding,
                     x -> round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e9))) AS n2
                 FROM cents),
        ascore AS (
          SELECT a.vec_id AS qid, c.vec_id AS vid,
            list_sum(list_transform(range(1, len(a.embedding) + 1),
              i -> round(CAST(a.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) * 1e9)))
              / sqrt(nq.n2 * nv.n2) AS cos
          FROM corp_e a JOIN cents c ON TRUE
          JOIN norms nq ON nq.vec_id = a.vec_id JOIN cnorms nv ON nv.vec_id = c.vec_id),
        ranked AS (
          SELECT qid, vid, cos,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
          FROM ascore),
        assign AS (SELECT qid AS member, vid AS cid FROM ranked WHERE rn = 1),
        probe AS (SELECT vid AS cid FROM ranked WHERE rn <= 2 AND qid = 0),
        cand AS (
          SELECT DISTINCT a.member AS vid
          FROM probe p JOIN assign a ON a.cid = p.cid WHERE a.member <> 0),
        subs AS (SELECT vec_id, j FROM corp_e, range(0, 8) r(j)),
        dists AS (
          SELECT s.vec_id, s.j, c.vec_id AS cw,
            list_sum(list_transform(range(0, 8),
              i -> round((CAST(a.embedding[s.j * 8 + i + 1] AS DOUBLE)
                          - CAST(c.embedding[s.j * 8 + i + 1] AS DOUBLE))
                         * (CAST(a.embedding[s.j * 8 + i + 1] AS DOUBLE)
                            - CAST(c.embedding[s.j * 8 + i + 1] AS DOUBLE)) * 1e9))) AS dist
          FROM subs s JOIN corp_e a ON a.vec_id = s.vec_id
          JOIN cents c ON TRUE),
        codes AS (
          SELECT vec_id AS vid, j, cw AS code FROM (
            SELECT vec_id, j, cw,
              ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dist, cw) AS rn
            FROM dists) WHERE rn = 1),
        lut AS (SELECT j, cw AS code, dist AS d FROM dists WHERE vec_id = 0),
        adc AS (
          SELECT cand.vid, SUM(l.d) AS adist
          FROM cand JOIN codes c ON c.vid = cand.vid
          JOIN lut l ON l.j = c.j AND l.code = c.code
          GROUP BY cand.vid),
        dr AS (
          SELECT vid AS doc_id,
            ROW_NUMBER() OVER (ORDER BY adist, vid) AS rank_d
          FROM adc ORDER BY rank_d LIMIT 20)
        SELECT COALESCE(sr.doc_id, dr.doc_id) AS doc_id, rank_s, rank_d,
          CAST(round((COALESCE(1.0 / (60 + rank_s), 0.0) +
                      COALESCE(1.0 / (60 + rank_d), 0.0)) * 1e9) AS BIGINT)
            AS rrf_nano
        FROM sr FULL OUTER JOIN dr ON sr.doc_id = dr.doc_id
        ORDER BY rrf_nano DESC, doc_id"""),
      // fixture: BOTH maintained indexes in their own namespaces, seeded
      // whole and mutation-folded through the SHARED q171/q172 routines
      // (mirrored mutations: same takedown slice, same re-crawl slice)
      setup = Some((s, dir) => {
        // ANN side: seed + the q172 mutation fold (DELETE % 7 = 3,
        // re-embed % 7 = 5) — ann3Seed drops/recreates, so re-runs are
        // fresh
        Engine2.ann3Seed(s, "gcat.hann", dir)
        Engine2.ann3MutateAndFold(s, "gcat.hann")
        // FTS side: seed fold, then the MIRRORED mutations + feed fold
        val ns2 = "gcat.hfts"
        val v1 = fts2SeedCorpus(s, ns2, dir)
        s.sql(s"DELETE FROM $ns2.fts2_src WHERE doc_id % 7 = 3")
        s.sql(
          s"""UPDATE $ns2.fts2_src
             |SET text = concat(text, ' recrawled')
             |WHERE doc_id % 7 = 5 AND text NOT LIKE '%recrawled'""".stripMargin)
        val v2 = fts2SrcVersion(s, ns2)
        val cat = s.sessionState.catalogManager.catalog("gcat")
          .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
            .of(Array("hfts"), "fts2_src")).asInstanceOf[graft.sources.GraftTable]
        val feed = graft.sources.Snapshots.changes(s, tbl,
          since = v1, end = Some(v2))
        fts2FoldFeed(s, ns2, s"$ns2.fts2_src", feed, v1, v2)
        ()
      })),

    // ---- q186: FTS RE-ANALYSIS rebuild — the analyzer migration -----------
    // q185's sparse sibling: changing the ANALYZER (stemming, case
    // folding, truncation) changes the term space itself — no
    // incremental fold can express it, and no publish prefix serves
    // consistently (old postings are meaningless under the new
    // analysis). fts2Retokenize re-analyzes the head-pinned corpus —
    // here under a 4-char truncation stemmer — through the SHARED
    // fts2IndexRows, and swaps postings + positions + constants +
    // tombstone-truncate + watermark in ONE transaction. The serve
    // afterwards queries the NEW term space ('stre', 'merg', and 'recr'
    // — a term that exists only in docs a pre-rebuild mutation interval
    // re-crawled, proving the rebuild analyzed the POST-MUTATION
    // corpus); the phrase probe exercises the rebuilt positional table.
    // The oracle replays BM25 + phrase + constants from the re-analyzed
    // post-mutation corpus; n_tomb = 0 and glob_rows = 1 pin the swap's
    // physical state. At 100 TB: the one O(corpus) job an analyzer
    // migration costs, with every serve before the commit on the old
    // analysis and every serve after on the new — never a mix.
    QueryDef(
      "q186_fts_reanalyze",
      (s, dir) => {
        ensureCatalog(s, dir)
        val ns2 = "gcat.fts9"
        fts2Retokenize(s, ns2, t =>
          concat_ws(" ", transform(split(t, " "), x => substring(x, 1, 4))))
        val tombs = s.table(s"$ns2.fts2_del")
          .agg(count(lit(1)).cast("long").as("n_tomb"))
        val globRows = s.table(s"$ns2.fts2_glob")
          .agg(count(lit(1)).cast("long").as("glob_rows"))
        fts2ServeAll(s, ns2, Seq("stre", "merg", "recr"), "hash", "join")
          .crossJoin(broadcast(tombs))
          .crossJoin(broadcast(globRows))
          .orderBy(desc("score_micro"), col("doc_id"))
      },
      Some("""WITH corp AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 9 = 5 THEN text || ' recrawled'
                      ELSE text END AS text
          FROM documents WHERE doc_id % 9 <> 4),
        d AS (SELECT doc_id,
                list_transform(string_split(text, ' '),
                  t -> substr(t, 1, 4)) AS sp FROM corp),
        dd AS (SELECT doc_id, CAST(len(sp) AS BIGINT) AS dl, sp FROM d),
        g AS (SELECT CAST(SUM(dl) AS DOUBLE) AS sl, CAST(COUNT(*) AS DOUBLE) AS nd FROM dd),
        t AS (SELECT doc_id, dl, unnest(sp) AS tok FROM dd),
        tf AS (SELECT doc_id, dl, tok, CAST(COUNT(*) AS DOUBLE) AS tf
               FROM t WHERE tok IN ('stre', 'merg', 'recr') GROUP BY doc_id, dl, tok),
        dfx AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
        parts AS (
          SELECT tf.doc_id,
            round(((g.nd - dfx.df + 0.5) / (dfx.df + 0.5)) * tf.tf * 2.2 /
              (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / (g.sl / g.nd))) * 1e6) AS part
          FROM tf JOIN dfx USING (tok) CROSS JOIN g),
        scores AS (SELECT doc_id, CAST(SUM(part) AS BIGINT) AS score_micro
          FROM parts GROUP BY doc_id
          ORDER BY score_micro DESC, doc_id LIMIT 20),
        u AS (SELECT doc_id, unnest(list_transform(range(1, len(sp) + 1),
                i -> struct_pack(pos := i, tok := sp[i]))) AS u FROM d),
        p AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM u),
        ph AS (SELECT CAST(count(*) AS BIGINT) AS n_phrase
          FROM p p1 JOIN p p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
          WHERE p1.tok = 'hash' AND p2.tok = 'join'),
        gl AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(dl) AS BIGINT) AS sl FROM dd)
        SELECT s.doc_id, s.score_micro, gl.nd, gl.sl, ph.n_phrase,
               CAST(0 AS BIGINT) AS n_tomb, CAST(1 AS BIGINT) AS glob_rows
        FROM scores s CROSS JOIN gl CROSS JOIN ph
        ORDER BY score_micro DESC, doc_id"""),
      // fixture: seed + a churn interval folded under the OLD analysis —
      // the measured run migrates a lived-in index, not a fresh one
      setup = Some((s, dir) => {
        val ns2 = "gcat.fts9"
        val v1 = fts2SeedCorpus(s, ns2, dir)
        s.sql(s"DELETE FROM $ns2.fts2_src WHERE doc_id % 9 = 4")
        s.sql(
          s"""UPDATE $ns2.fts2_src SET text = concat(text, ' recrawled')
             |WHERE doc_id % 9 = 5 AND text NOT LIKE '%recrawled'""".stripMargin)
        val v2 = fts2SrcVersion(s, ns2)
        val cat = s.sessionState.catalogManager.catalog("gcat")
          .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
            .of(Array("fts9"), "fts2_src")).asInstanceOf[graft.sources.GraftTable]
        fts2FoldFeed(s, ns2, s"$ns2.fts2_src",
          graft.sources.Snapshots.changes(s, tbl, since = v1, end = Some(v2)),
          v1, v2)
        ()
      })),
    // ---- q187: TWO index maintainers, ONE shared coordinator --------------
    // q184 upgraded from manually-driven folds to the production
    // topology: the FTS and ANN maintainers are two INDEPENDENT
    // IndexMaintain loops draining their sources' interleaved commits
    // CONCURRENTLY against one shared transaction coordinator (one
    // warehouse = one coordinator — the deployment the recoverAgeMillis
    // guard exists for: each maintainer's startup recover() must not
    // roll back its live sibling's in-flight fold). Every fold carries
    // the single-maintainer watermark precondition, so the gate also
    // proves the checked-commit serialization under real contention.
    // The serve is the SHARED hybridServe — the dual-maintained hybrid
    // must answer exactly as if both indexes were rebuilt from scratch —
    // and caught_up pins both watermarks at their sources' heads. At
    // 100 TB this is the multi-index ingest topology: one coordinator
    // per warehouse, one maintainer per index, no cross-maintainer
    // orchestration beyond the commit-guard lock's metadata-sized
    // serialization.
    QueryDef(
      "q187_dual_maintainers",
      (s, dir) => {
        ensureCatalog(s, dir)
        val fts = "gcat.dfts"
        val ann = "gcat.dann"
        // guarded churn on BOTH sources (idempotent: a re-run's slices
        // are already applied and mint no commits, so the drain below
        // skips its streaming startup — the q174 discipline)
        s.sql(s"DELETE FROM $fts.fts2_src WHERE doc_id % 7 = 3")
        s.sql(
          s"""UPDATE $fts.fts2_src SET text = concat(text, ' recrawled')
             |WHERE doc_id % 7 = 5 AND text NOT LIKE '%recrawled'""".stripMargin)
        s.sql(s"DELETE FROM $ann.ann3_src WHERE vec_id % 7 = 3")
        s.sql(s"UPDATE $ann.ann3_src SET v = abs(v) WHERE vec_id % 7 = 5 AND v < 0")
        def head(db: String, tbl: String): Long = {
          val wh = s.conf.get("spark.sql.catalog.gcat.warehouse")
          val dd = new org.apache.hadoop.fs.Path(s"$wh/$db/$tbl/data")
          graft.sources.TableStats.liveVersion(
            dd.getFileSystem(new org.apache.hadoop.conf.Configuration()), dd)
            .getOrElse(0L)
        }
        val wmF = graft.streaming.IndexMaintain.watermark(s, s"$fts.fts2_meta")
        val wmA = graft.streaming.IndexMaintain.watermark(s, s"$ann.ann3_meta")
        if (head("dfts", "fts2_src") > wmF || head("dann", "ann3_src") > wmA) {
          val coord = s.conf.get("spark.sql.catalog.gcat.warehouse")
          // ONE ops census for BOTH maintainers — interval outcomes from
          // the loops themselves, compaction decisions from the onBatch
          // debt hooks. The gate's answer pins its aggregate, making the
          // census row contract oracle-gated like every other operator:
          // at 100 TB this table (not the driver log) is how an operator
          // asks "which intervals were lost? when did debt policies
          // fire?".
          val census = s"$fts.maint_log"
          def drainFts(): Unit = graft.streaming.IndexMaintain.start(
            s, s"$fts.fts2_src", s"$fts.fts2_meta",
            java.nio.file.Files.createTempDirectory("q187f").toString, coord,
            foldAppend = (delta, v1, v2) =>
              fts2Fold(s, fts, delta.select(col("doc_id"), col("text")), v2,
                expect = Some(v1)),
            foldFeed = (feed, v1, v2) =>
              fts2FoldFeed(s, fts, s"$fts.fts2_src", feed, v1, v2,
                expect = Some(v1)),
            onBatch = (v1, v2, _) => {
              val fired = fts2CompactIfDebt(s, fts, frac = 1e-9)
              graft.streaming.IndexMaintain.census(
                s, census, v1, v2, "compact-index", fired)
            },
            censusTable = Some(census)).awaitTermination()
          def drainAnn(): Unit = graft.streaming.IndexMaintain.start(
            s, s"$ann.ann3_src", s"$ann.ann3_meta",
            java.nio.file.Files.createTempDirectory("q187a").toString, coord,
            foldAppend = (delta, v1, v2) =>
              Engine2.ann3FoldFeed(s, ann, delta, v2, expect = Some(v1)),
            foldFeed = (feed, v1, v2) =>
              Engine2.ann3FoldFeed(s, ann, feed, v2, expect = Some(v1)),
            onBatch = (v1, v2, _) => {
              val fired = Engine2.annCompactIfDebt(s, ann, frac = 1e-9)
              graft.streaming.IndexMaintain.census(
                s, census, v1, v2, "compact-ann", fired)
            },
            censusTable = Some(census)).awaitTermination()
          val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
          val ts = Seq(
            new Thread(() =>
              try drainFts() catch { case e: Throwable => errs.add(e) }),
            new Thread(() =>
              try drainAnn() catch { case e: Throwable => errs.add(e) }))
          ts.foreach(_.start()); ts.foreach(_.join(600000L))
          if (ts.exists(_.isAlive)) throw new IllegalStateException(
            "graft: q187 maintainer drain timed out — serving now would " +
              "race the live fold")
          if (!errs.isEmpty) throw errs.peek()
        }
        // caught_up: both watermarks at their sources' heads — a 1-row
        // broadcast proof from the LIVE meta tables
        val proof = s.table(s"$fts.fts2_meta")
          .agg(max(col("indexed_version")).as("wf"))
          .crossJoin(broadcast(s.table(s"$ann.ann3_meta")
            .agg(max(col("indexed_version")).as("wa"))))
          .select((col("wf") === lit(head("dfts", "fts2_src")) &&
              col("wa") === lit(head("dann", "ann3_src")))
            .cast("bigint").as("caught_up"))
        // the census contract, pinned by the oracle: one WON fold
        // interval per maintainer (exactly-once, never lost in this
        // disjoint-source topology), one fired compaction decision per
        // index, and every interval exactly the churn's two source
        // commits wide — the queryable shape an operator monitors
        val censusSum = s.table(s"$fts.maint_log")
          .agg(
            sum(when(col("route").isin("feed", "append", "advance") &&
              col("won"), 1L).otherwise(0L)).cast("long").as("n_fold_won"),
            sum(when(col("route").isin("feed", "append", "advance") &&
              !col("won"), 1L).otherwise(0L)).cast("long").as("n_fold_lost"),
            sum(when(col("route").startsWith("compact") && col("won"), 1L)
              .otherwise(0L)).cast("long").as("n_compact_fired"),
            max(col("v_to") - col("v_from")).cast("long").as("max_interval"))
        hybridServe(s, fts, ann, Seq("join", "scan", "hash"))
          .crossJoin(broadcast(proof))
          .crossJoin(broadcast(censusSum))
          .orderBy(desc("rrf_nano"), col("doc_id"))
      },
      // the q184 oracle (both rankings replayed from the post-mutation
      // state) + the caught_up pin
      Some("""WITH corp AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 5 THEN text || ' recrawled'
                      ELSE text END AS text
          FROM documents WHERE doc_id % 7 <> 3),
        d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM corp),
        dd AS (SELECT doc_id, CAST(len(sp) AS BIGINT) AS dl, sp FROM d),
        g AS (SELECT CAST(SUM(dl) AS DOUBLE) AS sl, CAST(COUNT(*) AS DOUBLE) AS nd FROM dd),
        t AS (SELECT doc_id, dl, unnest(sp) AS tok FROM dd),
        tf AS (SELECT doc_id, dl, tok, CAST(COUNT(*) AS DOUBLE) AS tf
               FROM t WHERE tok IN ('join', 'scan', 'hash') GROUP BY doc_id, dl, tok),
        dfx AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
        parts AS (
          SELECT tf.doc_id,
            round(((g.nd - dfx.df + 0.5) / (dfx.df + 0.5)) * tf.tf * 2.2 /
              (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / (g.sl / g.nd))) * 1e6) AS part
          FROM tf JOIN dfx USING (tok) CROSS JOIN g),
        sr AS (
          SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank_s
          FROM (SELECT doc_id, SUM(part) AS score FROM parts GROUP BY doc_id)
          ORDER BY rank_s LIMIT 20),
        corp_e AS (
          SELECT vec_id,
                 CASE WHEN vec_id % 7 = 5
                      THEN list_transform(embedding, x -> abs(x))
                      ELSE embedding END AS embedding
          FROM embeddings WHERE vec_id % 7 <> 3),
        cents AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16),
        norms AS (SELECT vec_id,
                   list_sum(list_transform(embedding,
                     x -> round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e9))) AS n2
                 FROM corp_e),
        cnorms AS (SELECT vec_id,
                   list_sum(list_transform(embedding,
                     x -> round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e9))) AS n2
                 FROM cents),
        ascore AS (
          SELECT a.vec_id AS qid, c.vec_id AS vid,
            list_sum(list_transform(range(1, len(a.embedding) + 1),
              i -> round(CAST(a.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) * 1e9)))
              / sqrt(nq.n2 * nv.n2) AS cos
          FROM corp_e a JOIN cents c ON TRUE
          JOIN norms nq ON nq.vec_id = a.vec_id JOIN cnorms nv ON nv.vec_id = c.vec_id),
        ranked AS (
          SELECT qid, vid, cos,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
          FROM ascore),
        assign AS (SELECT qid AS member, vid AS cid FROM ranked WHERE rn = 1),
        probe AS (SELECT vid AS cid FROM ranked WHERE rn <= 2 AND qid = 0),
        cand AS (
          SELECT DISTINCT a.member AS vid
          FROM probe p JOIN assign a ON a.cid = p.cid WHERE a.member <> 0),
        subs AS (SELECT vec_id, j FROM corp_e, range(0, 8) r(j)),
        dists AS (
          SELECT s.vec_id, s.j, c.vec_id AS cw,
            list_sum(list_transform(range(0, 8),
              i -> round((CAST(a.embedding[s.j * 8 + i + 1] AS DOUBLE)
                          - CAST(c.embedding[s.j * 8 + i + 1] AS DOUBLE))
                         * (CAST(a.embedding[s.j * 8 + i + 1] AS DOUBLE)
                            - CAST(c.embedding[s.j * 8 + i + 1] AS DOUBLE)) * 1e9))) AS dist
          FROM subs s JOIN corp_e a ON a.vec_id = s.vec_id
          JOIN cents c ON TRUE),
        codes AS (
          SELECT vec_id AS vid, j, cw AS code FROM (
            SELECT vec_id, j, cw,
              ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dist, cw) AS rn
            FROM dists) WHERE rn = 1),
        lut AS (SELECT j, cw AS code, dist AS d FROM dists WHERE vec_id = 0),
        adc AS (
          SELECT cand.vid, SUM(l.d) AS adist
          FROM cand JOIN codes c ON c.vid = cand.vid
          JOIN lut l ON l.j = c.j AND l.code = c.code
          GROUP BY cand.vid),
        dr AS (
          SELECT vid AS doc_id,
            ROW_NUMBER() OVER (ORDER BY adist, vid) AS rank_d
          FROM adc ORDER BY rank_d LIMIT 20)
        SELECT COALESCE(sr.doc_id, dr.doc_id) AS doc_id, rank_s, rank_d,
          CAST(round((COALESCE(1.0 / (60 + rank_s), 0.0) +
                      COALESCE(1.0 / (60 + rank_d), 0.0)) * 1e9) AS BIGINT)
            AS rrf_nano,
          CAST(1 AS BIGINT) AS caught_up,
          CAST(2 AS BIGINT) AS n_fold_won,
          CAST(0 AS BIGINT) AS n_fold_lost,
          CAST(2 AS BIGINT) AS n_compact_fired,
          CAST(2 AS BIGINT) AS max_interval
        FROM sr FULL OUTER JOIN dr ON sr.doc_id = dr.doc_id
        ORDER BY rrf_nano DESC, doc_id"""),
      // fixture: both indexes seeded WHOLE through the shared folds —
      // the measured run owns the churn and the concurrent drains
      setup = Some((s, dir) => {
        Engine2.ann3Seed(s, "gcat.dann", dir)
        val ns2 = "gcat.dfts"
        fts2SeedCorpus(s, ns2, dir)
        s.sql(s"DROP TABLE IF EXISTS $ns2.maint_log")
        s.sql(s"CREATE TABLE $ns2.maint_log " +
          "(v_from BIGINT, v_to BIGINT, route STRING, won BOOLEAN)")
        ()
      })),

    // ---- q188: maintainer-owned dictionary — the self-maintaining -------
    // retrieval stack in ONE loop. q183 proved the dict disciplines
    // (fold-first ordering, append-only serve, df from live postings);
    // q174 proved the maintainer loop. q188 composes them the way
    // production runs: IndexMaintain drives dict (preFold, BEFORE each
    // interval's fold — the crash-safe order), index fold
    // (transactional, watermark-preconditioned), and BOTH debt payoffs
    // from onBatch (dict compaction first — it keys on the tombstones
    // the index compaction clears; both fire here via a tiny debt
    // fraction). The serve is the maintained fuzzy lookup; n_tomb = 0
    // pins that the index debt was paid inside the drain, and
    // dict_rows pins the compacted dict at EXACTLY the live
    // vocabulary's deletion-neighborhood size (dead terms' variants
    // gone, duplicates gone, nothing lost). At 100 TB: one streaming
    // loop per index = ingest + side state + retrieval + maintenance
    // with zero external orchestration.
    QueryDef(
      "q188_maintained_dict",
      (s, dir) => {
        ensureCatalog(s, dir)
        val ns2 = "gcat.fts10"
        // guarded churn (idempotent re-runs, the q174 discipline)
        s.sql(s"DELETE FROM $ns2.fts2_src WHERE doc_id % 11 = 3")
        s.sql(
          s"""UPDATE $ns2.fts2_src SET text = concat(text, ' sowx')
             |WHERE doc_id % 11 = 7 AND text NOT LIKE '%sowx'""".stripMargin)
        val head = fts2SrcVersion(s, ns2)
        val wm = graft.streaming.IndexMaintain.watermark(s, s"$ns2.fts2_meta")
        if (head > wm) {
          val ckpt = java.nio.file.Files.createTempDirectory("q188_ckpt").toString
          // the dict version this interval's preFold landed, handed to
          // the SAME interval's fold as its `dictExpect` precondition —
          // the pair-atomicity guard that keeps a dict compaction from
          // squeezing between them (see dictCompact's ordering scaladoc).
          // Same-thread hand-off: IndexMaintain runs preFold then the
          // fold inside one foreachBatch.
          val dictV = new java.util.concurrent.atomic.AtomicLong(0L)
          graft.streaming.IndexMaintain.start(
            s, s"$ns2.fts2_src", s"$ns2.fts2_meta", ckpt,
            s.conf.get("spark.sql.catalog.gcat.warehouse"),
            foldAppend = (delta, v1, v2) =>
              fts2Fold(s, ns2, delta.select(col("doc_id"), col("text")), v2,
                expect = Some(v1), dictExpect = Some(dictV.get)),
            foldFeed = (feed, v1, v2) =>
              fts2FoldFeed(s, ns2, s"$ns2.fts2_src", feed, v1, v2,
                expect = Some(v1), dictExpect = Some(dictV.get)),
            onBatch = (_, _, _) => {
              dictCompactIfDebt(s, ns2, frac = 1e-9)
              fts2CompactIfDebt(s, ns2, frac = 1e-9)
              ()
            },
            preFold = (feed, _, v2) => {
              val affected = feed.select(col("doc_id")).distinct()
              dictV.set(dictFold(s, ns2,
                s.read.option("snapshot-version", v2).table(s"$ns2.fts2_src")
                  .join(affected, Seq("doc_id"), "left_semi")
                  .select(col("doc_id"), col("text"))))
            })
            .awaitTermination()
        }
        val tombs = s.table(s"$ns2.fts2_del")
          .agg(count(lit(1)).cast("long").as("n_tomb"))
        val dictRows = s.table(s"$ns2.dict_var")
          .agg(count(lit(1)).cast("long").as("dict_rows"))
        fuzzyServe(s, ns2, "sow")
          .crossJoin(broadcast(tombs))
          .crossJoin(broadcast(dictRows))
          .orderBy(col("dist"), desc("df"), col("tok"))
      },
      // brute-force levenshtein over the post-churn LIVE corpus, plus
      // the dict-size pin: distinct (variant, term) over the live
      // vocabulary's deletion neighborhoods — the compacted dict must
      // hold exactly that, no dead-term variants, no duplicates
      Some("""WITH corp AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 11 = 7 THEN text || ' sowx'
                      ELSE text END AS text
          FROM documents WHERE doc_id % 11 <> 3),
        d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM corp),
        t AS (SELECT doc_id, unnest(sp) AS tok FROM d),
        dict AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
                 FROM (SELECT DISTINCT doc_id, tok FROM t) GROUP BY tok),
        vt AS (SELECT DISTINCT tok FROM t),
        vars AS (SELECT tok, unnest(list_distinct(list_concat(
                   list_transform(range(1, len(tok) + 1),
                     i -> substr(tok, 1, i - 1) || substr(tok, i + 1, len(tok))),
                   [tok]))) AS variant
                 FROM vt),
        dr AS (SELECT CAST(COUNT(*) AS BIGINT) AS dict_rows
               FROM (SELECT DISTINCT variant, tok FROM vars))
        SELECT tok, CAST(levenshtein(tok, 'sow') AS BIGINT) AS dist, df,
               CAST(0 AS BIGINT) AS n_tomb, dr.dict_rows
        FROM dict CROSS JOIN dr WHERE levenshtein(tok, 'sow') <= 1
        ORDER BY dist, df DESC, tok"""),
      // fixture: corpus + dict seeded through the SHARED folds (q183's
      // setup); the measured run owns the churn and the maintainer drain
      setup = Some((s, dir) => {
        val ns2 = "gcat.fts10"
        val v1 = fts2SeedCorpus(s, ns2, dir)
        s.sql(s"CREATE TABLE IF NOT EXISTS $ns2.dict_var (variant STRING, tok STRING)")
        dictFold(s, ns2, s.read.option("snapshot-version", v1)
          .table(s"$ns2.fts2_src").select(col("doc_id"), col("text")))
        ()
      }))
  )

  /** REBUILD INDEX for the maintained FTS stack (q186) — q185's sparse
    * sibling: re-ANALYZE the head-pinned current corpus under a new
    * tokenization and swap the whole index in ONE transaction. Analyzer
    * migrations (stemming, casefolding, truncation) change the term
    * space itself, so — exactly like a quantizer swap — no
    * serve-consistent publish prefix exists (old postings are
    * meaningless under the new analysis) and consistency during the
    * publish window rides the transaction protocol (all-or-nothing,
    * readAt, roll-forward recover). The watermark advances to head IN
    * the transaction: the rebuild consumed every source commit up to it.
    * `analyze` maps raw text to the re-analyzed text whose
    * space-separated tokens ARE the new term space — the shared
    * [[fts2IndexRows]] does the rest, so the rebuilt index is
    * bit-compatible with every existing serve path. O(corpus) by
    * definition; run at analyzer-migration time, not per batch. */
  private[graft] def fts2Retokenize(s: SparkSession, ns: String,
      analyze: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Unit = {
    val coord = s.conf.get(s"spark.sql.catalog.${ns.split('.')(0)}.warehouse")
    val head = fts2SrcVersion(s, ns)
    val src = s.read.option("snapshot-version", head).table(s"$ns.fts2_src")
      .select(col("doc_id"), analyze(col("text")).as("text"))
    // O(corpus) rebuild: persist the re-analysis once — the transaction
    // writes three frames derived from it (postings, positions,
    // constants) and would otherwise re-scan + re-analyze the corpus per
    // frame (3 full passes -> 1 pass + 2 cache reads)
    val shards = fts2ShardCount(src)
    val docs = fts2Tokenize(src)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (post, pos, glob) = fts2IndexRowsFromDocs(docs, head, shards)
      graft.sources.Transactions.run(s, coord) { txn =>
        txn.replace(s"$ns.fts2_post", post)
        txn.replace(s"$ns.fts2_pos", pos)
        txn.replace(s"$ns.fts2_glob", glob)
        txn.replace(s"$ns.fts2_del", s.table(s"$ns.fts2_del").limit(0))
        txn.write(s"$ns.fts2_meta",
          s.range(1).select(lit(head).as("indexed_version")))
      }
    } finally docs.unpersist(blocking = false)
  }

  /** LIVE registry head of `ns.table` (0 when never written) — one
    * metadata read. */
  private[graft] def tableVersion(s: SparkSession, ns: String,
      table: String): Long = {
    val Array(cat, db) = ns.split('.')
    val wh = s.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val dd = new org.apache.hadoop.fs.Path(s"$wh/$db/$table/data")
    graft.sources.TableStats.liveVersion(
      dd.getFileSystem(new org.apache.hadoop.conf.Configuration()), dd)
      .getOrElse(0L)
  }

  /** Whether every named table of `ns` still stands at its live
    * version — a donor's re-seed check ([[fts2SeedCorpus]]). */
  private[graft] def standsAt(s: SparkSession, ns: String,
      versions: (String, Long)*): Boolean =
    versions.forall { case (t, v) => tableVersion(s, ns, t) == v }

  /** LIVE registry head of `ns.dict_var` (0 when never written) — the
    * version the dict-consistency preconditions compare ([[dictFold]]'s
    * read basis, the fold-side `dictExpect`, [[dictCompact]]'s
    * replace-base). */
  private[graft] def dictVersion(s: SparkSession, ns: String): Long =
    tableVersion(s, ns, "dict_var")

  /** Append the deletion-neighborhood variants of `batch`'s NEW terms to
    * `ns.dict_var` — terms the dict already knows are anti-joined away,
    * so the dict stays one row per (variant, term) and folds cost
    * O(batch tokens + dict), never the corpus. Append-only by design:
    * a dead term's suggestions die at SERVE time (df = 0 from the
    * pinned postings), folds never rewrite — dead vocabulary is
    * compaction debt that [[dictCompact]] pays off at q173 cadence
    * ([[dictCompactIfDebt]] is its trigger). ORDERING CONTRACT: call this
    * BEFORE the interval's index fold — the dict lives outside the
    * fold's transaction, and dict-first makes the crash window benign
    * (superset dict + un-advanced watermark → the interval re-runs),
    * where fold-first would lose the interval's new terms forever.
    *
    * The append is a CHECKED transaction through the coordinator, for
    * the pinned-serve contract ([[fuzzyServe]] reads the dict at the
    * [[ServePin]] cut, so the coordinator HEAD must speak for
    * `dict_var`): the commit precondition re-checks that the dict is
    * still at the version the anti-join read — a [[dictCompact]] landing
    * in between invalidates the "already known" premise (it may have
    * just REMOVED a term this batch resurrects), so the fold retries
    * against the compacted dict and re-adds it. Returns the dict
    * version the interval's index fold must expect (its `dictExpect`):
    * the version OUR append landed at — never a later live read, which
    * could silently absorb a compaction squeezing between this fold
    * pair — or the unchanged read basis when the batch had no new
    * terms. */
  private[graft] def dictFold(s: SparkSession, ns: String, batch: DataFrame): Long = {
    val coord = s.conf.get(s"spark.sql.catalog.${ns.split('.')(0)}.warehouse")
    val Array(_, db) = ns.split('.')
    val dictDir = s"$coord/$db/dict_var"
    def attempt(retriesLeft: Int): Long = {
      val v0 = dictVersion(s, ns)
      val batchTerms = fts2Tokenize(batch)
        .select(explode(col("sp")).as("tok")).distinct()
      val known = s.table(s"$ns.dict_var").select(col("tok")).distinct()
      val fresh = batchTerms.join(known, Seq("tok"), "left_anti")
      val variants = fresh.select(col("tok"), explode(expr(
          """array_union(array(tok), transform(sequence(1, length(tok)),
            |  i -> concat(substring(tok, 1, i - 1),
            |              substring(tok, i + 1, length(tok)))))""".stripMargin))
          .as("variant"))
        .select(col("variant"), col("tok"))
      // a batch with NO new terms commits nothing: re-reading the
      // version after the (already-evaluated) anti-join proves the read
      // basis stood — versions are monotone, so an unchanged version
      // means no compaction could have invalidated "already known", and
      // v0 is exactly what the fold must expect. A changed version
      // retries against the new dict state.
      if (variants.isEmpty) {
        if (dictVersion(s, ns) == v0) v0
        else if (retriesLeft > 0) attempt(retriesLeft - 1)
        else throw new IllegalStateException(
          s"graft: dictFold on $ns could not hold a dict-read basis")
      } else try {
        val id = graft.sources.Transactions.run(s, coord) { txn =>
          txn.precondition(
            s"$ns.dict_var version == $v0 (dictFold read basis)") {
            dictVersion(s, ns) == v0
          }
          txn.write(s"$ns.dict_var", variants)
        }
        // the landed version comes from the transaction's own record,
        // never a later live read (which could silently absorb a
        // compaction landing right after our commit)
        graft.sources.Transactions.publishedVersions(coord, id)
          .flatMap(_.get(dictDir)).getOrElse(
            throw new IllegalStateException(
              s"graft: dictFold txn $id on $ns has no published-versions " +
                "record — cannot hand the fold a dict basis to expect"))
      } catch {
        case e: graft.sources.Transactions.PreconditionFailed
            if retriesLeft > 0 =>
          graft.GraftLog.debug(s"graft: dictFold on $ns lost its read " +
            s"basis (concurrent dict write): retrying (${e.getMessage})")
          attempt(retriesLeft - 1)
      }
    }
    attempt(5)
  }

  /** COMPACT the fuzzy dictionary — the [[fts2Compact]] (q173)
    * discipline applied to the one maintained index table that
    * append-only folds never shrink: rewrite `ns.dict_var` to the
    * variants of terms with LIVE postings (df > 0 under the current
    * tombstones — exactly the serve's own drop rule, so no answer
    * changes), one staged REPLACE. Long-dead vocabulary's deletion
    * neighborhoods — which [[dictFold]]'s append-only design otherwise
    * accretes forever — drop here, returning the dict to live-vocabulary
    * size. O(dict + postings-token sweep); run at compaction cadence,
    * not per batch.
    *
    * ORDERING: never run between a [[dictFold]] and its interval's index
    * fold — the pending batch's fresh terms have no postings yet and
    * would be stripped, and dictFold's anti-join would never re-add them
    * (the permanent loss its ordering contract exists to prevent). The
    * [[graft.streaming.IndexMaintain]] `onBatch` hook (after the fold,
    * before the next dictFold) and any point outside a fold sequence are
    * safe; the CONCURRENT-maintainer interleavings are all caught at the
    * commit point and skip benignly:
    *  - a dictFold append racing this REPLACE → the transaction's
    *    replace-base check ([[graft.sources.Transactions.ReplaceRaceLost]]);
    *  - an index fold landing between this compaction's liveness basis
    *    and its commit (the fold's batch may resurrect a term this
    *    rewrite would strip — the race a PINNED serve would observe as a
    *    lost suggestion) → the `fts2_post` version precondition below;
    *  - the inverse order (this compaction landing inside a dictFold →
    *    index-fold pair) → the pair's own `dictExpect` precondition
    *    aborts the FOLD, and the interval re-runs against the compacted
    *    dict.
    * Liveness is computed AT the basis version the precondition then
    * re-checks, so the rewrite's premise and its guard are the same
    * snapshot. Tombstones are read live: tombstones only GROW between
    * index compactions (truncation rewrites `fts2_post`, tripping the
    * precondition), and a newer tombstone can only mark more terms dead
    * — a term it kills that some PINNED cut still serves is re-added on
    * the next fold that resurrects it (the `dictExpect` chain), and a
    * pinned SERVE of such a term still verifies df from its own pinned
    * postings, where the dict entry still exists. */
  private[graft] def dictCompact(s: SparkSession, ns: String,
      raceSeam: () => Unit = () => ()): Boolean = {
    val coord = s.conf.get(s"spark.sql.catalog.${ns.split('.')(0)}.warehouse")
    val (dictRows, _) = registryStats(s, ns, "dict_var")
    if (dictRows == 0L) return false
    val basisPost = tableVersion(s, ns, "fts2_post")
    val basePostings =
      if (basisPost == 0L) s.table(s"$ns.fts2_post") // never written: empty
      else s.read.option("snapshot-version", basisPost).table(s"$ns.fts2_post")
    val liveToks = fts2Surviving(basePostings, fts2TombMaxOpt(s, ns))
      .select(col("tok")).distinct()
    // shard from the BASE dict scan (an upper bound of the survivors —
    // the fts2Compact discipline: post-join size estimates over-shard)
    val shards = fts2ShardCount(s.table(s"$ns.dict_var"))
    compactTxn(s, coord, s"$ns dict") { txn =>
      txn.precondition(
        s"$ns.fts2_post version == $basisPost (dict liveness basis)") {
        tableVersion(s, ns, "fts2_post") == basisPost
      }
      // distinct also RESTORES the one-row-per-(variant, term) invariant:
      // two racing maintainers' preFold dictFolds can both pass the
      // anti-join and double-append the same rows (serve-neutral — the
      // candidate read distincts — but debt this rewrite should clear).
      // Re-cluster by VARIANT (the q161 postings discipline applied to
      // the dict's own lookup key): appends land unclustered, so before
      // compaction a fuzzy lookup's variant IN-list scans every dict
      // file — after it, the commit-time range registry disproves the
      // IN-list per file and the point-join opens O(1) files at any
      // vocabulary size.
      txn.replace(s"$ns.dict_var",
        s.table(s"$ns.dict_var").join(liveToks, Seq("tok"), "left_semi")
          .select(col("variant"), col("tok")).distinct()
          .repartitionByRange(shards, col("variant"))
          .sortWithinPartitions(col("variant"), col("tok")))
      // test seam: the window where a concurrent maintainer's preFold
      // dictFold append races this staged REPLACE (commit's base check
      // catches it; compactTxn makes the loss a benign skip)
      raceSeam()
    }
  }

  /** [[dictCompact]]'s trigger policy, registry-only like
    * [[fts2CompactIfDebt]]: dead dictionary vocabulary only arises from
    * the deletes/updates that leave tombstones, so the SAME tombstone
    * debt signal gates both — run this BEFORE `fts2CompactIfDebt` in an
    * `onBatch` hook (index compaction clears the tombstones the check
    * keys on), and the pair self-resets: once both fire, debt is zero
    * until new churn accrues it. Returns true when a compaction ran. */
  private[graft] def dictCompactIfDebt(s: SparkSession, ns: String,
      frac: Double = 0.05): Boolean = {
    val (tombRows, _) = registryStats(s, ns, "fts2_del")
    tombRows > 0L && {
      val (postRows, _) = registryStats(s, ns, "fts2_post")
      tombRows.toDouble > frac * math.max(postRows, 1L).toDouble &&
        dictCompact(s, ns)
    }
  }

  /** Fuzzy suggestions from the MAINTAINED dict + index: candidates from
    * the variant point-join (dict-sized), exact levenshtein ≤ 1 verify,
    * then df from the PINNED postings — an IN-pruned, survival-filtered
    * read over just the candidate terms (the model-sized collect is the
    * q142 probed-lists pattern). df = 0 candidates drop here, which is
    * what lets the dict stay append-only under deletes.
    *
    * The dictionary is read at the SAME [[ServePin]] cut as the
    * postings it verifies against — the last maintained-index read to
    * join the pinned set: a live dict read could miss a candidate a
    * racing [[dictCompact]] just stripped (dead in the LIVE index but
    * alive at this serve's pinned cut — a lost suggestion, the
    * fuzzy-shaped "third answer"). Consistency of the pinned pair rests
    * on every dict writer publishing through the coordinator
    * ([[dictFold]]'s checked append, [[dictCompact]]'s checked replace)
    * and on the fold-pair / liveness-basis preconditions those writers
    * carry — see [[dictCompact]]'s ordering scaladoc for the full
    * interleaving argument. */
  private[graft] def fuzzyServe(s: SparkSession, ns: String, query: String): DataFrame =
    fuzzyServe(s, ns, query, ServePin.of(s, ns))

  private[graft] def fuzzyServe(s: SparkSession, ns: String, query: String,
      pin: ServePin): DataFrame = {
    val qVariants = (query +: query.indices.map(i =>
      query.substring(0, i) + query.substring(i + 1))).distinct
    val cands = pin.tableOrLive("dict_var")
      .where(col("variant").isin(qVariants: _*))
      .select(col("tok")).distinct()
      .withColumn("dist", levenshtein(col("tok"), lit(query)))
      .where(col("dist") <= 1)
      .collect().map(r => (r.getString(0), r.getInt(1)))
    val tombMax = fts2TombMaxOpt(s, pin)
    val live = fts2Surviving(
      pin.table("fts2_post")
        .where(col("tok").isin(cands.map(_._1): _*)), tombMax)
    import s.implicits._
    live.groupBy(col("tok"))
      .agg(count(lit(1)).cast("long").as("df"))
      .join(cands.toSeq.toDF("tok", "d"), "tok")
      .select(col("tok"), col("d").cast("long").as("dist"), col("df"))
      .orderBy(col("dist"), desc("df"), col("tok"))
  }
}
