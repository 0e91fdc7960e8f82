package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-table ATOMIC transactions: stage appends to several graft
  * tables, then make them all visible together — after a crash at ANY
  * point, [[Transactions.recover]] converges every participant to
  * all-published or all-discarded. The classic use is keeping an index
  * consistent with its base (the ANN index tables of q142/q154: postings
  * + meta must advance together or not at all), or a derived table that
  * must never be observed ahead of / behind its source after a failure.
  *
  * The protocol composes the existing verified pieces — per-table WAP
  * staging ([[Snapshots.stageWap]]: staged files invisible to every
  * reader, vacuum-protected via the audit tag) and the atomic
  * single-file commit point pattern the engine already uses everywhere:
  *
  *  1. '''stage''' — each `txn.write(table, df)` lands as a WAP append
  *     (`wap.id = txn-<id>-<n>`) through the normal write path: files
  *     durable, invisible, per-table lock held only inside that write;
  *  2. '''intent''' — `<coord>/_txn/<id>.intent` lists every
  *     `(tableDir, wapId)` participant;
  *  3. '''decide''' — creating `<coord>/_txn/<id>.commit` (create-
  *     exclusive, never overwritten) IS the commit point;
  *  4. '''complete''' — each stage is published
  *     ([[Snapshots.publishWap]]: one registry swap per table), then the
  *     marker files are removed.
  *
  * Crash matrix (each arm exercised in CrashSpec):
  *  - before the intent: stages are invisible; recover() cannot know the
  *    participants, but each table's stage is discoverable via
  *    [[Snapshots.listWap]] and discardable by id — and harmless
  *    meanwhile (readers never see it);
  *  - intent written, no commit marker: recover() rolls BACK — discards
  *    every participant's stage (age-guarded so an in-flight transaction
  *    isn't rolled back under the coordinator);
  *  - commit marker exists: recover() rolls FORWARD — publishes every
  *    stage not yet published. Publishing is idempotent through
  *    re-crashes: a re-publish of folded adds rewrites the same entries,
  *    and a participant whose wap-list is already gone is already live.
  *
  * What this does and does NOT claim: after recovery the writes are
  * atomic — all visible or none ("atomic durability"). A LIVE read
  * during the complete phase can still observe table A published
  * moments before table B; readers needing consistency use the
  * CROSS-TABLE READ SNAPSHOT instead: every publish records its version
  * durably, complete()/recover() assemble them into a per-transaction
  * record, and [[readAt]] resolves each participant `VERSION AS OF` its
  * recorded version — all-new, never a mix. Before the record exists
  * (undecided or mid-complete) readers pin pre-transaction versions —
  * all-old. The snapshot versions expire under vacuum like any others;
  * tag them for durable replay.
  *
  * Scale shape: staging moves only this transaction's files; intent /
  * commit markers are O(participants) bytes; publish is one registry
  * swap per table. Nothing global, nothing proportional to table size.
  */
object Transactions {

  /** Thrown by [[Txn.commit]] when a registered [[Txn.precondition]] no
    * longer holds at the commit point: every stage rolled back, no
    * changes applied. Callers for whom the failure is a benign lost
    * race (a duplicate index maintainer whose interval another
    * maintainer already folded) catch THIS type specifically and skip;
    * anything else propagating from a commit stays fatal. */
  final class PreconditionFailed(msg: String) extends IllegalStateException(msg)

  /** Thrown by [[Txn.commit]] when a staged REPLACE's base-version check
    * fails: another commit landed on a replaced table between staging
    * and commit, so publishing the swap would silently wipe it — every
    * stage rolled back, no changes applied. A distinct type for the
    * same reason as [[PreconditionFailed]]: callers for whom the race
    * is benign backpressure (a compaction losing to a concurrent
    * maintainer's fold — the debt is still there, the next trigger
    * retries) catch THIS and skip, while unexpected commit failures
    * stay fatal. */
  final class ReplaceRaceLost(msg: String) extends IllegalStateException(msg)

  private def fsOf(p: Path): FileSystem = p.getFileSystem(new Configuration())

  private def txnDir(coordDir: String): Path = new Path(coordDir, "_txn")

  /** One open transaction. Not thread-safe (one writer per txn). */
  final class Txn private[Transactions] (
      spark: SparkSession, coordDir: String, val id: String) {

    // (tableDir, wapId) per staged write
    private val parts = scala.collection.mutable.ArrayBuffer[(String, String)]()
    // (tableDir, live version at stage time) per staged REPLACE — the
    // race check commit() runs before deciding
    private val replaceBases =
      scala.collection.mutable.ArrayBuffer[(String, Option[Long])]()
    // (description, check) commit-point preconditions — see [[precondition]]
    private val preconds =
      scala.collection.mutable.ArrayBuffer[(String, () => Boolean)]()
    private var n = 0
    private var decided = false

    private def resolveDir(table: String): String = {
      // resolve BEFORE writing: on a non-graft table the wap.id option
      // would be ignored and the write would land live — un-rollbackable
      val ident = spark.sessionState.sqlParser.parseMultipartIdentifier(table)
      val (cat, tid) = GraftViewBridge.resolveIdent(spark, ident).getOrElse(
        throw new IllegalArgumentException(
          s"graft: $table is not in a graft catalog"))
      cat.loadTable(tid).asInstanceOf[GraftTable].tableDir
    }

    /** Stage `df` as an APPEND to `table` (a catalog-qualified graft
      * table). Files land durably but stay invisible to every reader
      * until the transaction commits. Several writes to one table are
      * fine (each is its own stage). */
    def write(table: String, df: DataFrame): Unit = {
      require(!decided, s"graft: txn $id already committed")
      val dir = resolveDir(table)
      require(!replaceBases.exists(_._1 == dir),
        s"graft: txn $id already stages a REPLACE of $table; mixing it " +
          "with other writes to the same table in one transaction has no " +
          "coherent publish order")
      n += 1
      val wapId = s"txn-$id-$n"
      df.writeTo(table).option("wap.id", wapId).append()
      parts += ((dir, wapId))
    }

    /** Stage `df` as a full REPLACE of `table`'s contents: at commit the
      * table's live manifest becomes exactly this write's files — every
      * prior entry drops (replaced-away files stay on disk for time
      * travel until vacuum), and the published version carries a
      * [[ChangeLog.Replace]] marker so change feeds replay it as
      * delete(old rows) + insert(new rows). An empty `df` is a staged
      * TRUNCATE.
      *
      * Replace loses the append stage's fast-forward property: a commit
      * landing on the table between staging and publish would be wiped.
      * commit() therefore verifies, immediately before the decide point,
      * that every replaced table is still at the version it was staged
      * against, and rolls back otherwise; the residual window (decide →
      * publish) is covered by the caller being the table's single
      * maintainer — the same exclusivity OPTIMIZE requires. Publish
      * order is stage order, so stage replaces in serve-consistent order
      * (e.g. rewrite postings BEFORE truncating the tombstones that
      * justify the rewrite — every mid-publish prefix then serves
      * correctly). */
    def replace(table: String, df: DataFrame): Unit = {
      require(!decided, s"graft: txn $id already committed")
      val dir = resolveDir(table)
      require(!parts.exists(_._1 == dir),
        s"graft: txn $id already stages a write to $table; mixing a " +
          "REPLACE with other writes to the same table in one transaction " +
          "has no coherent publish order")
      val dataDir = new Path(dir, "data")
      val fs = fsOf(dataDir)
      // materialize an empty registry FIRST on a never-written table —
      // the stage below would otherwise do it and advance liveVersion,
      // tripping the race check with a phantom "concurrent commit"
      if (TableStats.readIfExists(fs, dataDir).isEmpty)
        TableStats.withLock(fs, dataDir) {
          if (TableStats.readIfExists(fs, dataDir).isEmpty)
            TableStats.write(fs, dataDir, Map.empty)
        }
      val base = TableStats.liveVersion(fs, dataDir)
      n += 1
      val wapId = s"txn-$id-$n"
      df.writeTo(table).option("wap.id", wapId)
        .option("wap.replace", "true").append()
      parts += ((dir, wapId))
      replaceBases += ((dir, base))
    }

    /** Register a commit-point precondition: `check` is re-evaluated
      * immediately before the decide point and a false aborts the
      * commit with [[PreconditionFailed]] (run() then rolls every stage
      * back — no changes applied). Unlike the REPLACE race check, a
      * checked commit runs its check-decide-publish sequence under the
      * COORDINATOR's commit lock, so a condition reading committed
      * state (e.g. an index watermark: `indexed_version == expected`)
      * cannot be invalidated by another checked commit between its
      * check and its publish — two maintainers folding the same
      * interval serialize here and the loser aborts instead of
      * double-indexing. The lock is held for the metadata-sized publish
      * only (stages are already durable), and only checked commits pay
      * it — unchecked transactions commit lock-free as before. */
    def precondition(description: String)(check: => Boolean): Unit = {
      require(!decided, s"graft: txn $id already committed")
      preconds += ((description, () => check))
    }

    private[graft] def writeIntent(): Unit = {
      val d = txnDir(coordDir)
      val fs = fsOf(d)
      fs.mkdirs(d)
      val out = fs.create(new Path(d, s"$id.intent"), false)
      try out.write(parts.map { case (dir, wap) => s"$dir\t$wap" }
        .mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }

    /** The commit point: create-exclusive marker. After this returns,
      * recovery rolls the transaction FORWARD, never back. */
    private[graft] def decide(): Unit = {
      fsOf(txnDir(coordDir)).create(
        new Path(txnDir(coordDir), s"$id.commit"), false).close()
      decided = true
    }

    private[graft] def complete(): Unit = {
      val versions = parts.toSeq.map { case (dir, wap) =>
        dir -> publishIfStaged(dir, wap) }
      // the cross-table read snapshot: recorded BEFORE the markers drop,
      // so a crash in between re-drives through recover(), which reads
      // the same per-table published records and rewrites this file —
      // idempotent. Kept after completion (O(participants) bytes,
      // expired by [[recover]]'s record TTL).
      writeVersionsRecord(coordDir, id, versions)
      // fold this transaction's landing versions into the coordinator's
      // cross-table HEAD (what serves pin to) — after every participant
      // is live, before the markers drop; a crash in between re-drives
      // through recover(), which merges the same versions (idempotent:
      // per-dir max)
      mergeHead(coordDir, versions)
      val fs = fsOf(txnDir(coordDir))
      fs.delete(new Path(txnDir(coordDir), s"$id.commit"), false)
      fs.delete(new Path(txnDir(coordDir), s"$id.intent"), false)
    }

    /** Make every staged write visible. Idempotent through crashes when
      * re-driven by [[recover]]. */
    def commit(): Unit =
      if (parts.isEmpty) decided = true // nothing staged, nothing to do
      else {
        // REPLACE race check at the last moment before the decide point:
        // a commit that landed on a replaced table since staging would be
        // silently wiped by the swap — refuse (the caller's run() rolls
        // every stage back). After decide, publish can no longer fail, so
        // the residual decide→publish window rests on the caller being
        // the table's single maintainer (see [[replace]]).
        replaceBases.foreach { case (dir, base) =>
          val dataDir = new Path(dir, "data")
          val cur = TableStats.liveVersion(fsOf(dataDir), dataDir)
          if (cur != base) throw new ReplaceRaceLost(
            s"graft: txn $id lost a race: $dir advanced from " +
              s"${base.getOrElse("∅")} to ${cur.getOrElse("∅")} since its " +
              "REPLACE was staged; no changes applied")
        }
        def checkAndPublish(): Unit = {
          preconds.foreach { case (desc, check) =>
            if (!check()) throw new PreconditionFailed(
              s"graft: txn $id precondition failed: $desc; no changes applied")
          }
          writeIntent(); decide(); complete()
        }
        if (preconds.isEmpty) checkAndPublish()
        else {
          // serialize checked commits through the coordinator (see
          // [[precondition]]): the lock parents at txnDir, so every
          // checked commit under one coordinator contends on one file.
          // An acquisition TIMEOUT here is backpressure, not failure —
          // nothing has been decided yet (stages are durable and still
          // invisible), so retry a bounded number of times before
          // propagating; without the retry a maintainer's fold fails
          // hard (stream error) just because a sibling held the guard
          // through a slow publish. Mutual exclusion itself rests on
          // withLock's 60 s stale-expiry + 15 s heartbeat: only a
          // holder whose WHOLE PROCESS stalls > 60 s (heartbeat thread
          // included) can be wrongly expired — the same assumption
          // every table commit already makes.
          val guard = new Path(txnDir(coordDir), "commit-guard")
          // The retry below must cover GUARD ACQUISITION only: nested
          // withLock calls inside the body (mergeHead's head-guard, the
          // per-table publish locks) throw the same LockTimeout type,
          // and retrying one of those after decide() would re-run
          // recover() — rolling our OWN decided txn forward — then
          // re-evaluate preconditions against post-commit state, so a
          // COMMITTED fold would surface as PreconditionFailed. The
          // `entered` flag separates "never got the guard" (retryable:
          // nothing decided, stages durable and invisible) from "failed
          // inside the body" (propagate — idempotent recovery owns it).
          def guarded(attempt: Int): Unit = {
            var entered = false
            try TableStats.withLock(fsOf(guard), guard) {
              entered = true
              // a sibling that DECIDED and died mid-publish is already
              // committed but may be INVISIBLE to the checks (e.g. its
              // watermark publish never landed) — without this, a
              // duplicate fold would pass its precondition and the dead
              // sibling's later roll-forward would double-index the
              // interval. Converge decided transactions first, under the
              // same lock: minAge = MaxValue makes this decided-ONLY
              // (roll-forward is always safe; live undecided siblings are
              // never touched), at the cost of one _txn listing per
              // checked commit.
              recover(spark, coordDir, minAgeMillis = Long.MaxValue)
              checkAndPublish()
            } catch {
              case e: TableStats.LockTimeout if !entered && attempt < 3 =>
                graft.GraftLog.debug(s"graft: txn $id commit guard busy " +
                  s"(attempt $attempt): ${e.getMessage}; retrying")
                guarded(attempt + 1)
            }
          }
          guarded(1)
        }
      }

    /** Discard every staged write: the transaction never happened. */
    def rollback(): Unit = {
      require(!decided, s"graft: txn $id already committed")
      parts.foreach { case (dir, wap) => discardIfStaged(dir, wap) }
      fsOf(txnDir(coordDir))
        .delete(new Path(txnDir(coordDir), s"$id.intent"), false)
    }
  }

  /** Publish one participant's stage (idempotent through crashes) and
    * return the version its adds are live at: the publish's own version,
    * or — when a pre-crash attempt already published — the version that
    * attempt recorded ([[Snapshots.publishedWapVersion]]). None when the
    * stage is neither staged nor recorded (a pre-record-era publish, or
    * a manually cleaned `_wap` dir): convergence proceeds — the adds are
    * treated as live — but the landing version is unknowable, so the
    * transaction gets no read-snapshot record. */
  private def publishIfStaged(tableDir: String, wapId: String): Option[Long] = {
    val dataDir = new Path(tableDir, "data")
    if (Snapshots.readWap(fsOf(dataDir), dataDir, wapId).isDefined)
      Some(Snapshots.publishWap(tableDir, wapId))
    else Snapshots.publishedWapVersion(fsOf(dataDir), dataDir, wapId)
  }

  /** Durable per-transaction record of where each participant's publish
    * landed: `_txn/<id>.versions`, one `tableDir\tversion` line per
    * participant (several stages to one table keep the LAST — highest —
    * version, which contains them all). Written via tmp + atomic rename
    * — the record either exists whole or not at all; a torn snapshot
    * record would silently serve WRONG versions. When any participant's
    * landing version is unknowable (pre-record publish, manually cleaned
    * `_wap`), the record is skipped entirely — readers then keep the
    * pre-transaction all-old view; a partial record would misreport the
    * missing table as "not a participant". */
  /** The coordinator's cross-table version HEAD: `_txn/versions.head`,
    * one `tableDir\tversion` line per table ever published through a
    * transaction under this coordinator, each at the LAST version a
    * FULLY-completed transaction landed it at. This is what a
    * maintained-index SERVE pins to: because the merge happens only
    * after a transaction's every participant is live (and writes the
    * whole participant set in one atomic rename), a reader resolving
    * all its tables from ONE head read sees either none or all of any
    * transaction's writes — never postings at rev v+1 against
    * tombstones at rev v, the torn view a live read racing a
    * mid-complete publish can observe.
    *
    * Consistency relies on writers of a SHARED table set being
    * serialized (the checked-commit guard / single-maintainer
    * enforcement — exactly the production index topology); concurrent
    * transactions over disjoint table sets merge commutatively. The
    * merge runs under its own `head-guard` lock so concurrent
    * disjoint-set completes cannot lose each other's entries, and is
    * skipped whole when any participant's landing version is
    * unknowable (same all-or-nothing rule as the per-txn record — a
    * partial merge would itself be a torn cut). O(tables under the
    * coordinator) bytes; read is one small file. */
  def headVersions(coordDir: String): Map[String, Long] = {
    val p = new Path(txnDir(coordDir), "versions.head")
    val fs = fsOf(p)
    // Retry the transient local-FS artifact of an OVERWRITE rename
    // racing this read: ChecksumFileSystem swaps the file and its .crc
    // sidecar as TWO renames, so a reader squeezed between them sees
    // new-bytes-with-old-crc (ChecksumException) or a vanishing sidecar
    // (FileNotFound). Serves read this file per query while every fold
    // commit rewrites it, so the window is actually hit under live
    // maintenance (the interleaved-serve spec caught it). Bounded: a
    // PERSISTENT checksum error is real corruption and must propagate.
    def attempt(retriesLeft: Int): Map[String, Long] =
      try {
        if (!fs.exists(p)) Map.empty
        else {
          val in = fs.open(p)
          val text = try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8) finally in.close()
          text.split('\n').toSeq.filter(_.nonEmpty).flatMap { line =>
            val i = line.lastIndexOf('\t')
            if (i <= 0) None
            else line.substring(i + 1).toLongOption.map(line.substring(0, i) -> _)
          }.toMap
        }
      } catch {
        case _: org.apache.hadoop.fs.ChecksumException |
             _: java.io.FileNotFoundException if retriesLeft > 0 =>
          Thread.sleep(20)
          attempt(retriesLeft - 1)
      }
    attempt(5)
  }

  /** The coordinator-HEAD version pinning `tableDir`, if any — what
    * VACUUM must retain: a maintained-index serve resolves its cut from
    * `versions.head` and then reads each table `VERSION AS OF` that
    * entry, so expiring the entry's snapshot would crash (or worse,
    * silently un-pin) every serve racing the vacuum. The coordinator is
    * found by probing `tableDir`'s ancestors for `_txn/versions.head`
    * (the engine's coordinator IS the warehouse root, one or two levels
    * up from `<warehouse>/<ns...>/<table>`); best-effort — a
    * coordinator addressed by a path spelling that differs from the
    * catalog-resolved dir simply yields no pin, which is the
    * pre-existing behavior ([[graft.queries.Engine3.registryStatsAt]]
    * degrades defensively on an expired snapshot). O(ancestors) exists
    * probes + one small file read; vacuum frequency. */
  def headPinnedVersion(tableDir: String): Option[Long] = {
    var p = new Path(tableDir).getParent
    var depth = 0
    while (p != null && depth < 3) {
      val head = new Path(new Path(p, "_txn"), "versions.head")
      if (fsOf(head).exists(head))
        return headVersions(p.toString).get(tableDir)
      p = p.getParent
      depth += 1
    }
    None
  }

  /** Remove `tableDir`'s entry from the coordinator HEAD — called by
    * DROP TABLE: a recreated table restarts its version counter, so a
    * surviving entry would be permanently STALE (the merge's per-dir max
    * keeps the old, larger version forever) and every pinned serve of
    * the new incarnation would wrongly fall back. O(head) bytes, DDL
    * frequency. A coordinator with no head file is a no-op.
    *
    * The existence check runs INSIDE the head-guard lock: checked
    * outside, a concurrently-completing transaction's [[mergeHead]]
    * could create the file between the check and the (skipped) rewrite,
    * or re-merge the dropped table's entry right after the purge.
    * Serialization under the guard closes the first; the second is
    * out of scope by contract — DROP TABLE must not race an IN-FLIGHT
    * transaction writing the same table (the drop deletes the table dir
    * out from under the txn's staged files anyway, so such a race is
    * already undefined at the data layer, not just the head). */
  def purgeHead(coordDir: String, tableDir: String): Unit = {
    val d = txnDir(coordDir)
    val fs = fsOf(d)
    val guard = new Path(d, "head/guard")
    if (!fs.exists(d)) return // never any txn under this coordinator
    TableStats.withLock(fs, guard) {
      if (fs.exists(new Path(d, "versions.head"))) {
        val kept = headVersions(coordDir).toSeq.filterNot(_._1 == tableDir)
          .sortBy(_._1)
        val tmp = new Path(d, s".versions.head.tmp-${java.util.UUID.randomUUID()}")
        val out = fs.create(tmp, true)
        try out.write(kept.map { case (dir, v) => s"$dir\t$v" }
          .mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        TableStats.renameOverwrite(fs, tmp, new Path(d, "versions.head"))
      }
    }
  }

  private def mergeHead(coordDir: String, versions: Seq[(String, Option[Long])]): Unit =
    if (versions.nonEmpty && versions.forall(_._2.isDefined)) {
      val d = txnDir(coordDir)
      val fs = fsOf(d)
      // withLock locks at the ARGUMENT'S PARENT (.stats.lock sibling);
      // the head guard must parent under its own subdir or it would
      // collide with the commit guard's `_txn/.stats.lock` — and the
      // checked-commit path holds THAT lock while completing (deadlock)
      val guard = new Path(d, "head/guard")
      TableStats.withLock(fs, guard) {
        val merged = (headVersions(coordDir).toSeq ++
          versions.collect { case (dir, Some(v)) => (dir, v) })
          .groupBy(_._1).view.mapValues(_.map(_._2).max).toSeq.sortBy(_._1)
        val tmp = new Path(d, s".versions.head.tmp-${java.util.UUID.randomUUID()}")
        val out = fs.create(tmp, true)
        try out.write(merged.map { case (dir, v) => s"$dir\t$v" }
          .mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        TableStats.renameOverwrite(fs, tmp, new Path(d, "versions.head"))
      }
    }

  private def writeVersionsRecord(coordDir: String, id: String,
      versions: Seq[(String, Option[Long])]): Unit =
    if (versions.exists(_._2.isEmpty)) {
      val missing = versions.collect { case (d, None) => d }
      System.err.println(s"graft: txn $id converged, but no read-snapshot " +
        s"record: landing version unknown for ${missing.mkString(", ")}")
    } else {
      val byDir = versions.collect { case (d, Some(v)) => (d, v) }
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toSeq.sortBy(_._1)
      val d = txnDir(coordDir)
      val fs = fsOf(d)
      fs.mkdirs(d)
      val tmp = new Path(d, s".$id.versions.tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write(byDir.map { case (dir, v) => s"$dir\t$v" }
        .mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      TableStats.renameOverwrite(fs, tmp, new Path(d, s"$id.versions"))
    }

  /** The per-table versions a COMMITTED transaction published — the
    * cross-table READ SNAPSHOT: resolving every participant `VERSION AS
    * OF` its recorded version shows ALL of the transaction's writes (and
    * every earlier commit), never a mix. None while the transaction is
    * unknown, undecided, or not yet fully published — readers then keep
    * using pre-transaction pinned versions (all-old); the record appears
    * only after every participant is live (all-new). The snapshot is NOT
    * vacuum-pinned — tag the versions for durable replay. */
  def publishedVersions(coordDir: String, txnId: String): Option[Map[String, Long]] = {
    val p = new Path(txnDir(coordDir), s"$txnId.versions")
    val fs = fsOf(p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      // the write is atomic (tmp + rename), so a malformed record can
      // only mean out-of-band damage — refuse the WHOLE record rather
      // than serve a partially-parsed (wrong) snapshot
      val parsed = text.split('\n').toSeq.filter(_.nonEmpty).map { line =>
        val i = line.lastIndexOf('\t')
        if (i <= 0) None
        else line.substring(i + 1).toLongOption.map(line.substring(0, i) -> _)
      }
      if (parsed.isEmpty || parsed.exists(_.isEmpty)) None
      else Some(parsed.flatten.toMap)
    }
  }

  /** Read `table` AT the snapshot transaction `txnId` published — the
    * consistent cross-table view: every participant read through this
    * resolves at its own publish version, so a reader sees ALL of the
    * transaction's tables post-commit, never table A new and table B
    * old (the mid-complete interleaving a live read can observe).
    * Throws while the record is not yet available (undecided or
    * mid-complete — read pre-transaction pinned versions instead) and
    * for tables that were not participants. */
  def readAt(spark: SparkSession, coordDir: String, txnId: String,
      table: String): DataFrame = {
    val versions = publishedVersions(coordDir, txnId).getOrElse(
      throw new IllegalStateException(
        s"graft: txn $txnId has no published-versions record yet — it is " +
          "undecided or mid-complete; pin pre-transaction versions instead " +
          "(or run recover() to converge it)"))
    val ident = spark.sessionState.sqlParser.parseMultipartIdentifier(table)
    val (cat, tid) = GraftViewBridge.resolveIdent(spark, ident).getOrElse(
      throw new IllegalArgumentException(
        s"graft: $table is not in a graft catalog"))
    val dir = cat.loadTable(tid).asInstanceOf[GraftTable].tableDir
    val v = versions.getOrElse(dir, throw new IllegalArgumentException(
      s"graft: $table was not a participant of txn $txnId " +
        s"(participants: ${versions.keys.toSeq.sorted.mkString(", ")})"))
    spark.read.option("snapshot-version", v).table(table)
  }

  private def discardIfStaged(tableDir: String, wapId: String): Unit = {
    val dataDir = new Path(tableDir, "data")
    if (Snapshots.readWap(fsOf(dataDir), dataDir, wapId).isDefined)
      Snapshots.discardWap(tableDir, wapId)
  }

  /** Open a transaction without driving it to completion — the crash-
    * injection seam (tests stop between protocol steps and hand the
    * mess to [[recover]]). Production code uses [[run]]. */
  private[graft] def begin(spark: SparkSession, coordDir: String): Txn =
    new Txn(spark, coordDir,
      java.util.UUID.randomUUID().toString.replace("-", ""))

  /** Run `body` as one transaction: all staged writes become visible
    * together on success; any exception rolls every stage back and
    * rethrows. Returns the transaction id. */
  def run(spark: SparkSession, coordDir: String)(body: Txn => Unit): String = {
    val txn = begin(spark, coordDir)
    try { body(txn); txn.commit(); txn.id }
    catch { case NonFatal(e) => try txn.rollback() catch { case NonFatal(_) => () }
      throw e }
  }

  /** Converge every interrupted transaction under `coordDir`: decided
    * ones (commit marker present) roll FORWARD — publish their remaining
    * stages; undecided intents older than `minAgeMillis` roll BACK —
    * discard their stages. The age guard keeps a recover run from
    * rolling back a transaction whose coordinator is still alive between
    * intent and decide (same discipline as vacuum's in-flight-write
    * guard) — `minAgeMillis = 0` is safe ONLY when no coordinator can be
    * mid-transaction under this coordDir (e.g. single-maintainer
    * startup, or tests). Returns (rolledForward, rolledBack). */
  def recover(spark: SparkSession, coordDir: String,
      minAgeMillis: Long = 3600L * 1000): (Int, Int) = {
    val d = txnDir(coordDir)
    val fs = fsOf(d)
    if (!fs.exists(d)) return (0, 0)
    def participants(id: String): Seq[(String, String)] = {
      val in = fs.open(new Path(d, s"$id.intent"))
      val text = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      // a crash mid-intent-write leaves a torn last line; such a
      // transaction is necessarily UNDECIDED (decide follows the intent),
      // so skipping the unparsable tail only leaves that participant's
      // stage invisible-but-undiscarded — benign, discoverable via
      // Snapshots.listWap — while recover itself must never crash on it
      text.split('\n').toSeq.filter(_.nonEmpty).flatMap { line =>
        line.split('\t') match {
          case Array(dir, wap) if wap.nonEmpty => Some((dir, wap))
          case _ => None
        }
      }
    }
    val st = fs.listStatus(d).toSeq
    val intents = st.filter(_.getPath.getName.endsWith(".intent"))
    val commits = st.filter(_.getPath.getName.endsWith(".commit"))
      .map(_.getPath.getName.stripSuffix(".commit")).toSet
    var fwd = 0
    var back = 0
    // roll one decided transaction FORWARD: publish every remaining
    // stage, write the read-snapshot record (same file complete()
    // writes — the per-table published markers make this idempotent
    // across re-crashes), then drop the markers
    def rollForward(id: String, intentPath: Path): Unit = {
      val versions = participants(id).map { case (dir, wap) =>
        dir -> publishIfStaged(dir, wap) }
      writeVersionsRecord(coordDir, id, versions)
      mergeHead(coordDir, versions)
      fs.delete(new Path(d, s"$id.commit"), false)
      fs.delete(intentPath, false)
    }
    // per-transaction error isolation: one transaction whose publish
    // hits a (transient) FS error must not wedge the convergence of
    // every OTHER pending transaction behind it in the listing — its
    // markers stay for the next recover; the first error rethrows after
    // the full sweep
    val errors = scala.collection.mutable.ArrayBuffer[Throwable]()
    def isolated(body: => Unit): Unit =
      try body catch { case NonFatal(e) =>
        errors += e
        System.err.println(s"graft: recover skipped one transaction: $e")
      }
    intents.foreach { s =>
      val id = s.getPath.getName.stripSuffix(".intent")
      if (commits(id)) {
        isolated { rollForward(id, s.getPath); fwd += 1 }
      } else if (System.currentTimeMillis() - s.getModificationTime >= minAgeMillis) {
        // recheck right before discarding: a coordinator alive past the
        // age guard may have decided since the listing above — rolling
        // its stages back now would silently void a reported commit.
        // The recheck narrows that window to the discard itself; the
        // age guard is what actually excludes live coordinators (run
        // recover with minAgeMillis = 0 ONLY when no coordinator can be
        // mid-transaction, e.g. single-maintainer startup)
        if (fs.exists(new Path(d, s"$id.commit"))) {
          isolated { rollForward(id, s.getPath); fwd += 1 }
        } else isolated {
          participants(id).foreach { case (dir, wap) => discardIfStaged(dir, wap) }
          fs.delete(s.getPath, false)
          back += 1
        }
      }
    }
    // a commit marker without its intent: the pre-crash complete() already
    // published everything and died between the two marker deletes
    commits.foreach { id =>
      if (!fs.exists(new Path(d, s"$id.intent")))
        fs.delete(new Path(d, s"$id.commit"), false)
    }
    // RETENTION for the read-snapshot records: readAt is a recent-commit
    // affair (the versions expire under table vacuum anyway), so records
    // past the TTL are dropped here — a per-micro-batch transactional
    // maintainer must not accumulate marker files without bound
    st.filter(_.getPath.getName.endsWith(".versions")).foreach { s =>
      if (System.currentTimeMillis() - s.getModificationTime >= RecordTtlMillis)
        fs.delete(s.getPath, false)
    }
    if (errors.nonEmpty) throw errors.head
    (fwd, back)
  }

  /** How long committed transactions' read-snapshot records
    * (`_txn/<id>.versions`) and tables' publish markers
    * (`_wap/<id>.published`) are retained before [[recover]] /
    * [[Snapshots.vacuum]] reclaim them: long past any crash-recovery or
    * readAt window, short enough that per-micro-batch transaction
    * streams stay O(recent) marker files. */
  val RecordTtlMillis: Long = 7L * 24 * 3600 * 1000
}
