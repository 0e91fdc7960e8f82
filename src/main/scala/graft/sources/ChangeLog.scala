package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ColumnNames

/** Per-commit CHANGE LOG metadata — what lets the CDC feeds
  * ([[Snapshots.changes]] and [[GraftChangeFeedStream]]) replay EVERY
  * commit kind, not just appends and merge-on-read mutations.
  *
  * Each non-append commit records a one-word KIND marker
  * (`<table>/_changes/v<N>.kind`) under the same lock that records the
  * snapshot, so a feed crossing version N knows what the manifest diff
  * MEANS instead of guessing from file arithmetic:
  *
  *  - `cow`: a copy-on-write row-level DELETE/UPDATE/MERGE. The commit
  *    also recorded its per-row delta under `_changes/v<N>/` — parquet
  *    change files carrying full rows plus `_change_type` (insert /
  *    delete / update_preimage / update_postimage), produced by
  *    [[stageCowChanges]]'s distributed diff of the rewritten group
  *    (old files vs replacement files, joined on `row_key`). Feeds read
  *    those files directly — the Delta-CDF design: pay one join over the
  *    group the mutation already rewrote, never over the table.
  *  - `replace`: a partition-level data swap (truncate, metadata-only
  *    partition DELETE, INSERT OVERWRITE static or dynamic). No change
  *    files needed: the rows of the REMOVED manifest entries are the
  *    deletes (read straight from the still-on-disk files, full
  *    preimages) and the added entries are the inserts.
  *  - `maintenance`: a rewrite that changes no rows (compaction swap) —
  *    feeds skip the version entirely.
  *  - `restore`: an arbitrary manifest swap (RESTORE). Its row delta is
  *    the diff of two full snapshots — feeds refuse loudly and tell the
  *    consumer to re-read a full snapshot.
  *
  * A version with manifest removals and NO marker predates this log (or
  * was written with recording disabled) — feeds keep failing loudly for
  * those, exactly as before. Markers and change dirs expire with their
  * snapshots ([[Snapshots.vacuum]]).
  */
object ChangeLog {
  val Dir = "_changes"
  val TypeCol = "_change_type"
  val VersionCol = "_commit_version"

  sealed abstract class Kind(val name: String)
  case object Cow extends Kind("cow")
  case object Replace extends Kind("replace")
  case object Maintenance extends Kind("maintenance")
  case object Restore extends Kind("restore")
  /** A write-audit-publish AUDIT snapshot ([[Snapshots.stageWap]]): a
    * side branch of the version chain, not a live commit. Change feeds
    * skip it WITHOUT advancing their previous-manifest cursor, so the
    * staged files surface as inserts at the PUBLISH version (and never
    * surface at all for a discarded stage). */
  case object Staged extends Kind("staged")
  /** A snapshot recorded by a commit that CRASHED before swapping the
    * live registry ([[graft.sources.TableStats.write]] records the
    * snapshot first): its files never became visible — a clean abort.
    * The next committer marks such orphans (any unmarked version above
    * the live head, detected under the table lock). Feeds skip aborted
    * versions like [[Staged]] ones (without advancing their cursor), and
    * [[Snapshots.everRecorded]] excludes them so crash-repair does not
    * treat an aborted commit's files as deliberately-removed tombstones. */
  case object Aborted extends Kind("aborted")

  /** Table property opting OUT of copy-on-write change recording (saves
    * the commit-time diff join on tables nobody tails). */
  val RecordProp = "graft.cdc.record"

  def recordingEnabled(props: Map[String, String]): Boolean =
    props.getOrElse(RecordProp, "true").trim.equalsIgnoreCase("true")

  def changesDir(dataDir: Path): Path = new Path(dataDir.getParent, Dir)
  private def fmt(v: Long): String = f"v$v%09d"
  def markerPath(dataDir: Path, v: Long): Path =
    new Path(changesDir(dataDir), fmt(v) + ".kind")
  def changeDataDir(dataDir: Path, v: Long): Path =
    new Path(changesDir(dataDir), fmt(v))

  /** MUST be called under [[TableStats.withLock]] (all callers are commit
    * paths): the marker and the snapshot it annotates commit together. */
  def writeMarker(fs: FileSystem, dataDir: Path, v: Long, kind: Kind): Unit = {
    fs.mkdirs(changesDir(dataDir))
    val out = fs.create(markerPath(dataDir, v), true)
    try out.write(kind.name.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  def kindOf(fs: FileSystem, dataDir: Path, v: Long): Option[Kind] = {
    val p = markerPath(dataDir, v)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim
        finally in.close()
      Seq(Cow, Replace, Maintenance, Restore, Staged, Aborted).find(_.name == s).orElse(
        throw new IllegalStateException(s"graft: unknown change-log kind '$s' in $p"))
    }
  }

  // ---- version classification (shared by the batch + streaming feeds) ----

  /** The row-level meaning of one live commit's manifest diff. */
  sealed trait Change
  /** Rows moved but not changed (compaction), or nothing happened. */
  case object NoRows extends Change
  /** A COW mutation: its recorded change files (absolute paths) carry the
    * full pre/post images, `_change_type` included. */
  final case class CowRows(changeFiles: Seq[String]) extends Change
  /** A partition-level swap: `removed` (rel, data seq) files' surviving
    * rows are the deletes — a row an older equality delete in `dropKeys`
    * (key, delete seq, applicable when deleteSeq > dataSeq) had already
    * suppressed is NOT a delete of this commit; `addedData` rels are the
    * inserts. */
  final case class ReplaceRows(
      removed: Seq[(String, Long)], dropKeys: Seq[(String, Long)],
      addedData: Seq[String]) extends Change
  /** A pure append: `addedData` rels are the inserts. */
  final case class AppendRows(addedData: Seq[String]) extends Change
  /** A merge-on-read mutation: `keys` (deduped, sorted) are the commit's
    * equality-delete keys; a key re-appearing in `addedData` pairs as an
    * update. */
  final case class MorRows(addedData: Seq[String], keys: Seq[String]) extends Change

  /** Classify one live commit `v` of the chain into its row-level
    * [[Change]] — the single decision table both CDC feeds
    * ([[Snapshots.changes]] and [[GraftChangeFeedStream]]) consume, so
    * they can never drift. The caller reads `kind` ONCE per version
    * (avoiding doubled marker I/O over long ranges) and must skip
    * [[Staged]] versions WITHOUT advancing `prev` — a WAP audit snapshot
    * is a side branch, not a commit of the live chain.
    *
    * `capCheck` is charged with every byte of delete-key metadata this
    * classification will materialize on the driver; `ctx` names the
    * caller's range for error messages. Throws on RESTORE and on
    * unrecorded rewrites — their row delta cannot be derived. */
  def rowChanges(
      fs: FileSystem, dataDir: Path, v: Long, kind: Option[Kind],
      prev: Map[String, TableStats.Entry], cur: Map[String, TableStats.Entry],
      keyed: Boolean, capCheck: Long => Unit, ctx: String): Change = {
    require(!kind.contains(Staged) && !kind.contains(Aborted),
      s"graft: internal — Staged/Aborted v$v must be skipped before classification")
    val added = (cur.keySet -- prev.keySet).toSeq.sorted
    // a delete entry leaving the manifest alone is compaction
    // housekeeping (its keys were folded into rewritten files)
    val removedData = (prev.keySet -- cur.keySet).toSeq.sorted
      .filterNot(GraftDeletes.isDeleteRel)
    kind match {
      case Some(Staged) | Some(Aborted) => NoRows // unreachable (guarded above)
      case Some(Maintenance) => NoRows
      case Some(Restore) =>
        throw new IllegalStateException(
          s"graft: $ctx of $dataDir crosses a RESTORE at v$v; its row delta " +
            "is a two-snapshot diff — re-read a full snapshot and resume " +
            "past it")
      case Some(Cow) =>
        val cf = changeFiles(fs, dataDir, v).getOrElse(
          throw new IllegalStateException(
            s"graft: copy-on-write commit at v$v of $dataDir recorded no " +
              s"change data (no ${ColumnNames.RowKey} column, or " +
              s"$RecordProp=false); read a full snapshot instead"))
        CowRows(cf)
      case Some(Replace) =>
        val dataAdded = added.filterNot(GraftDeletes.isDeleteRel)
        if (removedData.isEmpty) AppendRows(dataAdded)
        else {
          // rows older equality deletes already suppressed must not
          // resurface as deletes of THIS commit
          val delRels = prev.toSeq.filter(e => GraftDeletes.isDeleteRel(e._1))
          val dkeys =
            if (delRels.isEmpty) Nil
            else {
              capCheck(delRels.map(e => math.max(e._2.bytes, 0L)).sum)
              delRels.flatMap { case (rel, e) =>
                GraftDeletes.readKeys(fs, dataDir, rel).map(k => (k, e.seq)) }
            }
          ReplaceRows(
            removedData.map(rel => (rel, math.max(prev(rel).seq, 0L))),
            dkeys, dataAdded)
        }
      case None =>
        if (removedData.nonEmpty) throw new IllegalStateException(
          s"graft: $ctx of $dataDir crosses a rewrite at v$v " +
            s"(${removedData.size} data file(s) left the manifest) whose " +
            "per-row delta was not recorded (commit predates change " +
            s"recording, or $RecordProp=false); read a full snapshot instead")
        val (delRels, dataRels) = added.partition(GraftDeletes.isDeleteRel)
        if (delRels.isEmpty) AppendRows(dataRels)
        else {
          require(keyed,
            s"graft: delete entries in $dataDir but no ${ColumnNames.RowKey} column")
          capCheck(delRels.map(rel => math.max(cur(rel).bytes, 0L)).sum)
          MorRows(dataRels,
            delRels.flatMap(rel => GraftDeletes.readKeys(fs, dataDir, rel))
              .distinct.sorted)
        }
    }
  }

  /** Recorded change files of a COW version (empty diff = legal: the
    * mutation matched no rows). None when no change data was recorded at
    * all (no row_key column, or recording disabled). */
  def changeFiles(fs: FileSystem, dataDir: Path, v: Long): Option[Seq[String]] = {
    val d = changeDataDir(dataDir, v)
    if (!fs.exists(d)) None
    else Some(fs.listStatus(d).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).sorted)
  }

  /** Schema of recorded change files: the table's columns (forced
    * nullable — delete/preimage rows of feeds without full images carry
    * NULLs) plus `_change_type`. `_commit_version` is appended by the
    * feed, not stored (the directory name is the version). */
  def changeSchema(schema: StructType): StructType =
    StructType(schema.fields.map(_.copy(nullable = true)) :+
      StructField(TypeCol, StringType, nullable = false))

  /** Types `<=>` can compare directly; everything else (maps, UDTs)
    * compares via a 64-bit content hash — conservative to one part in
    * 2^64, still codegen, never a UDF. */
  private def comparable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | StringType | BinaryType | DateType |
        TimestampType | TimestampNTZType | _: DecimalType => true
    case ArrayType(et, _) => comparable(et)
    case st: StructType => st.fields.forall(f => comparable(f.dataType))
    case _ => false
  }

  /** Distributed diff of a copy-on-write rewrite, staged as change files
    * under `_changes/.staging-<writeId>` — the caller renames the staging
    * dir to `_changes/v<N>` under the commit lock once the version is
    * known. Runs BEFORE the lock: the join costs one shuffle over exactly
    * the group the mutation already rewrote, and must not starve
    * concurrent committers.
    *
    * @param oldFiles   replaced files as (absolute path, data seq)
    * @param newFiles   replacement files (absolute paths)
    * @param deleteKeys pre-existing equality deletes as (key, delete seq):
    *                   rows they already suppressed never reached the new
    *                   side, so they are subtracted from the old side too —
    *                   without this, long-deleted rows would resurface as
    *                   deletes of THIS commit
    * @return the staging dir, or None when the table cannot record
    *         changes (no `row_key` identity) */
  def stageCowChanges(
      spark: SparkSession,
      schema: StructType,
      dataDir: String,
      oldFiles: Seq[(String, Long)],
      newFiles: Seq[String],
      deleteKeys: Seq[(String, Long)],
      command: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
      writeId: String): Option[Path] = {
    val key = ColumnNames.RowKey
    if (!schema.fieldNames.contains(key)) return None
    val nullable = StructType(schema.fields.map(_.copy(nullable = true)))
    val names = schema.fieldNames.toSeq
    def readSide(paths: Seq[String]): DataFrame =
      if (paths.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), nullable)
      else spark.read.schema(nullable).parquet(paths: _*)
        .select(names.map(col): _*)

    val oldDf =
      // empty-guard first: a rewrite whose predicate pruned every file
      // still commits (an empty diff) even when the table carries
      // pre-existing equality deletes — groupBy(...).reduce on an empty
      // old side would throw instead
      if (oldFiles.isEmpty || deleteKeys.isEmpty) readSide(oldFiles.map(_._1))
      else {
        import spark.implicits._
        // group old files by seq: a delete applies to a file iff its seq
        // is newer than the file's (same rule the scan reader enforces)
        oldFiles.groupBy(_._2).toSeq.map { case (s, fls) =>
          val ks = deleteKeys.collect { case (k, ds) if ds > s => k }
          val df = readSide(fls.map(_._1))
          if (ks.isEmpty) df
          else df.join(broadcast(ks.toDF("__dk")), df(key) === col("__dk"), "left_anti")
            .select(names.map(col): _*)
        }.reduce(_ unionByName _)
      }
    val newDf = readSide(newFiles)

    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    val changes: DataFrame = command match {
      case Command.DELETE =>
        // a pure DELETE never updates or inserts: the delta is exactly
        // the keys that left — one anti-join, no value comparison
        oldDf.join(newDf.select(col(key).as("__nk")),
            oldDf(key) === col("__nk"), "left_anti")
          .select(names.map(col): _*)
          .withColumn(TypeCol, lit("delete"))
      case _ =>
        val o = oldDf.select(col(key).as("__k"), struct(names.map(col): _*).as("__o"))
        val n = newDf.select(col(key).as("__k"), struct(names.map(col): _*).as("__n"))
        val j = o.join(n, Seq("__k"), "full_outer")
        val unchanged: Column = schema.fields.map { f =>
          val (a, b) = (col("__o").getField(f.name), col("__n").getField(f.name))
          if (comparable(f.dataType)) a <=> b else xxhash64(a) <=> xxhash64(b)
        }.reduce(_ && _)
        val ins = j.filter(col("__o").isNull)
          .select(col("__n.*")).withColumn(TypeCol, lit("insert"))
        val del = j.filter(col("__n").isNull)
          .select(col("__o.*")).withColumn(TypeCol, lit("delete"))
        val upd = j.filter(col("__o").isNotNull && col("__n").isNotNull && !unchanged)
        val pre = upd.select(col("__o.*")).withColumn(TypeCol, lit("update_preimage"))
        val post = upd.select(col("__n.*")).withColumn(TypeCol, lit("update_postimage"))
        ins.unionByName(del).unionByName(pre).unionByName(post)
    }

    val outSchema = changeSchema(schema)
    val out = changes.select(outSchema.fieldNames.toIndexedSeq.map(col): _*)
    val staging = new Path(changesDir(new Path(dataDir)), s".staging-$writeId")
    writeChangeFiles(spark, out, outSchema, staging)
    Some(staging)
  }

  /** Write a change DataFrame as parquet part files under `dir` through
    * the table writer — same codec as data files, so the streaming feed
    * decodes them with the scan's reader ([[GraftReaderFactory.rows]]).
    * Handles failed or
    * speculative task attempts the same way compaction does: only files
    * named in the commit messages survive. */
  private def writeChangeFiles(
      spark: SparkSession, df: DataFrame, schema: StructType, dir: Path): Unit = {
    val dirStr = dir.toString
    val fs = dir.getFileSystem(new Configuration())
    fs.mkdirs(dir) // an EMPTY diff still records "changes were recorded"
    val written: Array[String] = df.queryExecution.toRdd
      .mapPartitionsWithIndex { (pid, rows) =>
        if (!rows.hasNext) Iterator.empty
        else {
          val attempt = Option(org.apache.spark.TaskContext.get())
            .map(_.taskAttemptId()).getOrElse(0L)
          val w = GraftWriterFactory.newWriter(
            schema, Map.empty, dirStr, Nil, "cdc", pid, attempt)
          rows.foreach(w.write)
          w.commit() match {
            case GraftCommitMessage(files) => files.iterator.map(_._1)
            case _ => Iterator.empty
          }
        }
      }.collect()
    val keep = written.map(_.split('/').last).toSet
    fs.listStatus(dir).foreach { st =>
      if (st.isFile && !keep.contains(st.getPath.getName))
        fs.delete(st.getPath, false)
    }
  }
}
