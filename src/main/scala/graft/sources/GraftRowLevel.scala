package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Group-based copy-on-write row-level operations (DELETE / UPDATE / MERGE
  * INTO) for graft tables — the path taken when a DELETE cannot be
  * satisfied partition-wise (Spark's `OptimizeMetadataOnlyDeleteFromTable`
  * still turns pure partition deletes into the metadata-only fast path).
  *
  * Protocol: Spark plans a `ReplaceData` over this operation's scan. With
  * runtime group filtering, a first pass finds the DISTINCT `_file`s
  * containing matching rows and hands them to the rewrite scan as an
  * IN-filter ([[GraftScan.filter]]), which notifies this operation; the
  * rewrite then reads ONLY those files, the plan drops/updates the
  * matching rows, and the write lands the surviving rows in new files.
  * Commit atomically swaps: affected files deleted, new files registered
  * in the stats cache. Untouched files are never rewritten — at 100 TB a
  * delete of one user's rows costs the few files that contain them, not a
  * table rewrite.
  */
final class GraftRowLevelOperation(
    table: GraftTable,
    cmd: RowLevelOperation.Command)
    extends RowLevelOperation {

  /** Files the rewrite covers: the runtime group filter when one arrived,
    * else every file the (unfiltered) rewrite scan planned. */
  @volatile private var groupFilter: Option[Set[String]] = None
  @volatile private var plannedFiles: Seq[String] = Nil
  /** Equality-delete rels present in the manifest the rewrite scan read:
    * commit aborts if NEW ones appeared meanwhile (the rewrite's output
    * has a higher seq than the concurrent delete, so it would escape it
    * and resurrect the deleted rows). */
  @volatile private var baseDeleteRels: Set[String] = Set.empty

  private[sources] def onGroupFilter(files: Set[String]): Unit =
    groupFilter = Some(files)

  private[sources] def onScanPlanned(files: Seq[String]): Unit =
    // called for both the group-discovery scan and the rewrite scan; the
    // rewrite scan plans LAST (after the group filter narrowed it), so
    // keeping the most recent plan is correct in both modes
    plannedFiles = files

  private[sources] def onBaseManifest(rels: Set[String]): Unit =
    baseDeleteRels = rels.filter(GraftDeletes.isDeleteRel)

  private[sources] def baseDeletes: Set[String] = baseDeleteRels

  private[sources] def affectedFiles: Set[String] =
    groupFilter.getOrElse(plannedFiles.toSet)

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // renames MUST ride along: the rewrite reads pre-rename files, and
    // without the history a renamed column would decode as NULL and the
    // rewrite would permanently null it for every surviving row
    new GraftScanBuilder(table.schema0, table.dataDir, table.partitionSpecs,
      tracker = Some(this), renames = table.renames, widened = table.widened,
      specSince = table.specSince)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new GraftReplaceDataWrite(
          table.schema0, table.properties(), table.dataDir,
          table.partitionSpecs, GraftRowLevelOperation.this)
      }
    }

  override def requiredMetadataAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(
      GraftTable.FileColumnName))

  override def description(): String = s"GraftRowLevelOperation($cmd)"
}

/** Replaces the operation's affected files with the rewritten rows. */
final class GraftReplaceDataWrite(
    schema: org.apache.spark.sql.types.StructType,
    props: java.util.Map[String, String],
    dataDir: String,
    partitionCols: Seq[String],
    op: GraftRowLevelOperation)
    extends BatchWrite {

  import scala.jdk.CollectionConverters._

  private val writeId = java.util.UUID.randomUUID().toString

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    // carried-over rows must KEEP their row keys — drop the generator
    // property so the rewrite never re-mints keys for surviving rows
    new GraftWriterFactory(schema,
      props.asScala.toMap - graft.functions.RowKeyGenerator.Property,
      dataDir, partitionCols, writeId)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(dataDir)
    val fs = dir.getFileSystem(new Configuration())
    val committed = Commit.files(messages)
    Commit.sweep(fs, dir, writeId, committed.keys)
    // swap: drop the rewritten groups from the manifest, register the
    // replacements. The replaced files are NOT physically deleted — they
    // stay reachable through earlier snapshots (time travel) until
    // vacuum reclaims them; manifest-first listing never surfaces them.
    val affectedRels = op.affectedFiles.map(TableStats.keyOf(dataDir, _))
    // NO-MATCH fast path: the predicate pruned every candidate group —
    // nothing was read, rewritten, or removed, so the table is
    // bit-identical and committing would only mint a no-op version (a
    // guarded per-run maintenance statement would otherwise churn the
    // version chain and force every incremental consumer through an
    // empty interval forever). The race is still decided first, as for
    // a matching mutation, but no change dir, no marker, and no snapshot
    // are published.
    val noop = affectedRels.isEmpty && committed.isEmpty
    // Record this mutation's per-row delta (the CDC change files) BEFORE
    // taking the lock: one diff join over exactly the group this rewrite
    // already paid to rewrite. The pre-lock manifest read races only with
    // commits the conflict check aborts on anyway; the staging dir
    // becomes visible to feeds only via the rename under the lock.
    val staging: Option[Path] =
      if (noop || !ChangeLog.recordingEnabled(props.asScala.toMap)) None
      else {
        val pre = TableStats.read(fs, dir)
        val oldFiles = affectedRels.toSeq.sorted.flatMap(rel =>
          pre.get(rel).map(e => (TableStats.absOf(dataDir, rel), math.max(e.seq, 0L))))
        // same driver-materialization cap as the scan path: a table that
        // accreted multi-GB delete metadata must fail loudly toward
        // compaction, not OOM the driver mid-commit
        val delRels = pre.toSeq.filter(e => GraftDeletes.isDeleteRel(e._1))
        val delBytes = delRels.map(e => math.max(e._2.bytes, 0L)).sum
        val cap = GraftDeletes.byteCap()
        if (delBytes > cap) throw new IllegalStateException(
          s"graft: recording the change delta of this ${op.command()} would " +
            s"materialize $delBytes bytes of delete keys on the driver (> cap " +
            s"$cap); run Compaction.compact (or OPTIMIZE) first, raise " +
            "spark.graft.deletes.max.bytes, or disable change recording " +
            s"(${ChangeLog.RecordProp}=false)")
        val deleteKeys = delRels.flatMap { case (rel, e) =>
          GraftDeletes.readKeys(fs, dir, rel).map(k => (k, e.seq))
        }
        ChangeLog.stageCowChanges(
          org.apache.spark.sql.SparkSession.active, schema, dataDir,
          oldFiles, committed.keys.toSeq.sorted.map(rel => s"$dataDir/$rel"),
          deleteKeys, op.command(), writeId)
      }
    // the version whose change dir this commit renamed into place: a
    // failed publish must un-publish it — a marker/change-dir left at a
    // version that was never committed would misclassify the NEXT commit
    // at v as a COW and silently feed stale change rows (feeds failing
    // loudly on an unmarked rewrite is the safe failure mode; the
    // chokepoint also clears stray markers when an unmarked commit
    // mints v)
    var published: Option[Long] = None
    def cleanup(): Unit = try {
      staging.foreach(fs.delete(_, true))
      published.foreach { v =>
        fs.delete(ChangeLog.markerPath(dir, v), false)
        fs.delete(ChangeLog.changeDataDir(dir, v), true)
      }
    } catch { case _: Exception => () }
    // Conflict baseline: the files this rewrite read, and the delete
    // files its scan saw. A file gone means its replacement may hold
    // rows this operation deleted or updated (registering our output
    // beside it would duplicate survivors and resurrect deleted rows); a
    // delete file added targets rows this rewrite carried over at a
    // newer seq, which would escape it.
    val recorded = Commit.run(fs, dir, Some(Commit.Check(s"row-level ${op.command()}",
        committed.keys, affectedRels, op.baseDeletes)),
      kind = Some(ChangeLog.Cow), cleanup = () => cleanup()) { live =>
      if (noop) None
      else {
        // Publish the recorded delta BEFORE the manifest swap (the commit
        // point; the Cow marker also lands before it, inside
        // TableStats.write). A rename failure here aborts a not-yet-
        // committed statement — the reverse order would leave the mutation
        // durable while reporting the statement failed, with no marker
        // for feeds. The version is precomputed under the lock, so the
        // publish records exactly it.
        val v = Snapshots.nextVersion(fs, dir)
        staging.foreach { st =>
          if (!fs.rename(st, ChangeLog.changeDataDir(dir, v))) {
            Commit.drop(fs, dir, committed.keys)
            throw new IllegalStateException(
              s"graft: could not publish change files for v$v of $dataDir; " +
                "no changes applied — retry the statement")
          }
        }
        published = Some(v)
        Some(live -- affectedRels ++ committed)
      }
    }
    require(recorded == published,
      s"graft: commit recorded ${recorded.mkString} (expected ${published.mkString})")
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(dataDir)
    val fs = dir.getFileSystem(new Configuration())
    Commit.sweep(fs, dir, writeId)
    // a staged-but-unpublished change diff dies with the write
    try fs.delete(new Path(ChangeLog.changesDir(dir), s".staging-$writeId"), true)
    catch { case _: Exception => () }
  }
}
