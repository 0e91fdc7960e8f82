package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.functions.ColumnNames

/** Merge-on-read row-level operations (DELETE / UPDATE / MERGE INTO) —
  * the DSv2 `SupportsDelta` implementation, selected by
  * `write.mutation.mode = merge-on-read` ([[GraftDeletes.ModeProp]]).
  *
  * Where the copy-on-write path ([[GraftRowLevelOperation]]) rewrites
  * every file containing a matched row, this one writes per-row CHANGES:
  * deleted/updated row keys stream into equality-delete fragments under
  * `data/_deletes/` and new/updated row values into ordinary part files.
  * Commit registers both in the manifest; nothing existing is rewritten
  * or unregistered. At 100 TB that turns "DELETE one user's rows" from a
  * rewrite of every touched file into a few KB of key lists — reads pay
  * a per-row hash probe over the decoded batches, and emit rows instead
  * of batches ([[GraftReaderFactory]]), until compaction folds the
  * deletes in.
  *
  * Spark drives this through WriteDelta: the scan (a completely normal
  * [[GraftScan]] — filters push down, no group tracking) finds matching
  * rows, and the planner routes each row to [[GraftDeltaWriter]] as a
  * delete/update/insert with the `row_key` row id. UPDATE keeps its key
  * (old version suppressed by the delete entry via seq ordering, new
  * version written at the commit's own seq); MERGE inserts flow through
  * the row-key generator like any append.
  */
final class GraftDeltaOperation(
    table: GraftTable,
    cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {

  /** Manifest keys observed when the scan planned — the conflict-check
    * baseline for commit. */
  @volatile private[sources] var baseManifest: Set[String] = Set.empty

  override def command(): RowLevelOperation.Command = cmd

  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(
      ColumnNames.RowKey))

  // native update(): the writer must tell "update of an existing row"
  // (keep its key) from "fresh insert" (generator may mint a key)
  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // capture the conflict-check baseline EAGERLY: if Spark elides the
    // rewrite scan entirely (empty-relation pruning), planInputPartitions
    // never runs and commit would otherwise diff against an empty set —
    // spuriously aborting on tables with pre-existing delete files and
    // silently skipping conflict detection everywhere else
    val dir = new Path(table.dataDir)
    val fs = dir.getFileSystem(new Configuration())
    baseManifest =
      TableStats.readIfExists(fs, dir).map(_.keySet.toSet).getOrElse(Set.empty)
    // schema0 already reports row_key as NOT NULL on merge-on-read tables
    new GraftScanBuilder(table.schema0, table.dataDir, table.partitionSpecs,
      renames = table.renames, widened = table.widened,
      specSince = table.specSince,
      onManifest = Some(ks => baseManifest = ks))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new GraftDeltaWrite(
        table.schema0, table.properties(), table.dataDir,
        table.partitionSpecs, GraftDeltaOperation.this)
    }

  override def requiredMetadataAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array.empty

  override def description(): String = s"GraftDeltaOperation($cmd)"
}

final class GraftDeltaWrite(
    schema: org.apache.spark.sql.types.StructType,
    props: java.util.Map[String, String],
    dataDir: String,
    partitionCols: Seq[String],
    op: GraftDeltaOperation)
    extends DeltaWrite with DeltaBatchWrite {

  import scala.jdk.CollectionConverters._

  private val writeId = java.util.UUID.randomUUID().toString

  override def toBatch: DeltaBatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    GraftDeltaWriterFactory(schema, props.asScala.toMap, dataDir,
      partitionCols, writeId)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = new Configuration()
    val dir = new Path(dataDir)
    val fs = dir.getFileSystem(conf)
    val committed: Map[String, TableStats.Entry] = messages.collect {
      case m: GraftCommitMessage => m.files
    }.flatten.toMap
    // drop files from failed/speculative attempts of THIS write (data
    // part-files and delete fragments both carry the writeId)
    val committedNames = committed.keysIterator.map(_.split('/').last).toSet
    TableStats.listAllFiles(fs, dir)
      .filter(p => p.getName.contains(writeId) &&
        !committedNames.contains(p.getName))
      .foreach(fs.delete(_, false))

    TableStats.withLock(fs, dir) {
      val live = TableStats.read(fs, dir)
      // Serializable-commit conflict detection against the scan's
      // baseline. (a) files GONE: a COW rewrite / compaction / truncate
      // replaced rows we read — our deletes still apply by key, but an
      // UPDATE's new values were derived from a state another committer
      // just changed, and a truncate must not be resurrected into.
      // (b) delete files ADDED: a concurrent merge-on-read mutation —
      // our inserts commit at a higher seq and would escape its deletes.
      // Both are the classic write-write race: abort, drop our output.
      val base = op.baseManifest
      val removed = base -- live.keySet
      val addedDeletes =
        live.keysIterator.filter(GraftDeletes.isDeleteRel).toSet -- base
      if (removed.nonEmpty || addedDeletes.nonEmpty) {
        committed.keys.foreach(rel => fs.delete(new Path(dir, rel), false))
        throw new IllegalStateException(
          s"graft: merge-on-read ${op.command()} lost a race with a " +
            s"concurrent commit (${removed.size} file(s) left / " +
            s"${addedDeletes.size} delete file(s) entered the manifest); " +
            "no changes applied — retry the statement")
      }
      // NO-MATCH fast path (after the race checks — serializability is
      // decided first, exactly as for a matching mutation): no delete
      // fragments and no data files means the statement matched nothing,
      // the table is bit-identical, and minting a version would be pure
      // churn (a guarded per-run maintenance statement would force every
      // incremental consumer through an empty interval forever)
      if (committed.nonEmpty) TableStats.write(fs, dir, live ++ committed)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = new Configuration()
    val dir = new Path(dataDir)
    val fs = dir.getFileSystem(conf)
    TableStats.listAllFiles(fs, dir)
      .filter(_.getName.contains(writeId))
      .foreach(fs.delete(_, false))
  }
}

final case class GraftDeltaWriterFactory(
    schema: org.apache.spark.sql.types.StructType,
    props: Map[String, String],
    dataDir: String,
    partitionCols: Seq[String],
    writeId: String)
    extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriter(schema, props, dataDir, partitionCols, writeId,
      partitionId, taskId)
}

/** Task-side delta writer: routes inserts/updated values to parquet part
  * files and deleted/updated keys to a streaming delete fragment — no
  * per-task buffering anywhere, so a predicate matching millions of rows
  * costs a sequential key write, not memory. */
final class GraftDeltaWriter(
    schema: org.apache.spark.sql.types.StructType,
    props: Map[String, String],
    dataDir: String,
    partitionCols: Seq[String],
    writeId: String,
    partitionId: Int,
    taskId: Long)
    extends DeltaWriter[InternalRow] {

  private val dirPath = new Path(dataDir)
  private val fs = dirPath.getFileSystem(new Configuration())

  private val fragment =
    new GraftDeletes.FragmentWriter(fs, dirPath, writeId, partitionId, taskId)

  // updated rows KEEP their key: strip the generator; fresh inserts go
  // through the configured generator like any append ("ins" prefix keeps
  // the two writers' file names disjoint for the same task)
  private var updWriter: DataWriter[InternalRow] = _
  private var insWriter: DataWriter[InternalRow] = _
  private def upd: DataWriter[InternalRow] = {
    if (updWriter == null)
      updWriter = GraftWriterFactory.newWriter(schema,
        props - graft.functions.RowKeyGenerator.Property,
        dataDir, partitionCols, writeId, partitionId, taskId)
    updWriter
  }
  private def ins: DataWriter[InternalRow] = {
    if (insWriter == null)
      insWriter = GraftWriterFactory.newWriter(schema, props,
        dataDir, partitionCols, writeId, partitionId, taskId,
        filePrefix = "ins")
    insWriter
  }

  private def keyOf(id: InternalRow): String = {
    require(id != null && !id.isNullAt(0),
      "graft: merge-on-read mutation met a NULL row_key — the row id " +
        "column must be populated on every row")
    id.getUTF8String(0).toString
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    fragment.add(keyOf(id))

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    fragment.add(keyOf(id))
    upd.write(row)
  }

  override def insert(row: InternalRow): Unit = ins.write(row)

  override def commit(): WriterCommitMessage = {
    val dataFiles = Seq(updWriter, insWriter).filter(_ != null).flatMap {
      _.commit() match {
        case GraftCommitMessage(files) => files
        case _ => Nil
      }
    }
    GraftCommitMessage(dataFiles ++ fragment.finish().toSeq)
  }

  override def abort(): Unit = {
    Seq(updWriter, insWriter).filter(_ != null).foreach(w =>
      try w.abort() catch { case _: Exception => () })
    fragment.abort()
    // part-file cleanup happens in GraftDeltaWrite.abort via writeId match
  }

  override def close(): Unit = ()
}
