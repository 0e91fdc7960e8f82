package graft.sources

import java.util.{Set => JSet}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** STREAMING CHANGE FEED over a graft table — the continuous spelling of
  * [[Snapshots.changes]]:
  *
  * {{{
  *   spark.readStream.format("graft")
  *     .option("change-feed", "true")
  *     .option("starting-version", 0)   // default 0 = full history
  *     .load(tableDir)
  * }}}
  *
  * Offsets are SNAPSHOT VERSIONS (one long, checkpoint-friendly); each
  * micro-batch replays the commits in `(start, end]` by their
  * [[ChangeLog]] kind, exactly like the batch feed: appends as
  * `'insert'` rows (only the added files are read — each poll touches
  * the delta, never the corpus), merge-on-read mutations as `'delete'`
  * rows (equality keys, data columns NULL) with same-commit re-writes
  * PAIRED into `'update_preimage'`/`'update_postimage'`, copy-on-write
  * mutations from their recorded change files (full pre/post images),
  * truncate/partition-DELETE/INSERT OVERWRITE as full-preimage deletes
  * plus inserts, compaction skipped, RESTORE refused. `_commit_version`
  * rides on every row. Deterministic replay: the same version range
  * plans the same rows, so a restarted query resumes exactly from its
  * checkpoint.
  *
  * Delete keys are capped per batch (`spark.graft.deletes.max.bytes`,
  * failing loudly toward compaction) and split across input partitions
  * in bounded chunks, so a mutation-heavy range can never exhaust the
  * driver or a single task.
  */
final class GraftChangeFeedTable(
    baseSchema: StructType,
    tableDir: String,
    startingVersion: Long,
    renames: Map[String, Seq[String]])
    extends Table with SupportsRead {

  // data columns are forced nullable: delete rows carry NULL in every
  // non-key column, and a declared NOT NULL would let the optimizer fold
  // IS NULL checks and codegen read garbage from null slots
  private val feedSchema = StructType(
    baseSchema.fields.map(_.copy(nullable = true)) ++ Seq(
      StructField("_change_type", StringType, nullable = false),
      StructField("_commit_version", LongType, nullable = false)))

  override def name(): String = s"graft-changes.`$tableDir`"
  override def schema(): StructType = feedSchema
  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = feedSchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new GraftChangeFeedStream(baseSchema, s"$tableDir/data", startingVersion,
            renames)
        override def description(): String = name()
      }
    }
}

final case class GraftVersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

/** One appended data file of one commit; `updateKeys` (sorted, shipped
  * as a BROADCAST — once per executor, not per task: near the 256 MB
  * delete-key cap a per-task closure would dominate the stage) are the
  * commit's delete keys — a row whose key is among them was re-written
  * by the same commit and surfaces as `update_postimage`. */
final case class ChangeInsertPartition(
    path: String, version: Long,
    updateKeys: Option[org.apache.spark.broadcast.Broadcast[Array[String]]])
    extends InputPartition

/** A `[start, end)` slice of one commit's equality-delete keys (`keys`,
  * sorted, broadcast once and shared by every slice). `reinserted`
  * (sorted, broadcast) are the keys that re-appear in the commit's own
  * data files — computed ONCE at plan time by a semi-join over the
  * commit's delta, so slices never rescan files; a reinserted key pairs
  * as `update_preimage`, the rest are deletes. */
final case class ChangeDeletePartition(
    keys: org.apache.spark.broadcast.Broadcast[Array[String]],
    start: Int, end: Int, version: Long,
    reinserted: org.apache.spark.broadcast.Broadcast[Array[String]])
    extends InputPartition

/** One recorded change file of a copy-on-write commit (carries its own
  * `_change_type` column — see [[ChangeLog.stageCowChanges]]). */
final case class ChangeCowPartition(path: String, version: Long)
    extends InputPartition

/** One file a replace commit (truncate / partition DELETE / INSERT
  * OVERWRITE) removed: its surviving rows stream out as full-preimage
  * deletes. `dropKeys` (broadcast, shared across the commit's removed
  * files) are (key, delete seq) equality deletes older than this commit;
  * those with seq > `fileSeq` had already suppressed rows of this file
  * and must not resurface as deletes. */
final case class ChangeRemovedPartition(
    path: String, version: Long, fileSeq: Long,
    dropKeys: Option[org.apache.spark.broadcast.Broadcast[Array[(String, Long)]]])
    extends InputPartition

final class GraftChangeFeedStream(
    baseSchema: StructType,
    dataDir: String,
    startingVersion: Long,
    renames: Map[String, Seq[String]] = Map.empty)
    extends MicroBatchStream {

  private def open(): (org.apache.hadoop.fs.FileSystem, Path) = {
    val d = new Path(dataDir)
    (d.getFileSystem(new Configuration()), d)
  }

  override def initialOffset(): Offset = GraftVersionOffset(startingVersion)

  override def latestOffset(): Offset = {
    val (fs, dir) = open()
    // Clamp to the LIVE head: a crashed commit's orphan snapshot sits
    // above it with no marker until the next committer heals it, and must
    // not be consumed as an append. Staged/aborted versions BELOW a later
    // head are skipped by marker in planInputPartitions.
    GraftVersionOffset(
      TableStats.liveVersion(fs, dir).orElse(
        Snapshots.list(fs, dir).lastOption.map(_._1)).getOrElse(startingVersion))
  }

  override def deserializeOffset(json: String): Offset =
    GraftVersionOffset(json.trim.toLong)

  /** Key-chunk size for delete partitions: bounds per-task closures while
    * keeping task counts sane. */
  private val KeysPerChunk = 65536

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val v1 = start.asInstanceOf[GraftVersionOffset].v
    val v2 = end.asInstanceOf[GraftVersionOffset].v
    if (v2 <= v1) return Array.empty
    val (fs, dir) = open()
    val key = graft.functions.ColumnNames.RowKey
    val keyed = baseSchema.fieldNames.contains(key)
    def manifestAt(v: Long): Map[String, TableStats.Entry] =
      if (v == 0) Map.empty
      else Snapshots.read(fs, dir, v).getOrElse(throw new IllegalStateException(
        s"graft: change feed needs snapshot v$v of $dataDir but it expired " +
          "(vacuumed) — restart the stream from a newer starting-version"))
    val cap = GraftDeletes.byteCap()
    var delBytes = 0L
    def capCheck(add: Long): Unit = {
      delBytes += add
      if (delBytes > cap) throw new IllegalStateException(
        s"graft: change feed batch ($v1, $v2] of $dataDir would materialize " +
          s"$delBytes bytes of delete keys on the driver (> cap $cap); run " +
          "Compaction.compact (or OPTIMIZE) and restart from a newer version, " +
          "or raise spark.graft.deletes.max.bytes")
    }
    val spark = org.apache.spark.sql.SparkSession.active
    val sc = spark.sparkContext
    // the baseline must sit on the LIVE chain: an offset that landed on a
    // WAP audit snapshot (latestOffset takes the newest version, staged
    // or not) already contains the staged files — diffing against it
    // would silently drop the rows PUBLISH later folds in, or surface
    // phantom removals after a DISCARD and break the stream forever
    var prev = manifestAt(Snapshots.liveBaseline(fs, dir, v1))
    val out = scala.collection.mutable.ArrayBuffer[InputPartition]()
    // every version in the range must still be resolvable: silently
    // skipping a vacuumed snapshot would collapse several commits into
    // one diff (wrong _commit_version) and could hide a rewrite that
    // happened entirely inside the gap — determinism demands all-or-fail
    for (v <- (v1 + 1) to v2) {
      val kind = ChangeLog.kindOf(fs, dir, v)
      // WAP audit snapshots — and aborted crashed-commit orphans — are
      // side branches: skip WITHOUT advancing prev (adds surface at the
      // publish version, or never if discarded/aborted)
      if (kind.contains(ChangeLog.Staged) || kind.contains(ChangeLog.Aborted)) ()
      else {
        val cur = manifestAt(v)
        def abs(rel: String): String = TableStats.absOf(dataDir, rel)
        ChangeLog.rowChanges(fs, dir, v, kind, prev, cur, keyed, capCheck,
            s"change feed ($v1, $v2]") match {
          case ChangeLog.NoRows => ()
          case ChangeLog.CowRows(cf) =>
            cf.foreach(p => out += ChangeCowPartition(p, v))
          case ChangeLog.ReplaceRows(removed, dkeys, dataAdded) =>
            val dkBc =
              if (dkeys.isEmpty) None
              else Some(sc.broadcast(dkeys.toArray))
            removed.foreach { case (rel, seq) =>
              out += ChangeRemovedPartition(abs(rel), v, seq, dkBc)
            }
            dataAdded.foreach(rel => out += ChangeInsertPartition(abs(rel), v, None))
          case ChangeLog.AppendRows(dataRels) =>
            dataRels.foreach(rel => out += ChangeInsertPartition(abs(rel), v, None))
          case ChangeLog.MorRows(dataRels, keySeq) =>
            val keys = keySeq.toArray
            val kb = sc.broadcast(keys)
            val insFiles = dataRels.map(abs)
            // keys the commit re-inserted pair as updates. Resolve them
            // ONCE at plan time with a distributed semi-join over exactly
            // the commit's delta (result ⊆ the capped key set), instead
            // of every key-slice task rescanning the inserted files
            val reinserted: Array[String] =
              if (insFiles.isEmpty || keys.isEmpty) Array.empty
              else {
                import spark.implicits._
                import org.apache.spark.sql.functions.{broadcast, col}
                val keyField = baseSchema(baseSchema.fieldNames.indexOf(key))
                val one = new StructType(Array(keyField))
                spark.read.schema(one).parquet(insFiles: _*)
                  .where(col(key).isNotNull)
                  .join(broadcast(keys.toSeq.toDF("__dk")),
                    col(key) === col("__dk"), "left_semi")
                  .distinct().as[String].collect().sorted
              }
            val rb = sc.broadcast(reinserted)
            dataRels.foreach(rel => out += ChangeInsertPartition(abs(rel), v, Some(kb)))
            var i = 0
            while (i < keys.length) {
              out += ChangeDeletePartition(kb, i, math.min(i + KeysPerChunk, keys.length), v, rb)
              i += KeysPerChunk
            }
        }
        prev = cur
      }
    }
    out.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftChangeFeedReaderFactory(baseSchema, renames)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Rows of the feed. Data and change files decode through the table
  * scan's reader ([[GraftReaderFactory.rows]]), so renamed, widened and
  * defaulted columns read back exactly as a scan reads them. */
final class GraftChangeFeedReaderFactory(
    baseSchema: StructType, renames: Map[String, Seq[String]])
    extends PartitionReaderFactory {

  private val keyOrdinal =
    baseSchema.fieldNames.indexOf(graft.functions.ColumnNames.RowKey)

  private def metaRow(changeType: String, version: Long): InternalRow = {
    val r = new GenericInternalRow(2)
    r.update(0, UTF8String.fromString(changeType))
    r.update(1, version)
    r
  }

  private def contains(sorted: Array[String], k: String): Boolean =
    sorted.length > 0 &&
      java.util.Arrays.binarySearch(
        sorted.asInstanceOf[Array[AnyRef]], k) >= 0

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case ChangeInsertPartition(path, version, updateKeys) =>
        val insMeta = metaRow("insert", version)
        val postMeta = metaRow("update_postimage", version)
        val joined = new JoinedRow
        val keys: Array[String] =
          updateKeys.map(_.value).getOrElse(Array.empty)
        val reader = GraftReaderFactory.rows(path, baseSchema, renames)
        new PartitionReader[InternalRow] {
          override def next(): Boolean = reader.next()
          override def get(): InternalRow = {
            val current = reader.get()
            val isUpdate = keys.length > 0 && keyOrdinal >= 0 &&
              !current.isNullAt(keyOrdinal) &&
              contains(keys, current.getUTF8String(keyOrdinal).toString)
            joined.apply(current, if (isUpdate) postMeta else insMeta)
          }
          override def close(): Unit = reader.close()
        }

      case ChangeDeletePartition(keysBc, start, end, version, reinsertedBc) =>
        val delMeta = metaRow("delete", version)
        val preMeta = metaRow("update_preimage", version)
        val joined = new JoinedRow
        new PartitionReader[InternalRow] {
          private val keys = keysBc.value
          // resolved once at plan time (semi-join over the commit's own
          // delta); this task only binary-searches
          private val reinserted = reinsertedBc.value
          private var i = start - 1
          private val base = new GenericInternalRow(baseSchema.length)
          override def next(): Boolean = { i += 1; i < end }
          override def get(): InternalRow = {
            base.update(keyOrdinal, UTF8String.fromString(keys(i)))
            joined.apply(base,
              if (contains(reinserted, keys(i))) preMeta else delMeta)
          }
          override def close(): Unit = ()
        }

      case ChangeCowPartition(path, version) =>
        // recorded change files carry their own _change_type column; only
        // _commit_version is appended here
        val verRow = new GenericInternalRow(1)
        verRow.update(0, version)
        val joined = new JoinedRow
        val reader = GraftReaderFactory.rows(path,
          ChangeLog.changeSchema(baseSchema), renames)
        new PartitionReader[InternalRow] {
          override def next(): Boolean = reader.next()
          override def get(): InternalRow = joined.apply(reader.get(), verRow)
          override def close(): Unit = reader.close()
        }

      case ChangeRemovedPartition(path, version, fileSeq, dropKeysBc) =>
        val meta = metaRow("delete", version)
        val joined = new JoinedRow
        // the commit's (key, seq) deletes ship once per executor; only
        // those NEWER than this file's data seq apply to it
        val dropKeys: Array[String] = dropKeysBc match {
          case None => Array.empty
          case Some(bc) => bc.value.collect {
            case (k, ds) if ds > fileSeq => k
          }.distinct.sorted
        }
        val reader = GraftReaderFactory.rows(path, baseSchema, renames)
        new PartitionReader[InternalRow] {
          // rows an earlier equality delete already suppressed are not
          // deletes of THIS commit — skip them
          private def dropped(r: InternalRow): Boolean =
            dropKeys.length > 0 && keyOrdinal >= 0 && !r.isNullAt(keyOrdinal) &&
              contains(dropKeys, r.getUTF8String(keyOrdinal).toString)
          override def next(): Boolean = {
            var more = reader.next()
            while (more && dropped(reader.get())) more = reader.next()
            more
          }
          override def get(): InternalRow = joined.apply(reader.get(), meta)
          override def close(): Unit = reader.close()
        }
    }
}
