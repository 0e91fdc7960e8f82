package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType

/** Streaming SOURCE over a graft table: each micro-batch reads the data
  * files that appeared since the previous offset, so
  * `spark.readStream.table("gcat.ns.t")` tails the table as writers
  * append to it (batch INSERTs and committed streaming-sink epochs alike;
  * uncommitted `stream-` files stay invisible, same visibility rule as
  * batch scans).
  *
  * Offsets are the sorted set of file (relativePath, length) pairs seen so
  * far — replayable and exactly-once on the read side: a restarted query
  * re-plans `end \ start` deterministically from the checkpointed JSON.
  * Lengths ride along so a file replaced by compaction (same name never
  * recurs — names carry write ids) cannot be confused across offsets.
  */
final class GraftMicroBatchStream(
    tableSchema: StructType,
    required: StructType,
    dataDir: String,
    partitionCols: Seq[String],
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    renames: Map[String, Seq[String]] = Map.empty)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** [[visibleFilesOnce]] with retries: on a local FS the registry's
    * rename-overwrite (and file churn from concurrent commits) can make a
    * just-listed path vanish before the lister stats it — transient by
    * construction, so retry briefly rather than fail the stream. */
  private def visibleFiles(): Map[String, Long] = {
    var attempt = 0
    while (true) {
      try return visibleFilesOnce()
      catch {
        // deliberate refusals (outstanding merge-on-read deletes) are not
        // transient — surface immediately, don't burn the retry budget
        case e: IllegalStateException => throw e
        case e: Exception =>
          attempt += 1
          if (attempt >= 5) throw e
          Thread.sleep(50L * attempt)
      }
    }
    Map.empty // unreachable
  }

  private def visibleFilesOnce(): Map[String, Long] = {
    val conf = new Configuration()
    val root = new Path(dataDir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return Map.empty
    // Only files REGISTERED in the stats registry are offered to the
    // stream: every commit path (batch insert, streaming epoch, replace,
    // compaction) registers its files after they are closed, so a batch
    // appears atomically — listing alone would capture part files mid-
    // write with partial lengths and silently lose their tail row groups.
    val registered = TableStats.read(fs, root)
    if (registered.isEmpty) return Map.empty
    // outstanding equality deletes: the file-set offsets this source is
    // built on cannot express row-level removals (rows already delivered
    // are gone, and silently re-reading files with the delete applied
    // would split one file's rows across batches) — refuse loudly, the
    // same discipline as the batch since-version scan. Compaction folds
    // the deletes in and streaming resumes; the CDC feed
    // (Snapshots.changes) is the mutation-aware incremental read.
    if (registered.keysIterator.exists(GraftDeletes.isDeleteRel))
      throw new IllegalStateException(
        s"graft: streaming source over $dataDir with outstanding " +
          "merge-on-read deletes — run Compaction.compact (or OPTIMIZE) to " +
          "fold them in, or consume Snapshots.changes for a delete-aware feed")
    // a SHALLOW CLONE's external entries live in the SOURCE's directory:
    // this source's offsets are own-dir listings, which would silently
    // skip them — refuse loudly until the clone is reified
    if (registered.keysIterator.exists(TableStats.isExternal))
      throw new IllegalStateException(
        s"graft: streaming source over $dataDir, a shallow clone with " +
          "unreified external files — run OPTIMIZE to materialize the " +
          "clone first (the change feed reader supports clones directly)")
    val it = fs.listFiles(root, true)
    val out = Map.newBuilder[String, Long]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
        val rel = TableStats.relOf(st.getPath.toString)
        if (registered.contains(rel)) out += rel -> st.getLen
      }
    }
    out.result()
  }

  // ---- admission control: bound each micro-batch --------------------------
  // Without a limit, a restart against a backlogged table would plan ONE
  // batch containing every file written since the checkpoint. With
  // maxFilesPerTrigger / maxBytesPerTrigger the backlog drains in bounded
  // batches (same knobs as Spark's file sources).

  override def getDefaultReadLimit: ReadLimit = {
    val limits: Seq[ReadLimit] =
      maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n)).toSeq ++
        maxBytesPerTrigger.map(b => ReadLimit.maxBytes(b)).toSeq
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** Apply a read limit to the sorted fresh-file list. maxBytes admits
    * files until the byte budget is exhausted but always at least one
    * (a single file larger than the budget must still make progress). */
  private def admit(fresh: Seq[(String, Long)], limit: ReadLimit): Seq[(String, Long)] =
    limit match {
      case _: ReadAllAvailable => fresh
      case f: ReadMaxFiles => fresh.take(f.maxFiles())
      case b: ReadMaxBytes =>
        var budget = b.maxBytes()
        val it = fresh.iterator
        val out = Seq.newBuilder[(String, Long)]
        var first = true
        var done = false
        while (it.hasNext && !done) {
          val e = it.next()
          if (first || e._2 <= budget) { out += e; budget -= e._2; first = false }
          else done = true
        }
        out.result()
      case c: CompositeReadLimit =>
        c.getReadLimits.foldLeft(fresh)((acc, l) => admit(acc, l))
      case _ => fresh
    }

  // Trigger.AvailableNow: snapshot the visible set once at query start;
  // every batch of this run drains toward that fixed endpoint (files that
  // appear later belong to the next run), so the query provably
  // terminates even while writers keep appending.
  @volatile private var availableNowCap: Option[Map[String, Long]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(visibleFiles())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val seen = start.asInstanceOf[GraftSourceOffset].files
    val visible = availableNowCap.getOrElse(visibleFiles())
    val fresh = (visible -- seen.keySet).toSeq.sorted
    GraftSourceOffset(seen ++ admit(fresh, limit))
  }

  override def reportLatestOffset(): Offset = GraftSourceOffset(visibleFiles())

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead (admission control)")

  override def initialOffset(): Offset = GraftSourceOffset(Map.empty)

  override def deserializeOffset(json: String): Offset = GraftSourceOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[GraftSourceOffset].files.keySet
    val fresh = end.asInstanceOf[GraftSourceOffset].files -- seen
    fresh.toSeq.sortBy(_._1).map { case (rel, len) =>
      GraftInputPartition(s"$dataDir/$rel", 0L, len): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required, Array.empty, renames = renames)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Offset = visible file set (relPath -> length), JSON-serialized sorted. */
final case class GraftSourceOffset(files: Map[String, Long]) extends Offset {
  override def json(): String =
    files.toSeq.sorted
      .map { case (p, l) =>
        val esc = p.replace("\\", "\\\\").replace("\"", "\\\"")
        s"""["$esc",$l]"""
      }
      .mkString("[", ",", "]")
}

object GraftSourceOffset {
  def fromJson(json: String): GraftSourceOffset = {
    // parse [["path",len],...] — paths are URL-encoded dir names + file
    // names we wrote ourselves, but escape handling keeps this general
    val files = Map.newBuilder[String, Long]
    var i = 0
    def expect(c: Char): Unit = { require(json(i) == c, s"offset parse at $i: $json"); i += 1 }
    def ws(): Unit = while (i < json.length && json(i).isWhitespace) i += 1
    ws(); expect('[')
    ws()
    if (json(i) != ']') {
      var more = true
      while (more) {
        ws(); expect('['); ws(); expect('"')
        val sb = new StringBuilder
        while (json(i) != '"') {
          if (json(i) == '\\') { sb.append(json(i + 1)); i += 2 }
          else { sb.append(json(i)); i += 1 }
        }
        expect('"'); ws(); expect(',')
        val numStart = i
        while (json(i) != ']') i += 1
        val len = json.substring(numStart, i).trim.toLong
        expect(']'); ws()
        files += sb.toString -> len
        if (json(i) == ',') { i += 1 } else more = false
      }
    }
    expect(']')
    GraftSourceOffset(files.result())
  }
}
