package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.connector.write.WriterCommitMessage

/** The one commit path of graft's data writers — batch append and
  * overwrite ([[GraftBatchWrite]]), merge-on-read deltas
  * ([[GraftDeltaWrite]]), copy-on-write rewrites
  * ([[GraftReplaceDataWrite]]), [[Compaction]] and streaming epochs
  * ([[GraftStreamingWrite]]). Every commit is the same sequence:
  *
  *  1. [[sweep]] the files of failed or speculative task attempts (they
  *     carry the write's id but are not in the commit messages);
  *  2. under [[TableStats.withLock]], read the live manifest and apply the
  *     conflict rule against the writer's [[Check]];
  *  3. publish the writer's next manifest through [[TableStats.write]].
  *
  * The conflict rule is serializable optimistic concurrency: a commit
  * aborts when one of its `inputs` has left the live manifest (a COW
  * rewrite, compaction or truncate replaced rows it read) or when a delete
  * file outside its `baseDeletes` has entered it (a concurrent
  * merge-on-read mutation: the commit's output has a newer seq, so the
  * rows it carries would escape those deletes). An aborted commit deletes
  * its own output and applies nothing. Appends, overwrites and streaming
  * epochs read no input and pass no check.
  */
object Commit {

  /** The conflict check of a write that read the table: `what` names the
    * statement in the race message, `adds` are the rels it wrote (deleted
    * on a lost race), `inputs` the manifest rels its output was derived
    * from, and `baseDeletes` the equality-delete rels live when it read
    * them. */
  final case class Check(what: String, adds: Iterable[String],
      inputs: Set[String], baseDeletes: Set[String])

  /** Every (rel, entry) the write's task attempts committed. */
  def files(messages: Array[WriterCommitMessage]): Map[String, TableStats.Entry] =
    messages.collect { case m: GraftCommitMessage => m.files }.flatten.toMap

  /** Delete every file under `dir` whose name carries `writeId`, except
    * the `keep` rels (compared by file name). At commit `keep` is what the
    * commit messages name, so only failed or speculative attempts' files
    * go; at abort it is empty and the write's whole output goes. */
  def sweep(fs: FileSystem, dir: Path, writeId: String,
      keep: Iterable[String] = Nil): Unit = {
    val kept = keep.iterator.map(_.split('/').last).toSet
    TableStats.listAllFiles(fs, dir)
      .filter(p => p.getName.contains(writeId) && !kept.contains(p.getName))
      .foreach(fs.delete(_, false))
  }

  /** Delete the given manifest rels under `dir`. */
  def drop(fs: FileSystem, dir: Path, rels: Iterable[String]): Unit =
    rels.foreach(rel => fs.delete(new Path(dir, rel), false))

  /** Commit under the table lock. Reads the live manifest once; with a
    * `check`, a lost race deletes the check's adds, runs `cleanup` and
    * throws. Otherwise `next(live)` returns the manifest to publish (None:
    * publish nothing — the race was still decided first, exactly as for a
    * commit that changes the table), which [[TableStats.write]] records
    * with the ChangeLog `kind`. `cleanup` also runs when `next` or the
    * publish throws, so a caller can undo what it staged for this commit.
    *
    * @return the recorded version, None when nothing was published */
  def run(fs: FileSystem, dir: Path,
      check: Option[Check] = None,
      kind: Option[ChangeLog.Kind] = None,
      cleanup: () => Unit = () => ())(
      next: Map[String, TableStats.Entry] => Option[Map[String, TableStats.Entry]])
      : Option[Long] =
    TableStats.withLock(fs, dir) {
      val live = TableStats.read(fs, dir)
      check.foreach { c =>
        val gone = c.inputs.count(!live.contains(_))
        val entered = live.keysIterator.count(rel =>
          GraftDeletes.isDeleteRel(rel) && !c.baseDeletes.contains(rel))
        if (gone > 0 || entered > 0) {
          drop(fs, dir, c.adds)
          cleanup()
          throw new IllegalStateException(
            s"graft: ${c.what} lost a race with a concurrent commit ($gone input " +
              s"file(s) left the manifest, $entered delete file(s) entered it); " +
              "no changes applied — retry the statement")
        }
      }
      try next(live).map(TableStats.write(fs, dir, _, kind = kind))
      catch { case e: Throwable => cleanup(); throw e }
    }
}
