package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One statement that changed table files (a commit or a maintenance
  * statement), seen from outside through the tables' `$files` metadata. */
final case class FileChange(kind: String, trace: OpTrace, added: Int, removed: Int,
    bytesAdded: Long, rowsAdded: Long, rowsAffected: Long, liveFiles: Int,
    liveBytes: Long, liveRows: Long, filesBefore: Int)

/** A live data file of a graft table, as `t$files` lists it. */
final case class LiveFile(table: String, file: String, rows: Long, bytes: Long)

/** What every workload shares: the session, the corpus alias, the run
  * directory and, in a traced run, the tracer and the statement records. */
final class Ctx(val spark: SparkSession, val sfDir: String, val runDir: String, val seed: Long) {
  var tracer: Option[Tracer] = None
  /** True while statements should be traced (a traced op or the setup). */
  var tracing = false
  val commits = ArrayBuffer[FileChange]()
  val maints = ArrayBuffer[FileChange]()
  /** Query executions of the current op's own statements, recorded once
    * the op's timer has stopped. */
  val pending = ArrayBuffer[DataFrame]()

  def sql(q: String): DataFrame = {
    val df = spark.sql(q)
    if (tracing) pending += df
    df
  }

  def flushPending(): Unit = {
    tracer.foreach(t => pending.foreach(df => t.record(df.queryExecution)))
    pending.clear()
  }

  /** Registers the corpus parquet files as `raw_<table>` views: stock
    * Spark parquet, bypassing graft's catalog and scan. */
  def registerRaw(tables: Seq[String]): Unit = tables.foreach { t =>
    spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(s"raw_$t")
  }

  def quoteMeta(table: String, kind: String): String = {
    val parts = table.split('.')
    (parts.init :+ s"`${parts.last}$$$kind`").mkString(".")
  }

  /** Live files of the tables that exist (a CTAS target does not yet). */
  def liveFiles(tables: Seq[String]): Seq[LiveFile] = tables.filter(spark.catalog.tableExists).flatMap { t =>
    spark.sql(s"SELECT file, rows, bytes FROM ${quoteMeta(t, "files")} WHERE NOT is_delete")
      .collect().toSeq.map(r => LiveFile(t, r.getString(0), r.getLong(1), r.getLong(2)))
  }

  def snapshots(table: String): Long =
    spark.sql(s"SELECT count(*) FROM ${quoteMeta(table, "snapshots")}").head().getLong(0)

  def tablesIn(namespace: String): Seq[String] =
    spark.sql(s"SHOW TABLES IN $namespace").collect().toSeq
      .map(r => s"$namespace.${r.getString(1)}").sorted

  /** Runs `body` as one file-changing statement. When tracing, the
    * tables' live files are listed before and after (outside the span)
    * and the change is recorded under `kind` ("commit" or "maint"). */
  def changing[T](kind: String, name: String, tables: => Seq[String], rowsAffected: Long = -1)
      (body: => T): T = tracer match {
    case Some(t) if tracing =>
      val before = liveFiles(tables)
      t.begin(s"$kind.$name")
      val t0 = System.nanoTime()
      val out = try body finally {
        val ms = (System.nanoTime() - t0) / 1e6
        recordChange(kind, name, t.end(), ms, before, tables, rowsAffected)
      }
      out
    case _ => body
  }

  /** Records a traced statement's file change: `before` was listed
    * before its span opened, the tables are listed again now. */
  def recordChange(kind: String, name: String, span: Span, wallMs: Double,
      before: Seq[LiveFile], tables: Seq[String], rowsAffected: Long): Unit = tracer.foreach { t =>
    flushPending()
    t.drain()
    val after = liveFiles(tables)
    val key = (f: LiveFile) => (f.table, f.file)
    val beforeKeys = before.map(key).toSet
    val afterKeys = after.map(key).toSet
    val added = after.filterNot(f => beforeKeys(key(f)))
    val removed = before.count(f => !afterKeys(key(f)))
    val rec = FileChange(name, t.window(span.start, span.end, wallMs),
      added.size, removed, added.map(_.bytes).sum, added.map(_.rows).sum,
      if (rowsAffected >= 0) rowsAffected else added.map(_.rows).sum,
      after.size, after.map(_.bytes).sum, after.map(_.rows).sum, before.size)
    (if (kind == "maint") maints else commits) += rec
  }
}

object Ctx {
  /** Rows as comparable strings, in their original order. */
  def render(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.map(String.valueOf).mkString("|"))
}
