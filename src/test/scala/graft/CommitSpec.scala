package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, RowLevelOperation, WriterCommitMessage}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources._

/** The one write-commit path ([[graft.sources.Commit]]): its conflict rule
  * on tiny tables, the two writer cells no other spec races (a
  * merge-on-read delta losing its input to compaction, a copy-on-write
  * rewrite losing to a merge-on-read delete), and the failed-attempt
  * sweep. */
class CommitSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val warehouse = Files.createTempDirectory("graft_commit").toString

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    .config("spark.sql.catalog.graft.warehouse", warehouse)
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .getOrCreate()

  override def beforeAll(): Unit = spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cm")

  override def afterAll(): Unit = spark.stop()

  private val empty = new CaseInsensitiveStringMap(java.util.Map.of())

  private def dataDir(t: String) = new Path(s"$warehouse/cm/$t/data")
  private def fs = new Path(warehouse).getFileSystem(new Configuration())
  private def live(t: String) = TableStats.read(fs, dataDir(t))
  private def version(t: String) = TableStats.liveVersion(fs, dataDir(t))
  private def count(t: String) = spark.table(s"graft.cm.$t").count()

  private def load(t: String): GraftTable =
    spark.sessionState.catalogManager.catalog("graft").asInstanceOf[TableCatalog]
      .loadTable(Identifier.of(Array("cm"), t)).asInstanceOf[GraftTable]

  /** A merge-on-read table of two single-file appends (ids 0-9 and 10-19)
    * and one delete file (id 0). */
  private def morTable(t: String): Unit = {
    spark.sql(s"CREATE TABLE graft.cm.$t (row_key STRING, id BIGINT) " +
      s"TBLPROPERTIES ('${GraftDeletes.ModeProp}' = 'merge-on-read')")
    for (lo <- Seq(0, 10))
      spark.sql(s"INSERT INTO graft.cm.$t SELECT CAST(id AS STRING), id " +
        s"FROM range($lo, ${lo + 10}, 1, 1)")
    spark.sql(s"DELETE FROM graft.cm.$t WHERE id = 0")
  }

  /** Copies one live data file of `t` to `name` (a valid part file the
    * manifest does not know) and returns its rel and entry. */
  private def plant(t: String, name: String): (String, TableStats.Entry) = {
    val (rel, e) = live(t).find(kv => !GraftDeletes.isDeleteRel(kv._1)).get
    FileUtil.copy(fs, new Path(dataDir(t), rel), fs, new Path(dataDir(t), name),
      false, new Configuration())
    name -> e.copy(seq = -1L)
  }

  private def commitMessage(files: (String, TableStats.Entry)*): Array[WriterCommitMessage] =
    Array(GraftCommitMessage(files))

  test("conflict rule: an input gone or a delete added aborts, deleting the adds") {
    morTable("rule")
    val dir = dataDir("rule")
    val (deletes, data) = live("rule").keySet.partition(GraftDeletes.isDeleteRel)
    assert(data.size == 2 && deletes.size == 1)
    val cases = Seq(
      ("input gone", data + "gone.parquet", deletes, "(1 input file(s) left the manifest, 0 delete"),
      ("delete added", data, Set.empty[String], "(0 input file(s) left the manifest, 1 delete"),
      ("both", data + "gone.parquet", Set.empty[String], "(1 input file(s) left the manifest, 1 delete"))
    for ((what, inputs, baseDeletes, counts) <- cases) {
      val before = live("rule")
      val v = version("rule")
      val (add, _) = plant("rule", s"planted-$what.parquet".replace(' ', '-'))
      var cleaned = false
      val e = intercept[IllegalStateException] {
        Commit.run(fs, dir, Some(Commit.Check(what, Seq(add), inputs, baseDeletes)),
          cleanup = () => cleaned = true)(m => fail(s"$what: next ran on a lost race"))
      }
      assert(e.getMessage.startsWith(s"graft: $what lost a race with a concurrent commit"),
        e.getMessage)
      assert(e.getMessage.contains(counts), e.getMessage)
      assert(e.getMessage.endsWith("no changes applied — retry the statement"), e.getMessage)
      assert(cleaned, s"$what: cleanup did not run")
      assert(!fs.exists(new Path(dir, add)), s"$what: the add survived the abort")
      assert(live("rule") == before && version("rule") == v, s"$what: the table moved")
    }
    assert(count("rule") == 19)

    // neither: the commit publishes next(live) at the next version
    val v = version("rule").get
    val added = plant("rule", "planted-neither.parquet")
    val recorded = Commit.run(fs, dir,
      Some(Commit.Check("neither", Seq(added._1), data, deletes)))(m => Some(m + added))
    assert(recorded.contains(v + 1) && version("rule").contains(v + 1))
    assert(live("rule").contains(added._1) && count("rule") == 29)
    // None publishes nothing
    assert(Commit.run(fs, dir, Some(Commit.Check("noop", Nil, data, deletes)))(_ => None)
      .isEmpty)
    assert(version("rule").contains(v + 1))
    spark.sql("DROP TABLE graft.cm.rule")
  }

  test("merge-on-read delta aborts when compaction swapped its input out") {
    morTable("mor")
    val t = load("mor")
    val op = t.newRowLevelOperationBuilder(new org.apache.spark.sql.connector.write
        .RowLevelOperationInfo {
      override def command(): RowLevelOperation.Command = RowLevelOperation.Command.DELETE
      override def options(): CaseInsensitiveStringMap = empty
    }).build().asInstanceOf[GraftDeltaOperation]
    // the delta's scan plans against the live manifest (its baseline)...
    op.newScanBuilder(empty).build().asInstanceOf[GraftScan].toBatch.planInputPartitions()
    // ...then compaction swaps its input files out
    val (removed, _) = Compaction.compact(spark, t, outputFiles = 1)
    assert(removed == 2)
    val before = live("mor")
    val v = version("mor")
    val add = plant("mor", "planted-mor.parquet")
    val e = intercept[IllegalStateException] {
      new GraftDeltaWrite(t.schema0, t.properties(), t.dataDir, t.partitionSpecs, op)
        .commit(commitMessage(add))
    }
    // both data files left (and the delete file compaction folded in)
    assert(e.getMessage.contains(
      "merge-on-read DELETE lost a race with a concurrent commit (3 input file(s) " +
        "left the manifest, 0 delete file(s) entered it)"), e.getMessage)
    assert(!fs.exists(new Path(dataDir("mor"), add._1)), "the delta's output survived")
    assert(live("mor") == before && version("mor") == v)
    assert(count("mor") == 19)
    spark.sql("DROP TABLE graft.cm.mor")
  }

  test("copy-on-write rewrite aborts when a merge-on-read delete landed") {
    morTable("cow")
    val t = load("cow")
    // the rewrite plans its scan (and the delete files it sees)...
    val op = new GraftRowLevelOperation(t, RowLevelOperation.Command.DELETE)
    op.newScanBuilder(empty).build().asInstanceOf[GraftScan].toBatch.planInputPartitions()
    // ...then a merge-on-read DELETE lands a second delete file
    spark.sql("DELETE FROM graft.cm.cow WHERE id = 1")
    val before = live("cow")
    val v = version("cow")
    val add = plant("cow", "planted-cow.parquet")
    val e = intercept[IllegalStateException] {
      new GraftReplaceDataWrite(t.schema0, t.properties(), t.dataDir, t.partitionSpecs, op)
        .commit(commitMessage(add))
    }
    assert(e.getMessage.contains("row-level DELETE lost a race with a concurrent " +
      "commit (0 input file(s) left the manifest, 1 delete file(s) entered it)"),
      e.getMessage)
    assert(!fs.exists(new Path(dataDir("cow"), add._1)), "the rewrite's output survived")
    assert(live("cow") == before && version("cow") == v)
    assert(count("cow") == 18)
    spark.sql("DROP TABLE graft.cm.cow")
  }

  test("commit sweeps its own failed attempts' files, never a foreign write's") {
    spark.sql("CREATE TABLE graft.cm.sw (id BIGINT)")
    val t = load("sw")
    val write = new GraftBatchWrite(t.schema0, t.properties().asScala.toMap, t.dataDir,
      t.partitionSpecs, GraftBatchWrite.Append)
    val factory = write.createBatchWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    })
    def attempt(taskId: Long): WriterCommitMessage = {
      val w = factory.createWriter(0, taskId)
      w.write(InternalRow(taskId))
      try w.commit() finally w.close()
    }
    val kept = attempt(1L)
    attempt(2L) // a failed attempt: wrote a file, its message never arrives
    val dir = dataDir("sw")
    def parts = TableStats.listAllFiles(fs, dir).map(_.getName)
      .filter(_.endsWith(".parquet")).toSet
    val ours = parts
    assert(ours.size == 2)
    // a concurrent write's in-flight file: another write id
    val foreign = ours.head.replaceAll(
      "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}",
      java.util.UUID.randomUUID().toString)
    FileUtil.copy(fs, new Path(dir, ours.head), fs, new Path(dir, foreign), false,
      new Configuration())
    write.commit(Array(kept))
    val registered = live("sw").keySet.map(_.split('/').last)
    assert(registered.size == 1 && ours.contains(registered.head))
    assert(parts == registered + foreign,
      s"the failed attempt must be swept and the foreign file kept: $parts")
    assert(spark.table("graft.cm.sw").collect().map(_.getLong(0)).toSeq == Seq(1L))
    spark.sql("DROP TABLE graft.cm.sw")
  }
}
