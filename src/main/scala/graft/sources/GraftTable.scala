package graft.sources

import java.util.{Set => JSet, UUID}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{AlwaysFalse, AlwaysTrue, And, EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Not, Or, StringStartsWith}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{ColumnNames, RowKeyGenerator}

/** A graft-catalog table: parquet part-files under `<dir>/data/`, written
  * by [[ParquetRowIO]] and scanned by Spark's vectorized parquet reader
  * ([[GraftReaderFactory]]). Read path does column pruning and
  * best-effort predicate pushdown (row-group/page skipping via
  * [[FilterTranslate]]) while reporting every filter as residual — the
  * correct-semantics version of the reference's `HBaseTableScanExec` +
  * `HBaseSparkFilterUtils` (SURVEY.md §2.1 #1-#10). Write path implements
  * append and truncate-overwrite with pluggable row-key generation
  * (SURVEY.md §2.1 #14, #25).
  */
final class GraftTable(
    val ident: String,
    val schemaIn: StructType,
    val props: Map[String, String],
    val tableDir: String,
    val partitionCols: Seq[String] = Nil,
    val pinnedVersion: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsMetadataColumns with SupportsRowLevelOperations {

  /** VALUE equality over the load identity (what Iceberg's SparkTable
    * does, for the same reason): every `loadTable` builds a fresh
    * instance, and `DataSourceV2Relation`'s canonicalized comparison
    * includes the `Table` — with reference equality no two analyses of
    * the same table ever `sameResult`, so Spark's cache manager can
    * never substitute a persisted result into a later query and scan
    * reuse across plans is impossible. Writes through the session
    * invalidate affected cache entries (Spark's V2 write exec nodes
    * carry a refreshCache callback keyed on relation equality), the same
    * staleness contract as the built-in file sources. */
  override def equals(other: Any): Boolean = other match {
    case t: GraftTable =>
      ident == t.ident && schemaIn == t.schemaIn && props == t.props &&
        tableDir == t.tableDir && partitionCols == t.partitionCols &&
        pinnedVersion == t.pinnedVersion
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(ident, schemaIn, props, tableDir, partitionCols,
      pinnedVersion)

  /** Merge-on-read tables surface `row_key` as NOT NULL: equality deletes
    * key on it, Spark requires non-nullable row-id attributes, and the
    * ANSI store-assignment null check on writes enforces what the delete
    * path assumes. Other tables keep their declared nullability. */
  val schema0: StructType =
    if (!GraftDeletes.mergeOnRead(props)) schemaIn
    else StructType(schemaIn.fields.map(f =>
      if (f.name == ColumnNames.RowKey) f.copy(nullable = false) else f))

  /** Reject mutations through a time-travel relation: `VERSION AS OF` /
    * `TIMESTAMP AS OF` pin a historical manifest, which is read-only. */
  private def requireUnpinned(op: String): Unit =
    pinnedVersion.foreach(v => throw new UnsupportedOperationException(
      s"graft: $op on $ident VERSION AS OF $v — time-travel relations are read-only"))

  override def metadataColumns(): Array[MetadataColumn] =
    Array(GraftTable.FileColumn, GraftTable.VersionColumn)

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    requireUnpinned(info.command().toString)
    if (GraftDeletes.mergeOnRead(props)) {
      // merge-on-read needs a stable per-row identity for its equality
      // deletes: the STRING row_key column every keyed graft table has
      val ok = schema0.fields.exists(f =>
        f.name == ColumnNames.RowKey && f.dataType == StringType)
      require(ok, s"graft: ${GraftDeletes.ModeProp}=merge-on-read requires " +
        s"a STRING ${ColumnNames.RowKey} column on $ident")
      () => new GraftDeltaOperation(this, info.command())
    } else
      () => new GraftRowLevelOperation(this, info.command())
  }

  override def name(): String = ident
  override def schema(): StructType = schema0

  /** Raw partition-spec strings as stored in `_meta.yml` (identity col
    * names and `bucket(n,col)` entries). */
  def partitionSpecs: Seq[String] = partitionCols
  private lazy val partFields: Seq[PartField.Field] =
    partitionCols.map(PartField.parse)

  override def partitioning(): Array[Transform] =
    partFields.map(PartField.toTransform).toArray
  override def properties(): java.util.Map[String, String] = props.asJava

  /** Enforced CHECK constraints (`graft.constraint.<name>` properties) +
    * informational PRIMARY KEY / UNIQUE (`graft.keyconstraint.<name>`).
    * Reporting CHECKs `enforced` makes Spark's analyzer inject the
    * validation into every INSERT/MERGE plan (ResolveTableConstraints) —
    * a violating write fails before any file is committed; key
    * constraints are never enforced, only echoed with the user's RELY
    * flag for the optimizer. */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] = {
    import org.apache.spark.sql.connector.catalog.constraints.Constraint
    val checks = props.toSeq
      .collect { case (k, sql) if k.startsWith(GraftTable.ConstraintPropPrefix) =>
        Constraint.check(k.stripPrefix(GraftTable.ConstraintPropPrefix))
          .predicateSql(sql)
          .enforced(true)
          .validationStatus(Constraint.ValidationStatus.VALID)
          .rely(true)
          .build(): Constraint
      }
    val keys = props.toSeq
      .collect { case (k, v) if k.startsWith(GraftTable.KeyConstraintPropPrefix) =>
        val name = k.stripPrefix(GraftTable.KeyConstraintPropPrefix)
        val (kind, rely, cols) = GraftTable.parseKeyConstraint(v)
        val refs = cols.map(c => org.apache.spark.sql.connector.expressions
          .Expressions.column(c)).toArray
        kind match {
          case "PRIMARY KEY" => Constraint.primaryKey(name, refs)
            .enforced(false)
            .validationStatus(Constraint.ValidationStatus.UNVALIDATED)
            .rely(rely)
            .build(): Constraint
          case _ => Constraint.unique(name, refs)
            .enforced(false)
            .validationStatus(Constraint.ValidationStatus.UNVALIDATED)
            .rely(rely)
            .build(): Constraint
        }
      }
    (checks ++ keys).sortBy(_.name()).toArray
  }

  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC, TableCapability.STREAMING_WRITE,
      TableCapability.MICRO_BATCH_READ,
      // `MERGE WITH SCHEMA EVOLUTION` (explicit syntax only — plain
      // MERGE is unaffected): Spark's ResolveMergeIntoSchemaEvolution
      // derives AddColumn/widening TableChanges from the source schema
      // and applies them through GraftCatalog.alterTable BEFORE the
      // merge — the same metadata-only evolution ALTER TABLE does (new
      // columns nullable, old files read NULL, widening never rewrites);
      // unsupported changes fail loudly inside alterTable
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION).asJava

  def dataDir: String = s"$tableDir/data"

  /** The pinned time-travel version, if this relation came from
    * `VERSION AS OF` / `TIMESTAMP AS OF` (read-only; MV rewrite must
    * never redirect a historical read to a current materialization). */
  def pinned: Option[Long] = pinnedVersion

  // ---- DELETE FROM / TRUNCATE: metadata-only partition-level deletes ----
  // A filter is deletable only when it is one of the exact shapes
  // [[PartitionPruning.eval3]] decides over partition columns; anything
  // else (EqualNullSafe, LIKE '%x' => StringEndsWith/Contains, ...) is
  // rejected up front so Spark raises a clear "needs row-level delete"
  // error instead of silently deleting nothing.

  // NOTE: this walk and GraftScanBuilder.absorbable both enumerate "shapes
  // PartitionPruning.eval4 decides exactly over identity partition
  // columns"; when eval4 grows a shape, extend BOTH (absorbable adds
  // type-family checks this one does not need — metadata deletes compare
  // decoded directory values of the column's own type).
  private def deletableFilter(f: Filter): Boolean = {
    import org.apache.spark.sql.sources._
    // identity partition columns only: a predicate on a BUCKET source
    // column selects rows WITHIN bucket directories, so it must go
    // through the row-level (copy-on-write) path instead
    def part(a: String): Boolean = partFields.exists {
      case PartField.Identity(c) => c == a
      case _ => false
    }
    f match {
      case _: AlwaysTrue | _: AlwaysFalse => true
      case And(l, r) => deletableFilter(l) && deletableFilter(r)
      case Or(l, r) => deletableFilter(l) && deletableFilter(r)
      case Not(c) => deletableFilter(c)
      case EqualTo(a, _) => part(a)
      case EqualNullSafe(a, _) => part(a)
      case GreaterThan(a, _) => part(a)
      case GreaterThanOrEqual(a, _) => part(a)
      case LessThan(a, _) => part(a)
      case LessThanOrEqual(a, _) => part(a)
      case In(a, _) => part(a)
      case IsNull(a) => part(a)
      case IsNotNull(a) => part(a)
      case StringStartsWith(a, _) => part(a)
      case _ => false
    }
  }

  /** After a PARTITION SPEC EVOLUTION, files written under an earlier
    * layout cannot be addressed by the directory walk a metadata-only
    * delete descends — a partition DELETE would silently miss their
    * rows. Refusing here routes the statement to the row-level path,
    * which targets files by content, not layout. */
  private def layoutUniform: Boolean = {
    val root = new Path(dataDir)
    val fs = root.getFileSystem(new Configuration())
    TableStats.readIfExists(fs, root) match {
      case None => true // walk-based table: what is on disk IS the layout
      case Some(m) =>
        m.iterator.filterNot(e => GraftDeletes.isDeleteRel(e._1)).forall {
          case (rel, e) =>
            // external (cloned) entries are EXPLICITLY non-uniform: the
            // metadata delete's physical walk below sees only the own
            // dir, so a clone must route to the row-level path (which
            // resolves ext paths) — never rely on layoutMatches merely
            // happening to reject the ext: segment shape
            !TableStats.isExternal(rel) &&
            PartField.layoutMatches(rel, partFields) && e.seq >= specSince
        }
    }
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(deletableFilter) && layoutUniform

  override def deleteWhere(filters: Array[Filter]): Unit = {
    requireUnpinned("DELETE")
    val conf = new org.apache.hadoop.conf.Configuration()
    val root = new Path(dataDir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return
    // Decide constant filters up front (values-free evaluation): an
    // AlwaysFalse arm — e.g. `WHERE 1=0` after constant folding — must
    // delete NOTHING, never truncate; all-AlwaysTrue (or no filters)
    // truncates. Column-referencing filters stay undecided here and go
    // through the partition walk below.
    val constVerdicts = filters.map(f => PartitionPruning.eval3(f, Map.empty))
    if (constVerdicts.exists(_.contains(false))) return // provably no rows match
    if (constVerdicts.forall(_.contains(true))) {
      // truncate = publish an empty manifest. Data files stay on disk
      // (they remain reachable through earlier snapshots for time
      // travel; vacuum reclaims them); stale epoch markers must not
      // dedupe future stream epochs against pre-truncate history.
      fs.delete(new Path(root, TableStats.CommitsDir), true)
      TableStats.withLock(fs, root) {
        // truncate is a data swap: the removed entries' rows ARE the
        // feed's deletes — no change files needed (marker commits BEFORE
        // the swap inside the chokepoint)
        TableStats.write(fs, root, Map.empty[String, TableStats.Entry],
          kind = Some(ChangeLog.Replace))
      }
      return
    }
    if (partitionCols.isEmpty)
      // canDeleteWhere only admits constant filters for unpartitioned
      // tables, so this is unreachable via Spark — a guard, not a path.
      throw new UnsupportedOperationException(
        s"graft: DELETE with non-constant filter on unpartitioned table " +
          s"(${filters.mkString(", ")}) requires the row-level path")
    // two-phase: decide EVERY partition first, then delete — a rejected
    // statement must not have removed anything before it throws
    val toDelete = scala.collection.mutable.ArrayBuffer[(Path, String)]()
    def walk(p: Path, remaining: Seq[PartField.Field], values: Map[String, Any], rel: String): Unit =
      if (remaining.isEmpty) {
        // delete the partition dir iff every filter is definitely true
        // here; keep it when some filter is definitely false; anything
        // undecidable means the delete cannot be honored partition-wise
        val verdicts = filters.map(f => PartitionPruning.eval3(f, values))
        if (verdicts.forall(_.contains(true))) {
          toDelete += ((p, rel))
        } else if (!verdicts.exists(_.contains(false)) && verdicts.exists(_.isEmpty)) {
          throw new UnsupportedOperationException(
            s"graft: DELETE filter undecidable for partition $rel " +
              s"(${filters.mkString(", ")}); row-level deletes are not supported")
        }
      } else fs.listStatus(p).filter(_.isDirectory).foreach { d =>
        d.getPath.getName.split("=", 2) match {
          case Array(c, raw) if c == remaining.head.dir =>
            // bucket/day dirs carry no column value usable by the filter
            // evaluator; identity dirs do (a day narrows the column to a
            // RANGE, which eval3's equality shapes cannot decide — day-
            // partition deletes go through the row-level path)
            val vs = remaining.head match {
              case PartField.Identity(col) =>
                values + (col -> PartitionPruning.parse(
                  schema0(col).dataType, PartitionPruning.decode(raw)))
              case _: PartField.Bucket | _: PartField.TimeUnitField |
                  _: PartField.Truncate => values
            }
            walk(d.getPath, remaining.tail, vs,
              if (rel.isEmpty) d.getPath.getName else s"$rel/${d.getPath.getName}")
          case _ => ()
        }
      }
    walk(root, partFields, Map.empty, "")
    if (toDelete.isEmpty) return
    TableStats.withLock(fs, root) {
      TableStats.readIfExists(fs, root) match {
        case Some(stats) =>
          // metadata-only delete: drop the partitions from the manifest;
          // the files stay on disk, reachable through earlier snapshots
          // (time travel) until vacuum reclaims them
          TableStats.write(fs, root,
            stats.filterNot { case (relPath, _) =>
              toDelete.exists { case (_, d) => relPath.startsWith(d + "/") } },
            kind = Some(ChangeLog.Replace))
        case None =>
          // registry-less (out-of-band) table: physical delete is the
          // only delete there is — no manifest, no snapshots to preserve
          toDelete.foreach { case (p, _) => fs.delete(p, true) }
      }
    }
  }

  /** RENAME COLUMN history: current name → former names, newest first. */
  lazy val renames: Map[String, Seq[String]] =
    GraftTable.parseRenames(props.getOrElse(GraftTable.RenamesProp, ""))

  /** Columns widened by ALTER COLUMN ... TYPE (see [[GraftTable.WidenedProp]]). */
  lazy val widened: Set[String] = GraftTable.widenedNames(props)

  /** Version from which the current partition spec applies
    * (see [[GraftTable.SpecSinceProp]]). */
  lazy val specSince: Long = GraftTable.specSince(props)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(schema0, dataDir, partitionCols,
      maxFilesPerTrigger =
        Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      maxBytesPerTrigger =
        Option(options.get("maxBytesPerTrigger")).map(_.toLong),
      // catalog time travel (VERSION AS OF) or the catalog-free spelling
      // (spark.read.format("graft").option("snapshot-version", n)); tags
      // resolve here too (option("snapshot-tag", name)). The catalog-free
      // spellings pass the SAME crashed-commit guard as catalog time
      // travel — an aborted/orphan snapshot's never-committed rows must
      // not be readable through any front end (WAP stages pass: the
      // audit read is their purpose). The timestamp spelling is safe by
      // construction (latestAsOf only resolves live-chain versions), and
      // pinnedVersion was guarded by the catalog's pinned().
      snapshotVersion = Option(options.get("snapshot-version")).map(_.toLong)
        .orElse(Option(options.get("snapshot-tag")).map { name =>
          val dir = new Path(dataDir)
          Snapshots.resolveTag(dir.getFileSystem(new Configuration()), dir, name)
            .getOrElse(throw new IllegalArgumentException(
              s"graft: '$name' is no tag of $ident"))
        })
        .map { v =>
          val dir = new Path(dataDir)
          Snapshots.requireLiveHistory(
            dir.getFileSystem(new Configuration()), dir, v, ident)
          v
        }
        // TIMESTAMP AS OF, catalog-free: latest snapshot committed at or
        // before the instant (same spellings RESTORE accepts)
        .orElse(Option(options.get("snapshot-timestamp")).map { ts =>
          val dir = new Path(dataDir)
          Snapshots.latestAsOf(dir.getFileSystem(new Configuration()), dir,
            Snapshots.parseTsMillis(ts))
            .getOrElse(throw new IllegalArgumentException(
              s"graft: no snapshot of $ident at or before $ts"))
        })
        .orElse(pinnedVersion),
      // incremental append scan: only files added after snapshot m
      // (spark.read.option("since-version", m) — see Snapshots.readManifest)
      sinceVersion = Option(options.get("since-version")).map(_.toLong),
      renames = renames, widened = widened, specSince = specSince,
      sortCols = GraftTable.sortColumns(props))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    requireUnpinned("write")
    // path-based writes: the DF schema must agree with the directory's
    // declaration (validated HERE, on the write path only — reads with a
    // user .schema() keep their null-fill semantics and never mutate
    // metadata); option("mergeSchema", "true") evolves under the commit
    // lock (see validatePathWriteSchema)
    if (props.contains(GraftTable.PathBasedProp))
      GraftTable.validatePathWriteSchema(tableDir, info.schema(),
        Option(info.options().get("mergeSchema")).exists(_.equalsIgnoreCase("true")))
    new GraftWriteBuilder(schema0, props, dataDir, partitionCols, info)
  }
}

object GraftTable {
  /** Set (in-memory only, never persisted to `_meta.yml`) on tables served
    * by the path-based [[GraftTableProvider]]: no FunctionCatalog is
    * reachable there, so writes must not request a bucket-clustered
    * distribution Spark could not resolve. */
  val PathBasedProp = "graft.path-based"

  /** RENAME COLUMN history, persisted as a table property:
    * `cur:old2|old1,cur2:oldA` — per current name, its former names
    * newest first. A rename is metadata-only (no files rewritten); the
    * reader resolves each requested column per file against this
    * history ([[GraftReaderFactory.open]]), and new writes always use the
    * current name. */
  val RenamesProp = "graft.renames"

  /** Comma-separated names of columns WIDENED by ALTER COLUMN ... TYPE
    * (int -> long/double, float -> double). Files written before the
    * change keep the narrow physical type — readers upcast per file, and
    * parquet predicates on these columns are never pushed (a typed
    * predicate against a narrower file column would fail parquet-mr's
    * schema validation; every graft filter is residual anyway). The set
    * persists even after compaction migrates every file to the wide type
    * — tracking per-file generations is not worth the metadata; the only
    * cost is row-group-level filtering on that column, while file-level
    * skipping via registered [min, max] ranges keeps working. */
  val WidenedProp = "graft.widened.names"

  def widenedNames(props: Map[String, String]): Set[String] =
    props.getOrElse(WidenedProp, "").split(',').filter(_.nonEmpty).toSet

  /** Snapshot version from which the CURRENT partition spec applies (set
    * by `ALTER TABLE ... SET PARTITION SPEC`, 0 = since creation). Files
    * whose data sequence number predates it were written under an
    * earlier spec — their directory names may even LOOK identical (a
    * bucket-count or truncate-width change keeps the dir name), so a
    * name-match alone must never be trusted for pruning: older files are
    * always conservative (no pruning, compaction victims). */
  val SpecSinceProp = "graft.spec.since"

  def specSince(props: Map[String, String]): Long =
    props.getOrElse(SpecSinceProp, "0").toLong

  /** Comma-separated columns every INSERT range-partitions + sorts by
    * (write-side clustering: files get disjoint registered ranges at
    * ingest; see [[GraftWriteBuilder.build]]). */
  val SortColumnsProp = "write.sort.columns"

  def sortColumns(props: Map[String, String]): Seq[String] =
    props.getOrElse(SortColumnsProp, "")
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** Target data-file size in bytes (`write.target.file.bytes`, default
    * 512 MiB, 0 disables): every writer ROLLS to a new file once the
    * open file passes it — bounded file sizes keep compaction, COW
    * rewrites and vacuum incremental at any table size (reads already
    * byte-range-split large files; writes must not create them).
    * The roll signal is parquet's flushed+buffered size, which tracks
    * ENCODED bytes once row groups flush — size the target to hold at
    * least a few `write.rowgroup.bytes` groups (the default pairing,
    * 512 MiB over 128 MiB groups, does), or heavily-encoded data closes
    * files on the raw-buffer estimate, well under the target. */
  val TargetFileBytesProp = "write.target.file.bytes"

  /** Parsed [[TargetFileBytesProp]] — a malformed value must fail with
    * the PROPERTY NAME, not a bare NumberFormatException retried across
    * every task attempt. */
  def targetFileBytes(props: Map[String, String]): Long =
    props.get(TargetFileBytesProp).map { v =>
      v.trim.toLongOption.filter(_ >= 0).getOrElse(throw new IllegalArgumentException(
        s"graft: $TargetFileBytesProp must be a non-negative byte count, got '$v'"))
    }.getOrElse(512L * 1024 * 1024)

  /** CHECK constraints, one property per constraint:
    * `graft.constraint.<name>` -> the predicate SQL. Enforcement is
    * Spark-side (the analyzer validates every write plan against
    * [[GraftTable.constraints]]); ADD CONSTRAINT validates existing rows
    * before persisting (see [[GraftCatalog.alterTable]]). */
  val ConstraintPropPrefix = "graft.constraint."

  /** INFORMATIONAL key constraints (PRIMARY KEY / UNIQUE), one property
    * per constraint: `graft.keyconstraint.<name>` -> `KIND|rely|c1,c2`.
    * Never enforced (the lakehouse convention — enforcing uniqueness
    * needs a full shuffle per insert); reported UNVALIDATED, with the
    * user's RELY flag echoed so the optimizer may exploit them. */
  val KeyConstraintPropPrefix = "graft.keyconstraint."

  private[sources] def renderKeyConstraint(
      kind: String, rely: Boolean, cols: Seq[String]): String =
    s"$kind|$rely|${cols.mkString(",")}"

  private[sources] def parseKeyConstraint(v: String): (String, Boolean, Seq[String]) = {
    val Array(kind, rely, cols) = v.split('|')
    (kind, rely.toBoolean, cols.split(',').filter(_.nonEmpty).toSeq)
  }

  /** Comma-separated names of DROPPED columns (and their former names):
    * they still carry data in old files, so name-based reading must never
    * let ADD/RENAME COLUMN reuse one (the values would resurrect). */
  val RetiredProp = "graft.retired.names"

  def retiredNames(props: Map[String, String]): Set[String] =
    props.getOrElse(RetiredProp, "").split(',').filter(_.nonEmpty).toSet

  def parseRenames(s: String): Map[String, Seq[String]] =
    s.split(',').filter(_.contains(":")).map { e =>
      val Array(cur, olds) = e.split(":", 2)
      cur -> olds.split('|').filter(_.nonEmpty).toSeq
    }.toMap

  def renderRenames(m: Map[String, Seq[String]]): String =
    m.toSeq.sortBy(_._1)
      .map { case (cur, olds) => s"$cur:${olds.mkString("|")}" }.mkString(",")

  /** `_file` metadata column: full path of the file a row came from (the
    * group identity for copy-on-write row-level operations, and useful
    * for debugging — same convention as the built-in file sources). */
  val FileColumnName = "_file"
  object FileColumn extends MetadataColumn {
    override def name(): String = FileColumnName
    override def dataType(): org.apache.spark.sql.types.DataType = StringType
    override def isNullable: Boolean = false
    override def comment(): String = "path of the file this row belongs to"
  }

  /** `_version` metadata column: the snapshot version whose commit added
    * the row's file (the registry's data sequence number — the audit
    * answer to "which ingest commit wrote this row"; rewrites and
    * compaction re-stamp it, like `_file` itself changes). */
  val VersionColumnName = "_version"
  object VersionColumn extends MetadataColumn {
    override def name(): String = VersionColumnName
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.LongType
    override def isNullable: Boolean = false
    override def comment(): String =
      "snapshot version of the commit that added this row's file"
  }

  /** Parse a `_meta.yml` document into (schema, properties, partition
    * columns) — shared by the catalog's `loadTable` and the catalog-free
    * [[GraftTableProvider]]. */
  def parseMeta(text: String): (StructType, Map[String, String], Seq[String]) = {
    val m = new org.yaml.snakeyaml.Yaml()
      .load[java.util.Map[String, Object]](text).asScala
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(m("schema_json").asInstanceOf[String]).asInstanceOf[StructType]
    val props = m.get("properties")
      .map(_.asInstanceOf[java.util.Map[String, String]].asScala.toMap)
      .getOrElse(Map.empty[String, String])
    val partCols = m.get("partitions")
      .map(_.asInstanceOf[java.util.List[String]].asScala.toSeq)
      .getOrElse(Seq.empty[String])
    (schema, props, partCols)
  }

  /** Write-scoped options (and provider plumbing keys) that must never be
    * baked into `_meta.yml` as permanent storage properties when the
    * first bare-dir save bootstraps the metadata. Compared lowercased. */
  val TransientWriteProps: Set[String] = Set(
    "path", PathBasedProp, "mergeschema", "snapshot-version",
    "snapshot-timestamp", "snapshot-tag", "since-version",
    "starting-version", "change-feed",
    "maxfilespertrigger", "maxbytespertrigger", "wap.id", "wap.replace")

  /** Path-based WRITE schema gate. The DF schema must agree with the
    * directory's declaration — same-named columns (case-insensitively,
    * matching Spark's default resolution) keep their type, and columns
    * the declaration lacks are refused unless `mergeSchema` evolves the
    * table. Evolution is a read-modify-write of `_meta.yml` done under
    * the SAME lock commits take, re-reading the declaration inside it —
    * two concurrent evolving writers compose instead of last-write-wins
    * erasing one side's columns (which would re-open exactly the
    * silent-data-loss hole this gate closes). Runs only from
    * `newWriteBuilder`, so a READ can never mutate table metadata. */
  def validatePathWriteSchema(tableDir: String, writeSchema: StructType,
      mergeSchema: Boolean): Unit = {
    val conf = new Configuration()
    def ci(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    def check(declared: StructType): Seq[org.apache.spark.sql.types.StructField] = {
      val declaredTypes = declared.fields.map(f => ci(f.name) -> f.dataType).toMap
      val mismatched = writeSchema.fields.filter(f =>
        declaredTypes.get(ci(f.name)).exists(_ != f.dataType))
      require(mismatched.isEmpty,
        s"graft: column type mismatch vs the declared schema under $tableDir: " +
          mismatched.map(f => s"${f.name} is ${f.dataType.simpleString}, declared " +
            s"${declaredTypes(ci(f.name)).simpleString}").mkString(", "))
      writeSchema.fields.filterNot(f => declaredTypes.contains(ci(f.name))).toSeq
    }
    readMeta(tableDir, conf).foreach { case (declared, _, _) =>
      val extra = check(declared)
      if (extra.nonEmpty) {
        require(mergeSchema,
          s"graft: columns [${extra.map(_.name).mkString(", ")}] are not in " +
            s"the declared schema under $tableDir — files written with them " +
            "would be unreadable; set option(\"mergeSchema\", \"true\") to " +
            "evolve the table, or drop the columns")
        val dataDir = new Path(tableDir, "data")
        val fs = dataDir.getFileSystem(conf)
        fs.mkdirs(dataDir)
        TableStats.withLock(fs, dataDir) {
          // re-read inside the lock: merge on top of any concurrent evolve
          val (cur, curProps, curParts) =
            readMeta(tableDir, conf).getOrElse((declared, Map.empty[String, String], Seq.empty[String]))
          val stillExtra = check(cur)
          if (stillExtra.nonEmpty)
            writeMetaFile(fs, new Path(tableDir),
              StructType(cur.fields ++ stillExtra.map(_.copy(nullable = true))),
              curProps, curParts)
        }
      }
    }
  }

  /** Write `<tableDir>/_meta.yml` — the same three keys [[parseMeta]]
    * reads (and the catalog writes): schema JSON, storage properties,
    * partition specs. Used to BOOTSTRAP metadata on the first catalog-free
    * `df.write.format("graft").save(dir)` into a bare directory, which
    * previously left data files behind with no self-description (the
    * read path then refused the directory). */
  /** Column names a graft table may never declare as DATA columns: the
    * scan appends `_file`/`_version` as metadata columns and the change
    * feed emits `_change_type`/`_commit_version` — a same-named data
    * column would collide with the appended field (duplicate attribute or
    * silently shadowed values). */
  val ReservedColumnNames: Set[String] =
    Set(FileColumnName, VersionColumnName, "_change_type", "_commit_version")

  def requireNoReservedColumns(schema: StructType): Unit = {
    // case-INSENSITIVE: Spark resolves identifiers case-insensitively by
    // default, so `_VERSION` would shadow the metadata column just as
    // surely as `_version`
    val reserved = ReservedColumnNames.map(_.toLowerCase(java.util.Locale.ROOT))
    val clash = schema.fieldNames
      .filter(n => reserved(n.toLowerCase(java.util.Locale.ROOT)))
    require(clash.isEmpty,
      s"graft: column name(s) ${clash.mkString(", ")} are reserved " +
        "(metadata/change-feed columns)")
  }

  def writeMetaFile(fs: FileSystem, tableDir: Path, schema: StructType,
      props: Map[String, String], partCols: Seq[String]): Unit = {
    requireNoReservedColumns(schema)
    val opts = new org.yaml.snakeyaml.DumperOptions()
    opts.setDefaultFlowStyle(org.yaml.snakeyaml.DumperOptions.FlowStyle.BLOCK)
    val yaml = new org.yaml.snakeyaml.Yaml(opts).dump(Map(
      "schema_json" -> schema.json,
      "properties" -> props.asJava,
      "partitions" -> partCols.asJava).asJava)
    val out = fs.create(new Path(tableDir, "_meta.yml"), true)
    try out.write(yaml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read and parse `<tableDir>/_meta.yml` if present. */
  def readMeta(tableDir: String, conf: Configuration)
      : Option[(StructType, Map[String, String], Seq[String])] = {
    val metaPath = new Path(tableDir, "_meta.yml")
    val fs = metaPath.getFileSystem(conf)
    if (!fs.exists(metaPath)) None
    else {
      val in = fs.open(metaPath)
      val text =
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      Some(parseMeta(text))
    }
  }
}

/** Per-file row counts cached in `<data>/_stats.tsv` (one `relPath\trows`
  * line per live file), written at every successful commit from the
  * writers' own counts. Scans read ONE small side file instead of opening
  * every parquet footer at planning time — at 100k files that is the
  * difference between a millisecond stats lookup and an O(#files) driver
  * stall per query. Keys are paths relative to the data dir so renames of
  * the table keep the cache valid. */
object TableStats {
  val FileName = "_stats.tsv"
  /** Thrown by [[withLock]] when the 30 s acquisition deadline passes —
    * a distinct type so callers for whom "the lock is busy" is benign
    * backpressure (a checked commit contending on the coordinator's
    * commit guard) can retry, while every other commit-path failure
    * stays fatal. */
  final class LockTimeout(msg: String) extends IllegalStateException(msg)
  /** Registry (side-file) reads. Diagnostics only — lets tests assert a
    * query plans with a bounded number of registry reads regardless of
    * the table's file count. */
  val registryReads = new java.util.concurrent.atomic.AtomicLong(0)
  /** Commit-metadata bytes written (registry + snapshot files).
    * Diagnostics only — lets tests assert an appending commit's metadata
    * cost is O(files touched), not O(live files). */
  val metaBytesWritten = new java.util.concurrent.atomic.AtomicLong(0)
  /** `_stats.tsv` head line after a DELTA commit: `#ptr\t<v>` — the live
    * manifest is snapshot v (a delta chain, resolved through
    * [[Snapshots.read]]'s cache). Keeps the per-commit registry write
    * O(1) instead of O(live files). */
  val PtrPrefix = "#ptr\t"
  /** `_stats.tsv` head line of a FULL checkpoint registry: `#v\t<v>` —
    * the body IS the live manifest, and v is the snapshot it was recorded
    * as (the live head, needed for orphan healing and delta bases).
    * Registries written before this header (no '#' head line) parse as
    * full manifests with an UNKNOWN head version. */
  val HeadPrefix = "#v\t"
  /** Directory of per-epoch streaming commit markers (under the data dir). */
  val CommitsDir = "_commits"

  /** Registry format-revision header: `#fmt\t<n>`, written by [[serialize]]
    * (full registries, snapshot checkpoints, WAP stages) and by the delta
    * writer ([[Snapshots.recordAt]]). Compatibility contract:
    *  - entry fields are APPEND-ONLY and readers ignore unknown trailing
    *    fields (see [[parseLine]]), so adding a field does NOT bump the
    *    revision — an old reader of a new line just misses the new stat;
    *  - unknown `#`-prefixed header lines are ignored, so adding a header
    *    does not bump it either. DELTA snapshot bodies carry NO header at
    *    revision 1 (pre-header delta parsers threw on '#' lines, so a
    *    header there would break older binaries on an unchanged format —
    *    see [[Snapshots.recordAt]]); the revision is declared by the full
    *    checkpoint at each delta chain's base;
    *  - the revision bumps ONLY for a change an old reader would
    *    MISPARSE (reordered/retyped fields, changed encodings). Readers
    *    seeing a newer revision fail with the named
    *    [[UnsupportedRegistryFormat]] instead of silently planning from
    *    misread stats.
    * Registries written before this header carry no `#fmt` line and parse
    * as revision 1 (deliberate: every pre-header format is revision 1). */
  val FmtPrefix = "#fmt\t"
  /** Highest registry format revision this binary can read (and the one
    * it writes). */
  val SupportedFormat = 1L
  /** A registry/snapshot/WAP file declares a format revision newer than
    * [[SupportedFormat]] — refuse loudly rather than misparse. */
  final class UnsupportedRegistryFormat(val declared: Long)
    extends IllegalStateException(
      s"graft: registry format revision $declared is newer than this " +
        s"binary supports ($SupportedFormat) — upgrade before reading " +
        "this table")

  /** Validate a header ('#...') line; unknown headers are ignored. */
  private[sources] def checkHeader(line: String): Unit =
    if (line.startsWith(FmtPrefix)) {
      // toLongOption, not isDigit+toLong: a Long-overflowing digit string
      // or a non-ASCII Unicode digit (isDigit-true, toLong-throwing) must
      // land on the SAME named refusal as '#fmt garbage', never a bare
      // NumberFormatException
      val v = line.substring(FmtPrefix.length).trim.toLongOption
        .getOrElse(Long.MaxValue) // unparseable = not a format we know
      if (v > SupportedFormat) throw new UnsupportedRegistryFormat(v)
    }

  /** Registry entry: exact row count, file size in bytes (-1 when unknown
    * — registries written before sizes were recorded), plus optional
    * per-column (min, max) ranges in external string form — enough for
    * the scan to plan splits and skip whole files without any file I/O.
    *
    * `seq` is the snapshot version at which the file ENTERED the manifest
    * (its data sequence number): freshly-built entries carry the -1
    * sentinel and [[write]] stamps them with the version it commits, so
    * equality-delete files (see [[GraftDeletes]]) can scope themselves to
    * "rows written before me" — a delete with seq D applies to data files
    * with seq < D and never to files committed at or after it. Entries
    * from registries that predate the field read back as 0 (older than
    * every delete, which is exactly right). */
  /** `sorted`: the WRITER observed this file's rows arriving in
    * non-decreasing `write.sort.columns` order (evidence, not
    * declaration — see [[GraftScan.outputOrdering]]). */
  /** `nulls`: exact per-column null counts over the tracked columns —
    * `Some(map)` from writers that counted (absent key = ZERO nulls),
    * `None` for entries from registries that predate the field (null
    * counts unknown; TopN file pruning then treats the file
    * conservatively in both roles — see [[GraftScan.pruneTopN]]). */
  /** `sums`: exact per-column sums of the NON-NULL values of integral
    * columns — `Some(map)` from writers that tracked them (a key present
    * even when the file's column is all-null, sum 0; a key ABSENT under
    * `Some` means unavailable: non-integral type or the per-file sum
    * overflowed Long), `None` for entries predating the field. Feeds
    * complete SUM pushdown (see [[GraftAggScan]]). */
  /** `blooms`: per-column Bloom bitsets over the file's NON-NULL values
    * of `index.bloom.columns` (base64; "" = all-null column), feeding
    * driver-side file pruning for equality lookups on unclustered
    * columns (see [[BloomIndex]]). `None` on tables without the index or
    * entries predating it; a column ABSENT from `Some(map)` is never
    * pruned (saturated bitset, pre-index file, renamed column). */
  /** `sortedBy`: the EXACT column list the `sorted` evidence was watched
    * against at write time. Sort evidence is list-specific — a file
    * non-decreasing in (a, b) proves ordering by (a) or (a, b), never by
    * (b) — so [[GraftScan.outputOrdering]] claims an ordering only when
    * the current `write.sort.columns` is a PREFIX of every file's
    * recorded list. A bare `sorted=true` without the list (entries from
    * before this field) is conservatively not trusted: ALTERing the
    * property to a different list, or dropping a leading sort column,
    * must never let stale evidence elide a Sort the data doesn't
    * satisfy. */
  final case class Entry(rows: Long, cols: Map[String, (String, String)] = Map.empty,
                         bytes: Long = -1L, seq: Long = -1L,
                         sorted: Boolean = false,
                         nulls: Option[Map[String, Long]] = None,
                         sums: Option[Map[String, Long]] = None,
                         blooms: Option[Map[String, String]] = None,
                         sortedBy: Option[Seq[String]] = None)

  /** Path of `file` relative to its table's `data/` dir (keys of the stats
    * registry), robust to scheme-qualified vs bare paths. */
  def relOf(path: String): String = {
    val i = path.lastIndexOf("/data/")
    if (i >= 0) path.substring(i + "/data/".length)
    else new Path(path).getName
  }

  // ---- external (zero-copy clone) registry keys ---------------------------
  // A SHALLOW CLONE's initial manifest references the SOURCE table's data
  // files without copying them. Such entries are keyed `ext:<absolute
  // path>` instead of a data-dir-relative name. The contract every path
  // below encodes:
  //  - resolution goes through [[absOf]]/[[pathOf]] (never a bare
  //    `"$dataDir/$rel"` join), so readers open the source file;
  //  - the clone NEVER physically deletes an external file: vacuum walks
  //    only the clone's own data dir, and COW/compaction swaps drop the
  //    registry entry without touching disk (their existing behavior);
  //  - [[layoutRel]] recovers the source-layout-relative view (partition
  //    dirs, delete-file prefix) so pruning and delete classification
  //    keep working on cloned entries;
  //  - the key format never collides with real relative paths: writers
  //    produce `part-*`/`deletes/*`/`<col>=v/...` names, never an `ext:`
  //    prefix.
  val ExtPrefix = "ext:"
  def isExternal(rel: String): Boolean = rel.startsWith(ExtPrefix)
  def extKey(abs: String): String = ExtPrefix + abs
  /** Absolute path string of a registry key. */
  def absOf(dataDir: String, rel: String): String =
    if (isExternal(rel)) rel.substring(ExtPrefix.length) else s"$dataDir/$rel"
  /** Absolute [[Path]] of a registry key. */
  def pathOf(dataDir: Path, rel: String): Path =
    if (isExternal(rel)) new Path(rel.substring(ExtPrefix.length))
    else new Path(dataDir, rel)
  /** Inverse of [[absOf]]: the registry key of an absolute file path the
    * scan produced for table `dataDir` — `relOf` for files under the
    * table's own dir, the `ext:` key otherwise. Prefix-exact because the
    * scan builds its paths with [[absOf]] over the same `dataDir`
    * string. */
  def keyOf(dataDir: String, path: String): String =
    if (path.startsWith(dataDir + "/")) path.substring(dataDir.length + 1)
    else if (path == dataDir) "" // never happens for real files
    else extKey(path)
  /** The key's path relative to its OWNING table's data dir — the view
    * partition-layout parsing and delete-file classification need. For
    * normal keys this is the key itself; for external keys, the source
    * file's own data-dir-relative path. */
  def layoutRel(rel: String): String =
    if (isExternal(rel)) relOf(rel.substring(ExtPrefix.length)) else rel
  /** Registry entry of a scan-built absolute file path. Tries the
    * external key first (it is the stored path verbatim — exact even
    * when scheme qualification makes prefix matching unreliable), then
    * the data-dir-relative key. Safe order: a table's own keys never
    * carry the `ext:` prefix, and a table can never hold an ext key for
    * one of its OWN files (a clone's dest must not pre-exist). */
  def entryFor(stats: Map[String, Entry], path: String): Option[Entry] =
    stats.get(extKey(path)).orElse(stats.get(relOf(path)))

  private def enc(v: String): String = java.net.URLEncoder.encode(v, "UTF-8")
  private def dec(v: String): String = java.net.URLDecoder.decode(v, "UTF-8")

  /** One registry line for one entry — shared by full manifests, delta
    * snapshots ([[Snapshots]]) and the streaming epoch markers. */
  def serializeLine(rel: String, e: Entry): String = {
    val colspec = e.cols.toSeq.sorted.map { case (c, (mn, mx)) =>
      s"${enc(c)}=${enc(mn)},${enc(mx)}"
    }.mkString(";")
    // seq is written RAW: the streaming epoch marker serializes entries
    // BEFORE the commit stamps them, and its crash-repair path must
    // re-register them with the sentinel intact so TableStats.write
    // stamps the repair's own version — clamping to 0 would make every
    // pre-existing equality delete wrongly suppress the recovered rows
    val base = s"$rel\t${e.rows}\t${e.bytes}\t$colspec\t${e.seq}\t${if (e.sorted) 1 else 0}"
    // "-" = "tracked, but the map is empty" — distinguishable from a
    // shorter line (unknown) and never an empty trailing field (which
    // split('\t') would drop)
    def kv(m: Map[String, Long]): String =
      if (m.isEmpty) "-"
      else m.toSeq.sorted.map { case (c, n) => s"${enc(c)}=$n" }.mkString(";")
    // blooms use their own kv form: base64 payloads may CONTAIN '=' (the
    // padding), so readers split each pair on the FIRST '=' only
    def kvb(m: Map[String, String]): String =
      if (m.isEmpty) "-"
      else m.toSeq.sorted.map { case (c, b) => s"${enc(c)}=$b" }.mkString(";")
    // append-only positional format: emit trailing fields up to the LAST
    // present one; an absent MIDDLE optional field (blooms on a table
    // without the index, when sortedBy follows) writes the "-"
    // placeholder. For nulls/sums "-" means "tracked, empty map" (a
    // semantic the SUM pushdown relies on), so those must genuinely be
    // present whenever any later field is — required below. For
    // blooms/sortedBy "-" reads back None (no semantic distinction).
    val f7 = e.nulls.map(kv)
    val f8 = e.sums.map(kv)
    val f9 = e.blooms.map(kvb)
    val f10 = e.sortedBy.map(l =>
      if (l.isEmpty) "-" else l.map(enc).mkString(","))
    require(f7.isDefined || (f8.isEmpty && f9.isEmpty && f10.isEmpty),
      s"stats entry $rel has sums/blooms/sortedBy but no null counts — " +
        "serialization would drop them; writers must set the earlier fields")
    require(f8.isDefined || (f9.isEmpty && f10.isEmpty),
      s"stats entry $rel has blooms/sortedBy but no sums — writers must " +
        "set the earlier fields")
    val fields = Seq(f7, f8, f9, f10)
    val last = fields.lastIndexWhere(_.isDefined)
    if (last < 0) base
    else base + fields.take(last + 1).map("\t" + _.getOrElse("-")).mkString
  }

  def serialize(stats: Map[String, Entry]): String =
    stats.toSeq.sortBy(_._1).map { case (rel, e) => serializeLine(rel, e) }
      .mkString(s"$FmtPrefix$SupportedFormat\n", "\n", "\n")

  private def parseKv(spec: String): Map[String, Long] =
    if (spec == "-") Map.empty
    else spec.split(';').filter(_.nonEmpty).map { kv =>
      val Array(c, n) = kv.split('=')
      dec(c) -> n.toLong
    }.toMap

  /** String-valued kv field (blooms): values are base64 and may contain
    * '=' padding — split each pair on the FIRST '=' only. A trailing
    * empty value ("col=") is meaningful: an all-null column's bitset. */
  private def parseKvStr(spec: String): Map[String, String] =
    if (spec == "-") Map.empty
    else spec.split(';').filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      dec(kv.substring(0, i)) -> kv.substring(i + 1)
    }.toMap

  private def parseCols(colspec: String): Map[String, (String, String)] =
    colspec.split(';').filter(_.nonEmpty).map { kv =>
      val Array(c, mm) = kv.split('=')
      val i = mm.indexOf(',')
      dec(c) -> (dec(mm.substring(0, i)), dec(mm.substring(i + 1)))
    }.toMap

  /** Parse one registry line (the inverse of [[serializeLine]]). */
  def parseLine(line: String): (String, Entry) =
      line.split('\t') match {
        case Array(rel, rows) => rel -> Entry(rows.toLong, seq = 0L)
        // pre-bytes format: field 3 is the colspec (always contains '=');
        // pre-seq format: field 3 is the byte count
        case Array(rel, rows, f3) if f3.contains('=') =>
          rel -> Entry(rows.toLong, parseCols(f3), seq = 0L)
        case Array(rel, rows, bytes) =>
          rel -> Entry(rows.toLong, Map.empty, bytes.toLong, 0L)
        case Array(rel, rows, bytes, colspec) =>
          rel -> Entry(rows.toLong, parseCols(colspec), bytes.toLong, 0L)
        case Array(rel, rows, bytes, colspec, seq) =>
          rel -> Entry(rows.toLong, parseCols(colspec), bytes.toLong, seq.toLong)
        case Array(rel, rows, bytes, colspec, seq, sorted) =>
          rel -> Entry(rows.toLong, parseCols(colspec), bytes.toLong, seq.toLong,
            sorted == "1")
        case Array(rel, rows, bytes, colspec, seq, sorted, nulls) =>
          rel -> Entry(rows.toLong, parseCols(colspec), bytes.toLong, seq.toLong,
            sorted == "1", Some(parseKv(nulls)))
        case Array(rel, rows, bytes, colspec, seq, sorted, nulls, sums) =>
          rel -> Entry(rows.toLong, parseCols(colspec), bytes.toLong, seq.toLong,
            sorted == "1", Some(parseKv(nulls)), Some(parseKv(sums)))
        // `_*`: unknown TRAILING fields from a newer writer are ignored, so
        // an older binary of this reader still parses a registry written by
        // a future format revision (the new-reader/old-line direction is the
        // explicit cases above). Fields are only ever APPENDED.
        case Array(rel, rows, bytes, colspec, seq, sorted, nulls, sums, blooms, rest @ _*) =>
          val sortedBy = rest.headOption.filter(_ != "-")
            .map(_.split(',').filter(_.nonEmpty).map(dec).toSeq)
          rel -> Entry(rows.toLong, parseCols(colspec), bytes.toLong, seq.toLong,
            sorted == "1", Some(parseKv(nulls)), Some(parseKv(sums)),
            if (blooms == "-") None else Some(parseKvStr(blooms)), sortedBy)
        case _ =>
          throw new IllegalStateException(s"bad stats line: $line")
      }

  /** Parse a FULL manifest body. Lines starting with '#' are headers
    * (see [[HeadPrefix]]) or future extensions — skipped. */
  def deserialize(text: String): Map[String, Entry] =
    text.linesIterator.filter(_.nonEmpty).flatMap { l =>
      if (l.startsWith("#")) { checkHeader(l); None }
      else Some(parseLine(l))
    }.toMap

  def read(fs: FileSystem, dataDir: Path): Map[String, Entry] =
    readIfExists(fs, dataDir).getOrElse(Map.empty)

  /** Recursive file listing with the local-FS rename-race retry: a
    * concurrent committer's registry rename-overwrite can make a
    * just-listed path vanish before the lister stats it — transient by
    * construction. A missing `dir` lists as empty (a write whose tasks
    * produced no file never created it). Used by [[Commit.sweep]]. */
  def listAllFiles(fs: FileSystem, dir: Path): Seq[Path] = {
    var attempt = 0
    while (true) {
      try {
        val out = scala.collection.mutable.ArrayBuffer[Path]()
        val it = fs.listFiles(dir, true)
        while (it.hasNext) out += it.next().getPath
        return out.toSeq
      } catch {
        case e: Exception =>
          if (!fs.exists(dir)) return Nil
          attempt += 1
          if (attempt >= 5) throw e
          Thread.sleep(50L * attempt)
      }
    }
    Nil // unreachable
  }

  /** Like [[read]] but distinguishes "no registry file" (None — the table
    * predates stats or was written out-of-band; callers must fall back to
    * listing) from "registry present but empty" (an empty/truncated table:
    * the registry is still the authoritative manifest). */
  def readIfExists(fs: FileSystem, dataDir: Path): Option[Map[String, Entry]] = {
    registryReads.incrementAndGet()
    val p = new Path(dataDir, FileName)
    if (!fs.exists(p)) None
    else Snapshots.withCrcRetry {
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      if (text.startsWith(PtrPrefix)) {
        val h = text.substring(PtrPrefix.length).takeWhile(_.isDigit).toLong
        Some(Snapshots.read(fs, dataDir, h).getOrElse(throw new IllegalStateException(
          s"graft: live registry of $dataDir points at missing snapshot v$h " +
            "(vacuum must retain the live pointer target)")))
      } else Some(deserialize(text))
    }
  }

  /** The snapshot version the live registry currently corresponds to —
    * the head of the live chain. None for registry-less tables and for
    * legacy full registries written before the head line existed. Reads
    * only the registry's first bytes. */
  def liveVersion(fs: FileSystem, dataDir: Path): Option[Long] =
    Snapshots.readHeadDigits(fs, new Path(dataDir, FileName),
      Seq(PtrPrefix, HeadPrefix))

  /** Serialize registry read-modify-write cycles across concurrent
    * committers: without this, two INSERTs landing together each read the
    * registry, add their own files, and the second write erases the
    * first's entries — invisible rows under registry-first COUNT(*) and
    * the streaming source. Lock = exclusive create of a `.stats.lock`
    * sibling of the data dir (atomic on HDFS; best-effort on local FS);
    * a stale lock from a crashed holder expires after 60 s by mtime.
    * The lock body carries a unique TOKEN: acquisition is confirmed by
    * reading the token back (a racing waiter that wrongly expired our
    * fresh lock is detected, not silently tolerated), stale expiry
    * re-stats immediately before deleting and only removes the exact
    * incarnation it observed (mtime match), and unlock deletes only our
    * own token — two waiters expiring the same dead holder can no longer
    * each delete the other's fresh lock and both enter the section. */
  def withLock[T](fs: FileSystem, dataDir: Path)(body: => T): T = {
    val lock = new Path(dataDir.getParent, ".stats.lock")
    // IN-PROCESS serialization FIRST: local-FS `create(path, overwrite =
    // false)` is a non-atomic exists-then-create (TOCTOU), so two threads
    // of ONE driver — the dual-maintainer topology — could both pass the
    // exists check, each read its own token back, and both enter the
    // critical section: they then mint the SAME snapshot version and
    // collide on its tmp file (the chmod-on-vanished-crc crash the
    // dual-maintainer spec caught under full-suite load). A process-wide
    // lock striped by the qualified lock path closes the same-JVM hole
    // outright (and replaces 50 ms create-polling between same-process
    // contenders with a real queue); cross-PROCESS local-FS waiters keep
    // the documented best-effort create protocol, and HDFS's atomic
    // create is untouched. ONE shared 30 s deadline spans both stages —
    // the in-process queue wait and the file-lock protocol — so
    // worst-case acquisition stays 30 s total (round-13 ADVICE: the two
    // independent waits used to stack to 60 s, silently stretching
    // commit-guard retry timing calibrated to 30 s). Same LockTimeout
    // type, so the commit-guard's acquisition-scoped retry semantics are
    // unchanged.
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    val jvmLock = jvmLocks.computeIfAbsent(
      fs.makeQualified(lock).toString,
      _ => new java.util.concurrent.locks.ReentrantLock(true))
    if (!jvmLock.tryLock(30, java.util.concurrent.TimeUnit.SECONDS))
      throw new LockTimeout(
        s"graft: could not acquire $lock (in-process) within 30s")
    try withFileLock(fs, lock, deadline)(body)
    finally jvmLock.unlock()
  }

  /** Process-wide monitor per qualified lock path — see [[withLock]]. */
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()

  private def withFileLock[T](fs: FileSystem, lock: Path, deadline: Long)(
      body: => T): T = {
    val token = java.util.UUID.randomUUID().toString
    def lockContent(): Option[String] =
      try {
        val in = fs.open(lock)
        try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
      } catch { case _: java.io.IOException => None }
    var held = false
    while (!held) {
      val created =
        try {
          val out = fs.create(lock, false)
          try out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
          true
        } catch { case _: java.io.IOException => false }
      // confirm ownership: a waiter racing on a stale holder may have
      // deleted our just-created lock (and possibly created its own)
      held = created && lockContent().contains(token)
      if (!held) {
        try {
          val st = fs.getFileStatus(lock)
          if (System.currentTimeMillis() - st.getModificationTime > 60000) {
            // re-stat immediately before deleting: only expire the exact
            // incarnation we observed, never a fresh lock that replaced it
            val st2 = fs.getFileStatus(lock)
            if (st2.getModificationTime == st.getModificationTime)
              fs.delete(lock, false) // stale holder
          }
        } catch { case _: java.io.FileNotFoundException => () }
        if (System.nanoTime() > deadline)
          throw new TableStats.LockTimeout(
            s"graft: could not acquire $lock within 30s")
        Thread.sleep(50)
      }
    }
    // heartbeat: refresh the lock mtime while the body runs, so a slow
    // holder (e.g. a long listing) can never age past the 60 s staleness
    // threshold while still alive — waiter-side expiry then only ever
    // fires on genuinely dead holders, which is what makes the
    // read-token-then-delete release below safe in practice
    @volatile var done = false
    val beat = new Thread(new Runnable {
      override def run(): Unit = {
        var interrupted = false
        while (!done && !interrupted) {
          try fs.setTimes(lock, System.currentTimeMillis(), -1)
          catch { case _: Exception => () }
          try Thread.sleep(15000)
          catch { case _: InterruptedException => interrupted = true }
        }
      }
    }, "graft-lock-heartbeat")
    beat.setDaemon(true)
    beat.start()
    // unlock only our own incarnation: if someone wrongly expired us,
    // their lock must survive our cleanup
    try body finally {
      done = true
      beat.interrupt()
      if (lockContent().contains(token)) fs.delete(lock, false)
    }
  }

  /** Commit `stats` as the new live manifest. MUST be called under
    * [[withLock]] (all callers are commit paths).
    *
    * Metadata cost is O(files touched), not O(live files): the snapshot
    * is recorded as a DELTA against the current live head whenever that
    * is smaller (see [[Snapshots.recordAt]]; full checkpoints bound the
    * chain), and the registry itself is then just a one-line pointer at
    * it. The snapshot is recorded FIRST, the registry swapped second: a
    * crash in between is a clean abort (the orphan snapshot's files never
    * became visible), which the next committer heals here by marking the
    * orphan version [[ChangeLog.Aborted]] — change feeds then skip it and
    * [[Snapshots.everRecorded]] excludes its files from tombstones.
    *
    * @return the snapshot version this commit recorded (so commit paths
    *         can annotate it with a [[ChangeLog]] kind marker) */
  /** `floor`: the minimum version this commit may record — a SHALLOW
    * CLONE's initial manifest commits at the SOURCE version it cloned,
    * so every cloned entry's seq (stamped in the source) stays ≤ the
    * clone's head and later MOR deletes (seq > head) apply to them. 0
    * (every other caller) keeps plain maxV+1 numbering.
    *
    * `kind`: the [[ChangeLog]] marker for this version, written BEFORE
    * the snapshot + registry swap (the commit point) at this ONE
    * chokepoint — writing it after the swap (several pre-round-10 sites
    * did) left a crash window where a file-removing rewrite was live
    * UNMARKED and every change-feed interval crossing it threw
    * ("unrecorded rewrite") forever. The inverse hazard is also handled
    * here: an UNMARKED commit (kind = None) clears any stray marker a
    * marker-writing committer left at this version before dying
    * pre-record — otherwise a plain append minting the same version
    * number would inherit the dead committer's kind and feeds would
    * replay it as a full-table replace. */
  def write(fs: FileSystem, dataDir: Path, stats: Map[String, Entry],
            floor: Long = 0L, kind: Option[ChangeLog.Kind] = None): Long = {
    val head = liveVersion(fs, dataDir).orElse {
      // legacy registry without a head line: identify the snapshot the
      // live registry corresponds to by EXACT manifest equality, walking
      // down from the newest (the healthy legacy invariant is registry ==
      // latest snapshot, so the first probe usually matches). Without
      // this, a crash-orphan above a legacy head would never be marked
      // Aborted and change feeds would replay its never-committed files.
      // walk the WHOLE history (a cap could stop short of the match when
      // many side-branch versions — crash orphans, WAP stages — sit
      // above the legacy head, leaving those orphans unhealed BELOW the
      // new head where every guard trusts them); this probe runs at most
      // once per legacy table — the commit below writes a head line
      readIfExists(fs, dataDir).flatMap { live =>
        Snapshots.list(fs, dataDir).map(_._1).reverseIterator
          .find(v => Snapshots.read(fs, dataDir, v).contains(live))
      }
    }
    val maxV = Snapshots.list(fs, dataDir).lastOption.map(_._1).getOrElse(0L)
    // Heal crashed commits: with the head version known, any version
    // above it that is not a WAP stage (those carry a Staged marker,
    // written under the stage's lock, and legitimately sit above head)
    // cannot be live — a live commit advances the pointer before
    // releasing the lock we now hold. That covers BOTH orphan shapes:
    // an UNMARKED snapshot (plain append died before its registry swap)
    // and a snapshot still carrying a live kind marker
    // (Cow/Replace/Maintenance/Restore — a marker-first committer died
    // between recordAt and the swap). The second shape MUST be
    // overwritten to Aborted here: left alone, the next commit mints
    // maxV+1 and moves head PAST the orphan, after which every guard
    // (latestAsOf, feeds, everRecorded) would treat the never-committed
    // snapshot as live history — feeds would replay its manifest diff as
    // a phantom rewrite and time travel could return never-committed
    // rows.
    head.foreach { h =>
      var v = h + 1
      while (v <= maxV) {
        val k = ChangeLog.kindOf(fs, dataDir, v)
        if (!k.contains(ChangeLog.Staged) && !k.contains(ChangeLog.Aborted))
          ChangeLog.writeMarker(fs, dataDir, v, ChangeLog.Aborted)
        v += 1
      }
    }
    // Stamp newly-added entries (seq sentinel -1) with the version this
    // commit will record: the entry's data sequence number. Entries that
    // were read back from the registry keep their original seq.
    val next = math.max(maxV + 1, floor)
    // marker discipline (see the scaladoc): marked commits write their
    // kind BEFORE anything becomes visible; unmarked commits clear a
    // stray marker a dead marker-first committer may have left at this
    // version (delete of a missing path is a silent no-op), plus the
    // change-data directory a dead COW committer may have renamed into
    // place before dying pre-record — otherwise it lingers as garbage a
    // future marker-writing commit at this version could inherit. For
    // kind = Some(Cow) the live committer (GraftRowLevel) owns the dir;
    // the other marked kinds never write one.
    kind match {
      case Some(k) => ChangeLog.writeMarker(fs, dataDir, next, k)
      case None =>
        fs.delete(ChangeLog.markerPath(dataDir, next), false)
        fs.delete(ChangeLog.changeDataDir(dataDir, next), true)
    }
    val stamped = stats.map { case (rel, e) =>
      rel -> (if (e.seq < 0) e.copy(seq = next) else e)
    }
    // Record the manifest in the snapshot log FIRST (the pointer registry
    // below needs a resolvable target; version assignment is race-free
    // under the lock). Data files are immutable and commits never
    // physically delete them, so the recorded manifest stays readable for
    // time travel until vacuum expires it (see [[Snapshots]]).
    Snapshots.recordAt(fs, dataDir, stamped, next, base = head)
    val full = Snapshots.chainDepth(fs, dataDir, next).contains(0)
    val content =
      if (full) s"$HeadPrefix$next\n" + serialize(stamped)
      else s"$PtrPrefix$next\n"
    // write-temp-then-rename so a concurrent reader never sees a partial
    // registry (rename is atomic on HDFS and local FS)
    // The temp lives OUTSIDE data/ so directory listings racing with the
    // rename never observe (and stat) a vanishing entry.
    val tmp = new Path(dataDir.getParent,
      s".$FileName.tmp-${java.util.UUID.randomUUID()}")
    val bytes = content.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = fs.create(tmp, true)
    try out.write(bytes)
    finally out.close()
    metaBytesWritten.addAndGet(bytes.length)
    val dest = new Path(dataDir, FileName)
    // OVERWRITE rename: readers see the old registry or the new one,
    // never a missing file (FileSystem.rename cannot replace on local FS)
    renameOverwrite(fs, tmp, dest)
    next
  }

  /** Atomic rename-with-overwrite for metadata swaps (registry, tags,
    * coordinator head files). The FileContext spelling works everywhere,
    * but FileContext resolves `file://` through the stock
    * AbstractFileSystem chain REGARDLESS of `fs.file.impl` — and that
    * chain, without native IO, forks `readlink`/`ls` subprocesses per
    * rename (2-3 forks per swap; stack-sampled as the top driver cost of
    * the round-14 commit path). On the local scheme use NIO's
    * ATOMIC_MOVE + REPLACE_EXISTING instead: one rename(2) syscall with
    * the same readers-see-old-or-new guarantee. The checksum sidecar
    * moves after the data file — a missing `.crc` reads unverified,
    * never mismatched (the FileContext/ChecksumFs path had the same
    * transient window). */
  def renameOverwrite(fs: FileSystem, src: Path, dest: Path): Unit =
    if ("file".equalsIgnoreCase(fs.getScheme)) {
      def local(p: Path) = java.nio.file.Paths.get(p.toUri.getPath)
      def crc(p: Path) = new Path(p.getParent, s".${p.getName}.crc")
      java.nio.file.Files.deleteIfExists(local(crc(dest)))
      java.nio.file.Files.move(local(src), local(dest),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      if (java.nio.file.Files.exists(local(crc(src))))
        java.nio.file.Files.move(local(crc(src)), local(crc(dest)),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
      fc.rename(fc.makeQualified(src), fc.makeQualified(dest),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
}

// ---------------------------------------------------------------- read ----

final class GraftScanBuilder(
    tableSchema: StructType, dataDir: String, partitionCols: Seq[String],
    tracker: Option[GraftRowLevelOperation] = None,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    snapshotVersion: Option[Long] = None,
    sinceVersion: Option[Long] = None,
    renames: Map[String, Seq[String]] = Map.empty,
    onManifest: Option[Set[String] => Unit] = None,
    widened: Set[String] = Set.empty,
    specSince: Long = 0L,
    sortCols: Seq[String] = Nil)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownAggregates
    with SupportsPushDownLimit
    with SupportsPushDownTopN {

  private var required: StructType = tableSchema
  private var wantFile: Boolean = false
  private var wantVersion: Boolean = false
  private var pushed: Array[Filter] = Array.empty
  /** Filters fully enforced by identity-partition pruning (not returned
    * as residual — see [[absorbable]]). Always a subset of `pushed`. */
  private var absorbed: Set[Filter] = Set.empty
  /** (group cols, agg specs, partial): `partial=false` = the fold IS the
    * final answer (identity-partition grouping); `partial=true` = the
    * scan returns one per-file partial row and Spark finishes grouping
    * (non-identity grouping over single-valued-per-file columns). */
  private var pushedAggs: Option[(Seq[String], Seq[GraftAggScan.Spec], Boolean)] = None
  private var limit: Option[Int] = None
  private var topN: Option[GraftScan.TopN] = None

  /** Manifest read on demand for pushdown decisions, then HANDED to the
    * scan built from this builder so a COUNT(*)/LIMIT query still costs
    * exactly one registry read. Untouched (no read at all) for queries
    * that never offer a pushdown. */
  private var manifestCache: Option[Option[Map[String, TableStats.Entry]]] = None
  private def manifestForPushdown: Option[Map[String, TableStats.Entry]] = {
    if (manifestCache.isEmpty) {
      val dir = new Path(dataDir)
      manifestCache = Some(Snapshots.readManifest(
        dir.getFileSystem(new Configuration()), dir, snapshotVersion, sinceVersion))
    }
    manifestCache.get
  }

  /** Outstanding equality deletes make registered row counts upper
    * bounds, not exact: COUNT(*) and LIMIT pushdown both reason from
    * those counts, so both are withheld until compaction folds the
    * deletes in. */
  private lazy val hasDeletes: Boolean =
    manifestForPushdown.exists(_.keysIterator.exists(GraftDeletes.isDeleteRel))

  /** Filterless LIMIT: the scan lists only enough files (by registered
    * row counts) to satisfy the limit — partial pushdown, Spark still
    * applies the exact cut. Never offered with filters: residual
    * evaluation could leave fewer than `limit` matching rows in the
    * chosen files. */
  override def pushLimit(n: Int): Boolean = {
    if (pushed.isEmpty && tracker.isEmpty && !hasDeletes) limit = Some(n)
    false // partial: selected files may hold more rows than the limit
  }
  override def isPartiallyPushed(): Boolean = true

  /** ORDER BY <col> ... LIMIT n: file-level top-k pruning from the
    * commit-time per-file [min, max] ranges — a file provably preceded
    * by ≥ n rows (STRICTLY, so ties and secondary sort keys are safe)
    * in kept files is never listed, opened, or scanned. Partial
    * pushdown: Spark still sorts and cuts the survivors, so the scan
    * only has to return a superset of the top n. On a table sorted (or
    * sorted-compacted) by the key, a top-k touches O(k/rows-per-file)
    * files regardless of table size — the 100 TB "latest n events"
    * shape. Null reasoning needs the registry's exact per-file null
    * counts; entries predating them are handled conservatively (see
    * [[GraftScan.pruneTopN]]). Only the LEADING sort key prunes;
    * correctness never depends on the rest (strictness argument). */
  override def pushTopN(orders: Array[
      org.apache.spark.sql.connector.expressions.SortOrder], n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, NullOrdering}
    if (!(pushed.isEmpty && tracker.isEmpty && !hasDeletes &&
        orders.nonEmpty && n > 0 && allFilesRangeRegistered)) return false
    val head = orders.head
    val field = head.expression() match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        tableSchema.fields.find(_.name == nr.fieldNames()(0))
          .filter(f => rangeExact(f.dataType) &&
            // pre-rename files registered ranges under the former name
            !renames.contains(f.name) &&
            // ALTER COLUMN ... TYPE: pre-widening files registered ranges
            // in the OLD type's external form — a float's "0.1" parses to
            // a different double than the value the widened reader yields
            !widened.contains(f.name) &&
            // ADD COLUMN ... DEFAULT: old files read the existence
            // default, not null, yet register no range for the column
            !f.metadata.contains("EXISTS_DEFAULT"))
      case _ => None
    }
    field match {
      case Some(f) =>
        topN = Some(GraftScan.TopN(f.name, f.dataType,
          head.direction() == SortDirection.DESCENDING,
          head.nullOrdering() == NullOrdering.NULLS_FIRST, n))
        true
      case None => false
    }
  }

  /** COUNT(*) / MIN / MAX with no filters and no GROUP BY are answered
    * from the commit-time stats registry — zero data read, O(1) regardless
    * of table size. COUNT(*) needs only registered row counts; MIN/MAX
    * additionally need an exact per-file [min, max] range for the column
    * in EVERY live non-empty file (numeric/date columns only — the
    * writer's `ColStatsTracker` observes actual values for those, never
    * truncates, and omits a column only when the file holds no non-null
    * value of it, which MIN/MAX correctly ignore; strings are excluded
    * because >64-char values stop tracking mid-file and an absent range
    * would be indistinguishable from all-null). (Filters force the normal
    * path: every graft filter is residual by design, and Spark only
    * offers aggregate pushdown when no post-scan filters remain — so this
    * fires exactly when safe.) */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    aggSpecs(agg).exists(!_._3)

  /** Column types whose registry ranges are exact for MIN/MAX purposes. */
  private def rangeExact(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
          DoubleType | DateType => true
      case _ => false
    }
  }

  /** Every live non-empty data file registered new-format column ranges
    * (`cols` nonEmpty) — the precondition for trusting an ABSENT column
    * key to mean "all null here". Old-format entries are ambiguous →
    * withhold. */
  private lazy val allFilesRangeRegistered: Boolean =
    manifestForPushdown.exists(_.forall { case (rel, e) =>
      GraftDeletes.isDeleteRel(rel) || e.rows == 0L || e.cols.nonEmpty
    })

  /** GROUP BY pushdown precondition: every live non-empty file's rel path
    * parses under the CURRENT partition spec (files from before a
    * partition-spec evolution have no reconstructable partition value —
    * the whole pushdown is then withheld, never a wrong group). */
  private lazy val allFilesLayoutParse: Boolean = {
    val partFields = partitionCols.map(PartField.parse)
    manifestForPushdown.exists(_.forall { case (rel, e) =>
      GraftDeletes.isDeleteRel(rel) || e.rows == 0L || {
        val segs = rel.split('/')
        segs.length == partFields.length + 1 &&
          partFields.zip(segs).forall { case (f, seg) => seg.startsWith(f.dir + "=") }
      }
    })
  }

  private def aggSpecs(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(Seq[String], Seq[GraftAggScan.Spec], Boolean)] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    // pushed filters are allowed ONLY when every one was absorbed by
    // partition pruning (Spark offers aggregates only to residual-free
    // scans, so any non-absorbed filter already blocks the offer — this
    // check is the defensive equality)
    if (!(tracker.isEmpty && pushed.forall(absorbed) && !hasDeletes &&
        agg.aggregateExpressions().nonEmpty))
      return None
    // the fold must parse every file's partition values to evaluate the
    // absorbed predicates (absorbable() verified this at absorption time;
    // kept as a local guard)
    if (absorbed.nonEmpty && !allFilesLayoutParse) return None
    // GROUP BY pushdown — two tiers:
    //  - COMPLETE: every grouping expression is an IDENTITY partition
    //    column — each file belongs to exactly one group, derivable from
    //    its directory path, and per-group folds of the registered
    //    per-file stats are exact;
    //  - PARTIAL: a non-identity grouping column is admitted when EVERY
    //    live non-empty file is provably SINGLE-VALUED in it (registry
    //    range min == max, zero nulls — the sort-clustered layout), or
    //    all-null. The scan then returns one per-file partial row
    //    (group values + per-file folds) and Spark finishes the
    //    grouping: file-count-many rows shuffle instead of data rows,
    //    still zero data I/O.
    val identityCols = partitionCols.map(PartField.parse)
      .collect { case PartField.Identity(c) => c }.toSet
    val groupCols: Seq[String] = agg.groupByExpressions().toSeq.map {
      case nr: NamedReference if nr.fieldNames().length == 1 => nr.fieldNames()(0)
      case _ => return None
    }
    // identity group values parse from directory paths
    if (groupCols.exists(identityCols.contains) && !allFilesLayoutParse) return None
    val nonIdentity = groupCols.filterNot(identityCols.contains)
    // a non-identity group column needs an exactly-parseable registered
    // range: integral/date types only (float group keys would hinge on
    // NaN/-0.0 string round-trips), and none of the rename/widen/default
    // ambiguities the value-reading folds exclude
    def groupEligible(name: String): Boolean = {
      import org.apache.spark.sql.types._
      tableSchema.fields.find(_.name == name).exists(f =>
        (f.dataType match {
          case ByteType | ShortType | IntegerType | LongType | DateType => true
          case _ => false
        }) && !renames.contains(f.name) && !widened.contains(f.name) &&
          !f.metadata.contains("EXISTS_DEFAULT"))
    }
    if (nonIdentity.nonEmpty &&
        !(nonIdentity.forall(groupEligible) && allFilesRangeRegistered &&
          allFilesSingleValued(nonIdentity))) return None
    val partial = nonIdentity.nonEmpty
    // Shared column-eligibility core: single-field reference, accepted
    // type, and the exclusions every registry-backed fold needs —
    //  - pre-rename files registered the column under its FORMER name
    //    (an absent key there is not "all null");
    //  - pre-widening files registered the OLD type's external form
    //    (parsing as the widened type can yield values the rows never
    //    take) — withhold, like the reader filter path;
    //  - ADD COLUMN ... DEFAULT: files older than the column read back
    //    the existence default, not null, yet register nothing.
    def fieldEligible(
        e: org.apache.spark.sql.connector.expressions.Expression,
        typeOk: org.apache.spark.sql.types.DataType => Boolean,
        excludeWidened: Boolean = true): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames().length == 1 =>
          val name = nr.fieldNames()(0)
          tableSchema.fields.find(_.name == name)
            .filter(f => typeOk(f.dataType) &&
              !renames.contains(f.name) &&
              (!excludeWidened || !widened.contains(f.name)) &&
              !f.metadata.contains("EXISTS_DEFAULT"))
            .map(_.name)
        case _ => None
      }
    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      fieldEligible(e, rangeExact)
    // SUM pushdown: exact per-file sums exist only for INTEGRAL columns
    // (float/double sums are order-dependent; the registry stores exact
    // longs). The fold also needs exact null counts (SUM of zero non-null
    // values is NULL, not 0) — gated below per sum field.
    def sumFieldOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = {
      import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
      // widened columns stay ELIGIBLE: per-file sums are stored as exact
      // longs whatever the declared integral width, and a widening ONTO a
      // fractional type already fails the type check below (the widen
      // exclusion protects range/value parsing — MIN/MAX — not sums)
      fieldEligible(e, {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }, excludeWidened = false)
    }
    // COUNT(col) = rows - nulls. Eligible types are those the writer's
    // null counter tracks; the fieldOf exclusions apply (EXISTS_DEFAULT
    // files read back defaults while their registry predates the column;
    // renamed columns registered under former names). Existence is gated
    // PER ENTRY below (allFilesCountEvidence): a column added by plain
    // ADD COLUMN reads back NULL from older files, whose nulls map has no
    // key for it — indistinguishable from "zero nulls" without evidence.
    def countFieldOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = {
      import org.apache.spark.sql.types._
      // widened columns stay ELIGIBLE: null counts are type-independent
      // and remain exact across a metadata-only widening (the widen
      // exclusion protects range/value PARSING, which COUNT never reads)
      fieldEligible(e, {
        case ByteType | ShortType | IntegerType | LongType | FloatType |
            DoubleType | BooleanType | StringType | DateType => true
        case _ => false
      }, excludeWidened = false)
    }
    val specs = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(GraftAggScan.Count)
      case m: Min => fieldOf(m.column).map(GraftAggScan.MinOf)
      case m: Max => fieldOf(m.column).map(GraftAggScan.MaxOf)
      case s: Sum if !s.isDistinct => sumFieldOf(s.column).map(GraftAggScan.SumOf)
      case c: Count if !c.isDistinct =>
        countFieldOf(c.column).map(GraftAggScan.CountOf)
      case _ => None
    }
    if (!specs.forall(_.isDefined)) None
    else {
      val resolved = specs.map(_.get)
      val needsRanges = resolved.exists {
        case GraftAggScan.MinOf(_) | GraftAggScan.MaxOf(_) => true
        case _ => false
      }
      val sumFields = resolved.collect { case GraftAggScan.SumOf(f) => f }
      val countFields = resolved.collect { case GraftAggScan.CountOf(f) => f }
      if (needsRanges && !allFilesRangeRegistered) None
      else if (sumFields.nonEmpty && !allFilesSumRegistered(sumFields)) None
      else if (countFields.nonEmpty && !allFilesCountEvidence(countFields)) None
      else Some((groupCols, resolved, partial))
    }
  }

  /** PARTIAL GROUP BY precondition: every live non-empty file is
    * single-valued in each grouping column — a registered range with
    * min == max and exactly zero counted nulls (one group), or no range
    * at all with every row null (the NULL group; under
    * [[allFilesRangeRegistered]] an absent key means no non-null value).
    * Anything else means one file spans several groups, which per-file
    * stats cannot split — withheld, never a wrong group. */
  private def allFilesSingleValued(fields: Seq[String]): Boolean =
    manifestForPushdown.exists(_.forall { case (rel, e) =>
      GraftDeletes.isDeleteRel(rel) || e.rows == 0L ||
        (e.nulls.isDefined && fields.forall { f =>
          e.cols.get(f) match {
            case Some((mn, mx)) => mn == mx && e.nulls.get.getOrElse(f, 0L) == 0L
            case None => e.nulls.get.getOrElse(f, 0L) == e.rows
          }
        })
    })

  /** SUM pushdown precondition: every live non-empty file registered an
    * exact sum for each summed column AND exact null counts (absent sums
    * key = unavailable — overflow or pre-sums registry; see
    * [[TableStats.Entry]]). */
  private def allFilesSumRegistered(fields: Seq[String]): Boolean =
    manifestForPushdown.exists(_.forall { case (rel, e) =>
      GraftDeletes.isDeleteRel(rel) || e.rows == 0L ||
        (e.nulls.isDefined && e.sums.exists(m => fields.forall(m.contains)))
    })

  /** COUNT(col) pushdown precondition: every live non-empty file carries
    * counted nulls AND positive evidence the column EXISTED when the file
    * was written — a nonzero null count (`nulls` has the key) or at least
    * one tracked non-null value (`cols` has the key) or a registered sum
    * (`sums` has it). A column added later by plain ADD COLUMN reads back
    * NULL from older files whose maps all lack its key; without evidence
    * that absence is indistinguishable from "zero nulls", so the whole
    * pushdown is withheld (never an overcount). The same ambiguity hits a
    * zero-null string column whose range tracking died (>64-char values):
    * also no evidence → withheld, conservatively. */
  private def allFilesCountEvidence(fields: Seq[String]): Boolean =
    manifestForPushdown.exists(_.forall { case (rel, e) =>
      GraftDeletes.isDeleteRel(rel) || e.rows == 0L ||
        (e.nulls.isDefined && fields.forall(f =>
          e.nulls.get.contains(f) || e.cols.contains(f) ||
            e.sums.exists(_.contains(f))))
    })

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    aggSpecs(agg) match {
      case some @ Some(_) => pushedAggs = some; true
      case None => false
    }

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve table column order; an empty projection (count(*)) is legal
    required = StructType(tableSchema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))
    wantFile = requiredSchema.fieldNames.contains(GraftTable.FileColumnName)
    wantVersion = requiredSchema.fieldNames.contains(GraftTable.VersionColumnName)
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => FilterTranslate.translate(tableSchema, f).isDefined)
    // Row-group skipping is coarse: every filter must be re-evaluated
    // post-scan, so filters are returned as residual (the reference
    // dropped unconvertible predicates — wrong results; SURVEY.md §2.1
    // #10) — with ONE exception: a filter over identity PARTITION columns
    // whose truth is EXACTLY decidable from a file's partition values
    // (see [[absorbable]]) is fully enforced by directory pruning, so it
    // is absorbed (not returned). Absorption is what unlocks FILTERED
    // aggregate pushdown — `COUNT(*) WHERE day = X` folding from the
    // registry — because Spark only offers aggregates to scans that left
    // no residual filters.
    // absorbed MUST be a subset of `pushed`: the scan's directory pruning
    // evaluates only `pushed`, so an absorbed-but-untranslatable filter
    // (NOT IN, IN past the parquet or-chain cap, <=>) would be neither
    // pruned nor re-evaluated — silently wrong rows. Such shapes stay
    // residual instead.
    val pushedSet = pushed.toSet
    absorbed = filters.filter(f => pushedSet(f) && absorbable(f)).toSet
    filters.filterNot(absorbed)
  }

  /** Is `f` EXACTLY enforced by identity-partition directory pruning?
    * True only when every leaf is one of [[PartitionPruning.eval4]]'s
    * decided forms over an identity partition column of a supported type,
    * with literals in the column's type family (so `cmp` never returns
    * None → eval4 can never be VUndecided), every live non-empty file's
    * path parses under the CURRENT partition spec (pre-evolution files
    * have no derivable values), and this is not a row-level-rewrite scan
    * (those must see every surviving row of matched files). Under these
    * conditions eval3 is Some(..) for every file: pruning drops exactly
    * the files with no matching rows and every kept file matches wholly —
    * the filter needs no re-evaluation. */
  /** Identity partition columns and their types, for [[absorbable]]. */
  private lazy val identityColTypes: Map[String, org.apache.spark.sql.types.DataType] =
    partitionCols.map(PartField.parse).collect {
      case PartField.Identity(c) => c -> tableSchema(c).dataType
    }.toMap

  /** Every live non-empty file was written under the CURRENT partition
    * spec (`e.seq >= specSince`). Stricter than [[allFilesLayoutParse]]:
    * a parameter-only evolution (e.g. bucket(8)→bucket(16)) keeps
    * directory NAMES parseable, but the listing skips partition pruning
    * entirely for pre-evolution files — an absorbed filter would go
    * unenforced on them. */
  private lazy val allFilesCurrentSpec: Boolean =
    manifestForPushdown.exists(_.forall { case (rel, e) =>
      GraftDeletes.isDeleteRel(rel) || e.rows == 0L || e.seq >= specSince
    })

  private def absorbable(f: Filter): Boolean = {
    if (tracker.isDefined) return false
    val identityCols = identityColTypes
    def familyOk(dt: org.apache.spark.sql.types.DataType, v: Any): Boolean = {
      import org.apache.spark.sql.types._
      v match {
        case null => true // eval4 yields VUnknown → decided-as-reject
        case _: Number => dt match {
          case ByteType | ShortType | IntegerType | LongType |
              FloatType | DoubleType => true
          case _ => false
        }
        case _: String => dt == StringType
        case _: Boolean => dt == BooleanType
        case _: java.sql.Date | _: java.time.LocalDate => dt == DateType
        case _ => false
      }
    }
    def colOk(a: String): Boolean =
      identityCols.get(a).exists(PartitionPruning.supportsPartitionType)
    def leafOk(g: Filter): Boolean = g match {
      case _: AlwaysTrue | _: AlwaysFalse => true
      case EqualTo(a, x) => colOk(a) && familyOk(identityCols(a), x)
      case EqualNullSafe(a, x) => colOk(a) && familyOk(identityCols(a), x)
      case GreaterThan(a, x) => colOk(a) && familyOk(identityCols(a), x)
      case GreaterThanOrEqual(a, x) => colOk(a) && familyOk(identityCols(a), x)
      case LessThan(a, x) => colOk(a) && familyOk(identityCols(a), x)
      case LessThanOrEqual(a, x) => colOk(a) && familyOk(identityCols(a), x)
      case In(a, xs) => colOk(a) && xs.forall(familyOk(identityCols(a), _))
      case IsNull(a) => colOk(a)
      case IsNotNull(a) => colOk(a)
      case StringStartsWith(a, _) =>
        colOk(a) && identityCols(a) == org.apache.spark.sql.types.StringType
      case And(l, r) => leafOk(l) && leafOk(r)
      case Or(l, r) => leafOk(l) && leafOk(r)
      case Not(c) => leafOk(c)
      case _ => false
    }
    f.references.nonEmpty && leafOk(f) && allFilesLayoutParse &&
      allFilesCurrentSpec
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = pushedAggs match {
    case Some((Seq(), Seq(GraftAggScan.Count), false)) if absorbed.isEmpty =>
      // pure unfiltered COUNT(*) keeps the dedicated scan (it can still
      // answer from parquet footers when no registry exists)
      new GraftCountStarScan(dataDir, snapshotVersion, sinceVersion, manifestCache)
    case Some((groups, specs, partial)) =>
      new GraftAggScan(tableSchema, dataDir, specs, snapshotVersion,
        sinceVersion, manifestCache, groups, partitionCols, absorbed.toSeq,
        partial)
    case None => new GraftScan(tableSchema, required, pushed, dataDir, partitionCols,
      wantFile, wantVersion, tracker, limit, maxFilesPerTrigger, maxBytesPerTrigger,
      snapshotVersion, sinceVersion, renames, onManifest, manifestCache,
      widened, specSince, sortCols, topN)
  }
}

final class GraftScan(
    tableSchema: StructType,
    required: StructType,
    pushed0: Array[Filter],
    dataDir: String,
    partitionCols: Seq[String],
    wantFile: Boolean = false,
    wantVersion: Boolean = false,
    tracker: Option[GraftRowLevelOperation] = None,
    limit: Option[Int] = None,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    snapshotVersion: Option[Long] = None,
    sinceVersion: Option[Long] = None,
    renames: Map[String, Seq[String]] = Map.empty,
    onManifest: Option[Set[String] => Unit] = None,
    manifestPre: Option[Option[Map[String, TableStats.Entry]]] = None,
    widened: Set[String] = Set.empty,
    specSince: Long = 0L,
    sortCols: Seq[String] = Nil,
    topN: Option[GraftScan.TopN] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportPartitioning with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  private val partFields: Seq[PartField.Field] = partitionCols.map(PartField.parse)

  /** Static pushed filters plus any runtime (DPP) filters added by
    * [[filter]] before execution. */
  private var pushed: Array[Filter] = pushed0
  /** Runtime group filter: when set, only these exact files are scanned. */
  private var allowedFiles: Option[Set[String]] = None

  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    // metadata columns (_file/_version) never reach here: streaming scans
    // are built without column pruning, so wantFile/wantVersion are always
    // false — the analysis-time refusal lives in GraftStreamingMetaGuard
    new GraftMicroBatchStream(tableSchema, required, dataDir, partitionCols,
      maxFilesPerTrigger, maxBytesPerTrigger, renames)

  override def readSchema(): StructType = {
    var fields = required.fields
    if (wantFile)
      fields = fields :+ org.apache.spark.sql.types.StructField(
        GraftTable.FileColumnName, StringType, nullable = false)
    if (wantVersion)
      fields = fields :+ org.apache.spark.sql.types.StructField(
        GraftTable.VersionColumnName, org.apache.spark.sql.types.LongType,
        nullable = false)
    StructType(fields)
  }
  override def toBatch: Batch = this

  // ---- runtime filtering (dynamic partition pruning) ---------------------
  // Joins whose other side produces values for our partition columns hand
  // those values here at runtime (e.g. an IN-list from a dimension-table
  // build side); they participate in the same directory-level Kleene
  // pruning as static filters, so a fact-table scan touches only the
  // partitions the join can match — the DSv2 form of DPP.

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // Row-level rewrite scans advertise ONLY `_file`: the group filter
    // then arrives as a single-column IN (convertible to a v1 filter);
    // a multi-attribute key would come back as a struct IN that cannot
    // be expressed as a v1 filter and would be dropped. `_file` subsumes
    // partition pruning for those scans. Normal scans advertise the
    // partition columns (plus `_file` when explicitly projected) —
    // Spark's dynamic pruning errors on advertised attributes absent
    // from the relation output.
    // ... and never an attribute this scan does not OUTPUT: column
    // pruning may have dropped a partition column, and advertising it
    // anyway makes Spark's PartitionPruning rule fail analysis for any
    // join over the pruned scan.
    val projected = partFields.map(_.col).distinct
      .filter(c => required.fieldNames.contains(c))
    // bloom-indexed data columns participate too: a broadcast join whose
    // build side yields an IN-list over one routes it through [[filter]],
    // which caps runaway lists at 4096 keys — an over-cap IN-list
    // on a non-partition column is DISCARDED entirely (not truncated; a
    // truncated disproof would be unsound), for row filtering as well as
    // pruning. Surviving lists land in `pushed`, where BloomIndex
    // disproof drops every file that provably holds none of the keys —
    // a file-granular index join (the bloom check in [[files]])
    val bloomCols = bloomAdvertised
      .filter(c => required.fieldNames.contains(c) && !projected.contains(c))
    val cols =
      if (tracker.isDefined) Seq(GraftTable.FileColumnName)
      else if (wantFile) projected ++ bloomCols :+ GraftTable.FileColumnName
      else projected ++ bloomCols
    cols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.column(c)).toArray
  }

  /** Widened columns whose OLD files' bloom bitsets are stale: values hash
    * on canonical decimal-integer / string / ISO-date forms
    * ([[BloomIndex.canonical]]), so the one integral→integral widening
    * (int→long) keeps old hashes exact ("123" is "123" in both widths) and
    * such columns stay bloom-usable. Every other legal widening lands on a
    * bloom-INELIGIBLE type (double), whose probes canonicalize differently
    * ("123" vs "123.0") — those columns' bitsets must be ignored. */
  private lazy val bloomStaleWidened: Set[String] =
    widened.filterNot(c => tableSchema.fields.find(_.name == c)
      .exists(_.dataType == org.apache.spark.sql.types.LongType))

  /** Data columns with a Bloom bitset in at least one manifest entry —
    * the set worth advertising for runtime filtering. Reads the cached
    * manifest (planning already did); empty on bloom-less tables, so
    * their runtime-filter surface is exactly what it was. */
  private lazy val bloomAdvertised: Seq[String] =
    (cachedStats.valuesIterator.flatMap(_.blooms)
      .flatMap(_.keysIterator).toSet -- bloomStaleWidened).toSeq.sorted

  override def filter(filters: Array[Filter]): Unit = if (filters.nonEmpty) {
    import org.apache.spark.sql.sources.{EqualTo, In}
    val (fileFs, rest) = filters.partition(_.references.contains(GraftTable.FileColumnName))
    if (fileFs.nonEmpty) {
      val paths = fileFs.flatMap {
        case In(_, vs) => vs.map(String.valueOf(_))
        case EqualTo(_, v) => Array(String.valueOf(v))
        case _ => Array.empty[String]
      }.toSet
      allowedFiles = Some(allowedFiles.fold(paths)(_ intersect paths))
      tracker.foreach(_.onGroupFilter(allowedFiles.get))
    }
    if (rest.nonEmpty) {
      // runtime filters are ADVISORY (the join still filters every row):
      // a runaway IN-list on a non-partition column would cost more to
      // probe per file and per row group than the pruning saves — skip
      // it past 4096 keys (partition columns keep Spark's own DPP size
      // governance)
      val keep = rest.filterNot {
        case In(a, vs) => vs.length > 4096 && !partFields.exists(_.col == a)
        case _ => false
      }
      if (keep.nonEmpty) pushed = pushed ++ keep
    }
    invalidate()
  }

  /** Recursive partition-aware listing: `data/c1=v1/c2=v2/part.parquet`.
    * Directories whose encoded values make a pushed filter provably false
    * are pruned without listing their contents — static partition pruning
    * (the reference has none; its partition APIs throw). Returns
    * (path, length, partitionValues-in-partitionCols-order). */
  /** The manifest this scan reads: a pinned snapshot (time travel) or the
    * live commit-time registry, optionally narrowed to the incremental
    * append scan `(since, end]` (see [[Snapshots.readManifest]]). None
    * only for registry-less tables (written out-of-band) — those fall
    * back to a directory walk. */
  private lazy val manifestOpt: Option[Map[String, TableStats.Entry]] =
    manifestPre.getOrElse {
      val dir = new Path(dataDir)
      val fs = dir.getFileSystem(new Configuration())
      Snapshots.readManifest(fs, dir, snapshotVersion, sinceVersion)
    }

  /** Commit-time per-file stats registry (or the pinned snapshot); also
    * the visibility source of truth for streaming files. */
  private def cachedStats: Map[String, TableStats.Entry] =
    manifestOpt.getOrElse(Map.empty)

  /** Outstanding equality deletes of this scan's manifest, folded to
    * (row_key -> max delete seq). Empty on tables that never saw a
    * merge-on-read mutation (or whose deletes compaction folded in) —
    * the zero-cost common case. */
  private lazy val deleteKeys: Array[(String, Long)] =
    if (!cachedStats.keysIterator.exists(GraftDeletes.isDeleteRel)) Array.empty
    else {
      val dir = new Path(dataDir)
      GraftDeletes.keyMap(dir.getFileSystem(new Configuration()), dir,
        cachedStats).toArray
    }

  private var filesCache: Seq[(String, Long, Seq[Any], Long)] = _
  private var groupsCache: Seq[(Seq[Any], Seq[(String, Long, Long)])] = _
  private var rowsCache: java.lang.Long = _

  /** Invalidate listings computed before a runtime filter arrived. */
  private def invalidate(): Unit = { filesCache = null; groupsCache = null; rowsCache = null }

  private def files: Seq[(String, Long, Seq[Any], Long)] = {
    if (filesCache != null) return filesCache
    val conf = new Configuration()
    val root = new Path(dataDir)
    val fs = root.getFileSystem(conf)

    def visible(p: Path): Boolean =
      // stream-written files surface only once their epoch committed
      !p.getName.startsWith("stream-") ||
        cachedStats.contains(TableStats.relOf(p.toString))

    def leafFiles(p: Path, values: Seq[Any]): Seq[(String, Long, Seq[Any], Long)] =
      fs.listStatus(p).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
          visible(s.getPath))
        .map(s => (s.getPath.toString, s.getLen, values, 0L))

    // conjunctive pushed filters => intersect every filter's allowed
    // bucket set; a directory whose id falls outside is never listed
    def bucketAllows(field: PartField.Bucket, id: Int): Boolean = {
      val dt = tableSchema(field.col).dataType
      pushed.forall(f =>
        PartField.allowedBuckets(f, field, dt).forall(_.contains(id)))
    }

    def unitAllows(field: PartField.TimeUnitField, unit: java.lang.Long): Boolean = {
      val dt = tableSchema(field.col).dataType
      pushed.forall(f => PartField.unitMayMatch(f, field, dt, unit))
    }

    def truncAllows(field: PartField.Truncate, token: String): Boolean = {
      val dt = tableSchema(field.col).dataType
      pushed.forall(f => field.mayMatch(f, dt, token))
    }

    def truncTokenOf(field: PartField.Truncate, raw: String): String = {
      val dec = PartitionPruning.decode(raw)
      if (dec == PartitionPruning.NullToken) null else dec
    }

    def walk(p: Path, remaining: Seq[PartField.Field], values: Map[String, Any]): Seq[(String, Long, Seq[Any], Long)] =
      if (remaining.isEmpty) leafFiles(p, partFields.map(f => values(f.dir)))
      else fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { d =>
        d.getPath.getName.split("=", 2) match {
          case Array(c, raw) if c == remaining.head.dir =>
            remaining.head match {
              case PartField.Identity(col) =>
                val dt = tableSchema(col).dataType
                val v = PartitionPruning.parse(dt, PartitionPruning.decode(raw))
                val vs = values + (col -> v)
                if (PartitionPruning.prune(pushed.toSeq, vs)) Nil
                else walk(d.getPath, remaining.tail, vs)
              case b: PartField.Bucket =>
                val id = raw.toInt
                if (!bucketAllows(b, id)) Nil
                else walk(d.getPath, remaining.tail, values + (b.dir -> id))
              case tu: PartField.TimeUnitField =>
                val unit = tu.parseRaw(raw)
                if (!unitAllows(tu, unit)) Nil
                else walk(d.getPath, remaining.tail, values + (tu.dir -> unit))
              case tr: PartField.Truncate =>
                val token = truncTokenOf(tr, raw)
                if (!truncAllows(tr, token)) Nil
                else walk(d.getPath, remaining.tail, values + (tr.dir -> token))
            }
          case _ => Nil
        }
      }

    // Manifest-first listing: the registry (or pinned snapshot) IS the
    // file list — parse partition values from the relative paths and
    // apply the same pruning the walk applies during descent. ZERO
    // directory listings on a warm table regardless of file or partition
    // count; physical orphans (replaced by COW/compaction/truncate but
    // retained for time travel) are invisible because they left the
    // manifest. The walk survives only for registry-less tables.
    def fromManifest(stats: Map[String, TableStats.Entry]): Seq[(String, Long, Seq[Any], Long)] =
      stats.toSeq.sortBy(_._1).flatMap { case (rel0, e) =>
        // external (cloned) keys parse their partition layout from the
        // SOURCE's data-dir-relative path — same dirs, same semantics
        // (the clone copies the spec verbatim at clone time)
        val rel = TableStats.layoutRel(rel0)
        // a parse is trusted only when the directory names match AND the
        // file postdates the current spec: a parameter-only evolution
        // (bucket count, truncate width) keeps the dir names, so older
        // files would otherwise misprune under the new parameters
        val matches = PartField.layoutMatches(rel, partFields) &&
          e.seq >= specSince
        def len: Long =
          if (e.bytes >= 0) e.bytes
          else fs.getFileStatus(new Path(TableStats.absOf(dataDir, rel0))).getLen
        if (!matches) {
          // PARTITION SPEC EVOLUTION: the file was written under an
          // earlier layout. Its rows still carry the partition COLUMNS
          // (graft writes them into the data), so reading is correct —
          // the file just cannot be directory-pruned or key-grouped
          // under the current spec (compaction migrates it). The empty
          // values Seq is the "unparsed layout" sentinel.
          Some((TableStats.absOf(dataDir, rel0), len, Seq.empty[Any], e.seq))
        } else {
          val segs = rel.split('/')
          val vals: Seq[Any] = partFields.zip(segs.dropRight(1)).map { case (f, seg) =>
            val raw = seg.split("=", 2)(1)
            f match {
              case PartField.Identity(col) => PartitionPruning.parse(
                tableSchema(col).dataType, PartitionPruning.decode(raw))
              case _: PartField.Bucket => raw.toInt
              case tu: PartField.TimeUnitField => tu.parseRaw(raw)
              case tr: PartField.Truncate => truncTokenOf(tr, raw)
            }
          }
          val vmap = partFields.zip(vals).map { case (f, v) => f match {
            case PartField.Identity(col) => col -> v
            case b: PartField.Bucket => b.dir -> v
            case tu: PartField.TimeUnitField => tu.dir -> v
            case tr: PartField.Truncate => tr.dir -> v
          }}.toMap
          val pruned =
            partFields.zip(vals).exists {
              case (b: PartField.Bucket, id: Int) => !bucketAllows(b, id)
              case (tu: PartField.TimeUnitField, unit) =>
                !unitAllows(tu, unit.asInstanceOf[java.lang.Long])
              case (tr: PartField.Truncate, token) =>
                !truncAllows(tr, token.asInstanceOf[String])
              case _ => false
            } ||
            PartitionPruning.prune(pushed.toSeq, vmap)
          if (pruned) None
          else Some((TableStats.absOf(dataDir, rel0), len, vals, e.seq))
        }
      }

    filesCache =
      if (manifestOpt.isEmpty && !fs.exists(root)) Seq.empty
      else {
        val all = manifestOpt match {
          // equality-delete entries are metadata the READER applies, not
          // files to scan — split them out before the layout check
          case Some(stats) =>
            fromManifest(stats.filterNot(e => GraftDeletes.isDeleteRel(e._1)))
          case None => walk(root, partFields, Map.empty).sortBy(_._1)
        }
        val allowed0 = allowedFiles.fold(all)(ok => all.filter(f => ok.contains(f._1)))
        // ORDER BY + LIMIT file pruning: drop files provably preceded by
        // ≥ n rows in kept files (see pruneTopN — superset contract, so
        // any conservative outcome is safe)
        val afterTopN = topN.filter(_ => !keyGrouped && pushed.isEmpty &&
            allowedFiles.isEmpty) match {
          case Some(t) => GraftScan.pruneTopN(allowed0, cachedStats, t)
          case None => allowed0
        }
        // file-level skip from commit-time column ranges: a file whose
        // registered [min, max] provably excludes some pushed filter is
        // never opened (stronger than row-group skipping — no footer
        // read). Entries carrying a bloom index additionally disprove
        // equality lookups on UNCLUSTERED columns — where every file's
        // range spans the domain and min/max can never skip
        // ([[BloomIndex]]; false positives only cost the read).
        val allowed =
          if (pushed.isEmpty) afterTopN
          else afterTopN.filter { f =>
            TableStats.entryFor(cachedStats, f._1).forall { e =>
              // a WIDENED column's registry strings from pre-widening
              // files live in the FORMER type's value space — "0.1" of a
              // float file reparses as a different double than the widened
              // reader yields — so widened columns never RANGE-disprove
              // (the same exclusion every other registry-fold path
              // applies). Bloom hashes are stricter: only widenings onto a
              // non-integral type re-canonicalize ("123" → "123.0");
              // int→long hashes identically, so those columns keep
              // disproving ([[bloomStaleWidened]]).
              val cols =
                if (widened.isEmpty) e.cols
                else e.cols.filterNot { case (c, _) => widened.contains(c) }
              val blooms = e.blooms.map(b =>
                if (bloomStaleWidened.isEmpty) b
                else b.filterNot { case (c, _) => bloomStaleWidened.contains(c) })
              (cols.isEmpty ||
                !pushed.exists(PartitionPruning.rangeDisproves(_, cols, tableSchema))) &&
              blooms.forall { b =>
                val keep = !pushed.exists(BloomIndex.disproves(_, b))
                if (!keep) GraftScan.bloomPrunedFiles.incrementAndGet()
                keep
              }
            }
          }
        limit.filter(_ => !keyGrouped) match {
          case Some(n) =>
            // take files until their registered rows cover the limit
            // (files missing from the registry count as unknown => taken)
            var acc = 0L
            allowed.takeWhile { f =>
              val take = acc < n
              acc += TableStats.entryFor(cachedStats, f._1).map(_.rows)
                .getOrElse(Long.MaxValue / 2)
              take
            }
          case None => allowed
        }
      }
    filesCache
  }

  /** Target split size: files larger than this are read as byte ranges
    * (parquet assigns a row group to the range containing its midpoint),
    * so one huge file still spreads across executors. Tunable per session
    * to match executor memory at the deployment's scale factor. */
  private val splitBytes: Long =
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.split.bytes", String.valueOf(128L * 1024 * 1024)).toLong

  /** Storage-partitioned-join mode: when the table is partitioned and
    * `spark.sql.sources.v2.bucketing.enabled` is on, emit ONE input
    * partition per partition value (implementing `HasPartitionKey`) and
    * report `KeyGroupedPartitioning` — co-partitioned joins and
    * aggregations on the partition columns then run with NO shuffle. */
  private def keyGrouped: Boolean =
    partitionCols.nonEmpty &&
      // days()/truncate() have no FunctionCatalog entry for SPJ key
      // resolution — those scans report UnknownPartitioning (pruning
      // still applies; only the shuffle-free join is off the table)
      !partFields.exists(f => f.isInstanceOf[PartField.TimeUnitField] ||
        f.isInstanceOf[PartField.Truncate]) &&
      org.apache.spark.sql.internal.SQLConf.get.v2BucketingEnabled

  /** [[keyGrouped]] plus the per-listing condition: every file's layout
    * parsed under the CURRENT spec. Files from before a partition-spec
    * evolution have no reconstructable key — the scan then reports
    * UnknownPartitioning until compaction migrates them. */
  private def keyGroupedNow: Boolean =
    keyGrouped && files.forall(_._3.length == partFields.length)

  private def groups: Seq[(Seq[Any], Seq[(String, Long, Long)])] = {
    if (groupsCache == null)
      groupsCache = files.groupBy(_._3).toSeq
        .map { case (vs, fs0) => (vs, fs0.map(f => (f._1, f._2, f._4))) }
        .sortBy(_._1.map(String.valueOf(_)).mkString("/"))
    groupsCache
  }

  /** Per-partition sort order of a `write.sort.columns` table. The claim
    * is EVIDENCE-based, not declared: every writer detects per file
    * whether rows actually arrived in non-decreasing sort-key order and
    * records the verdict in the file's registry entry
    * ([[TableStats.Entry.sorted]]) — so a binpack compaction that merely
    * concatenates, a row-level rewrite that didn't sort, or files
    * predating an ALTERed-in property automatically withhold the
    * guarantee, with no version arithmetic to go stale. Byte ranges of a
    * sorted file, and delete-filtered views of it, stay sorted.
    * Reporting it lets Spark ELIDE the Sort under sort-merge joins and
    * sort-based aggregation (with SPJ that makes a co-bucketed,
    * co-sorted join completely shuffle- AND sort-free). Withheld when a
    * key-grouped partition would concatenate several files
    * (concatenation breaks the order — one sorted-compaction pass
    * restores one file per group), when the projection drops a sort
    * column, or during a row-level operation's scan. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    if (sortCols.isEmpty || tracker.isDefined) return Array.empty
    if (!sortCols.forall(required.fieldNames.contains)) return Array.empty
    if (files.isEmpty) return Array.empty
    // list-specific evidence: a file non-decreasing in (a, b) supports
    // claiming (a) or (a, b) — any prefix — but never (b); entries
    // without a recorded list (pre-sortedBy format, or a property ALTERed
    // since the file was written) are conservatively not trusted
    // (a renamed sort column keeps old files' evidence: the recorded
    // name may be a FORMER name of the current one)
    def sameCol(recorded: String, current: String): Boolean =
      recorded == current || renames.get(current).exists(_.contains(recorded))
    val allSorted = files.forall(f =>
      TableStats.entryFor(cachedStats, f._1).exists(e =>
        e.sorted && e.sortedBy.exists(rec =>
          rec.length >= sortCols.length &&
            sortCols.zip(rec).forall { case (c, r) => sameCol(r, c) })))
    if (!allSorted) return Array.empty
    if (keyGroupedNow && groups.exists(_._2.size > 1)) return Array.empty
    sortCols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions.column(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
  }

  override def planInputPartitions(): Array[InputPartition] = {
    tracker.foreach { t =>
      t.onScanPlanned(files.map(_._1))
      t.onBaseManifest(cachedStats.keySet)
    }
    onManifest.foreach(_(cachedStats.keySet))
    if (keyGroupedNow) {
      groups.map { case (values, paths) =>
        val key = org.apache.spark.sql.catalyst.InternalRow.fromSeq(
          values.map(v => org.apache.spark.sql.catalyst.CatalystTypeConverters
            .convertToCatalyst(v)))
        GraftPartitionGroup(paths, key): InputPartition
      }.toArray
    } else {
      files.flatMap { case (path, len, _, seq) =>
        if (len <= splitBytes) Seq(GraftInputPartition(path, 0L, len, seq))
        else (0L until len by splitBytes).map(start =>
          GraftInputPartition(path, start, math.min(start + splitBytes, len), seq))
      }.toArray
    }
  }

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (keyGroupedNow)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        partFields.map(PartField.toTransform(_)
          : org.apache.spark.sql.connector.expressions.Expression).toArray,
        groups.size)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
        planInputPartitions().length)

  override def createReaderFactory(): PartitionReaderFactory = {
    // Group-based row-level rewrites (tracker present) must read EVERY
    // surviving row of the files they cover: pushed filters there select
    // which FILES to rewrite (partition pruning), never which rows to
    // decode — a record-level parquet filter would drop rows the rewrite
    // has to carry over.
    new GraftReaderFactory(required,
      if (tracker.isDefined) Array.empty else pushed, wantFile,
      wantVersion, renames, deletesBc, widened,
      incremental = sinceVersion.isDefined)
  }

  /** Equality-delete keys ship as a BROADCAST: once per executor, not
    * once per task — near the 256 MB cap the per-task closure would
    * otherwise dominate the stage. Cached so AQE re-invoking
    * createReaderFactory reuses one broadcast per scan instead of
    * accreting block-manager copies. */
  private lazy val deletesBc: Option[org.apache.spark.broadcast.Broadcast[Array[(String, Long)]]] =
    if (deleteKeys.isEmpty) None
    else Some(org.apache.spark.sql.SparkSession.active.sparkContext
      .broadcast(deleteKeys))

  /** Exact row count for the (pruned) file set. Preferred source is the
    * `_stats.tsv` cache written at every commit — ONE small read per
    * query instead of O(#files) footer opens on the driver, which at
    * 100k files would stall every planning cycle. Files missing from the
    * cache (e.g. written out-of-band via ParquetRowIO) fall back to a
    * footer read, counted in [[GraftScan.footerReads]] so tests can
    * assert the warm path never touches a footer. */
  private def exactRows: Long = {
    if (rowsCache != null) return rowsCache
    val conf = new Configuration()
    rowsCache = files.map { case (path, _, _, _) =>
      TableStats.entryFor(cachedStats, path).map(_.rows).getOrElse {
        GraftScan.footerReads.incrementAndGet()
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(path), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }
    }.sum
    rowsCache
  }

  override def estimateStatistics(): Statistics = new Statistics {
    private val grossRows: Long = exactRows
    /** Outstanding equality-delete keys suppress up to one live row each:
      * subtract their count (the registry's per-fragment row counts — no
      * file I/O) so CBO sizing stays honest while merge-on-read deletes
      * await compaction. A delete key lives in exactly ONE data file,
      * unknown which — so when partition pruning reduced this scan to a
      * SUBSET of the table, the table-wide delete count is PRORATED by
      * the pruned fraction (uniform-key assumption). Subtracting it all
      * would collapse a pruned scan to ~zero rows and bait the CBO into
      * broadcasting a huge side. A slight estimate either way when keys
      * skew; exactness returns when compaction folds. */
    private val outstandingDeletes: Long = {
      val total = cachedStats.iterator.collect {
        case (rel, e) if GraftDeletes.isDeleteRel(rel) => math.max(e.rows, 0L)
      }.sum
      if (total == 0L) 0L
      else {
        val tableRows = cachedStats.iterator.collect {
          case (rel, e) if !GraftDeletes.isDeleteRel(rel) => math.max(e.rows, 0L)
        }.sum
        if (tableRows <= 0L || grossRows >= tableRows) total
        else math.min(total, (total.toDouble * grossRows / tableRows).toLong)
      }
    }
    private val netRows: Long = math.max(0L, grossRows - outstandingDeletes)
    override def sizeInBytes() = java.util.OptionalLong.of {
      val gross = files.map(_._2).sum
      if (outstandingDeletes == 0L || grossRows == 0L) gross
      else math.max(1L, (gross.toDouble * netRows / grossRows).toLong)
    }
    override def numRows() = java.util.OptionalLong.of(netRows)

    /** CBO-grade column stats: global [min, max] of each projected
      * numeric/date column, folded from the commit-time registry's
      * per-file ranges (sound only when EVERY live file registered a
      * range — otherwise bounds are omitted), plus `distinctCount` /
      * `nullCount` from the `_ndv.tsv` side file when [[Analyze.run]]
      * has been executed. No data I/O: two small side files at most. */
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      import org.apache.spark.sql.types._
      val out = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      if (files.isEmpty) return out
      val ndvStats: Map[String, (Long, Long)] = {
        val dir = new Path(dataDir)
        Analyze.read(dir.getFileSystem(new Configuration()), dir)
      }
      for (field <- required.fields) {
        val dt = field.dataType
        val ordered = dt match {
          case ByteType | ShortType | IntegerType | LongType | FloatType |
              DoubleType | DateType => true
          case _ => false // strings/bools: Spark's estimation ignores bounds
        }
        val bounds: Option[(Any, Any)] =
          if (!ordered) None
          else {
            val ranges = files.map(f =>
              TableStats.entryFor(cachedStats, f._1).flatMap(_.cols.get(field.name)))
            if (ranges.isEmpty || !ranges.forall(_.isDefined)) None
            else {
              val mins = ranges.map(r => GraftAggScan.toCatalyst(dt, r.get._1))
              val maxs = ranges.map(r => GraftAggScan.toCatalyst(dt, r.get._2))
              Some((mins.reduce((a, b) => if (GraftAggScan.cmp(dt, a, b) <= 0) a else b),
                maxs.reduce((a, b) => if (GraftAggScan.cmp(dt, a, b) >= 0) a else b)))
            }
          }
        val nv = ndvStats.get(field.name)
        if (bounds.isDefined || nv.isDefined)
          out.put(
            org.apache.spark.sql.connector.expressions.Expressions.column(field.name),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def min() = bounds
                .map(b => java.util.Optional.of(b._1.asInstanceOf[AnyRef]))
                .getOrElse(java.util.Optional.empty[AnyRef]())
              override def max() = bounds
                .map(b => java.util.Optional.of(b._2.asInstanceOf[AnyRef]))
                .getOrElse(java.util.Optional.empty[AnyRef]())
              override def distinctCount() = nv
                .map(x => java.util.OptionalLong.of(x._1))
                .getOrElse(java.util.OptionalLong.empty())
              override def nullCount() = nv
                .map(x => java.util.OptionalLong.of(x._2))
                .getOrElse(java.util.OptionalLong.empty())
            })
      }
      out
    }
  }

  override def description(): String =
    s"GraftScan[$dataDir, cols=${required.fieldNames.mkString(",")}, " +
      s"pushed=${pushed.mkString(",")}, partCols=${partitionCols.mkString(",")}" +
      topN.map(t => s", topN=${t.col} ${if (t.desc) "DESC" else "ASC"} " +
        s"${if (t.nullsFirst) "NULLS FIRST" else "NULLS LAST"} LIMIT ${t.n}")
        .getOrElse("") + "]"
}

/** Complete COUNT(*) pushdown: one row, straight from the stats cache
  * (footer fallback only for out-of-band files). A pinned snapshot
  * version counts that manifest instead of the live registry. */
final class GraftCountStarScan(dataDir: String,
                               snapshotVersion: Option[Long] = None,
                               sinceVersion: Option[Long] = None,
                               manifestPre: Option[Option[Map[String, TableStats.Entry]]] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("count", org.apache.spark.sql.types.LongType,
      nullable = false)))
  override def toBatch: Batch = this
  override def description(): String = s"GraftCountStarScan[$dataDir]"

  private lazy val totalRows: Long = {
    val conf = new Configuration()
    val root = new Path(dataDir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root) && snapshotVersion.isEmpty && sinceVersion.isEmpty) 0L
    else
    // Registry-first: every commit path (insert, truncate, partition
    // DELETE, row-level COW, compaction, streaming epoch) rewrites
    // `_stats.tsv`, so when the file exists it IS the manifest of live
    // committed files — the count is one small side-file read, no
    // O(#files) recursive listing on the driver. Pinned and incremental
    // reads count their resolved manifest the same way. Only tables with
    // no registry at all (out-of-band writes) pay the listing + footers.
    manifestPre.getOrElse(
        Snapshots.readManifest(fs, root, snapshotVersion, sinceVersion)) match {
      // delete entries never reach here (pushdown is withheld while any
      // are outstanding) — filtered anyway so the invariant is local
      case Some(manifest) => manifest.collect {
        case (rel, e) if !GraftDeletes.isDeleteRel(rel) => e.rows
      }.sum
      case None =>
        GraftScan.countStarListings.incrementAndGet()
        val it = fs.listFiles(root, true)
        var total = 0L
        while (it.hasNext) {
          val st = it.next()
          val n = st.getPath.getName
          // no registry => no committed stream files can exist either
          if (st.isFile && n.endsWith(".parquet") && !n.startsWith("stream-")) {
            GraftScan.footerReads.incrementAndGet()
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(st.getPath, conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            total += (try r.getRecordCount finally r.close())
          }
        }
        total
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftCountPartition(totalRows))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var done = false
          private val row = org.apache.spark.sql.catalyst.InternalRow(
            p.asInstanceOf[GraftCountPartition].rows)
          override def next(): Boolean = if (done) false else { done = true; true }
          override def get(): InternalRow = row
          override def close(): Unit = ()
        }
    }
}

final case class GraftCountPartition(rows: Long) extends InputPartition

/** Complete MIN/MAX/COUNT(*) pushdown from the commit-time stats registry:
  * the global minimum (maximum) is the fold of exact per-file registered
  * ranges — one side-file read, zero data I/O, O(#files) driver work
  * regardless of table bytes. Only planned when the builder proved every
  * live non-empty file registered new-format ranges (see
  * `GraftScanBuilder.aggSpecs`); a column key absent from a file's ranges
  * means that file holds no non-null value of it, which MIN/MAX skip —
  * exactly SQL semantics. An empty table (or an all-null column) yields
  * NULL for min/max and 0 for count, same as the unpushed aggregate. */
final class GraftAggScan(
    tableSchema: StructType,
    dataDir: String,
    specs: Seq[GraftAggScan.Spec],
    snapshotVersion: Option[Long] = None,
    sinceVersion: Option[Long] = None,
    manifestPre: Option[Option[Map[String, TableStats.Entry]]] = None,
    groupBy: Seq[String] = Nil,
    partitionCols: Seq[String] = Nil,
    absorbedFilters: Seq[Filter] = Nil,
    partial: Boolean = false)
    extends Scan with Batch {
  import org.apache.spark.sql.types._

  private def fieldType(name: String): DataType =
    tableSchema.fields.find(_.name == name).get.dataType

  /** Positional contract with `V2ScanRelationPushDown`: grouping columns
    * FIRST, then the aggregate columns, in pushed order. */
  override def readSchema(): StructType = StructType(
    groupBy.map(g => StructField(g, fieldType(g), nullable = true)) ++
    specs.map {
      case GraftAggScan.Count => StructField("count", LongType, nullable = false)
      case GraftAggScan.MinOf(f) => StructField(s"min_$f", fieldType(f), nullable = true)
      case GraftAggScan.MaxOf(f) => StructField(s"max_$f", fieldType(f), nullable = true)
      // Spark's SUM over any integral input aggregates as BIGINT
      case GraftAggScan.SumOf(f) => StructField(s"sum_$f", LongType, nullable = true)
      case GraftAggScan.CountOf(f) =>
        StructField(s"count_$f", LongType, nullable = false)
    })
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftAggScan[$dataDir, ${specs.mkString(",")}" +
      (if (groupBy.isEmpty) "]"
       else s", groupBy=${groupBy.mkString(",")}${if (partial) ", partial" else ""}]")

  import GraftAggScan.{cmp, toCatalyst}

  private def fold(entries: Seq[TableStats.Entry]): Seq[Any] = specs.map {
    case GraftAggScan.Count => entries.map(_.rows).sum: java.lang.Long
    case GraftAggScan.MinOf(f) =>
      val dt = fieldType(f)
      val mins = entries.flatMap(_.cols.get(f)).map(r => toCatalyst(dt, r._1))
      if (mins.isEmpty) null else mins.reduce((a, b) => if (cmp(dt, a, b) <= 0) a else b)
    case GraftAggScan.MaxOf(f) =>
      val dt = fieldType(f)
      val maxs = entries.flatMap(_.cols.get(f)).map(r => toCatalyst(dt, r._2))
      if (maxs.isEmpty) null else maxs.reduce((a, b) => if (cmp(dt, a, b) >= 0) a else b)
    case GraftAggScan.SumOf(f) =>
      // SUM of zero non-null values is NULL; otherwise the exact fold of
      // per-file sums. The builder proved every non-empty file carries
      // both the sum and exact null counts. Overflow of the TOTAL follows
      // the session's ANSI setting so pushed and unpushed plans agree:
      // ANSI on → arithmetic error (Math.addExact), ANSI off → two's-
      // complement wrap, exactly Spark's non-ANSI LongType SUM.
      val ansi = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled
      val live = entries.filter(_.rows > 0)
      val nonNull = live.map(e => e.rows - e.nulls.get.getOrElse(f, 0L)).sum
      if (nonNull == 0L) null
      else live.foldLeft(0L)((acc, e) =>
        if (ansi) Math.addExact(acc, e.sums.get(f))
        else acc + e.sums.get(f)): java.lang.Long
    case GraftAggScan.CountOf(f) =>
      // exact: rows minus counted nulls (absent key = zero nulls)
      entries.filter(_.rows > 0)
        .map(e => e.rows - e.nulls.get.getOrElse(f, 0L))
        .sum: java.lang.Long
  }

  private lazy val resultRows: Array[Array[Any]] = {
    val root = new Path(dataDir)
    val fs = root.getFileSystem(new Configuration())
    val live0: Seq[(String, TableStats.Entry)] =
      manifestPre.getOrElse(Snapshots.readManifest(fs, root, snapshotVersion, sinceVersion))
        .map(_.collect {
          case (rel, e) if !GraftDeletes.isDeleteRel(rel) => (rel, e)
        }.toSeq)
        .getOrElse(Seq.empty)
    // absorbed partition filters restrict the fold to exactly the files
    // whose identity partition values satisfy them — the builder verified
    // every live non-empty path parses and every predicate is decidable
    // (empty files hold no rows; dropping them first also spares their
    // paths the layout parse, which the gate does not cover for them)
    val live: Seq[(String, TableStats.Entry)] =
      if (absorbedFilters.isEmpty) live0
      else {
        val pf = partitionCols.map(PartField.parse)
        val identIdx: Seq[(String, Int)] = pf.zipWithIndex.collect {
          case (PartField.Identity(c), i) => c -> i
        }
        live0.filter(_._2.rows > 0).filter { case (rel, _) =>
          val segs = rel.split('/')
          val vals: Map[String, Any] = identIdx.map { case (c, i) =>
            val raw = segs(i).split("=", 2)(1)
            c -> PartitionPruning.parse(fieldType(c), PartitionPruning.decode(raw))
          }.toMap
          absorbedFilters.forall(f => PartitionPruning.eval3(f, vals) match {
            case Some(b) => b
            case None => throw new IllegalStateException(
              s"graft: absorbed filter $f undecidable for $rel — absorption gate bug")
          })
        }
      }
    if (groupBy.isEmpty) Array(fold(live.map(_._2)).toArray)
    else {
      // group values per file: identity partition columns parse from the
      // directory path (builder-verified layout); in PARTIAL mode a
      // non-identity column reads its registered range, which the
      // builder proved single-valued (min == max, zero nulls) or
      // all-null (no range under a fully range-registered manifest)
      val partFields = partitionCols.map(PartField.parse)
      val segIdx = groupBy.map(g => partFields.indexWhere {
        case PartField.Identity(c) => c == g
        case _ => false
      })
      def groupValsOf(rel: String, e: TableStats.Entry): Seq[Any] = {
        val segs = rel.split('/')
        groupBy.zip(segIdx).map {
          case (g, i) if i >= 0 =>
            val raw = segs(i).split("=", 2)(1)
            GraftAggScan.internalOf(fieldType(g), PartitionPruning.decode(raw))
          case (g, _) =>
            e.cols.get(g) match {
              case Some((mn, _)) => GraftAggScan.internalOf(fieldType(g), mn)
              case None => null // all-null file: the NULL group
            }
        }
      }
      val nonEmpty = live.filter(_._2.rows > 0)
      if (partial)
        // one PARTIAL row per file — Spark's final aggregate merges them
        // (Count/Sum partials re-sum, Min/Max re-fold): file-count-many
        // rows shuffle instead of data rows, still zero data I/O
        nonEmpty.map { case (rel, e) =>
          (groupValsOf(rel, e) ++ fold(Seq(e))).toArray
        }.toArray
      else
        nonEmpty.groupBy { case (rel, e) => groupValsOf(rel, e) }.toSeq
          .map { case (gv, es) => (gv ++ fold(es.map(_._2))).toArray }
          .toArray
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftAggPartition(resultRows))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val rows = p.asInstanceOf[GraftAggPartition].rows
          private var i = -1
          override def next(): Boolean = { i += 1; i < rows.length }
          override def get(): InternalRow =
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(rows(i))
          override def close(): Unit = ()
        }
    }
}

object GraftAggScan {
  sealed trait Spec
  case object Count extends Spec
  final case class MinOf(field: String) extends Spec
  final case class MaxOf(field: String) extends Spec
  final case class SumOf(field: String) extends Spec
  /** COUNT(col) — non-null rows of one column. */
  final case class CountOf(field: String) extends Spec

  /** Registered external string → Catalyst internal value (dates are
    * epoch-day ints internally). Shared by the pushed-aggregate fold and
    * `estimateStatistics` so the two range readings cannot diverge. */
  def toCatalyst(dt: org.apache.spark.sql.types.DataType, raw: String): Any =
    PartitionPruning.parse(dt, raw) match {
      case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
      case x => x
    }

  def cmp(dt: org.apache.spark.sql.types.DataType, a: Any, b: Any): Int = {
    import org.apache.spark.sql.types._
    dt match {
      case FloatType | DoubleType => java.lang.Double.compare(
        a.asInstanceOf[Number].doubleValue(), b.asInstanceOf[Number].doubleValue())
      case _ => java.lang.Long.compare(
        a.asInstanceOf[Number].longValue(), b.asInstanceOf[Number].longValue())
    }
  }

  /** Directory-encoded partition value → Catalyst INTERNAL value (strings
    * become UTF8String, dates epoch-day ints) for the grouped-aggregate
    * result rows. */
  def internalOf(dt: org.apache.spark.sql.types.DataType, raw: String): Any =
    PartitionPruning.parse(dt, raw) match {
      case null => null
      case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
      case s: String => UTF8String.fromString(s)
      case x => x
    }
}

final case class GraftAggPartition(rows: Array[Array[Any]]) extends InputPartition

object GraftScan {
  /** Planning-time parquet-footer opens (cache misses). Diagnostics only. */
  val footerReads = new java.util.concurrent.atomic.AtomicLong(0)
  /** COUNT(*) scans that fell back to a recursive file listing (no stats
    * registry). Diagnostics only — warm tables must never increment it. */
  val countStarListings = new java.util.concurrent.atomic.AtomicLong(0)
  /** Files dropped by TopN pruning across scans. Diagnostics only. */
  val topNPrunedFiles = new java.util.concurrent.atomic.AtomicLong(0)
  /** Files dropped by per-file Bloom disproof ([[BloomIndex]]) across
    * scans. Diagnostics only. */
  val bloomPrunedFiles = new java.util.concurrent.atomic.AtomicLong(0)
  /** Partition-reader opens of INCREMENTAL (since-version) scans.
    * Diagnostics only — lets tests assert a consumer of a change delta
    * (e.g. the MV incremental refresh) READS the delta exactly once,
    * not once to verify and again to apply. */
  val incrementalReaderOpens = new java.util.concurrent.atomic.AtomicLong(0)

  /** A pushed `ORDER BY col [ASC|DESC] [NULLS FIRST|LAST] LIMIT n`
    * (leading sort key only — see `GraftScanBuilder.pushTopN`). */
  final case class TopN(col: String, dt: org.apache.spark.sql.types.DataType,
                        desc: Boolean, nullsFirst: Boolean, n: Int)

  /** File-level top-k pruning. Contract: the kept files contain, for
    * EVERY row of every dropped file F, at least `n` rows that sort
    * STRICTLY before it — so no dropped row can appear in ANY correct
    * top-n answer, under any tie-breaking and regardless of secondary
    * sort keys. Spark applies the real Sort + Limit over the survivors
    * (partial pushdown), so conservatism only costs I/O, never rows.
    *
    * Reasoning per file, from the commit-time registry:
    *  - non-null rows of G all sort within [G.min, G.max] (exact ranges —
    *    the builder verified every live file registered them);
    *  - a column key ABSENT from a range-registered entry means the file
    *    holds no non-null value of that column (all-null);
    *  - null counts: entries carrying `nulls` are exact; legacy entries
    *    (None) get null∈[0, rows] — which both blocks pruning a file
    *    that might hide nulls and zeroes its guaranteed contribution.
    *
    * Greedy sweep: files ordered by their earliest possible sort
    * position; each file either proves `n` strict predecessors among
    * already-KEPT files (pruned — predecessors are guaranteed to be
    * returned) or joins the kept set. O(files²) worst case on the
    * DRIVER over registry metadata only — at 1000 files that is ~10⁶
    * comparisons, microseconds; no data I/O.
    */
  def pruneTopN(
      files: Seq[(String, Long, Seq[Any], Long)],
      stats: Map[String, TableStats.Entry],
      t: TopN): Seq[(String, Long, Seq[Any], Long)] = {
    import org.apache.spark.sql.types._

    def parseVal(s: String): Any = t.dt match {
      case DateType => java.time.LocalDate.parse(s).toEpochDay: java.lang.Long
      case FloatType | DoubleType => s.toDouble: java.lang.Double
      case _ => s.toLong: java.lang.Long
    }
    // strict "sorts before" on non-null values; Double.compare puts NaN
    // above all reals — the same total order Spark sorts with
    def precedes(a: Any, b: Any): Boolean = {
      val c = (a, b) match {
        case (x: java.lang.Long, y: java.lang.Long) => java.lang.Long.compare(x, y)
        case (x: java.lang.Double, y: java.lang.Double) => java.lang.Double.compare(x, y)
        case _ => return false
      }
      if (t.desc) c > 0 else c < 0
    }

    final case class Facts(
        file: (String, Long, Seq[Any], Long),
        rows: Long,
        first: Option[Any], // sort-first bound of non-null rows (min asc / max desc)
        last: Option[Any],  // sort-last bound of non-null rows
        nullLB: Long, nullUB: Long)

    val facts = files.map { f =>
      TableStats.entryFor(stats, f._1) match {
        case None => return files // unregistered file — prune nothing
        case Some(e) =>
          val range = e.cols.get(t.col).map { case (mn, mx) =>
            (parseVal(mn), parseVal(mx))
          }
          val (nlb, nub) = e.nulls match {
            case Some(m) =>
              val x = m.getOrElse(t.col, if (range.isEmpty) e.rows else 0L)
              (x, x)
            case None =>
              if (range.isEmpty) (e.rows, e.rows) // all-null: exact either way
              else (0L, e.rows)                   // legacy: unknown
          }
          Facts(f, e.rows,
            first = range.map(r => if (t.desc) r._2 else r._1),
            last = range.map(r => if (t.desc) r._1 else r._2),
            nullLB = nlb, nullUB = nub)
      }
    }

    // earliest-sort-position order: a file that may start with a null
    // sorts to the front under NULLS FIRST / the back under NULLS LAST
    val ordered = facts.sortWith { (a, b) =>
      (a.first, b.first) match {
        case (Some(x), Some(y)) =>
          val aNull = t.nullsFirst && a.nullUB > 0
          val bNull = t.nullsFirst && b.nullUB > 0
          if (aNull != bNull) aNull else precedes(x, y)
        case (None, Some(_)) => t.nullsFirst
        case (Some(_), None) => !t.nullsFirst
        case (None, None) => false
      }
    }

    val kept = scala.collection.mutable.ArrayBuffer[Facts]()
    val keptSet = scala.collection.mutable.HashSet[String]()
    ordered.foreach { f =>
      // rows guaranteed to strictly precede F's FIRST non-null row:
      // kept nulls (under NULLS FIRST they precede every value) plus
      // kept non-null rows provably below F.first
      lazy val coverVal: Long = kept.iterator.map { g =>
        val nulls = if (t.nullsFirst) g.nullLB else 0L
        val vals =
          if (f.first.isDefined && g.last.isDefined &&
              precedes(g.last.get, f.first.get))
            math.max(0L, g.rows - g.nullUB)
          else 0L
        nulls + vals
      }.sum
      // rows guaranteed to strictly precede F's null rows: under NULLS
      // LAST every non-null row anywhere; under NULLS FIRST nothing
      lazy val coverNull: Long =
        if (t.nullsFirst) 0L
        else kept.iterator.map(g => math.max(0L, g.rows - g.nullUB)).sum
      val needVal = f.first.isDefined
      val needNull = f.nullUB > 0
      val prunable =
        (!needVal || coverVal >= t.n) && (!needNull || coverNull >= t.n)
      if (prunable) topNPrunedFiles.incrementAndGet()
      else { kept += f; keptSet += f.file._1 }
    }
    if (keptSet.size == files.size) files
    else files.filter(f => keptSet.contains(f._1))
  }
}

/** `seq`: the file's data sequence number (manifest version at which it
  * entered — 0 for pre-seq registries and walked listings), compared
  * against equality-delete seqs at read time. */
final case class GraftInputPartition(path: String, start: Long, end: Long,
                                     seq: Long = 0L)
    extends InputPartition

/** All files of one partition value, exposing the value as the Spark
  * partition key for storage-partitioned joins. Per file: (path, length,
  * data sequence number). */
final case class GraftPartitionGroup(files: Seq[(String, Long, Long)], key: InternalRow)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** Reads graft data files through Spark's own vectorized parquet reader,
  * graft's only parquet decoder. Scans emit column batches that feed
  * whole-stage codegen via ColumnarToRow, the same path the built-in
  * parquet source takes. The one exception is a scan with outstanding
  * equality deletes: it emits rows, so each can be probed against the
  * dead keys. Spark needs every partition of a scan to agree on batches
  * or rows, and the delete set belongs to the scan, so the choice does
  * too. */
final class GraftReaderFactory(
    required: StructType, pushed: Array[Filter],
    wantFile: Boolean = false,
    wantVersion: Boolean = false,
    renames: Map[String, Seq[String]] = Map.empty,
    deletesBc: Option[org.apache.spark.broadcast.Broadcast[Array[(String, Long)]]] = None,
    widened: Set[String] = Set.empty,
    incremental: Boolean = false)
    extends PartitionReaderFactory {

  /** See [[GraftScan.incrementalReaderOpens]] (meaningful in local mode,
    * where executors share the driver JVM's counter). */
  private def countOpen(): Unit =
    if (incremental) GraftScan.incrementalReaderOpens.incrementAndGet()

  /** Executor-side view of the equality-delete keys (empty when none). */
  private def deletes: Array[(String, Long)] =
    deletesBc.map(_.value).getOrElse(Array.empty)

  private def predicate = pushed
    // a renamed column's physical name varies per file (pre-rename files
    // carry the former name); a parquet predicate naming a column a file
    // lacks would throw, and every filter is residual anyway — so filters
    // touching renamed columns stay residual-only. Same for WIDENED
    // columns: a long/double predicate against a file still storing the
    // narrow type fails parquet-mr's schema validation.
    .filter(f => renames.isEmpty || !f.references.exists(renames.contains))
    .filter(f => widened.isEmpty || !f.references.exists(widened.contains))
    .flatMap(FilterTranslate.translate(required, _))
    .reduceOption(org.apache.parquet.filter2.predicate.FilterApi.and)

  /** (path, start, end, seq) ranges of a partition; whole files carry
    * their real length as `end`, so every entry is a range. `seq` is the
    * file's data sequence number for `_version` and the equality-delete
    * probe. */
  private def ranges(partition: InputPartition): Seq[(String, Long, Long, Long)] =
    partition match {
      case GraftPartitionGroup(files, _) =>
        files.map { case (p, len, seq) => (p, 0L, len, seq) }
      case GraftInputPartition(path, start, end, seq) => Seq((path, start, end, seq))
    }

  /** Decoded data columns: when equality deletes are outstanding the probe
    * needs `row_key` even if the query pruned it — appended last and left
    * out of the emitted rows. */
  private val needHiddenKey = deletes.nonEmpty &&
    !required.fieldNames.contains(ColumnNames.RowKey)
  private val dataSchema =
    if (needHiddenKey)
      StructType(required.fields :+ org.apache.spark.sql.types.StructField(
        ColumnNames.RowKey, StringType, nullable = true))
    else required
  private val keyOrdinal = dataSchema.fieldNames.indexOf(ColumnNames.RowKey)

  /** `_file` and `_version` ride as per-file constant columns after the
    * data columns, the order [[GraftScan.readSchema]] uses. */
  private val constSchema = StructType(
    (if (wantFile) Seq(org.apache.spark.sql.types.StructField(
      GraftTable.FileColumnName, StringType, nullable = false)) else Nil) ++
    (if (wantVersion) Seq(org.apache.spark.sql.types.StructField(
      GraftTable.VersionColumnName, org.apache.spark.sql.types.LongType,
      nullable = false)) else Nil))

  private def openRange(path: String, start: Long, end: Long, seq: Long) =
    GraftReaderFactory.open(path, start, end, dataSchema, renames, predicate,
      constSchema, InternalRow.fromSeq(
        (if (wantFile) Seq(UTF8String.fromString(path)) else Nil) ++
          (if (wantVersion) Seq(seq) else Nil)))

  override def supportColumnarReads(partition: InputPartition): Boolean =
    deletes.isEmpty

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    countOpen()
    val remaining = scala.collection.mutable.Queue(ranges(partition): _*)
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      private var reader: org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader = _
      override def next(): Boolean = {
        while (true) {
          if (reader == null) {
            if (remaining.isEmpty) return false
            val (p, s, e, seq) = remaining.dequeue()
            reader = openRange(p, s, e, seq)
          }
          if (reader.nextBatch()) return true
          reader.close(); reader = null
        }
        false
      }
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch =
        reader.resultBatch()
      override def close(): Unit = if (reader != null) reader.close()
    }
  }

  /** The outstanding-deletes probe: walks the decoded batches row by row,
    * drops rows whose `row_key` a delete newer than the file names, and
    * emits the rest without the hidden key. */
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    countOpen()
    val remaining = scala.collection.mutable.Queue(ranges(partition): _*)
    new PartitionReader[InternalRow] {
      import org.apache.spark.sql.vectorized.ColumnarBatch
      private var reader: org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader = _
      private var batch: ColumnarBatch = _
      // the emitted view of `batch`: the same column vectors minus the
      // hidden row_key
      private var out: ColumnarBatch = _
      // keys deleted for the CURRENT file (those whose delete seq is
      // newer than the file); null = no probe needed for this file
      private var deadKeys: java.util.HashSet[UTF8String] = _
      private var rowId = 0
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (true) {
          if (reader == null) {
            if (remaining.isEmpty) return false
            val (p, s, e, seq) = remaining.dequeue()
            reader = openRange(p, s, e, seq)
            batch = reader.resultBatch()
            out =
              if (!needHiddenKey) batch
              else new ColumnarBatch((0 until batch.numCols)
                .filter(_ != keyOrdinal).map(batch.column).toArray)
            rowId = 0
            val hs = new java.util.HashSet[UTF8String]()
            deletes.foreach { case (k, dseq) =>
              if (dseq > seq) hs.add(UTF8String.fromString(k))
            }
            deadKeys = if (hs.isEmpty) null else hs
          }
          if (rowId < batch.numRows) {
            val i = rowId
            rowId += 1
            if (deadKeys == null || live(i)) {
              current = out.getRow(i)
              return true
            }
            // else: row suppressed by an equality delete — keep scanning
          } else if (reader.nextBatch()) {
            rowId = 0
            if (out ne batch) out.setNumRows(batch.numRows)
          } else {
            reader.close(); reader = null
          }
        }
        false
      }
      private def live(i: Int): Boolean = {
        val keys = batch.column(keyOrdinal)
        keys.isNullAt(i) || !deadKeys.contains(keys.getUTF8String(i))
      }
      override def get(): InternalRow = current
      override def close(): Unit = if (reader != null) reader.close()
    }
  }
}

object GraftReaderFactory {
  import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}

  /** Opens Spark's vectorized reader on the row groups of `path` whose
    * midpoint falls in [start, end) (the standard split rule), decoding
    * `schema` followed by the per-file constant columns `constants`.
    *
    *  - A column the file lacks reads as null, or as its `EXISTS_DEFAULT`
    *    after `ADD COLUMN ... DEFAULT v`.
    *  - A column widened by `ALTER COLUMN ... TYPE` decodes from the
    *    file's narrower type through Spark's int→long/double and
    *    float→double updaters.
    *  - UDT columns decode as their sqlType.
    *  - `renames` (current name → former names, newest first): a file
    *    written before a RENAME COLUMN carries a former name. Its footer
    *    is then read once, each column is requested under whichever name
    *    the file has, and the footer is handed to the reader. Batch
    *    columns are positional, so nothing is renamed back. */
  def open(
      path: String,
      start: Long,
      end: Long,
      schema: StructType,
      renames: Map[String, Seq[String]] = Map.empty,
      predicate: Option[org.apache.parquet.filter2.predicate.FilterPredicate] = None,
      constants: StructType = new StructType(),
      constantRow: InternalRow = InternalRow.empty): VectorizedParquetRecordReader = {
    val conf = new Configuration()
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    // ParquetToSparkSchemaConverter reads these with no defaults
    conf.setBoolean(org.apache.spark.sql.internal.SQLConf.CASE_SENSITIVE.key, false)
    conf.setBoolean(org.apache.spark.sql.internal.SQLConf.PARQUET_BINARY_AS_STRING.key, false)
    conf.setBoolean(org.apache.spark.sql.internal.SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, true)
    conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
    conf.setBoolean("spark.sql.parquet.fieldId.read.enabled", false)
    predicate.foreach(p =>
      org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(conf, p))
    val physical = StructType(schema.fields.map(f => f.dataType match {
      case udt: org.apache.spark.sql.types.UserDefinedType[_] => f.copy(dataType = udt.sqlType)
      case _ => f
    }))
    val file = new Path(path)
    // a file written before a RENAME COLUMN carries the former name: read
    // its footer once and request each column under the name it has
    val footer =
      if (!physical.fieldNames.exists(renames.contains)) None
      else {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf)
        Some((in, org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
          .readFooter(in, org.apache.parquet.format.converter.ParquetMetadataConverter.range(start, end))))
      }
    val requested = footer.fold(physical) { case (_, f) =>
      val has = f.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSet
      StructType(physical.fields.map(c =>
        if (has(c.name)) c
        else renames.getOrElse(c.name, Nil).find(has).fold(c)(n => c.copy(name = n))))
    }
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    // SpecificParquetRecordReaderBase casts to the old-API mapred split;
    // the task context copies `conf`, so it is built last
    val split = new org.apache.hadoop.mapred.FileSplit(file, start, end - start, Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    val r = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", /* offHeap = */ false, 4096)
    try {
      footer match {
        case None => r.initialize(split, ctx)
        case Some((in, f)) => r.initialize(split, ctx, Some(in), Some(in.newStream()), Some(f))
      }
      r.initBatch(constants, constantRow)
      r
    } catch { case e: Throwable => r.close(); throw e }
  }

  /** Every row of one whole file through [[open]]: the change-feed
    * readers share the scan's decoder instead of carrying their own. */
  def rows(path: String, schema: StructType,
      renames: Map[String, Seq[String]] = Map.empty): PartitionReader[InternalRow] = {
    val reader = open(path, 0L, Long.MaxValue, schema, renames)
    new PartitionReader[InternalRow] {
      private var it: java.util.Iterator[InternalRow] = java.util.Collections.emptyIterator()
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (!it.hasNext) {
          if (!reader.nextBatch()) return false
          it = reader.resultBatch().rowIterator()
        }
        current = it.next()
        true
      }
      override def get(): InternalRow = current
      override def close(): Unit = reader.close()
    }
  }
}

// --------------------------------------------------------------- write ----

/** INSERT OVERWRITE surface of a graft table, all three spellings:
  *
  *  - `truncate` (SaveMode.Overwrite / unfiltered INSERT OVERWRITE):
  *    replace the whole table;
  *  - `overwrite(filters)` (static mode, `INSERT OVERWRITE ... PARTITION
  *    (p = v)` or a WHERE on partition columns): replace only the
  *    partitions the filters decide — a metadata-level swap, nothing
  *    outside the matched partitions is read or rewritten;
  *  - `overwriteDynamicPartitions` (partitionOverwriteMode=dynamic): the
  *    backfill spelling — replace exactly the partitions the incoming
  *    rows land in, keep every other partition. At 100 TB re-running one
  *    day's pipeline overwrites that day's directories and nothing else.
  */
final class GraftWriteBuilder(
    schema: StructType,
    props: Map[String, String],
    dataDir: String,
    partitionCols: Seq[String],
    info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate with SupportsOverwrite
    with SupportsDynamicOverwrite {

  private var mode: GraftBatchWrite.Mode = GraftBatchWrite.Append

  override def truncate(): WriteBuilder = {
    mode = GraftBatchWrite.Truncate; this
  }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.isEmpty || filters.forall(_.isInstanceOf[AlwaysTrue]))
      mode = GraftBatchWrite.Truncate
    else {
      // identity-partition-decidable shapes only — anything else cannot
      // be honored as a partition swap and must fail BEFORE any work
      val partFields = partitionCols.map(PartField.parse)
      def part(a: String): Boolean = partFields.exists {
        case PartField.Identity(c) => c == a
        case _ => false
      }
      def ok(f: Filter): Boolean = {
        import org.apache.spark.sql.sources._
        f match {
          case _: AlwaysTrue | _: AlwaysFalse => true
          case And(l, r) => ok(l) && ok(r)
          case Or(l, r) => ok(l) && ok(r)
          case Not(c) => ok(c)
          case EqualTo(a, _) => part(a)
          case EqualNullSafe(a, _) => part(a)
          case GreaterThan(a, _) => part(a)
          case GreaterThanOrEqual(a, _) => part(a)
          case LessThan(a, _) => part(a)
          case LessThanOrEqual(a, _) => part(a)
          case In(a, _) => part(a)
          case IsNull(a) => part(a)
          case IsNotNull(a) => part(a)
          case _ => false
        }
      }
      filters.filterNot(ok).headOption.foreach(f =>
        throw new UnsupportedOperationException(
          s"graft: INSERT OVERWRITE filter $f is not decidable over identity " +
            "partition columns; use dynamic partition overwrite or row-level MERGE"))
      mode = GraftBatchWrite.OverwriteWhere(filters)
    }
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = GraftBatchWrite.DynamicOverwrite; this
  }

  // Partitioned writes REQUEST a clustered distribution on the partition
  // columns (advisory, AQE sizes the tasks): rows of one partition value
  // land in few tasks instead of every task, so a 1000-task INSERT writes
  // ~#partitions files, not #tasks x #partitions small files — the
  // write-side half of the small-file story (compaction is the repair
  // half).
  override def build(): Write = {
    // bucket clustering resolves through the catalog's FunctionCatalog
    // (tasks align to bucket ids — one file per populated bucket per
    // commit); a path-based table has no FunctionCatalog, so requesting
    // it would fail analysis — cluster on identity fields only there
    val pathBased = props.getOrElse(GraftTable.PathBasedProp, "false").toBoolean
    val clusterOn = partitionCols.map(PartField.parse).flatMap {
      case PartField.Identity(c) =>
        Some(org.apache.spark.sql.connector.expressions.Expressions.identity(c)
          : org.apache.spark.sql.connector.expressions.Expression)
      case PartField.Bucket(n, c) if !pathBased =>
        Some(org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)
          : org.apache.spark.sql.connector.expressions.Expression)
      case _: PartField.Bucket => None
      // clustering by the source column implies clustering by its day —
      // and needs no FunctionCatalog to resolve
      case tu: PartField.TimeUnitField =>
        Some(org.apache.spark.sql.connector.expressions.Expressions.identity(tu.col)
          : org.apache.spark.sql.connector.expressions.Expression)
      // same for truncate: source-column clustering implies token clustering
      case tr: PartField.Truncate =>
        Some(org.apache.spark.sql.connector.expressions.Expressions.identity(tr.col)
          : org.apache.spark.sql.connector.expressions.Expression)
    }
    // write.sort.columns: every INSERT range-partitions + sorts on the
    // listed columns, so files land with tight, pairwise-disjoint
    // registered [min, max] ranges AT INGEST — point/range queries plan
    // one file without waiting for a sorted compaction. On partitioned
    // tables the sort nests inside the partition clustering (files
    // sorted within each partition dir). Advisory like the clustering:
    // AQE sizes the range tasks.
    val sortCols = props.getOrElse(GraftTable.SortColumnsProp, "")
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    sortCols.foreach(c => require(schema.fieldNames.contains(c),
      s"graft: ${GraftTable.SortColumnsProp} names unknown column $c"))
    // index.bloom.columns gets the same loud check: a typo'd or
    // ineligible column would otherwise be a SILENT no-op — no bitsets
    // ever built, every point lookup quietly full-scanning while the
    // user believes the index is active
    BloomIndex.columnsOf(props).foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(throw
        new IllegalArgumentException(
          s"graft: ${BloomIndex.ColumnsProp} names unknown column $c"))
      require(BloomIndex.eligible(f.dataType),
        s"graft: ${BloomIndex.ColumnsProp} column $c of type " +
          s"${f.dataType.simpleString} is not bloom-indexable " +
          "(integral, string and date columns only)")
    }
    val sortOrders = sortCols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions.column(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
      .toArray
    if (clusterOn.nonEmpty || sortOrders.nonEmpty)
      new GraftWrite with RequiresDistributionAndOrdering {
        override def requiredDistribution():
            org.apache.spark.sql.connector.distributions.Distribution =
          if (clusterOn.nonEmpty)
            org.apache.spark.sql.connector.distributions.Distributions.clustered(
              clusterOn.toArray)
          else
            org.apache.spark.sql.connector.distributions.Distributions.ordered(
              sortOrders)
        override def distributionStrictlyRequired(): Boolean = false
        override def requiredOrdering(): Array[
            org.apache.spark.sql.connector.expressions.SortOrder] = sortOrders
      }
    else new GraftWrite
  }

  private class GraftWrite extends Write {
    override def toBatch: BatchWrite =
      new GraftBatchWrite(schema, props, dataDir, partitionCols, mode,
        Option(info.options.get("wap.id")).filter(_.nonEmpty),
        Option(info.options.get("wap.replace")).exists(_.equalsIgnoreCase("true")))
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new GraftStreamingWrite(schema, props, dataDir, partitionCols, info.queryId())
  }
}

/** Streaming append sink with an epoch commit log. Files are written with
  * a `stream-` prefix and become VISIBLE only when their epoch commits:
  * commit writes a `_commits/<queryId>-e<epoch>` marker and merges the
  * files into the `_stats.tsv` registry that scans treat as the source of
  * truth for stream-file visibility. A replayed epoch (failure recovery)
  * finds its marker already present and deletes the duplicate attempt's
  * files instead of registering them — effectively-once end to end. The
  * reference has no streaming surface at all. */
final class GraftStreamingWrite(
    schema: StructType,
    props: Map[String, String],
    dataDir: String,
    partitionCols: Seq[String],
    queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private val writeId = UUID.randomUUID().toString

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    GraftStreamingWriterFactory(schema, props, dataDir, partitionCols, writeId)

  private def open(): (FileSystem, Path) = {
    val d = new Path(dataDir)
    (d.getFileSystem(new Configuration()), d)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val (fs, dir) = open()
    val marker = new Path(dir, s"${TableStats.CommitsDir}/$queryId-e$epochId")
    val committed = Commit.files(messages)
    if (fs.exists(marker)) {
      // epoch already durable from a previous run: this attempt re-wrote
      // the same input batch — its files are duplicates, drop them...
      Commit.drop(fs, dir, committed.keys)
      // ...and repair the registry from the marker's file list if the
      // original commit crashed between marker and registration (without
      // this, those files would stay invisible forever — lost rows).
      // Physical existence is NOT the liveness test: commits delete
      // metadata-only, so a file on disk may have been deliberately
      // dropped from the manifest (COW delete, compaction swap) — the
      // snapshot log is the tombstone record. Repair only files that NO
      // retained snapshot ever registered: those never made it into a
      // manifest, which is exactly the crashed-commit signature.
      val in = fs.open(marker)
      val text = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      val original = TableStats.deserialize(text)
      Commit.run(fs, dir) { live =>
        lazy val tombstoned = Snapshots.everRecorded(fs, dir)
        val missing = original.filter { case (rel, _) =>
          !live.contains(rel) && fs.exists(new Path(dir, rel)) &&
            !tombstoned.contains(rel) }
        if (missing.nonEmpty) Some(live ++ missing) else None
      }
    } else {
      fs.mkdirs(marker.getParent)
      val out = fs.create(marker, true)
      try out.write(TableStats.serialize(committed)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      Commit.run(fs, dir)(live => Some(live ++ committed))
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val (fs, dir) = open()
    Commit.drop(fs, dir, Commit.files(messages).keys)
  }
}

final case class GraftStreamingWriterFactory(
    schema: StructType,
    props: Map[String, String],
    dataDir: String,
    partitionCols: Seq[String],
    writeId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  // driver-side resolve + bind, serialized with the factory
  private val genExprs = GeneratedColumns.bound(schema)
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    GraftWriterFactory.newWriter(schema, props, dataDir, partitionCols,
      s"$writeId-e$epochId", partitionId, taskId, filePrefix = "stream",
      genExprs = genExprs)
}

object GraftBatchWrite {
  /** What the commit does with the PRIOR manifest. */
  sealed trait Mode
  case object Append extends Mode
  case object Truncate extends Mode
  /** Static partition overwrite: drop entries whose identity-partition
    * values satisfy every filter. */
  final case class OverwriteWhere(filters: Array[Filter]) extends Mode
  /** Dynamic partition overwrite: drop entries in exactly the partition
    * directories this commit wrote into. */
  case object DynamicOverwrite extends Mode
}

final class GraftBatchWrite(
    schema: StructType,
    props: Map[String, String],
    dataDir: String,
    partitionCols: Seq[String],
    mode: GraftBatchWrite.Mode,
    wapId: Option[String] = None,
    wapReplace: Boolean = false)
    extends BatchWrite {

  private val writeId = UUID.randomUUID().toString

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftWriterFactory(schema, props, dataDir, partitionCols, writeId)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    require(!wapReplace || wapId.isDefined,
      "graft: wap.replace marks the MODE of a staged commit and needs wap.id; " +
        "without one the write would land live as a plain append")
    val committed = Commit.files(messages)
    val dir = new Path(dataDir)
    val fs = dir.getFileSystem(new Configuration())
    // Every committed task attempt wrote uniquely-named files (taskId in
    // the name); files carrying this writeId that are NOT in the commit
    // messages come from failed/speculative attempts — drop them.
    // Truncate-overwrite does NOT physically delete prior files: the
    // registry rewrite below (base = empty) makes them invisible, and
    // they stay reachable through earlier snapshots until vacuum.
    Commit.sweep(fs, dir, writeId, committed.keys)
    import GraftBatchWrite._
    // first catalog-free write into a BARE directory: persist _meta.yml
    // so the directory reads back as a self-describing graft table
    // (subsequent appends then validate against this schema — an extra
    // or mistyped column fails Spark's own output resolution instead of
    // writing unreadable files)
    if (props.contains(GraftTable.PathBasedProp) &&
        !fs.exists(new Path(dir.getParent, "_meta.yml")))
      GraftTable.writeMetaFile(fs, dir.getParent, schema,
        // transient write options must not become permanent table config
        props.filterNot { case (k, _) =>
          GraftTable.TransientWriteProps.contains(k.toLowerCase(java.util.Locale.ROOT))
        }, partitionCols)
    // write-audit-publish: stage this commit instead of publishing it —
    // the files land but only the tagged AUDIT snapshot references them;
    // the live registry (what every normal read plans from) is untouched
    // until ALTER TABLE ... PUBLISH WAP.
    wapId.foreach { id =>
      require(mode == Append,
        "graft: wap.id stages APPEND writes only; overwrite modes must publish directly")
      TableStats.withLock(fs, dir) {
        Snapshots.stageWap(fs, dir, id, committed, replace = wapReplace)
      }
      return
    }
    if (mode == Truncate)
      // stale epoch markers must not dedupe future stream epochs of a
      // restarted query against pre-truncate history
      fs.delete(new Path(dir, TableStats.CommitsDir), true)
    val partFields = partitionCols.map(PartField.parse)
    val specSince = GraftTable.specSince(props)

    /** Identity-partition values parsed from a manifest rel path, or None
      * when the file predates the current spec (its layout cannot be
      * trusted — both overwrite modes must refuse, not silently miss it). */
    def identityValues(rel0: String, e: TableStats.Entry): Option[Map[String, Any]] = {
      val rel = TableStats.layoutRel(rel0) // cloned entries parse source-relative
      if (!PartField.layoutMatches(rel, partFields) || e.seq < specSince) None
      else Some(partFields.zip(rel.split('/').dropRight(1)).collect {
        case (PartField.Identity(c), seg) =>
          c -> PartitionPruning.parse(schema(c).dataType,
            PartitionPruning.decode(seg.split("=", 2)(1)))
      }.toMap)
    }

    // non-append modes are a data swap the feeds replay as
    // delete(removed rows) + insert(added rows) — see
    // [[ChangeLog.Replace]]; the marker commits BEFORE the swap
    Commit.run(fs, dir,
      kind = if (mode != Append) Some(ChangeLog.Replace) else None) { live =>
      val base: Map[String, TableStats.Entry] = mode match {
        case Append => live
        case Truncate => Map.empty
        case OverwriteWhere(filters) =>
          live.filterNot { case (rel, e) =>
            !GraftDeletes.isDeleteRel(rel) && {
              val vals = identityValues(rel, e).getOrElse(
                throw new IllegalStateException(
                  s"graft: INSERT OVERWRITE over $dataDir met file $rel written " +
                    "under an earlier partition spec; run compaction first"))
              val verdicts = filters.map(f => PartitionPruning.eval3(f, vals))
              if (verdicts.exists(_.isEmpty) && !verdicts.exists(_.contains(false)))
                throw new IllegalStateException(
                  s"graft: INSERT OVERWRITE filter undecidable for $rel " +
                    s"(${filters.mkString(", ")})")
              verdicts.forall(_.contains(true))
            }
          }
        case DynamicOverwrite =>
          // replaced partitions = exactly the directories this commit
          // wrote into ("" = table root for unpartitioned tables, which
          // makes dynamic == truncate there, the standard semantics)
          def dirOf(rel: String): String = {
            val i = rel.lastIndexOf('/')
            if (i < 0) "" else rel.substring(0, i)
          }
          val writtenDirs = committed.keysIterator.map(dirOf).toSet
          live.filterNot { case (rel, e) =>
            !GraftDeletes.isDeleteRel(rel) && {
              // cloned (ext:) entries compare by their SOURCE-relative
              // layout: same partition dirs, same replace semantics
              val lrel = TableStats.layoutRel(rel)
              if (partFields.nonEmpty &&
                  (!PartField.layoutMatches(lrel, partFields) || e.seq < specSince))
                throw new IllegalStateException(
                  s"graft: dynamic INSERT OVERWRITE over $dataDir met file $rel " +
                    "written under an earlier partition spec; run compaction first")
              writtenDirs.contains(dirOf(lrel))
            }
          }
      }
      Some(base ++ committed)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(dataDir)
    Commit.sweep(dir.getFileSystem(new Configuration()), dir, writeId)
  }
}

/** files: (path relative to the data dir, stats entry) per file this
  * task attempt wrote. */
final case class GraftCommitMessage(files: Seq[(String, TableStats.Entry)])
    extends WriterCommitMessage

final class GraftWriterFactory(
    schema: StructType,
    props: Map[String, String],
    dataDir: String,
    partitionCols: Seq[String],
    writeId: String)
    extends DataWriterFactory {

  // resolved + bound on the DRIVER (the factory is constructed there);
  // serialized with the factory for executor-side eval
  private val genExprs = GeneratedColumns.bound(schema)

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    GraftWriterFactory.newWriter(schema, props, dataDir, partitionCols,
      writeId, partitionId, taskId, genExprs = genExprs)
}

object GraftWriterFactory {

  /** Tracks per-column (min, max) for one output file — only comparable
    * primitive columns; long strings are dropped (no safe truncation).
    * When `bloomCols` is non-empty, additionally folds those columns'
    * non-null values into per-file Bloom bitsets ([[BloomIndex]]) for
    * driver-side equality file pruning on unclustered columns. */
  final class ColStatsTracker(schema: StructType,
                              bloomCols: Seq[String] = Nil,
                              bloomBits: Int = BloomIndex.DefaultBits) {
    import org.apache.spark.sql.types._

    private val bloomTracked: Array[(Int, DataType, BloomIndex.Builder)] =
      bloomCols.distinct.flatMap { c =>
        schema.fields.zipWithIndex.collectFirst {
          case (f, i) if f.name == c && BloomIndex.eligible(f.dataType) =>
            (i, f.dataType, new BloomIndex.Builder(bloomBits))
        }
      }.toArray
    private val tracked = schema.fields.zipWithIndex.filter { case (f, _) =>
      f.dataType match {
        case ByteType | ShortType | IntegerType | LongType | FloatType |
            DoubleType | BooleanType | StringType | DateType => true
        case _ => false
      }
    }
    private val mins = Array.fill[Any](tracked.length)(null)
    private val maxs = Array.fill[Any](tracked.length)(null)
    private val dead = Array.fill[Boolean](tracked.length)(false)
    // exact per-column null counts — stays exact even when range tracking
    // dies (>64-char strings); feeds TopN file pruning's null reasoning
    private val nullCnt = new Array[Long](tracked.length)
    // exact per-column sums of non-null INTEGRAL values (SUM pushdown);
    // a column whose running sum overflows Long goes sum-dead and its
    // key is omitted (absent key under Some = unavailable, see Entry)
    private val summable = tracked.map(_._1.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
    private val sumAcc = new Array[Long](tracked.length)
    private val sumDead = Array.fill[Boolean](tracked.length)(false)

    private def cmp(dt: DataType, a: Any, b: Any): Int = dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType =>
        java.lang.Long.compare(a.asInstanceOf[Number].longValue(),
          b.asInstanceOf[Number].longValue())
      case FloatType | DoubleType =>
        java.lang.Double.compare(a.asInstanceOf[Number].doubleValue(),
          b.asInstanceOf[Number].doubleValue())
      case BooleanType => java.lang.Boolean.compare(
        a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
      case StringType => a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
      case other => throw new IllegalStateException(other.toString)
    }

    def update(row: InternalRow): Unit = {
      var j = 0
      while (j < tracked.length) {
        val (f, i) = tracked(j)
        if (row.isNullAt(i)) nullCnt(j) += 1
        else if (!dead(j) || (summable(j) && !sumDead(j))) {
          // one accessor call feeds both the range and the sum paths; a
          // column where BOTH are dead (e.g. a >64-char string) skips the
          // accessor entirely — this loop runs per row per column on
          // every write
          val v = row.get(i, f.dataType)
          if (!dead(j)) {
            v match {
              case u: UTF8String if u.numChars() > 64 => dead(j) = true // unbounded
              case _ =>
                val vc = v match { case u: UTF8String => u.clone(); case x => x }
                if (mins(j) == null || cmp(f.dataType, vc, mins(j)) < 0) mins(j) = vc
                if (maxs(j) == null || cmp(f.dataType, vc, maxs(j)) > 0) maxs(j) = vc
            }
          }
          if (summable(j) && !sumDead(j)) {
            try sumAcc(j) = Math.addExact(sumAcc(j),
              v.asInstanceOf[Number].longValue())
            catch { case _: ArithmeticException => sumDead(j) = true }
          }
        }
        j += 1
      }
      var bj = 0
      while (bj < bloomTracked.length) {
        val (i, dt, b) = bloomTracked(bj)
        if (!row.isNullAt(i))
          b.add(BloomIndex.canonicalCatalyst(dt, row.get(i, dt)))
        bj += 1
      }
    }

    /** External string forms (what [[PartitionPruning.parse]] reads back). */
    def result: Map[String, (String, String)] = {
      def ext(dt: DataType, v: Any): String = dt match {
        case DateType => java.time.LocalDate.ofEpochDay(
          v.asInstanceOf[Number].longValue()).toString
        case _ => String.valueOf(v)
      }
      tracked.indices.collect {
        case j if !dead(j) && mins(j) != null =>
          val (f, _) = tracked(j)
          f.name -> (ext(f.dataType, mins(j)), ext(f.dataType, maxs(j)))
      }.toMap
    }

    /** Exact null counts of the tracked columns (nonzero entries only —
      * an absent key under `Some(...)` reads back as zero). */
    def nullCounts: Map[String, Long] =
      tracked.indices.collect {
        case j if nullCnt(j) > 0 => tracked(j)._1.name -> nullCnt(j)
      }.toMap

    /** Exact non-null sums of every integral column that did not
      * overflow — key present even for an all-null column (sum 0). */
    def sums: Map[String, Long] =
      tracked.indices.collect {
        case j if summable(j) && !sumDead(j) => tracked(j)._1.name -> sumAcc(j)
      }.toMap

    /** Serialized per-column Bloom bitsets — `None` when the table has no
      * bloom index configured (zero registry bytes); a saturated bitset's
      * key is omitted under `Some` (prunes too little to pay for). */
    def blooms: Option[Map[String, String]] =
      if (bloomTracked.isEmpty) None
      else Some(bloomTracked.flatMap { case (i, _, b) =>
        b.serialize.map(schema.fields(i).name -> _)
      }.toMap)
  }

  /** Watches one file's rows for non-decreasing `write.sort.columns`
    * order (ASC, NULLS FIRST — the order the sorting write path
    * produces). Evidence for [[GraftScan.outputOrdering]]: a path that
    * did not actually sort (binpack compaction, an unsorted row-level
    * rewrite) is detected here, not trusted. Sort columns of a
    * non-comparable type report unsorted (ordering then withheld — safe). */
  final class SortednessTracker(schema: StructType, sortCols: Seq[String]) {
    import org.apache.spark.sql.types._
    private def comparable(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
          DoubleType | BooleanType | StringType | DateType |
          TimestampType | TimestampNTZType => true
      case _ => false
    }
    private val idx: Seq[(Int, DataType)] =
      sortCols.map(c => schema.fieldIndex(c) -> schema(c).dataType)
    private var ok = sortCols.nonEmpty && idx.forall(f => comparable(f._2))
    private var last: Array[Any] = _

    private def cmp(dt: DataType, a: Any, b: Any): Int = {
      if (a == null && b == null) 0
      else if (a == null) -1 // NULLS FIRST
      else if (b == null) 1
      else dt match {
        case FloatType | DoubleType =>
          java.lang.Double.compare(a.asInstanceOf[Number].doubleValue(),
            b.asInstanceOf[Number].doubleValue())
        case BooleanType => java.lang.Boolean.compare(
          a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
        case StringType =>
          a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
        case _ => java.lang.Long.compare(a.asInstanceOf[Number].longValue(),
          b.asInstanceOf[Number].longValue())
      }
    }

    def update(row: InternalRow): Unit = if (ok) {
      val cur = new Array[Any](idx.length)
      var j = 0
      while (j < idx.length) {
        val (i, dt) = idx(j)
        cur(j) =
          if (row.isNullAt(i)) null
          else row.get(i, dt) match { case u: UTF8String => u.clone(); case x => x }
        j += 1
      }
      if (last != null) {
        var k = 0
        var verdict = 0
        while (k < idx.length && verdict == 0) {
          verdict = cmp(idx(k)._2, cur(k), last(k))
          k += 1
        }
        if (verdict < 0) ok = false
      }
      last = cur
    }

    def sorted: Boolean = ok && sortCols.nonEmpty
  }

  def newWriter(
      schema: StructType,
      props: Map[String, String],
      dataDir: String,
      partitionCols: Seq[String],
      writeId: String,
      partitionId: Int,
      taskId: Long,
      filePrefix: String = "part",
      genExprs: Seq[(Int, org.apache.spark.sql.catalyst.expressions.Expression)] = Nil)
      : DataWriter[InternalRow] = {
    val conf = new Configuration()
    val sortCols = GraftTable.sortColumns(props)
      .filter(schema.fieldNames.contains)

    val rowKeyIdx = schema.fieldNames.indexOf(ColumnNames.RowKey)
    val generator = props.get(RowKeyGenerator.Property).map(RowKeyGenerator.load)
    val nonKeySchema = StructType(schema.fields.zipWithIndex
      .collect { case (f, i) if i != rowKeyIdx => f })
    val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(nonKeySchema)
    val partIdx = partitionCols.map(PartField.parse)
      .map(f => f -> schema.fieldNames.indexOf(f.col))

    new DataWriter[InternalRow] {
      private var count = 0L
      // FILE ROLLING: `write.target.file.bytes` (default 512 MiB) closes
      // and registers the current file once parquet's buffered+flushed
      // estimate passes the target, and opens a `-rN` successor — one
      // long-running task writing a hot partition can never produce a
      // multi-GB file (the split planner byte-ranges big files for READS,
      // but compaction, COW rewrites and vacuum move whole files, so
      // bounded file sizes are what keep maintenance incremental at
      // 100 TB). The size check is ADAPTIVE: re-checked after the number
      // of rows the observed bytes/row says fits in HALF the remaining
      // budget (≤128), so wide rows (multi-MB blobs) bound the overshoot
      // instead of sailing 127 rows past the target. 0 disables.
      private val targetBytes = GraftTable.targetFileBytes(props)
      // files already closed by rolling, with their finished entries
      private val completed = scala.collection.mutable.ArrayBuffer[
        (String, TableStats.Entry)]()
      // per partition-dir roll ordinal (first file keeps the legacy name)
      private val rollSeq = scala.collection.mutable.HashMap[String, Int]()
      // per partition-dir row count at which to re-check the open file's
      // size (adaptive — see above)
      private val nextCheck = scala.collection.mutable.HashMap[String, Long]()
      // one open file per partition-value combination seen by this task;
      // value = (writer, relative path, rows written to that file).
      // taskId in the file name keeps every task ATTEMPT's files unique:
      // a retried or speculative attempt never collides with a previous
      // attempt's partial file, and commit keeps exactly one attempt's
      // files per task (resolved via the commit messages).
      private val writers = scala.collection.mutable.LinkedHashMap[
        String, (org.apache.parquet.hadoop.ParquetWriter[InternalRow], String, Long,
          ColStatsTracker, SortednessTracker)]()

      /** Close one open file and build its registry entry (shared by
        * commit and the rolling path). */
      private def finish(
          w: (org.apache.parquet.hadoop.ParquetWriter[InternalRow], String, Long,
            ColStatsTracker, SortednessTracker)): (String, TableStats.Entry) = {
        w._1.close()
        // record the file size so scans can plan splits and report
        // sizeInBytes from the registry alone — zero file I/O at plan
        val len =
          try new Path(s"$dataDir/${w._2}").getFileSystem(conf)
            .getFileStatus(new Path(s"$dataDir/${w._2}")).getLen
          catch { case _: java.io.IOException => -1L }
        (w._2, TableStats.Entry(w._3, w._4.result, len, sorted = w._5.sorted,
          nulls = Some(w._4.nullCounts), sums = Some(w._4.sums),
          blooms = w._4.blooms,
          // the evidence is list-specific: record WHICH list was watched
          sortedBy = if (w._5.sorted) Some(sortCols) else None))
      }

      private def writerFor(row: InternalRow): org.apache.parquet.hadoop.ParquetWriter[InternalRow] = {
        val rel = partIdx.map { case (f, i) =>
          val v = if (row.isNullAt(i)) null else row.get(i, schema(i).dataType)
          f match {
            case PartField.Identity(_) =>
              s"${f.dir}=${PartitionPruning.encodeCatalyst(schema(i).dataType, v)}"
            case PartField.Bucket(n, _) =>
              s"${f.dir}=${PartField.bucketOf(schema(i).dataType, v, n)}"
            case tu: PartField.TimeUnitField =>
              s"${f.dir}=${tu.render(tu.floorOf(schema(i).dataType, v))}"
            case tr: PartField.Truncate =>
              val tok = tr.tokenOf(schema(i).dataType, v)
              s"${f.dir}=${if (tok == null) PartitionPruning.NullToken
                else PartitionPruning.encode(tok)}"
          }
        }.mkString("/")
        val key = if (rel.isEmpty) "" else rel + "/"
        def open(): (org.apache.parquet.hadoop.ParquetWriter[InternalRow], String, Long,
            ColStatsTracker, SortednessTracker) = {
          val n = rollSeq.getOrElse(key, 0)
          val suffix = if (n == 0) "" else s"-r$n"
          val relPath = s"$key$filePrefix-$partitionId-$taskId-$writeId$suffix.parquet"
          val path = new Path(s"$dataDir/$relPath")
          path.getFileSystem(conf).mkdirs(path.getParent)
          (ParquetRowIO.newWriter(path, schema, conf, props), relPath, 0L,
            new ColStatsTracker(schema, BloomIndex.columnsOf(props),
              BloomIndex.bitsOf(props)),
            new SortednessTracker(schema, sortCols))
        }
        var entry = writers.getOrElseUpdate(key, open())
        // roll: finish the full file, start its successor (fresh stats /
        // sort-evidence trackers — per-file semantics are unchanged)
        if (targetBytes > 0 && entry._3 > 0 &&
            entry._3 >= nextCheck.getOrElse(key, 1L)) {
          val size = entry._1.getDataSize
          if (size >= targetBytes) {
            completed += finish(entry)
            rollSeq(key) = rollSeq.getOrElse(key, 0) + 1
            nextCheck(key) = 1L
            entry = open()
          } else {
            // rows that fit in half the remaining budget at the observed
            // bytes/row, clamped to [1, 128]: cheap for narrow rows, a
            // near-every-row check once rows are target-scale wide
            val avg = math.max(1L, size / entry._3)
            val step = math.max(1L, math.min(128L, (targetBytes - size) / avg / 2))
            nextCheck(key) = entry._3 + step
          }
        }
        writers(key) = (entry._1, entry._2, entry._3 + 1, entry._4, entry._5)
        entry._4.update(row)
        entry._5.update(row)
        entry._1
      }

      override def write(row0: InternalRow): Unit = {
        // GENERATED ALWAYS AS columns: compute before row-key generation
        // and partition routing so both see the authoritative value
        // (whatever the query supplied for the column is overwritten)
        val row =
          if (genExprs.isEmpty) row0
          else {
            val values = schema.fields.zipWithIndex.map { case (f, i) =>
              if (row0.isNullAt(i)) null else row0.get(i, f.dataType)
            }
            genExprs.foreach { case (i, e) => values(i) = e.eval(row0) }
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              values.asInstanceOf[Array[Any]])
          }
        val out =
          if (generator.isDefined && rowKeyIdx >= 0 &&
              schema(rowKeyIdx).dataType == StringType) {
            // the generator's key wins over any user-supplied row_key value
            // (reference semantics, InsertIntoHBaseTable.scala:72-73); the
            // generator sees only the non-key columns
            val values = schema.fields.zipWithIndex.map { case (f, i) =>
              if (row.isNullAt(i)) null else row.get(i, f.dataType)
            }
            val nonKey = org.apache.spark.sql.catalyst.InternalRow.fromSeq(
              values.zipWithIndex.collect { case (v, i) if i != rowKeyIdx => v }.toIndexedSeq)
            val scalaRow = toScala(nonKey).asInstanceOf[org.apache.spark.sql.Row]
            val key = generator.get.genRowKey(writeId, partitionId, count, scalaRow)
            // incoming rows are usually UnsafeRow (not updatable) — rebuild
            values(rowKeyIdx) = UTF8String.fromBytes(key)
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              values.asInstanceOf[Array[Any]])
          } else row
        writerFor(out).write(out)
        count += 1
      }
      override def commit(): WriterCommitMessage =
        GraftCommitMessage(completed.toSeq ++ writers.values.map(finish))
      override def abort(): Unit = {
        writers.values.foreach(w => try w._1.close() catch { case _: Exception => () })
        // file cleanup happens in GraftBatchWrite.abort via writeId match
      }
      override def close(): Unit = ()
    }
  }
}
