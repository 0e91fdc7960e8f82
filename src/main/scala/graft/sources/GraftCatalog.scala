package graft.sources

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NoSuchViewException, TableAlreadyExistsException, ViewAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.yaml.snakeyaml.{DumperOptions, Yaml}

/** Filesystem-backed DSv2 `TableCatalog with SupportsNamespaces`: the
  * Spark-native replacement for the reference's ~1400-LoC session/catalog
  * stack (`HBaseExternalCatalog`/`HBaseSessionCatalog`/`HBaseCatalogImpl`/
  * `HBaseSQLContext`, SURVEY.md §2.1 #16-#21, #30). One plugin class
  * registered via `spark.sql.catalog.<name>` gives SHOW/USE/CREATE/DROP,
  * `ns.table` resolution, INSERT, and CTAS from stock Spark.
  *
  * Layout: `<warehouse>/<namespace>/<table>/{_meta.yml, data/part-N.parquet}`.
  * Metadata is a YAML file per table (schema JSON + properties), the
  * capability analog of the reference's YAML schema registry
  * (`HBaseClientImpl.scala:117-152`) — schemas are declared, not inferred.
  * All paths go through Hadoop `FileSystem`, so the same catalog runs on
  * HDFS/S3 for a real cluster.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with ViewCatalog
    with StagingTableCatalog with FunctionCatalog {

  // ---- functions: the bucket transform, resolvable for SPJ planning ----

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespaceExists(namespace))
      Array(Identifier.of(namespace, "bucket"))
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name() == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  private var catalogName: String = _
  private var warehouse: Path = _
  @transient private lazy val conf = new Configuration()
  private def fs: FileSystem = warehouse.getFileSystem(conf)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = new Path(Option(options.get("warehouse"))
      .getOrElse(sys.props("java.io.tmpdir") + "/graft_warehouse"))
    fs.mkdirs(warehouse)
  }

  override def name(): String = catalogName

  private def nsPath(ns: Array[String]): Path = {
    require(ns.length == 1, s"graft catalog supports single-level namespaces, got ${ns.mkString(".")}")
    new Path(warehouse, ns.head)
  }

  private def tablePath(ident: Identifier): Path =
    new Path(nsPath(ident.namespace()), ident.name())

  private def metaFile(ident: Identifier): Path =
    new Path(tablePath(ident), "_meta.yml")

  // ---- namespaces --------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    fs.listStatus(warehouse).filter(_.isDirectory)
      .map(s => Array(s.getPath.getName)).sortBy(_.head)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && fs.exists(nsPath(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] =
    if (namespaceExists(namespace)) Map.empty[String, String].asJava
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(
      namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    if (namespaceExists(namespace)) throw new NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(nsPath(namespace))
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    if (!cascade && listTables(namespace).nonEmpty)
      throw new IllegalStateException(s"namespace ${namespace.mkString(".")} is not empty")
    if (cascade) {
      // route every table through dropTable so the clone-pin machinery
      // runs: pins held by clones INSIDE on outside sources are released
      // (no leaked un-vacuumable sources), and tables pinned by live
      // clones OUTSIDE the namespace refuse exactly like DROP TABLE.
      //
      // PRECHECK the whole pin graph BEFORE destroying anything, so a
      // refused cascade is a NO-OP: a pin is resolvable iff some table
      // inside the namespace holds it (drops release pins, and clone
      // chains are acyclic, so inside-held pins always drain); any pin
      // held by nothing inside must come from a live clone outside —
      // refuse now, while every table still stands.
      val inside = listTables(namespace).toSeq
      val insideHeld: Set[String] = inside.flatMap { t =>
        try ShallowClone.decodePins(loadTable(t).asInstanceOf[GraftTable].props)
          .map(_._2)
        catch { case _: Exception => Nil }
      }.toSet
      val blocked = inside.filter(t =>
        incomingClonePins(t).exists(!insideHeld.contains(_)))
      if (blocked.nonEmpty) throw new IllegalStateException(
        s"graft: cannot drop namespace ${namespace.mkString(".")} CASCADE — " +
          s"live shallow clones outside it pin " +
          s"${blocked.map(fullName).mkString(", ")}; drop or OPTIMIZE (reify) " +
          "those clones first (nothing was dropped)")
      // clones inside pinning sources inside resolve by dropping in
      // passes — each pass drops the unpinned tables (releasing their
      // pins), so their inside sources free up next pass. After the
      // precheck a stuck pass can only mean a CONCURRENT clone landed
      // mid-cascade; refuse then too (partial by necessity, named).
      var remaining = inside
      while (remaining.nonEmpty) {
        val (pinned, free) = remaining.partition(t => incomingClonePins(t).nonEmpty)
        if (free.isEmpty) throw new IllegalStateException(
          s"graft: namespace ${namespace.mkString(".")} CASCADE interrupted — " +
            s"a concurrent clone pinned ${pinned.map(fullName).mkString(", ")} " +
            "mid-cascade; already-unpinned tables were dropped")
        free.foreach(dropTable)
        remaining = pinned
      }
    }
    viewSqlCache.clear() // a cascade may have removed views
    Snapshots.invalidateCachePrefix(nsPath(namespace))
    fs.delete(nsPath(namespace), true)
  }

  // ---- tables ------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(nsPath(namespace)).filter(_.isDirectory)
      .filterNot(_.getPath.getName.startsWith(".")) // in-flight staging dirs
      .filter(s => fs.exists(new Path(s.getPath, "_meta.yml")))
      .map(s => Identifier.of(namespace, s.getPath.getName))
      .sortBy(_.name())
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace().length == 1 && fs.exists(metaFile(ident))

  override def loadTable(ident: Identifier): Table = {
    // metadata tables: `t$files` / `t$snapshots` / `t$wap` resolve to
    // relational views of t's own metadata (see [[GraftMetadataTable]])
    val dollar = ident.name().lastIndexOf('$')
    if (dollar > 0) {
      val kind = ident.name().substring(dollar + 1)
      val baseIdent = Identifier.of(ident.namespace(), ident.name().take(dollar))
      if (GraftMetadataTable.Kinds.contains(kind) && tableExists(baseIdent))
        return new GraftMetadataTable(
          loadTable(baseIdent).asInstanceOf[GraftTable], kind)
    }
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val text = {
      val in = fs.open(metaFile(ident))
      try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    }
    val (schema, props, partCols) = GraftTable.parseMeta(text)
    new GraftTable(fullName(ident), schema, props, tablePath(ident).toString, partCols)
  }

  // ---- time travel --------------------------------------------------------
  // `SELECT ... FROM t VERSION AS OF n` / `TIMESTAMP AS OF ts` resolve
  // here; the returned table pins scan planning to the snapshot manifest
  // recorded at that commit (see [[Snapshots]]). The current schema is
  // used — files predating an ADD COLUMN read NULL for it, same as a
  // live read of old files.

  private def pinned(ident: Identifier, version: Long): Table = {
    val t = loadTable(ident).asInstanceOf[GraftTable]
    val dataDir = new Path(tablePath(ident), "data")
    if (Snapshots.read(fs, dataDir, version).isEmpty)
      throw new IllegalArgumentException(
        s"graft: table ${fullName(ident)} has no snapshot v$version " +
          s"(never recorded, or expired by vacuum)")
    // crashed-commit snapshots hold rows that were never committed —
    // refuse explicit time travel to them. WAP stages stay readable:
    // the audit read is their whole purpose.
    Snapshots.requireLiveHistory(fs, dataDir, version, fullName(ident))
    new GraftTable(fullName(ident), t.schema0,
      t.properties().asScala.toMap, tablePath(ident).toString,
      t.partitionSpecs, pinnedVersion = Some(version))
  }

  /** VERSION AS OF — `version` is the snapshot number as a string. */
  override def loadTable(ident: Identifier, version: String): Table =
    pinned(ident, version.toLongOption.getOrElse {
      // non-numeric: a TAG (VERSION AS OF 'train-v1') — resolve to its
      // pinned snapshot; vacuum never expires tagged manifests
      val dataDir = new Path(tablePath(ident), "data")
      Snapshots.resolveTag(fs, dataDir, version).getOrElse(
        throw new IllegalArgumentException(
          s"graft: VERSION AS OF expects a snapshot number or a tag, and " +
            s"'$version' is no tag of ${fullName(ident)}"))
    })

  /** TIMESTAMP AS OF — `timestamp` arrives in microseconds since epoch;
    * resolves to the latest snapshot committed at or before it. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dataDir = new Path(tablePath(ident), "data")
    val v = Snapshots.latestAsOf(fs, dataDir, timestamp / 1000)
      .getOrElse(throw new IllegalArgumentException(
        s"graft: table ${fullName(ident)} has no snapshot at or before " +
          java.time.Instant.ofEpochMilli(timestamp / 1000)))
    pinned(ident, v)
  }

  /** Advertise DSv2 constraint + column-default support so Spark routes
    * `CONSTRAINT ... CHECK` and `DEFAULT ...` clauses here instead of
    * rejecting them at analysis. */
  override def capabilities(): java.util.Set[TableCatalogCapability] =
    java.util.EnumSet.of(
      TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS)

  /** `CREATE TABLE (..., CONSTRAINT c CHECK (...))`: the default
    * TableCatalog implementation silently DROPS `info.constraints()` —
    * persist them as table properties instead. A new table is empty, so
    * no data validation is needed here. */
  override def createTable(ident: Identifier, info: TableInfo): Table = {
    val props = new java.util.HashMap[String, String](info.properties())
    info.constraints().foreach { c =>
      val (k, v) = GraftCatalog.constraintProp(c)
      props.put(k, v)
    }
    // Convert from info.columns(), NOT info.schema(): the StructType view
    // drops per-column riders — GENERATED ALWAYS AS expressions ride on
    // the v2 Column and must land in field metadata for the write path
    // to compute them (CatalogV2Util.v2ColumnsToStructType is
    // private[sql], so the encoding is replicated here).
    val schema = StructType(info.columns().map { c =>
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
      Option(c.comment()).foreach(mb.putString("comment", _))
      Option(c.defaultValue()).foreach { dv =>
        val existsSql = org.apache.spark.sql.catalyst.expressions
          .Literal(dv.getValue.value(), dv.getValue.dataType()).sql
        mb.putString("CURRENT_DEFAULT", Option(dv.getSql).getOrElse(existsSql))
        mb.putString("EXISTS_DEFAULT", existsSql)
      }
      Option(c.generationExpression()).filter(_.nonEmpty).foreach(
        mb.putString(GeneratedColumns.MetadataKey, _))
      Option(c.identityColumnSpec()).foreach { _ =>
        throw new UnsupportedOperationException(
          s"graft: IDENTITY columns are not supported (column ${c.name()})")
      }
      org.apache.spark.sql.types.StructField(
        c.name(), c.dataType(), c.nullable(), mb.build())
    })
    createTable(ident, schema, info.partitions(), props)
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    // identity transforms only (PARTITIONED BY (col)) — value-derived
    // transforms (bucket/days/...) are not supported
    val partCols = validatePartitions(schema, partitions)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    if (viewExists(ident)) throw new ViewAlreadyExistsException(ident)
    if (!namespaceExists(ident.namespace())) throw new NoSuchNamespaceException(ident.namespace())
    val dir = tablePath(ident)
    fs.mkdirs(new Path(dir, "data"))
    writeMeta(ident, schema, properties.asScala.toMap, partCols)
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val table = loadTable(ident).asInstanceOf[GraftTable]
    var props = table.properties().asScala.toMap
    var schema = table.schema0
    changes.foreach {
      case set: TableChange.SetProperty => props += set.property() -> set.value()
      case rm: TableChange.RemoveProperty => props -= rm.property()
      case add: TableChange.AddColumn if add.fieldNames().length == 1 =>
        // schema evolution: new column appended; existing files read NULL
        // for it (the vectorized reader fills fields a file lacks)
        val name = add.fieldNames()(0)
        // name-based reading means any name that ever carried data in old
        // files (renamed-away OR dropped) would surface THOSE bytes as
        // the new column — reserve the full history
        require(!GraftTable.parseRenames(
            props.getOrElse(GraftTable.RenamesProp, ""))
          .values.flatten.toSet.contains(name) &&
          !GraftTable.retiredNames(props).contains(name),
          s"column name $name previously carried data and still exists " +
            "in old files; pick a fresh name")
        // ADD COLUMN ... DEFAULT v: CURRENT_DEFAULT fills future inserts
        // that omit the column (Spark's analyzer reads it from the field
        // metadata); EXISTS_DEFAULT is the value rows in files written
        // BEFORE this change read back (the vectorized reader fills it
        // for file-missing columns) — a metadata-only backfill, no files
        // touched.
        val field0 = org.apache.spark.sql.types.StructField(
          name, add.dataType(), nullable = true)
        val field = Option(add.defaultValue()).fold(field0) { dv =>
          val lit = dv.getValue
          val existsSql = org.apache.spark.sql.catalyst.expressions
            .Literal(lit.value(), lit.dataType()).sql
          field0.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .putString("CURRENT_DEFAULT", Option(dv.getSql).getOrElse(existsSql))
            .putString("EXISTS_DEFAULT", existsSql)
            .build())
        }
        schema = StructType(schema.fields :+ field)
      case rn: TableChange.RenameColumn if rn.fieldNames().length == 1 =>
        // metadata-only rename: no files rewritten. Old files keep the old
        // physical name; the scan resolves per file via the rename history
        // ([[GraftTable.RenamesProp]]), new writes use the new name.
        val from = rn.fieldNames()(0)
        val to = rn.newName()
        require(schema.fieldNames.contains(from), s"no such column $from")
        require(!schema.fieldNames.contains(to), s"column $to already exists")
        val partSources = table.partitionSpecs.map(PartField.parse(_).col)
        require(!partSources.contains(from),
          s"cannot rename partition column $from")
        require(from != graft.functions.ColumnNames.RowKey,
          "cannot rename the row_key column")
        val refs0 = GraftCatalog.referencesOf(schema, props, from)
        require(refs0.isEmpty,
          s"graft: cannot rename column $from — referenced by " +
            s"${refs0.mkString(", ")}; drop those first")
        val renames = GraftTable.parseRenames(
          props.getOrElse(GraftTable.RenamesProp, ""))
        // renaming BACK to one of this column's own former names is fine
        // (old files then resolve directly); other columns' histories and
        // dropped columns stay reserved
        require(!(renames - from).values.flatten.toSet.contains(to),
          s"$to is a former name of another column and still exists in old files")
        require(!GraftTable.retiredNames(props).contains(to),
          s"$to belonged to a dropped column and still exists in old files")
        // carry the renamed column's own history forward under its new name
        val history = (from +: renames.getOrElse(from, Nil)).filterNot(_ == to)
        props += GraftTable.RenamesProp ->
          GraftTable.renderRenames((renames - from) + (to -> history))
        schema = StructType(schema.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f))
        // column-list properties follow the rename, or every later write
        // fails its "unknown column" validation and the table is
        // unwritable until someone hand-edits properties
        props = GraftCatalog.renameInColumnListProps(props, from, to)
      case up: TableChange.UpdateColumnType if up.fieldNames().length == 1 =>
        // metadata-only TYPE WIDENING: old files keep their narrow
        // physical encoding, Spark's vectorized reader widens them
        // natively, new writes use the wide type. Only lossless
        // promotions are legal.
        val name = up.fieldNames()(0)
        import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
        val cur = schema.fields.find(_.name == name)
          .getOrElse(throw new IllegalArgumentException(s"no such column $name"))
          .dataType
        val to = up.newDataType()
        val ok = (cur, to) match {
          case (IntegerType, LongType) => true
          case (IntegerType, DoubleType) => true
          case (FloatType, DoubleType) => true
          case _ => cur == to
        }
        require(ok, s"graft: cannot change $name from $cur to $to — only " +
          "widening promotions (int->long, int->double, float->double) are " +
          "metadata-only; anything else needs a rewrite")
        val partSrcs = table.partitionSpecs.map(PartField.parse(_).col)
        require(!partSrcs.contains(name),
          s"cannot change the type of partition column $name")
        if (cur != to) {
          schema = StructType(schema.fields.map(f =>
            if (f.name == name) f.copy(dataType = to) else f))
          props += GraftTable.WidenedProp ->
            (GraftTable.widenedNames(props) + name).toSeq.sorted.mkString(",")
          // widening to a bloom-ineligible type (int->double) retires the
          // column from the index automatically — its stale bitsets are
          // already excluded from pruning, and leaving the property would
          // make every later write fail the eligibility validation
          if (!BloomIndex.eligible(to))
            props = GraftCatalog.dropFromColumnListProps(props, name,
              only = Set(BloomIndex.ColumnsProp))
        }
      case del: TableChange.DeleteColumn if del.fieldNames().length == 1 =>
        // metadata-only drop: the column simply stops being requested;
        // bytes in existing files become dead and are compacted away on
        // the next rewrite of each file
        val name = del.fieldNames()(0)
        val partCols0 = table.partitioning().toSeq
          .map(_.references()(0).fieldNames().mkString("."))
        require(schema.fieldNames.contains(name), s"no such column $name")
        require(!partCols0.contains(name), s"cannot drop partition column $name")
        require(name != graft.functions.ColumnNames.RowKey,
          "cannot drop the row_key column")
        val refsD = GraftCatalog.referencesOf(schema, props, name)
        require(refsD.isEmpty,
          s"graft: cannot drop column $name — referenced by " +
            s"${refsD.mkString(", ")}; drop those first")
        schema = StructType(schema.fields.filterNot(_.name == name))
        // the dropped column's name AND its whole rename history move to
        // the retired set: those names still carry data in old files, so
        // a later ADD COLUMN reusing one would resurrect the dropped
        // column's values instead of reading NULL
        val renames0 = GraftTable.parseRenames(
          props.getOrElse(GraftTable.RenamesProp, ""))
        props += GraftTable.RetiredProp ->
          (GraftTable.retiredNames(props) ++
            (name +: renames0.getOrElse(name, Nil))).toSeq.sorted.mkString(",")
        if (renames0.contains(name))
          props += GraftTable.RenamesProp ->
            GraftTable.renderRenames(renames0 - name)
        // a dropped column leaves the per-column list properties (bloom
        // indexes are independent per column)...
        props = GraftCatalog.dropFromColumnListProps(props, name,
          only = GraftCatalog.ColumnListProps - GraftTable.SortColumnsProp)
        // ...but sort evidence is LIST-specific: a file non-decreasing in
        // (a, b) is not sorted by (b), so only the PREFIX before the
        // dropped column remains a valid declaration (the per-file
        // sortedBy prefix check would withhold a bad claim anyway — this
        // keeps the table's declaration one the files can actually honor)
        props.get(GraftTable.SortColumnsProp).foreach { v =>
          val sortList = v.split(',').map(_.trim).filter(_.nonEmpty).toSeq
          val idx = sortList.indexOf(name)
          if (idx >= 0) {
            val prefix = sortList.take(idx)
            props =
              if (prefix.isEmpty) props - GraftTable.SortColumnsProp
              else props + (GraftTable.SortColumnsProp -> prefix.mkString(","))
          }
        }
      case ud: TableChange.UpdateColumnDefaultValue if ud.fieldNames().length == 1 =>
        // ALTER COLUMN ... SET/DROP DEFAULT: changes what FUTURE inserts
        // fill (CURRENT_DEFAULT); rows already written and files predating
        // the column keep reading EXISTS_DEFAULT, which never changes.
        val name = ud.fieldNames()(0)
        require(schema.fieldNames.contains(name), s"no such column $name")
        val newSql = Option(ud.newCurrentDefault()).map(_.getSql)
          .orElse(Option(legacyDefaultSql(ud)).filter(_.nonEmpty))
        schema = StructType(schema.fields.map { f =>
          if (f.name != name) f
          else {
            val mb = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
            newSql match {
              case Some(sql) => f.copy(metadata =
                mb.putString("CURRENT_DEFAULT", sql).build())
              case None => f.copy(metadata =
                mb.remove("CURRENT_DEFAULT").build())
            }
          }
        })
      case ac: TableChange.AddConstraint =>
        val c = ac.constraint()
        val (key, value) = GraftCatalog.constraintProp(c)
        require(!props.contains(key),
          s"constraint ${c.name()} already exists on ${fullName(ident)}")
        c match {
          case chk: org.apache.spark.sql.connector.catalog.constraints.Check
              if ac.validatedTableVersion() == null =>
            // Spark did not pre-validate: scan for a violating row
            // ourselves. A CHECK passes on TRUE and NULL; only a row
            // where the predicate is definitely FALSE violates.
            import org.apache.spark.sql.functions.{expr, lit}
            val spark = org.apache.spark.sql.SparkSession.active
            val bad = spark.read.format("graft")
              .option("path", tablePath(ident).toString).load()
              .filter(expr(chk.predicateSql()) === lit(false)).limit(1).count()
            require(bad == 0L, s"cannot ADD CONSTRAINT ${c.name()}: " +
              s"existing rows of ${fullName(ident)} violate " +
              s"(${chk.predicateSql()})")
          case _ => () // key constraints are informational — no scan
        }
        props += key -> value
      case dc: TableChange.DropConstraint =>
        val key = GraftTable.ConstraintPropPrefix + dc.name()
        val keyK = GraftTable.KeyConstraintPropPrefix + dc.name()
        if (!props.contains(key) && !props.contains(keyK) && !dc.ifExists())
          throw new IllegalArgumentException(
            s"no such constraint ${dc.name()} on ${fullName(ident)}")
        props -= key
        props -= keyK
      case other =>
        throw new UnsupportedOperationException(s"graft catalog: unsupported change $other")
    }
    // write back the original SPEC strings (bucket(n,col) must survive
    // an ALTER, not collapse to its source column)
    writeMeta(ident, schema, props, table.partitionSpecs)
    loadTable(ident)
  }

  /** Incoming shallow-clone pins on this table (tags with the reserved
    * `clone-` prefix): live clones still reference its files, so DROP
    * and RENAME must refuse — the pin tag only defends against vacuum,
    * not against deleting or moving the whole directory.
    *
    * Fails CLOSED: [[Snapshots.tags]] already treats a missing
    * `_tags.tsv` as "no pins"; any other read failure propagates.
    * Swallowing it would let DROP/RENAME of a pinned source proceed on
    * a transient FS error — the exact corruption this guard prevents. */
  private def incomingClonePins(ident: Identifier): Seq[String] =
    Snapshots.tags(fs, new Path(tablePath(ident), "data"))
      .keysIterator.filter(_.startsWith("clone-")).toSeq.sorted

  /** If `ident` is a shallow clone, release the vacuum-pin tag it holds
    * on its source so the source can retire the snapshot again.
    * Best-effort: a vanished/renamed source must not block destroying
    * the clone. Called by every path that destroys the table's identity
    * — DROP TABLE, REPLACE TABLE commit, DROP NAMESPACE CASCADE. */
  private def releaseOutgoingClonePin(ident: Identifier): Unit =
    try {
      val t = loadTable(ident).asInstanceOf[GraftTable]
      // ALL pins — the direct source plus any transitive upstream pins a
      // clone-of-a-clone holds (ShallowClone.PinsProp)
      ShallowClone.decodePins(t.props).foreach { case (dir, tag) =>
        try Snapshots.dropTag(dir, tag)
        catch { case _: Exception => () }
      }
    } catch { case _: Exception => () }

  private def requireNoIncomingClonePins(ident: Identifier, verb: String): Unit = {
    val pins = incomingClonePins(ident)
    if (pins.nonEmpty) throw new IllegalStateException(
      s"graft: cannot $verb ${fullName(ident)} — live shallow clones pin " +
        s"its snapshots (${pins.mkString(", ")}); drop or OPTIMIZE (reify) " +
        "the clones first, or remove the pins explicitly with " +
        "ALTER TABLE ... DROP TAG if the clones are gone")
  }

  override def dropTable(ident: Identifier): Boolean =
    tableExists(ident) && {
      requireNoIncomingClonePins(ident, "drop")
      releaseOutgoingClonePin(ident)
      // a recreated table reuses these exact paths — purge the snapshot
      // resolve cache at the generation boundary (see
      // [[Snapshots.invalidateCacheUnder]]) AND the transaction
      // coordinator's version HEAD (a surviving entry would outlive the
      // version counter reset and permanently un-pin serves of the next
      // incarnation)
      Snapshots.invalidateCacheUnder(new Path(tablePath(ident), "data"))
      Transactions.purgeHead(warehouse.toString, tablePath(ident).toString)
      fs.delete(tablePath(ident), true)
    }

  override def renameTable(oldIdent: Identifier, newIdent0: Identifier): Unit = {
    // RENAME TO targets often arrive catalog-qualified (`graft.ns.t`);
    // strip our own catalog name so both spellings work
    val newIdent =
      if (newIdent0.namespace().length == 2 && newIdent0.namespace()(0) == catalogName)
        Identifier.of(newIdent0.namespace().drop(1), newIdent0.name())
      else newIdent0
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    if (!namespaceExists(newIdent.namespace()))
      throw new NoSuchNamespaceException(newIdent.namespace())
    val pins = incomingClonePins(oldIdent)
    if (pins.nonEmpty) throw new IllegalStateException(
      s"graft: cannot rename ${fullName(oldIdent)} — live shallow clones " +
        s"reference its files by absolute path (${pins.mkString(", ")}); " +
        "drop or OPTIMIZE (reify) the clones first")
    Snapshots.invalidateCacheUnder(new Path(tablePath(oldIdent), "data"))
    // the coordinator HEAD keys by directory: the old dir's entry is
    // garbage after the rename (a future table created AT the old path
    // would inherit it as a stale pin)
    Transactions.purgeHead(warehouse.toString, tablePath(oldIdent).toString)
    fs.rename(tablePath(oldIdent), tablePath(newIdent))
    invalidateViewCache(oldIdent)
    invalidateViewCache(newIdent)
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog) --------------------------
  // CTAS writes land in a hidden `.staging` sibling directory; only a
  // successful commit renames it into place (one FS rename — atomic on
  // HDFS and local FS). A failed CTAS aborts by deleting the staging dir,
  // so no empty/partial table is ever visible — the semantics the
  // reference implements by dropping the table on insert failure
  // (CreateHBaseTableAsSelectCommand.scala:53-72), done the Spark way.

  /** PARTITION SPEC EVOLUTION: re-point the table's partitioning without
    * touching a single data file. New writes lay out under the new spec;
    * files from earlier specs keep reading correctly (rows carry the
    * partition columns) but stop directory-pruning until compaction
    * migrates them; partition DELETEs route to the row-level path while
    * layouts are mixed ([[GraftTable.canDeleteWhere]]). */
  private[sources] def setPartitionSpec(ident: Identifier, specs: Seq[String]): Unit = {
    val table = loadTable(ident).asInstanceOf[GraftTable]
    val schema = table.schema0
    validateFields(schema, specs.map(PartField.parse))
    // Record the version the NEW spec applies from, under the commit
    // lock so no commit can slip between reading it and publishing the
    // spec. A parameter-only change (bucket count, truncate width) keeps
    // directory names identical — only the seq boundary tells old-spec
    // files apart, so this is a correctness bound, not bookkeeping.
    val dataDir = new Path(tablePath(ident), "data")
    TableStats.withLock(fs, dataDir) {
      val since = Snapshots.nextVersion(fs, dataDir)
      writeMeta(ident, schema,
        table.properties().asScala.toMap +
          (GraftTable.SpecSinceProp -> since.toString), specs)
    }
  }

  private def validateFields(schema: StructType, fields: Seq[PartField.Field]): Unit =
    fields.foreach { f =>
      require(schema.fieldNames.contains(f.col),
        s"partition column ${f.col} not in schema")
      f match {
        case PartField.Identity(c) =>
          require(PartitionPruning.supportsPartitionType(schema(c).dataType),
            s"graft catalog: unsupported partition column type " +
              s"${schema(c).dataType.simpleString} for column $c")
        case PartField.Bucket(_, c) =>
          require(PartField.supportsBucketType(schema(c).dataType),
            s"graft catalog: unsupported bucket column type " +
              s"${schema(c).dataType.simpleString} for column $c")
        case tu: PartField.TimeUnitField =>
          require(PartField.supportsDayType(schema(tu.col).dataType),
            s"graft catalog: ${tu.spec} needs a date/timestamp column, got " +
              s"${schema(tu.col).dataType.simpleString} for column ${tu.col}")
        case tr: PartField.Truncate =>
          require(PartField.supportsTruncType(schema(tr.col).dataType),
            s"graft catalog: ${tr.spec} needs an integral or string column, " +
              s"got ${schema(tr.col).dataType.simpleString} for column ${tr.col}")
      }
    }

  private def validatePartitions(schema: StructType, partitions: Array[Transform]): Seq[String] = {
    val fields = partitions.toSeq.map(PartField.fromTransform)
    validateFields(schema, fields)
    fields.map(_.spec)
  }

  private def stage(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String],
      replace: Boolean,
      requireExists: Boolean): StagedTable = {
    val partCols = validatePartitions(schema, partitions)
    if (!namespaceExists(ident.namespace())) throw new NoSuchNamespaceException(ident.namespace())
    if (!replace && tableExists(ident)) throw new TableAlreadyExistsException(ident)
    if (viewExists(ident)) throw new ViewAlreadyExistsException(ident)
    if (requireExists && !tableExists(ident)) throw new NoSuchTableException(ident)
    val stagingDir = new Path(nsPath(ident.namespace()),
      s".${ident.name()}.staging-${java.util.UUID.randomUUID()}")
    fs.mkdirs(new Path(stagingDir, "data"))
    val opts = new DumperOptions()
    opts.setDefaultFlowStyle(DumperOptions.FlowStyle.BLOCK)
    val yaml = new Yaml(opts).dump(Map(
      "schema_json" -> schema.json,
      "properties" -> properties.asScala.toMap.asJava,
      "partitions" -> partCols.asJava).asJava)
    val out = fs.create(new Path(stagingDir, "_meta.yml"), true)
    try out.write(yaml.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val inner = new GraftTable(fullName(ident), schema,
      properties.asScala.toMap, stagingDir.toString, partCols)
    new GraftStagedTable(inner, () => {
      val dest = tablePath(ident)
      // REPLACE destroys the old table exactly like DROP: refuse while
      // live shallow clones still reference its files (the commit's
      // fs.delete would physically destroy them). Checked at COMMIT
      // time — a clone created between stage and commit must still be
      // protected. On refusal Spark's exec node aborts the staged
      // table, cleaning the staging dir.
      val replacing = replace && fs.exists(dest)
      if (replacing) requireNoIncomingClonePins(ident, "replace")
      // ... and capture any pins the replaced table itself held on clone
      // sources, to release AFTER the old table is actually destroyed: a
      // delete failure below must leave the surviving clone still pinned
      // (releasing first would let the source vacuum reclaim files the
      // intact clone references — the corruption the pin prevents)
      val outgoing =
        if (replacing)
          try ShallowClone.decodePins(
            loadTable(ident).asInstanceOf[GraftTable].props)
          catch { case _: Exception => Nil }
        else Nil
      // REPLACE is a table-generation boundary exactly like DROP+CREATE:
      // purge the snapshot resolve cache for the destination paths (the
      // staging dir's entries die with their paths — stat validation
      // fails — but dest's old-generation entries could collide)
      Snapshots.invalidateCacheUnder(new Path(dest, "data"))
      if (replacing) {
        // ... and the transaction coordinator's version HEAD, exactly as
        // dropTable does: the recreated table restarts its version
        // counter, so a surviving entry (mergeHead keeps the per-dir
        // max) would make ServePin see head > liveVersion forever and
        // silently pin serves of the new incarnation to EMPTY
        Transactions.purgeHead(warehouse.toString, dest.toString)
        fs.delete(dest, true)
        outgoing.foreach { case (dir, tag) =>
          try Snapshots.dropTag(dir, tag) catch { case _: Exception => () }
        }
      }
      if (!fs.rename(stagingDir, dest))
        throw new IllegalStateException(
          s"graft: staged commit failed renaming $stagingDir -> $dest " +
            "(concurrent create?)")
    }, () => { fs.delete(stagingDir, true); () })
  }

  override def stageCreate(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, replace = false, requireExists = false)

  override def stageReplace(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, replace = true, requireExists = true)

  override def stageCreateOrReplace(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, replace = true, requireExists = false)

  // ---- views -------------------------------------------------------------
  // View text is stored per view (`<ns>/<view>/_view.yml`) and expanded at
  // resolution time by [[GraftViewSubstitution]] — the capability analog of
  // the reference's view handling in its session catalog
  // (HBaseSessionCatalog.scala:63-155). The DSv2 `ViewCatalog` interface is
  // implemented in full so SQL DDL lights up automatically once Spark wires
  // it; until then [[GraftViewSqlParser]] bridges CREATE/DROP/SHOW VIEWS.

  private def viewFile(ident: Identifier): Path =
    new Path(tablePath(ident), "_view.yml")

  override def viewExists(ident: Identifier): Boolean = {
    GraftCatalog.viewStatCalls.incrementAndGet()
    ident.namespace().length == 1 && fs.exists(viewFile(ident))
  }

  // [[GraftViewSubstitution]] probes EVERY unresolved relation naming this
  // catalog on EVERY analyzer pass; uncached that is a driver-side FS stat
  // (and, for actual views, a full _view.yml read) per relation per pass.
  // Both outcomes are cached — Some(viewSql) for views, None for
  // non-views — and invalidated by the DDL that can change them on this
  // catalog instance, the same single-writer assumption the table
  // metadata already makes.
  private val viewSqlCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[String]]()

  private def viewCacheKey(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString("\u0000")

  private[sources] def invalidateViewCache(ident: Identifier): Unit =
    viewSqlCache.remove(viewCacheKey(ident))

  /** Cached view-text lookup for resolution-time probes: None when the
    * ident is not a view. */
  def lookupViewSqlCached(ident: Identifier): Option[String] =
    viewSqlCache.computeIfAbsent(viewCacheKey(ident),
      _ => if (viewExists(ident)) Some(loadView(ident).query()) else None)

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    fs.listStatus(nsPath(ns)).filter(_.isDirectory)
      .filter(s => fs.exists(new Path(s.getPath, "_view.yml")))
      .map(s => Identifier.of(ns, s.getPath.getName))
      .sortBy(_.name())
  }

  override def loadView(ident: Identifier): View = {
    if (!viewExists(ident)) throw new NoSuchViewException(ident)
    val in = fs.open(viewFile(ident))
    val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    val m = new Yaml().load[java.util.Map[String, Object]](text).asScala
    GraftView(
      name = fullName(ident),
      sql = m("sql").asInstanceOf[String],
      catalog = m.get("current_catalog").map(_.asInstanceOf[String]).getOrElse(catalogName),
      namespace = m.get("current_namespace")
        .map(_.asInstanceOf[java.util.List[String]].asScala.toArray).getOrElse(ident.namespace()),
      viewSchema = DataType.fromJson(m("schema_json").asInstanceOf[String]).asInstanceOf[StructType],
      props = m.get("properties")
        .map(_.asInstanceOf[java.util.Map[String, String]].asScala.toMap).getOrElse(Map.empty))
  }

  override def createView(info: ViewInfo): View = {
    val ident = info.ident()
    if (viewExists(ident)) throw new ViewAlreadyExistsException(ident)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    if (!namespaceExists(ident.namespace())) throw new NoSuchNamespaceException(ident.namespace())
    fs.mkdirs(tablePath(ident))
    writeView(ident, info.sql(), info.currentCatalog(), info.currentNamespace(),
      info.schema(), info.properties().asScala.toMap)
    invalidateViewCache(ident)
    loadView(ident)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val v = loadView(ident).asInstanceOf[GraftView]
    var props = v.props
    changes.foreach {
      case set: ViewChange.SetProperty => props += set.property() -> set.value()
      case rm: ViewChange.RemoveProperty => props -= rm.property()
      case other =>
        throw new IllegalArgumentException(s"graft catalog: unsupported view change $other")
    }
    writeView(ident, v.sql, v.catalog, v.namespace, v.viewSchema, props)
    invalidateViewCache(ident)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean = {
    invalidateViewCache(ident)
    viewExists(ident) && fs.delete(tablePath(ident), true)
  }

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!viewExists(oldIdent)) throw new NoSuchViewException(oldIdent)
    if (viewExists(newIdent) || tableExists(newIdent))
      throw new ViewAlreadyExistsException(newIdent)
    if (!namespaceExists(newIdent.namespace()))
      throw new NoSuchNamespaceException(newIdent.namespace())
    fs.rename(tablePath(oldIdent), tablePath(newIdent))
    invalidateViewCache(oldIdent)
    invalidateViewCache(newIdent)
  }

  private def writeView(
      ident: Identifier,
      sql: String,
      currentCatalog: String,
      currentNamespace: Array[String],
      schema: StructType,
      props: Map[String, String]): Unit = {
    val opts = new DumperOptions()
    opts.setDefaultFlowStyle(DumperOptions.FlowStyle.BLOCK)
    val yaml = new Yaml(opts).dump(Map(
      "sql" -> sql,
      "current_catalog" -> currentCatalog,
      "current_namespace" -> java.util.Arrays.asList(currentNamespace: _*),
      "schema_json" -> schema.json,
      "properties" -> props.asJava).asJava)
    val out = fs.create(viewFile(ident), true)
    try out.write(yaml.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  // ---- helpers -----------------------------------------------------------

  private def fullName(ident: Identifier): String =
    (catalogName +: ident.namespace() :+ ident.name()).mkString(".")

  // ---- shallow clone plumbing ([[ShallowClone]]) -------------------------

  private[sources] def fullNameOf(ident: Identifier): String = fullName(ident)

  /** Create the clone's table shell: same schema, same PARTITION SPEC
    * strings (bucket(n,c) must survive verbatim — the generic createTable
    * path would re-derive them from Transforms), source properties plus
    * the clone provenance props. The caller writes the initial manifest. */
  private[sources] def createCloneShell(
      ident: Identifier, schema: StructType, props: Map[String, String],
      partSpecs: Seq[String]): GraftTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    if (viewExists(ident)) throw new ViewAlreadyExistsException(ident)
    if (!namespaceExists(ident.namespace())) throw new NoSuchNamespaceException(ident.namespace())
    val dir = tablePath(ident)
    fs.mkdirs(new Path(dir, "data"))
    writeMeta(ident, schema, props, partSpecs)
    loadTable(ident).asInstanceOf[GraftTable]
  }

  private def writeMeta(
      ident: Identifier,
      schema: StructType,
      props: Map[String, String],
      partCols: Seq[String] = Seq.empty): Unit = {
    // refuse reserved metadata/change-feed column names at every
    // schema-writing path: CREATE, CTAS commit, ADD/RENAME COLUMN
    GraftTable.requireNoReservedColumns(schema)
    val opts = new DumperOptions()
    opts.setDefaultFlowStyle(DumperOptions.FlowStyle.BLOCK)
    val yaml = new Yaml(opts).dump(Map(
      "schema_json" -> schema.json,
      "properties" -> props.asJava,
      "partitions" -> partCols.asJava).asJava)
    val out = fs.create(metaFile(ident), true)
    try out.write(yaml.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Pre-4.1 callers deliver SET DEFAULT through the deprecated
    * string-typed accessor — kept as a deliberate fallback, isolated so
    * the deprecation is acknowledged exactly once. */
  @scala.annotation.nowarn("cat=deprecation")
  private def legacyDefaultSql(
      ud: org.apache.spark.sql.connector.catalog.TableChange.UpdateColumnDefaultValue)
      : String = ud.newDefaultValue()
}

/** A staged (not yet visible) table: all reads/writes go to the hidden
  * staging directory via the wrapped [[GraftTable]]; commit renames the
  * staging dir into the table's final location, abort deletes it. */
final class GraftStagedTable(
    inner: GraftTable,
    onCommit: () => Unit,
    onAbort: () => Unit)
    extends StagedTable with SupportsRead with SupportsWrite {
  override def name(): String = inner.name()
  override def schema(): StructType = inner.schema()
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def properties(): java.util.Map[String, String] = inner.properties()
  override def capabilities(): java.util.Set[TableCapability] = inner.capabilities()
  override def newScanBuilder(options: CaseInsensitiveStringMap) =
    inner.newScanBuilder(options)
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo) =
    inner.newWriteBuilder(info)
  override def commitStagedChanges(): Unit = onCommit()
  override def abortStagedChanges(): Unit = onAbort()
}

/** A stored graft view: the SQL text plus the catalog/namespace context it
  * was created in (used to resolve relative table names at expansion). */
final case class GraftView(
    name: String,
    sql: String,
    catalog: String,
    namespace: Array[String],
    viewSchema: StructType,
    props: Map[String, String]) extends View {
  override def query(): String = sql
  override def currentCatalog(): String = catalog
  override def currentNamespace(): Array[String] = namespace
  override def schema(): StructType = viewSchema
  override def queryColumnNames(): Array[String] = viewSchema.fieldNames
  override def columnAliases(): Array[String] = Array.empty
  override def columnComments(): Array[String] = Array.empty
  override def properties(): java.util.Map[String, String] = props.asJava
}

object GraftCatalog {
  /** Filesystem stats performed by [[GraftCatalog.viewExists]]. Diagnostics
    * only — lets tests assert repeated query analysis hits the existence
    * cache instead of the filesystem. */
  val viewStatCalls = new java.util.concurrent.atomic.AtomicLong(0)

  /** (property key, value) under which a DSv2 constraint persists:
    * CHECK → `graft.constraint.<name>` = predicate SQL (enforced);
    * PRIMARY KEY / UNIQUE → `graft.keyconstraint.<name>` =
    * `KIND|rely|cols` (informational). FOREIGN KEY is refused — honoring
    * it would need cross-table resolution this catalog does not do. */
  private[sources] def constraintProp(
      c: org.apache.spark.sql.connector.catalog.constraints.Constraint)
      : (String, String) = {
    import org.apache.spark.sql.connector.catalog.constraints._
    def cols(refs: Array[org.apache.spark.sql.connector.expressions.NamedReference]) =
      refs.map(_.fieldNames().mkString(".")).toSeq
    c match {
      case chk: Check =>
        (GraftTable.ConstraintPropPrefix + chk.name(), chk.predicateSql())
      case pk: PrimaryKey =>
        (GraftTable.KeyConstraintPropPrefix + pk.name(),
          GraftTable.renderKeyConstraint("PRIMARY KEY", pk.rely(), cols(pk.columns())))
      case u: Unique =>
        (GraftTable.KeyConstraintPropPrefix + u.name(),
          GraftTable.renderKeyConstraint("UNIQUE", u.rely(), cols(u.columns())))
      case other => throw new UnsupportedOperationException(
        s"graft: cannot store constraint ${other.toDDL} " +
          "(CHECK is enforced; PRIMARY KEY/UNIQUE are informational; " +
          "FOREIGN KEY is unsupported)")
    }
  }

  /** Features whose STORED SQL/column lists reference `name`: CHECK
    * constraints, PRIMARY KEY/UNIQUE column lists, and other columns'
    * GENERATED ALWAYS AS expressions. RENAME/DROP COLUMN refuses while
    * any exist — the stored text would otherwise silently stop
    * resolving, making every later INSERT fail analysis (an unwritable
    * table) or a constraint unenforceable. Unparseable stored SQL counts
    * as a reference (conservative). */
  private[sources] def referencesOf(
      schema: StructType, props: Map[String, String], name: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
    val lower = name.toLowerCase(java.util.Locale.ROOT)
    def sqlRefs(sql: String): Boolean =
      try CatalystSqlParser.parseExpression(sql).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.last.toLowerCase(java.util.Locale.ROOT)
      }.contains(lower)
      catch { case _: Exception => true }
    val checks = props.toSeq.collect {
      case (k, sql) if k.startsWith(GraftTable.ConstraintPropPrefix) &&
          sqlRefs(sql) =>
        s"CHECK constraint ${k.stripPrefix(GraftTable.ConstraintPropPrefix)}"
    }
    val keys = props.toSeq
      .filter(_._1.startsWith(GraftTable.KeyConstraintPropPrefix))
      .flatMap { case (k, v) =>
        val (kind, _, cols) = GraftTable.parseKeyConstraint(v)
        if (cols.exists(_.toLowerCase(java.util.Locale.ROOT) == lower))
          Some(s"$kind constraint ${k.stripPrefix(GraftTable.KeyConstraintPropPrefix)}")
        else None
      }
    val gens = schema.fields.toSeq.collect {
      case f if f.name != name &&
          f.metadata.contains(GeneratedColumns.MetadataKey) &&
          sqlRefs(f.metadata.getString(GeneratedColumns.MetadataKey)) =>
        s"generated column ${f.name}"
    }
    checks ++ keys ++ gens
  }

  /** Table properties holding comma-separated DATA-column lists; every
    * one must track RENAME/DROP COLUMN or later writes fail their
    * "unknown column" validation against the new schema. */
  private[sources] val ColumnListProps: Set[String] = Set(
    GraftTable.SortColumnsProp,
    BloomIndex.ColumnsProp,
    ParquetRowIO.WriteProps.BloomColumns)

  private[sources] def renameInColumnListProps(
      props: Map[String, String], from: String, to: String): Map[String, String] =
    ColumnListProps.foldLeft(props) { (ps, p) =>
      ps.get(p).fold(ps) { v =>
        ps + (p -> v.split(',').map(_.trim).filter(_.nonEmpty)
          .map(c => if (c == from) to else c).mkString(","))
      }
    }

  private[sources] def dropFromColumnListProps(
      props: Map[String, String], name: String,
      only: Set[String] = ColumnListProps): Map[String, String] =
    only.foldLeft(props) { (ps, p) =>
      ps.get(p).fold(ps) { v =>
        val rest = v.split(',').map(_.trim).filter(_.nonEmpty).filterNot(_ == name)
        if (rest.isEmpty) ps - p else ps + (p -> rest.mkString(","))
      }
    }
}
