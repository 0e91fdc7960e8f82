package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Catalog-free access to a graft table directory via the `format("graft")`
  * / `USING graft` spelling — the capability analog of the reference's
  * registered `DataSourceRegister` (shortName "hbase",
  * `HBaseTableFormat.scala:119`) and its direct-FileFormat reads over table
  * files with no catalog (`HBaseFileFormatTestSuite.scala:38-61`).
  *
  *   - `spark.read.format("graft").load(dir)` — schema, storage properties
  *     and partition columns come from the dir's `_meta.yml`.
  *   - `CREATE TABLE t (...) USING graft OPTIONS (path '<dir>')` — the
  *     session catalog keeps the definition, graft serves reads/writes
  *     (`supportsExternalMetadata`: a user-supplied schema is honored).
  *   - `df.write.format("graft").mode("append").save(dir)` — appends
  *     through the same committing writer the catalog path uses (stats
  *     registry, attempt-unique file names).
  */
class GraftTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft"
  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(options: JMap[String, String]): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft: the 'path' option (table directory) is required")
    p
  }

  private def meta(dir: String) = GraftTable.readMeta(dir, new Configuration())

  private def changeFeed(options: JMap[String, String]): Boolean =
    "true".equalsIgnoreCase(String.valueOf(options.get("change-feed")))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = pathOf(options)
    val base = meta(dir).map(_._1).getOrElse(throw new IllegalArgumentException(
      s"graft: no _meta.yml under $dir — pass an explicit schema " +
        "(.schema(...) / CREATE TABLE column list) for bare directories"))
    if (!changeFeed(options)) base
    else StructType(base.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = false)))
  }

  override def inferPartitioning(options: CaseInsensitiveStringMap): Array[Transform] = {
    val dir = pathOf(options)
    meta(dir).map(_._3).getOrElse(Seq.empty)
      .map(s => PartField.toTransform(PartField.parse(s))).toArray
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val dir = pathOf(properties)
    if (changeFeed(properties)) {
      // streaming CDC: the handed schema is the feed schema (base + the
      // two metadata columns inferSchema appended) — strip them back off
      // for the file readers
      val declared = meta(dir).map(_._1).getOrElse(StructType(Nil))
      require(!declared.fieldNames.contains("_change_type") &&
        !declared.fieldNames.contains("_commit_version"),
        "graft: change feed over a table whose own columns shadow " +
          "_change_type/_commit_version would be silently ambiguous")
      // pre-rename files store former physical names: the feed's readers
      // resolve them per file, like the table scan
      val renames = GraftTable.parseRenames(meta(dir).map(_._2)
        .getOrElse(Map.empty).getOrElse(GraftTable.RenamesProp, ""))
      val base = StructType(schema.fields.filterNot(f =>
        f.name == "_change_type" || f.name == "_commit_version"))
      val starting = Option(properties.get("starting-version"))
        .map(_.toLong).getOrElse(0L)
      return new GraftChangeFeedTable(base, dir, starting, renames)
    }
    // schema agreement with the declaration is enforced on the WRITE
    // path only (GraftTable.validatePathWriteSchema, called from
    // newWriteBuilder): reads with a user .schema() keep null-fill
    // semantics and can never mutate table metadata.
    // round-trips bucket(n, col) too: specs (not bare references) reach
    // the table, so writes route rows to the same buckets the catalog
    // path would and scans keep bucket pruning. The WRITE path hands us
    // the dataframe's partitioning — empty for a plain save() — so an
    // empty argument falls back to the directory's declared layout:
    // a path-based append to a partitioned table must route rows into
    // partition directories, never scatter them at the data root.
    val metaOnce = meta(dir) // one read+parse per getTable, not four
    val passed = partitioning.toSeq.map(t => PartField.fromTransform(t).spec)
    val declared = metaOnce.map(_._3).getOrElse(Seq.empty)
    val partCols =
      if (passed.isEmpty) declared
      else {
        require(declared.isEmpty || declared == passed,
          s"graft: partitioning $passed does not match the table's " +
            s"declared layout $declared under $dir")
        passed
      }
    // _meta.yml storage properties (compression, row-group sizing, row-key
    // generator) still apply when present; explicit OPTIONS win. The
    // path-based marker tells the write builder there is no
    // FunctionCatalog here: a requested bucket-clustered distribution
    // could not be resolved, so it must fall back (advisory anyway).
    import scala.jdk.CollectionConverters._
    val storedProps = metaOnce.map(_._2).getOrElse(Map.empty)
    new GraftTable(s"graft.`$dir`", schema,
      storedProps ++ properties.asScala + (GraftTable.PathBasedProp -> "true"),
      dir, partCols)
  }
}
