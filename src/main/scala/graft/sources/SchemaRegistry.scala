package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types._
import org.yaml.snakeyaml.Yaml

import graft.functions.ColumnNames

/** External YAML schema registry, the capability analog of the reference's
  * file-declared schemas (`HBaseClientImpl.scala:117-152`, layout
  * `test.yml:1-60`): schemas are *not* inferred — they are declared in a
  * YAML document per table:
  *
  * {{{
  * tableName:
  *   row:
  *     row_key: string
  *   generator:
  *     name: graft.functions.DefaultRowKeyGenerator
  *   A:                  # column family
  *     A_00: string      # qualifier: type
  *     A_01: int
  * }}}
  *
  * Conversion mirrors the reference's `getSchema`: `row_key` field first,
  * then each `family:qualifier` flattened via [[ColumnNames.combine]], with
  * family/qualifier recorded in field metadata. Type strings accept the
  * reference parser's aliases (SURVEY.md §1.4a) on top of Spark DDL.
  */
object SchemaRegistry {

  final case class TableSpec(
      name: String,
      schema: StructType,
      generatorClass: Option[String])

  /** Alias map for the reference's extra type keywords
    * (`HBaseSqlParser.scala:28-60`); everything else goes to
    * `DataType.fromDDL`. */
  private val aliases: Map[String, DataType] = Map(
    "byte" -> ByteType, "short" -> ShortType, "integer" -> IntegerType,
    "long" -> LongType, "real" -> FloatType, "bool" -> BooleanType,
    "timestamp_ltz" -> TimestampType, "timestamp_ntz" -> TimestampNTZType,
    "dec" -> DecimalType.USER_DEFAULT, "numeric" -> DecimalType.USER_DEFAULT)

  def parseType(s: String): DataType = {
    val k = s.trim.toLowerCase
    aliases.getOrElse(k, DataType.fromDDL(s))
  }

  def parseYaml(yaml: String): Seq[TableSpec] = {
    val root = new Yaml().load[java.util.Map[String, Object]](yaml)
    if (root == null) return Seq.empty
    root.asScala.toSeq.sortBy(_._1).map { case (table, spec0) =>
      val spec = spec0.asInstanceOf[java.util.Map[String, Object]].asScala
      val rowFields = spec.get("row")
        .map(_.asInstanceOf[java.util.Map[String, String]].asScala.toSeq)
        .getOrElse(Seq(ColumnNames.RowKey -> "string"))
        .map { case (k, t) => StructField(k, parseType(t), nullable = false) }
      val generator = spec.get("generator")
        .map(_.asInstanceOf[java.util.Map[String, String]].asScala)
        .flatMap(_.get("name"))
      val familyFields = spec.filter { case (k, _) => k != "row" && k != "generator" }
        .toSeq.sortBy(_._1).flatMap {
        case (family, quals) =>
          quals.asInstanceOf[java.util.Map[String, String]].asScala.toSeq.sortBy(_._1)
            .map { case (qual, t) =>
              val md = new MetadataBuilder()
                .putString("family", family).putString("qualifier", qual).build()
              StructField(ColumnNames.combine(family, qual), parseType(t),
                nullable = true, metadata = md)
            }
      }
      TableSpec(table, StructType(rowFields ++ familyFields), generator)
    }
  }
}
