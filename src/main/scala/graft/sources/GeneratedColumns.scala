package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, BindReferences, Cast, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.types.StructType

/** `GENERATED ALWAYS AS (expr)` columns (Spark 4 DSv2,
  * `TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS`).
  *
  * Spark validates and persists the generation expression into the
  * field's metadata at CREATE TABLE; COMPUTING it on write is the
  * source's job (same division of labor as Delta). [[bound]] resolves the
  * expression against the table schema ON THE DRIVER (full analyzer:
  * function lookup + type coercion) and binds it to row ordinals; the
  * serialized bound expressions evaluate per row inside the data writer —
  * before row-key generation and partition routing, so both see the
  * computed value. The computed value is authoritative: whatever the
  * query supplied for the column (including the NULL Spark fills for an
  * omitted DEFAULT-less column) is overwritten, which is exactly the
  * GENERATED ALWAYS contract. */
object GeneratedColumns {

  val MetadataKey: String =
    org.apache.spark.sql.catalyst.util.GeneratedColumn.GENERATION_EXPRESSION_METADATA_KEY

  /** (field ordinal, bound expression) per generated column, resolved and
    * coerced by the active session's analyzer. MUST be called on the
    * driver; the result is serializable for executor-side eval. Returns
    * Nil when the schema has no generated columns. */
  def bound(schema: StructType): Seq[(Int, Expression)] = {
    val gens = schema.fields.zipWithIndex
      .filter(_._1.metadata.contains(MetadataKey)).toSeq
    if (gens.isEmpty) return Nil
    val spark = SparkSession.active
    val attrs = schema.fields.toIndexedSeq.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)())
    val aliased = gens.map { case (f, _) =>
      val parsed = spark.sessionState.sqlParser
        .parseExpression(f.metadata.getString(MetadataKey))
      Alias(Cast(parsed, f.dataType), f.name)()
    }
    val analyzed = spark.sessionState
      .executePlan(Project(aliased, LocalRelation(attrs)))
      .analyzed.asInstanceOf[Project]
    gens.map(_._2).zip(analyzed.projectList.map {
      case a: Alias => BindReferences.bindReference(a.child, attrs)
      case e => BindReferences.bindReference(e, attrs)
    })
  }
}
