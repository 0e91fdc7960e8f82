package graft.functions

/** Flattened `family:qualifier` column naming, the reference's data model
  * for KV-store columns (SURVEY.md §1.1; reference
  * `HBaseSparkFormatUtils.scala:8-15`, splitter constant
  * `SparkHBaseConstants.java:7`). Our engine keeps the same user-visible
  * names as plain StructField names (backquoted in SQL), with the
  * family/qualifier recorded in field metadata.
  */
object ColumnNames {

  val Splitter = ":"

  /** The synthetic key column, always first in a table schema
    * (reference `SparkHBaseConstants.java:8`). */
  val RowKey = "row_key"

  /** `("A", "A_00")` → `"A:A_00"`. */
  def combine(family: String, qualifier: String): String = {
    require(!family.contains(Splitter),
      s"column family must not contain '$Splitter': $family")
    s"$family$Splitter$qualifier"
  }

  /** `"A:A_00"` → `("A", "A_00")`; splits on the FIRST colon so qualifiers
    * may themselves contain colons. */
  def split(name: String): (String, String) = {
    val i = name.indexOf(Splitter)
    require(i > 0, s"not a family:qualifier name: $name")
    (name.substring(0, i), name.substring(i + 1))
  }
}
