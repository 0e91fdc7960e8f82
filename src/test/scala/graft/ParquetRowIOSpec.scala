package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.filter2.predicate.FilterApi
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{GraftReaderFactory, ParquetRowIO}

/** Direct round-trips of the parquet row writer through graft's one
  * decoder ([[GraftReaderFactory]], Spark's vectorized reader),
  * independent of the catalog: every supported type, nulls in every
  * position, empty files, pruned and filtered reads. */
class ParquetRowIOSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("b", BooleanType), StructField("y", ByteType),
    StructField("s", ShortType), StructField("i", IntegerType),
    StructField("l", LongType), StructField("f", FloatType),
    StructField("d", DoubleType), StructField("str", StringType),
    StructField("bin", BinaryType), StructField("dt", DateType),
    StructField("ts", TimestampType), StructField("tsn", TimestampNTZType)))

  private def tmp(): Path =
    new Path(Files.createTempDirectory("rowio").resolve("t.parquet").toString)

  private def write(path: Path, rows: Seq[InternalRow],
      props: Map[String, String] = Map.empty): Unit = {
    val w = ParquetRowIO.newWriter(path, schema, new Configuration(), props)
    try rows.foreach(w.write) finally w.close()
  }

  /** Decoded rows are views into the reader's batch: copy each out. */
  private def readAll(path: Path, sch: StructType): Seq[InternalRow] = {
    val proj = UnsafeProjection.create(sch)
    val r = GraftReaderFactory.rows(path.toString, sch)
    val buf = scala.collection.mutable.ArrayBuffer[InternalRow]()
    try while (r.next()) buf += proj(r.get()).copy()
    finally r.close()
    buf.toSeq
  }

  test("all supported types round-trip exactly") {
    val row = InternalRow(
      true, 7.toByte, (-300).toShort, 42, Long.MaxValue - 1, 1.5f,
      math.Pi, UTF8String.fromString("héllo"), Array[Byte](1, 2, 3),
      19500, 1704067200123456L, 1704067200654321L)
    val p = tmp()
    write(p, Seq(row))
    val back = readAll(p, schema)
    assert(back.length == 1)
    val g = back.head
    assert(g.getBoolean(0) && g.getByte(1) == 7 && g.getShort(2) == -300)
    assert(g.getInt(3) == 42 && g.getLong(4) == Long.MaxValue - 1)
    assert(g.getFloat(5) == 1.5f && g.getDouble(6) == math.Pi)
    assert(g.getUTF8String(7).toString == "héllo")
    assert(g.getBinary(8).toSeq == Seq[Byte](1, 2, 3))
    assert(g.getInt(9) == 19500)
    assert(g.getLong(10) == 1704067200123456L && g.getLong(11) == 1704067200654321L)
  }

  test("nulls in every position and empty files") {
    val p = tmp()
    write(p, Seq(InternalRow(Seq.fill[Any](schema.length)(null): _*)))
    val g = readAll(p, schema).head
    (0 until schema.length).foreach(i => assert(g.isNullAt(i), s"field $i"))

    val empty = tmp()
    write(empty, Seq.empty)
    assert(readAll(empty, schema).isEmpty)
  }

  test("pruned read returns only requested columns, in requested order") {
    val p = tmp()
    write(p, Seq(InternalRow(
      true, 1.toByte, 2.toShort, 3, 4L, 5f, 6.0,
      UTF8String.fromString("x"), Array[Byte](9), 10, 11L, 12L)))
    val pruned = StructType(Seq(schema("l"), schema("str")))
    val g = readAll(p, pruned).head
    assert(g.numFields == 2 && g.getLong(0) == 4L && g.getUTF8String(1).toString == "x")
  }

  test("requested column missing from the file reads as null (evolution)") {
    val p = tmp()
    write(p, Seq(InternalRow(
      false, 0.toByte, 0.toShort, 1, 2L, 0f, 0.0,
      UTF8String.fromString("old"), Array.empty[Byte], 0, 0L, 0L)))
    val evolved = StructType(Seq(schema("i"),
      StructField("added_later", DoubleType)))
    val g = readAll(p, evolved).head
    assert(g.getInt(0) == 1 && g.isNullAt(1))
  }

  test("filtered read skips the row groups a pushed predicate disproves") {
    val p = tmp()
    val n = 20000
    // small row groups: the writer checks its size every 100+ records
    write(p, (0 until n).map(i => InternalRow(
      i % 2 == 0, null, null, i, i.toLong, null, null,
      UTF8String.fromString(s"row-$i"), null, null, null, null)),
      Map(ParquetRowIO.WriteProps.RowGroupBytes -> "16384"))
    val sch = StructType(Seq(schema("i"), schema("str")))
    def ids(pred: Option[org.apache.parquet.filter2.predicate.FilterPredicate]): Seq[Int] = {
      val r = GraftReaderFactory.open(p.toString, 0L, Long.MaxValue, sch,
        predicate = pred)
      val buf = scala.collection.mutable.ArrayBuffer[Int]()
      try while (r.nextBatch()) {
        val rows = r.resultBatch().rowIterator()
        while (rows.hasNext) {
          val row = rows.next()
          assert(row.getUTF8String(1).toString == s"row-${row.getInt(0)}")
          buf += row.getInt(0)
        }
      } finally r.close()
      buf.toSeq
    }
    assert(ids(None) == (0 until n))
    val low = ids(Some(FilterApi.lt(FilterApi.intColumn("i"), Integer.valueOf(100))))
    // row-group granular: every match survives, in order, and whole
    // groups past the bound are never decoded
    assert(low.take(100) == (0 until 100) && low == low.sorted, low.take(5))
    assert(low.length < n, s"no row group was skipped (${low.length} rows)")
    assert(ids(Some(FilterApi.gt(FilterApi.intColumn("i"), Integer.valueOf(n)))).isEmpty)
  }
}
