package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.api.WriteSupport.WriteContext
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api._
import org.apache.parquet.schema._
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit => PTimeUnit}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** InternalRow → parquet for flat schemas, written against the public
  * parquet-mr API: the graft DSv2 source's write path, the capability
  * analog of the reference's direct HFile writer
  * (`HBaseFileFormat.scala:70-248`), with Parquet as the at-rest format.
  * Nothing here reads: every graft read decodes through Spark's
  * vectorized parquet reader ([[GraftReaderFactory]]).
  *
  * Supported field types: boolean, byte, short, int, long, float, double,
  * string, binary, date, timestamp, timestamp_ntz (both INT64 micros).
  */
object ParquetRowIO {

  /** UDT columns store as their sqlType (the reference does the same:
    * RegionInfoUDT has BinaryType sqlType, SURVEY.md §1.4). */
  private def physical(dt: DataType): DataType = dt match {
    case udt: UserDefinedType[_] => physical(udt.sqlType)
    case other => other
  }

  private def messageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val rep = if (f.nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED
      val t = physical(f.dataType) match {
        case BooleanType => Types.primitive(BOOLEAN, rep)
        case ByteType =>
          Types.primitive(INT32, rep).as(LogicalTypeAnnotation.intType(8, true))
        case ShortType =>
          Types.primitive(INT32, rep).as(LogicalTypeAnnotation.intType(16, true))
        case IntegerType => Types.primitive(INT32, rep)
        case LongType => Types.primitive(INT64, rep)
        case FloatType => Types.primitive(FLOAT, rep)
        case DoubleType => Types.primitive(DOUBLE, rep)
        case StringType =>
          Types.primitive(BINARY, rep).as(LogicalTypeAnnotation.stringType())
        case BinaryType => Types.primitive(BINARY, rep)
        case DateType =>
          Types.primitive(INT32, rep).as(LogicalTypeAnnotation.dateType())
        case TimestampType =>
          Types.primitive(INT64, rep)
            .as(LogicalTypeAnnotation.timestampType(true, PTimeUnit.MICROS))
        case TimestampNTZType =>
          Types.primitive(INT64, rep)
            .as(LogicalTypeAnnotation.timestampType(false, PTimeUnit.MICROS))
        case other =>
          throw new IllegalArgumentException(s"graft source: unsupported type $other")
      }
      b.addField(t.named(f.name))
    }
    b.named("graft_row")
  }

  // ---- write -------------------------------------------------------------

  final class RowWriteSupport(schema: StructType) extends WriteSupport[InternalRow] {
    private var consumer: RecordConsumer = _

    override def init(conf: Configuration): WriteContext =
      new WriteContext(messageType(schema),
        Map("graft.schema" -> schema.json).asJava)

    override def prepareForWrite(rc: RecordConsumer): Unit = consumer = rc

    override def write(row: InternalRow): Unit = {
      consumer.startMessage()
      var i = 0
      while (i < schema.length) {
        if (!row.isNullAt(i)) {
          val f = schema(i)
          consumer.startField(f.name, i)
          physical(f.dataType) match {
            case BooleanType => consumer.addBoolean(row.getBoolean(i))
            case ByteType => consumer.addInteger(row.getByte(i).toInt)
            case ShortType => consumer.addInteger(row.getShort(i).toInt)
            case IntegerType | DateType => consumer.addInteger(row.getInt(i))
            case LongType | TimestampType | TimestampNTZType =>
              consumer.addLong(row.getLong(i))
            case FloatType => consumer.addFloat(row.getFloat(i))
            case DoubleType => consumer.addDouble(row.getDouble(i))
            case StringType =>
              consumer.addBinary(Binary.fromConstantByteArray(row.getUTF8String(i).getBytes))
            case BinaryType =>
              consumer.addBinary(Binary.fromConstantByteArray(row.getBinary(i)))
            case other => throw new IllegalArgumentException(s"unsupported $other")
          }
          consumer.endField(f.name, i)
        }
        i += 1
      }
      consumer.endMessage()
    }
  }

  final class WriterBuilder(path: Path, schema: StructType)
      extends ParquetWriter.Builder[InternalRow, WriterBuilder](path) {
    override def self(): WriterBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new RowWriteSupport(schema)
  }

  /** Table properties controlling the physical parquet layout — the
    * capability analog of the reference's per-table `encoding/split/bloom/
    * zip` storage knobs (`HBaseClientImpl.scala:303-365`), re-expressed as
    * the knobs that matter for parquet at scale. */
  object WriteProps {
    val Compression = "write.compression" // snappy|gzip|zstd|lz4|uncompressed
    val RowGroupBytes = "write.rowgroup.bytes" // long, default 128 MiB
    val PageBytes = "write.page.bytes" // int, default 1 MiB
    val Dictionary = "write.dictionary" // true|false
    /** Comma-separated column names that get a per-row-group BLOOM FILTER.
      * For high-cardinality point lookups (ids, hashes, urls) where
      * [min, max] ranges overlap across every file and can prune nothing:
      * an equality predicate against an absent value skips the whole row
      * group from the footer alone. The reference exposed HBase's
      * per-family bloom knob (`HBaseClientImpl.scala:303-365`); this is
      * the parquet-native equivalent. */
    val BloomColumns = "write.bloom.columns"
    val BloomNdv = "write.bloom.ndv" // expected distinct values per group
  }

  def newWriter(
      path: Path,
      schema: StructType,
      conf: Configuration,
      props: Map[String, String] = Map.empty): ParquetWriter[InternalRow] = {
    val codec = props.get(WriteProps.Compression)
      .map(c => CompressionCodecName.valueOf(c.toUpperCase(java.util.Locale.ROOT)))
      .getOrElse(CompressionCodecName.SNAPPY)
    var b = new WriterBuilder(path, schema)
      .withConf(conf)
      .withCompressionCodec(codec)
    props.get(WriteProps.RowGroupBytes).foreach(v => b = b.withRowGroupSize(v.toLong))
    props.get(WriteProps.PageBytes).foreach(v => b = b.withPageSize(v.toInt))
    props.get(WriteProps.Dictionary).foreach(v => b = b.withDictionaryEncoding(v.toBoolean))
    props.get(WriteProps.BloomColumns).foreach(
      _.split(',').map(_.trim).filter(_.nonEmpty).foreach { c =>
        b = b.withBloomFilterEnabled(c, true)
        props.get(WriteProps.BloomNdv).foreach(n => b = b.withBloomFilterNDV(c, n.toLong))
      })
    b.build()
  }
}
