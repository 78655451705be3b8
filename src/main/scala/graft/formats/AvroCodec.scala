package graft.formats

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericEnumSymbol, GenericFixed, GenericRecord}
import org.apache.avro.io.{BinaryDecoder, BinaryEncoder, DecoderFactory, EncoderFactory}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.catalyst.Cols
import graft.registry.{AvroSchemaConverter, RegisteredSchema, SchemaRegistry}

/** Registry-framed Avro codec — the engine's wire format (SURVEY.md §2C
  * C17/C18). Frames follow the public Confluent envelope the reference's
  * Avro console clients and REST proxy produce: one magic byte 0x00, a
  * 4-byte big-endian registry schema id, then the Avro binary body
  * (reference behavior: `sample-data/put.sh:25-31` registers schemas and
  * produces framed records; consumers resolve the id back through the
  * registry).
  *
  * Decode is PER-RECORD schema-id dispatch with Avro reader/writer schema
  * resolution — old- and new-version records can coexist in one column and
  * both surface as the reader schema's StructType (schema evolution on
  * read, `kafka-tests.yml:144-156`). The expressions are self-contained
  * (schema JSON snapshots, no live registry reference) so they serialize
  * to executors like any other Catalyst expression.
  */
object AvroWire {
  val Magic: Byte = 0x00

  def frame(id: Int, body: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](5 + body.length)
    out(0) = Magic
    out(1) = ((id >> 24) & 0xff).toByte
    out(2) = ((id >> 16) & 0xff).toByte
    out(3) = ((id >> 8) & 0xff).toByte
    out(4) = (id & 0xff).toByte
    System.arraycopy(body, 0, out, 5, body.length)
    out
  }

  def schemaId(frame: Array[Byte]): Int = {
    require(frame.length >= 5 && frame(0) == Magic,
      s"not an Avro wire frame (len=${frame.length})")
    ((frame(1) & 0xff) << 24) | ((frame(2) & 0xff) << 16) |
      ((frame(3) & 0xff) << 8) | (frame(4) & 0xff)
  }
}

/** Catalyst value → Avro datum, driven by the Avro schema. */
private[formats] object CatalystToAvro {
  def convert(value: Any, dt: DataType, schema: Schema): Any = {
    if (value == null) return null
    val target = resolveUnion(schema)
    (dt, target.getType) match {
      case (StringType, _) => value.asInstanceOf[UTF8String].toString
      case (BinaryType, Schema.Type.FIXED) =>
        new GenericData.Fixed(target, value.asInstanceOf[Array[Byte]])
      case (BinaryType, _) => ByteBuffer.wrap(value.asInstanceOf[Array[Byte]])
      case (TimestampType, _) =>
        val micros = value.asInstanceOf[Long]
        if (target.getLogicalType != null &&
          target.getLogicalType.getName == "timestamp-millis") micros / 1000L
        else micros
      case (BooleanType | IntegerType | LongType | FloatType | DoubleType | DateType, _) => value
      case (st: StructType, Schema.Type.RECORD) =>
        val row = value.asInstanceOf[InternalRow]
        val rec = new GenericData.Record(target)
        target.getFields.asScala.foreach { f =>
          val i = st.fieldIndex(f.name())
          val fv = if (row.isNullAt(i)) null
            else convert(row.get(i, st(i).dataType), st(i).dataType, f.schema())
          rec.put(f.pos(), fv)
        }
        rec
      case (ArrayType(et, _), Schema.Type.ARRAY) =>
        val arr = value.asInstanceOf[ArrayData]
        val out = new java.util.ArrayList[Any](arr.numElements())
        var i = 0
        while (i < arr.numElements()) {
          out.add(if (arr.isNullAt(i)) null
            else convert(arr.get(i, et), et, target.getElementType))
          i += 1
        }
        out
      case (MapType(StringType, vt, _), Schema.Type.MAP) =>
        val m = value.asInstanceOf[MapData]
        val out = new java.util.HashMap[String, Any](m.numElements())
        val keys = m.keyArray()
        val vals = m.valueArray()
        var i = 0
        while (i < m.numElements()) {
          out.put(keys.getUTF8String(i).toString,
            if (vals.isNullAt(i)) null else convert(vals.get(i, vt), vt, target.getValueType))
          i += 1
        }
        out
      case (dt, at) => throw new UnsupportedOperationException(
        s"cannot encode ${dt.catalogString} as Avro $at")
    }
  }

  private def resolveUnion(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).getOrElse(s)
    else s
}

/** Avro datum → Catalyst value, driven by the READER schema + target type. */
private[formats] object AvroToCatalyst {
  def convert(value: Any, schema: Schema, dt: DataType): Any = {
    if (value == null) return null
    val src = resolveUnion(schema)
    dt match {
      case StringType => UTF8String.fromString(value.toString)
      case BinaryType => value match {
        case b: ByteBuffer =>
          val out = new Array[Byte](b.remaining()); b.duplicate().get(out); out
        case f: GenericFixed => f.bytes()
        case a: Array[Byte] => a
      }
      case TimestampType =>
        val v = value.asInstanceOf[Long]
        if (src.getLogicalType != null &&
          src.getLogicalType.getName == "timestamp-millis") v * 1000L
        else v
      case BooleanType | IntegerType | LongType | FloatType | DoubleType | DateType => value
      case st: StructType =>
        val rec = value.asInstanceOf[GenericRecord]
        val out = new Array[Any](st.length)
        var i = 0
        while (i < st.length) {
          val f = src.getField(st(i).name)
          out(i) = if (f == null) null
            else convert(rec.get(f.pos()), f.schema(), st(i).dataType)
          i += 1
        }
        new GenericInternalRow(out)
      case ArrayType(et, _) =>
        val list = value.asInstanceOf[java.util.Collection[Any]]
        val out = new Array[Any](list.size())
        var i = 0
        val it = list.iterator()
        while (it.hasNext) { out(i) = convert(it.next(), src.getElementType, et); i += 1 }
        new GenericArrayData(out)
      case MapType(StringType, vt, _) =>
        val m = value.asInstanceOf[java.util.Map[Any, Any]]
        val keys = new Array[Any](m.size())
        val vals = new Array[Any](m.size())
        var i = 0
        val it = m.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          keys(i) = UTF8String.fromString(e.getKey.toString)
          vals(i) = convert(e.getValue, src.getValueType, vt)
          i += 1
        }
        ArrayBasedMapData(keys, vals)
      case other => throw new UnsupportedOperationException(
        s"cannot decode Avro ${src.getType} as ${other.catalogString}")
    }
  }

  private def resolveUnion(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).getOrElse(s)
    else s
}

/** struct → framed Avro bytes under a registered (id, writer schema). */
case class AvroEncodeWire(child: Expression, schemaId: Int, schemaJson: String)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StructType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"to_avro_wire requires a struct column, got ${other.catalogString}")
  }
  override def dataType: DataType = BinaryType
  override def prettyName: String = "to_avro_wire"

  @transient private lazy val avroSchema = new Schema.Parser().parse(schemaJson)
  @transient private lazy val structType = child.dataType.asInstanceOf[StructType]
  @transient private lazy val writer = new GenericDatumWriter[GenericRecord](avroSchema)
  // One frame buffer per expression instance: the header is written into
  // it ahead of the body, so each row copies its frame out exactly once.
  @transient private lazy val header = AvroWire.frame(schemaId, Array.emptyByteArray)
  @transient private lazy val buffer = new ByteArrayOutputStream()
  @transient private lazy val encoder: BinaryEncoder =
    EncoderFactory.get().directBinaryEncoder(buffer, null)

  override def nullSafeEval(input: Any): Any = {
    val row = input.asInstanceOf[InternalRow]
    val rec = CatalystToAvro.convert(row, structType, avroSchema).asInstanceOf[GenericRecord]
    buffer.reset()
    buffer.write(header)
    writer.write(rec, encoder)
    encoder.flush()
    buffer.toByteArray
  }

  override protected def withNewChildInternal(newChild: Expression): AvroEncodeWire =
    copy(child = newChild)
}

/** Framed Avro bytes → struct of the READER schema, dispatching the writer
  * schema per record by embedded id (C18: schema evolution on read). */
case class AvroDecodeWire(child: Expression, schemasById: Map[Int, String], readerJson: String)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"from_avro_wire requires a binary column, got ${other.catalogString}")
  }
  override lazy val dataType: DataType = {
    val reader = new Schema.Parser().parse(readerJson)
    AvroSchemaConverter.toStructType(reader)
  }
  override def nullable: Boolean = true
  override def prettyName: String = "from_avro_wire"

  @transient private lazy val readerSchema = new Schema.Parser().parse(readerJson)
  @transient private lazy val readersById = mutable.HashMap.empty[Int, GenericDatumReader[GenericRecord]]
  @transient private var decoder: BinaryDecoder = _

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val id = AvroWire.schemaId(bytes)
    val datumReader = readersById.getOrElseUpdate(id, {
      val writerJson = schemasById.getOrElse(id,
        throw new IllegalStateException(s"schema id $id not present in registry snapshot"))
      new GenericDatumReader[GenericRecord](
        new Schema.Parser().parse(writerJson), readerSchema)
    })
    decoder = DecoderFactory.get().binaryDecoder(bytes, 5, bytes.length - 5, decoder)
    val rec = datumReader.read(null, decoder)
    AvroToCatalyst.convert(rec, readerSchema, dataType)
  }

  override protected def withNewChildInternal(newChild: Expression): AvroDecodeWire =
    copy(child = newChild)
}

/** Column-level API — the engine's `to_avro` / `from_avro_registry`. */
object AvroFunctions {

  /** Encode a struct column under a registered schema (id embedded). */
  def toAvroWire(data: Column, registered: RegisteredSchema): Column =
    Cols.column(AvroEncodeWire(Cols.expression(data), registered.id, registered.schemaJson))

  /** Decode framed Avro with per-record writer dispatch against a registry
    * snapshot, surfacing rows as `readerSchema`'s StructType. */
  def fromAvroWire(bytes: Column, schemasById: Map[Int, String], readerJson: String): Column =
    Cols.column(AvroDecodeWire(Cols.expression(bytes), schemasById, readerJson))

  /** Decode against a subject's latest version (the common read path). */
  def fromAvroRegistry(bytes: Column, registry: SchemaRegistry, subject: String): Column = {
    val reader = registry.latest(subject).getOrElse(
      throw new IllegalArgumentException(s"no schema registered for subject '$subject'"))
    fromAvroWire(bytes, registry.schemasById, reader.schemaJson)
  }
}
