package graft.sources.avro

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema}
import org.apache.spark.sql.types._

/** Avro ⇄ Spark schema conversion for the graft Avro connector
  * (SURVEY.md §2.1). Public-knowledge mapping only — the Avro spec's
  * type system (https://avro.apache.org/docs/) against Spark's
  * `StructType`:
  *
  *   boolean/int/long/float/double/string/bytes → the obvious Spark
  *   primitive; fixed → binary; enum → string; record → struct;
  *   array → ArrayType; map → MapType(String, _); union[null, T] →
  *   nullable T (any other union shape is rejected — a general union
  *   has no relational analog and should be restructured at ingest).
  *
  * Logical types share Spark's own internal representations, so they
  * convert without arithmetic:
  *   date        = int days since epoch   (Spark DateType: int days)
  *   timestamp-micros = long micros       (Spark TimestampType: long micros)
  *   timestamp-millis = long millis       (×1000 at decode)
  *   decimal(p,s) on bytes/fixed          (Spark DecimalType(p,s))
  */
object AvroSchemas {

  /** Avro writer schema → Spark schema. */
  def toSpark(schema: Schema): StructType = {
    require(schema.getType == Schema.Type.RECORD,
      s"top-level Avro schema must be a record, got ${schema.getType}")
    StructType(schema.getFields.asScala.toSeq.map { f =>
      val (dt, nullable) = toSparkType(f.schema())
      StructField(f.name(), dt, nullable)
    })
  }

  private def toSparkType(s: Schema): (DataType, Boolean) = s.getType match {
    case Schema.Type.UNION =>
      val branches = s.getTypes.asScala.toSeq
      val nonNull = branches.filter(_.getType != Schema.Type.NULL)
      require(nonNull.size == 1 && branches.size <= 2,
        s"only union[null, T] is supported, got $s")
      val (dt, _) = toSparkType(nonNull.head)
      (dt, true)
    case Schema.Type.BOOLEAN => (BooleanType, false)
    case Schema.Type.INT =>
      s.getLogicalType match {
        case _: LogicalTypes.Date => (DateType, false)
        case _ => (IntegerType, false)
      }
    case Schema.Type.LONG =>
      s.getLogicalType match {
        case _: LogicalTypes.TimestampMicros => (TimestampType, false)
        case _: LogicalTypes.TimestampMillis => (TimestampType, false)
        case _ => (LongType, false)
      }
    case Schema.Type.FLOAT => (FloatType, false)
    case Schema.Type.DOUBLE => (DoubleType, false)
    case Schema.Type.STRING => (StringType, false)
    case Schema.Type.ENUM => (StringType, false)
    case Schema.Type.BYTES | Schema.Type.FIXED =>
      s.getLogicalType match {
        case d: LogicalTypes.Decimal => (DecimalType(d.getPrecision, d.getScale), false)
        case _ => (BinaryType, false)
      }
    case Schema.Type.RECORD =>
      (StructType(s.getFields.asScala.toSeq.map { f =>
        val (dt, nullable) = toSparkType(f.schema())
        StructField(f.name(), dt, nullable)
      }), false)
    case Schema.Type.ARRAY =>
      val (et, en) = toSparkType(s.getElementType)
      (ArrayType(et, containsNull = en), false)
    case Schema.Type.MAP =>
      val (vt, vn) = toSparkType(s.getValueType)
      (MapType(StringType, vt, valueContainsNull = vn), false)
    case other => throw new IllegalArgumentException(s"unsupported Avro type $other")
  }

  /** Spark schema → Avro record schema. `recordName` names the
    * top-level record; nested records are named by field path to keep
    * Avro's named-type uniqueness rule satisfied.
    */
  def toAvro(schema: StructType, recordName: String = "spark_record"): Schema =
    structToAvro(schema, recordName, "graft.avro")

  private def structToAvro(st: StructType, name: String, ns: String): Schema = {
    val fields = st.fields.map { f =>
      val t = toAvroType(f.dataType, f.nullable, s"${name}_${f.name}", ns)
      new Schema.Field(f.name, t, null, if (f.nullable) Schema.Field.NULL_DEFAULT_VALUE else null)
    }
    Schema.createRecord(name, null, ns, false, java.util.Arrays.asList(fields: _*))
  }

  private def toAvroType(dt: DataType, nullable: Boolean, name: String, ns: String): Schema = {
    val base = dt match {
      case BooleanType => Schema.create(Schema.Type.BOOLEAN)
      case ByteType | ShortType | IntegerType => Schema.create(Schema.Type.INT)
      case LongType => Schema.create(Schema.Type.LONG)
      case FloatType => Schema.create(Schema.Type.FLOAT)
      case DoubleType => Schema.create(Schema.Type.DOUBLE)
      case StringType => Schema.create(Schema.Type.STRING)
      case BinaryType => Schema.create(Schema.Type.BYTES)
      case DateType => LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
      case TimestampType =>
        LogicalTypes.timestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
      case d: DecimalType =>
        LogicalTypes.decimal(d.precision, d.scale)
          .addToSchema(Schema.create(Schema.Type.BYTES))
      case st: StructType => structToAvro(st, name, ns)
      case ArrayType(et, containsNull) =>
        Schema.createArray(toAvroType(et, containsNull, s"${name}_item", ns))
      case MapType(StringType, vt, vn) =>
        Schema.createMap(toAvroType(vt, vn, s"${name}_value", ns))
      case other => throw new IllegalArgumentException(s"unsupported Spark type $other")
    }
    if (nullable) Schema.createUnion(Schema.create(Schema.Type.NULL), base) else base
  }

  /** Project an Avro writer schema down to `required` top-level
    * fields, preserving field order of `required`. Passing the pruned
    * schema as the READER schema makes Avro's schema-resolution skip
    * the dropped fields during decode — column pruning that saves
    * actual deserialization work, not just a post-hoc projection
    * (Avro is row-oriented, so the bytes are still streamed over, but
    * skipped fields are never materialized as objects).
    */
  def prune(writer: Schema, required: Seq[String]): Schema = {
    val byName = writer.getFields.asScala.map(f => f.name() -> f).toMap
    val kept = required.map { n =>
      val f = byName.getOrElse(n, throw new IllegalArgumentException(
        s"column $n not in Avro schema ${writer.getFullName}"))
      new Schema.Field(f.name(), f.schema(), f.doc(), f.defaultVal())
    }
    Schema.createRecord(writer.getName, writer.getDoc, writer.getNamespace, false,
      java.util.Arrays.asList(kept: _*))
  }
}
