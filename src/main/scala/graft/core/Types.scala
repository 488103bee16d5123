package graft.core

import org.apache.spark.sql.types._

/** Type system parity (SURVEY §1.2/§1.3): the reference's `FieldType` enum
  * (`src/common/models.py:10-21`) and the Spark → FieldType mapping the
  * profile route reports as each column's `dtype`.
  */
object Types {
  sealed abstract class FieldType(val name: String)
  case object FString    extends FieldType("string")
  case object FInteger   extends FieldType("integer")
  case object FFloat     extends FieldType("float")
  case object FBoolean   extends FieldType("boolean")
  case object FDate      extends FieldType("date")
  case object FTimestamp extends FieldType("timestamp")
  case object FJson      extends FieldType("json")
  case object FArray     extends FieldType("array")

  def fromSpark(dt: DataType): FieldType = dt match {
    case BooleanType                       => FBoolean
    case _: IntegerType | LongType | ShortType | ByteType => FInteger
    case _: FloatType | DoubleType | _: DecimalType       => FFloat
    case DateType                          => FDate
    case TimestampType | TimestampNTZType  => FTimestamp
    case _: ArrayType                      => FArray
    case _: MapType | _: StructType        => FJson
    case _                                 => FString
  }
}
