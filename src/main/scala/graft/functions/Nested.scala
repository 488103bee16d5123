package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Nested-column tooling: semi-structured payloads (parsed JSON, protobuf
  * imports) arrive as deeply nested structs; most downstream operators and
  * every JDBC/CSV sink want flat columns. Flattening is pure projection —
  * zero shuffle, codegen-friendly, and Catalyst prunes unaccessed leaves
  * back through the parse. */
object Nested {

  /** Recursively flatten every struct column into `sep`-joined leaf
    * columns, preserving declaration order ((a: struct(b, c), d) →
    * (a_b, a_c, d)). Arrays and maps stay as-is at their flattened path —
    * explode them explicitly when needed. */
  def flatten(df: DataFrame, sep: String = "_"): DataFrame = {
    def leaves(schema: StructType, path: Seq[String]): Seq[(Seq[String])] =
      schema.fields.toSeq.flatMap { f =>
        f.dataType match {
          case st: StructType => leaves(st, path :+ f.name)
          case _ => Seq(path :+ f.name)
        }
      }
    val cols = leaves(df.schema, Nil).map { p =>
      col(p.map(n => s"`$n`").mkString(".")).as(p.mkString(sep))
    }
    df.select(cols: _*)
  }
}
