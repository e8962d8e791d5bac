package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType, MapType}

/** The query side of the vector searches as Catalyst literals of explicit
  * type: vec_id → query-ids and cell → query-ids maps, query → vector and
  * query → code maps, query-id arrays. `typedLit` derives the same types by
  * Scala reflection, ~2.7 ms a literal; `Literal.create` with the type
  * spelled out converts the driver values by pattern match alone. The types
  * are the ones `typedLit` derives (VectorsSpec pins the equality), so
  * every plan and output schema keeps its nullability.
  */
object QueryLiterals {

  private val Ids = ArrayType(LongType, containsNull = false)
  private val Vector = ArrayType(FloatType, containsNull = false)

  private def literal(value: Any, dataType: DataType): Column =
    ExpressionUtils.column(Literal.create(value, dataType))

  /** An array of ids. */
  def ids(ids: Seq[Long]): Column = literal(ids, Ids)

  /** id → ids, e.g. each candidate vec_id's querying ids. */
  def idsById(byId: Map[Long, Seq[Long]]): Column =
    literal(byId, MapType(LongType, Ids, valueContainsNull = true))

  /** query_id → query vector. */
  def vectorsById(byId: Map[Long, Seq[Float]]): Column =
    literal(byId, MapType(LongType, Vector, valueContainsNull = true))

  /** query_id → a long per query, e.g. a BQ query code. */
  def longsById(byId: Map[Long, Long]): Column =
    literal(byId, MapType(LongType, LongType, valueContainsNull = false))
}
