package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType(FloatType)` embedding columns, built from
  * codegen-friendly higher-order functions (`zip_with` + `aggregate`) —
  * no UDFs, fully Catalyst-visible, runs inside the executor with no
  * driver round-trips.
  *
  * All math is done in Double: float inputs are cast element-wise first
  * so accumulation error is engine-portable (matches a DuckDB oracle
  * computing over DOUBLE[] with ~1e-15 divergence, healed by rounding).
  */
object VectorOps {

  /** Element-wise cast to double. */
  def toDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Sequential-fold dot product in double precision. */
  def dotD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def dot(a: Column, b: Column): Column = dotD(toDouble(a), toDouble(b))

  def normD(a: Column): Column = sqrt(dotD(a, a))

  /** Cosine similarity of two float-array columns, computed in double. */
  def cosine(a0: Column, b0: Column): Column = {
    val a = toDouble(a0)
    val b = toDouble(b0)
    dotD(a, b) / (normD(a) * normD(b))
  }
}
