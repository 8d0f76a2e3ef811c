package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** One operator exposed through [[graft.SparkEntry]].
  *
  * @param name   stable key; becomes the parquet dump name in Verify and the
  *               bench key in Bench.
  * @param run    (session, sfDir) => result. MUST be deterministic: every
  *               query ends in a full-key ORDER BY, and every derived numeric
  *               column goes through exact (decimal/integer) arithmetic so the
  *               DuckDB oracle hashes identically.
  * @param oracle equivalent DuckDB SQL over the same parquet tables; None for
  *               ops whose semantics DuckDB can't replicate bit-for-bit
  *               (hash-seeded sketches, side-effecting pipelines) — the driver
  *               then records a weaker rows-only check.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

/** Exact-arithmetic helpers shared by the operator definitions.
  *
  * Why: the driver's correctness gate hash-compares cell values against
  * DuckDB. Floating-point aggregation order differs between engines, so any
  * SUM/AVG over doubles is computed over exact decimals and only then cast
  * to double — `CAST(SUM(CAST(x AS DECIMAL(p,s))) AS DOUBLE)` yields the
  * identical IEEE double in both engines (the decimal sum is exact and the
  * final cast is correctly rounded in both).
  */
object Exact {
  /** Money-ish column (2 fractional digits stored as double). */
  def dec2(c: Column): Column = c.cast(DecimalType(12, 2))
  /** Small ratio column such as discount/tax (values 0.00-0.99). */
  def rate(c: Column): Column = c.cast(DecimalType(4, 2))
  /** Exact decimal literal 1.00 for (1 - discount)-style factors. */
  val one: Column = lit(java.math.BigDecimal.ONE).cast(DecimalType(3, 2))

  /** Exact sum of a 2-decimal double column, surfaced as double. */
  def dsum(c: Column): Column = sum(dec2(c)).cast(DoubleType)
  /** Exact mean = exact decimal sum / count, both deterministic doubles. */
  def davg(c: Column): Column = sum(dec2(c)).cast(DoubleType) / count(lit(1))
}
