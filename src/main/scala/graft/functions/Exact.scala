package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Exactness helpers for oracle-comparable aggregation.
  *
  * Double summation is order-dependent, and Spark's partial/final
  * aggregation order differs from DuckDB's sequential scan. Every money /
  * quantity aggregate therefore casts to a fixed-scale decimal first
  * (exact, associative, order-independent), aggregates, and casts the
  * exact decimal result back to double at the very end. Two engines
  * summing identical decimals produce identical decimals; casting the
  * same decimal to double is correctly rounded in both — so result hashes
  * match bit-for-bit.
  *
  * This is also the right call at 100 TB: decimal sums are codegen'd,
  * stay inside whole-stage codegen, and remove any dependence on
  * partition count / merge order — a plan property that must hold when
  * partitions go from 32 to 200k.
  */
object Exact {
  /** money-ish column (2 decimal digits in the data) → exact decimal. */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** small ratio column (discount/tax, 2-4 digits) → exact decimal. */
  def dec4(c: Column): Column = c.cast(DecimalType(9, 4))

  /** exact decimal sum — [[SumDec128]], the two-long 128-bit integer
    * accumulator, bit-equal to the builtin `sum` over DECIMAL(p ≤ 18)
    * (same result type, same null/overflow contract) without its
    * per-row BigDecimal buffer round-trip (r18 §4: ~25× on the
    * aggregation itself, DecProbe). */
  def sumdec(c: Column): Column = SumDec128.sumDec(c)

  /** exact sum of a 2-decimal column, surfaced as double. */
  def sumd2(c: Column): Column = sumdec(dec2(c)).cast("double")

  /** exact sum of an arbitrary-scale decimal expression → double.
    * Rounded back to scale 2 BEFORE the double cast: casting a
    * high-scale wide decimal to double is not correctly rounded in every
    * engine (the scaled integer exceeds 2^53), while a scale-2 decimal of
    * money magnitude always converts exactly the same way. Both engines
    * round decimal half-up for positives, so the rounding itself is
    * deterministic too. */
  def sumd(c: Column): Column = round(sumdec(c), 2).cast("double")

  /** exact Σ a·b over two DECIMAL(p ≤ 18) factors — [[SumDecProd128]]:
    * the per-row wide-decimal multiply AND the wide sum buffer both
    * collapse into long arithmetic (exact 128-bit product, 128-bit
    * accumulator). Value-equal to `sum(a * b)` and to
    * `sum(cast(a*b as decimal(18, sa+sb)))` wherever the latter's cast
    * is in range (same scale — the cast only narrows precision). */
  def sumdProd(a: Column, b: Column): Column = SumDec128.sumDecProd(a, b)
}
