package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Fixed-point ratio arithmetic for oracle-checked outputs — THE
  * cross-engine rounding discipline (round-16 verdict): a 6-decimal
  * ratio of integer counts must be computed as half-up micros in pure
  * long arithmetic, `(num·2·10⁶ + den) div (2·den)`, followed by one
  * exact `/1e6` division — NEVER `round(double, 6)`. Spark's `round`
  * rounds the double's shortest decimal representation
  * (`BigDecimal.valueOf`) where DuckDB scales the binary double by
  * 10⁶; on a ratio whose exact value sits ON a half-micro boundary
  * with a non-dyadic denominator (e.g. 3·2⁷ | 2·num·10⁶), the two
  * disagree — the q172/q173 r16 hash failures, latent in every
  * integer-count ratio until converted.
  *
  * `div` here is Spark's IntegralDivide ≡ DuckDB's `//` (both truncate
  * toward zero; operands are kept non-negative so truncation ≡ floor).
  * Size contract: `num·2·10⁶` must fit a long → numerators ≤ ~4.6·10¹².
  *
  * Transcendental-valued rounds (ln/log2/cosine/sqrt inputs) are OUT of
  * scope: their exact values never sit on a decimal boundary, and both
  * engines round the identical IEEE double — `round` stays correct
  * there.
  */
object FixedPoint {

  /** Half-up micros of `num/den` (long Columns, num ≥ 0, den > 0). */
  def micros(num: Column, den: Column): Column =
    call_function("div", num * 2000000L + den, den * 2)

  /** The exact 6-decimal double for |micros| < 2^52. */
  def fromMicros(m: Column): Column = m.cast("double") / 1e6

  /** `round(num/den, 6)` replacement (num ≥ 0, den > 0). */
  def ratio6(num: Column, den: Column): Column =
    fromMicros(micros(num, den))

  /** Signed variant: half-up away from zero (num may be negative). */
  def signedRatio6(num: Column, den: Column): Column = {
    val m = micros(abs(num), den)
    fromMicros(when(num < 0, -m).otherwise(m))
  }
}
