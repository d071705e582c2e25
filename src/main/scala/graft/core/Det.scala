package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deterministic floating-point aggregation helpers.
  *
  * Summing doubles is order-dependent; Spark's partial aggregation order
  * varies run-to-run and never matches a single-threaded oracle bit-for-bit
  * on large inputs. Casting to a fixed-scale decimal first makes addition
  * exact and associative, so Spark (any partitioning, any AQE re-plan) and
  * the DuckDB oracle produce the identical value; the final cast back to
  * double is a single deterministic rounding on both engines.
  *
  * The same trick yields deterministic avg/stddev/variance/corr via exact
  * power sums (sum x, sum x^2, sum x*y) — the only non-exact steps are the
  * final few double ops, identical on both sides.
  *
  * Scale choice: 38 total digits, 6 fractional, leaves 10^31 of headroom —
  * at 100 TB (~10^12 rows of values ~10^6) the sum needs ~10^18, far
  * inside range, so the pattern survives the scale-up unchanged.
  */
object Det {
  private val S = 6 // fractional digits kept before exact summation
  private[graft] def dec(c: Column): Column = c.cast(DecimalType(38, S))

  /** Exact sum of a double expression, returned as double. */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** Deterministic mean = exact-sum / count (count over non-nulls of c). */
  def davg(c: Column): Column = sum(dec(c)).cast("double") / count(c)

  /** Deterministic population variance via exact power sums. */
  def dvarPop(c: Column): Column = {
    val n = count(c)
    val m = sum(dec(c)).cast("double") / n
    sum(dec(c * c)).cast("double") / n - m * m
  }

  /** Deterministic Pearson correlation via exact power sums. */
  def dcorr(x: Column, y: Column): Column = {
    val n = count(lit(1))
    val sx = sum(dec(x)).cast("double")
    val sy = sum(dec(y)).cast("double")
    val sxx = sum(dec(x * x)).cast("double")
    val syy = sum(dec(y * y)).cast("double")
    val sxy = sum(dec(x * y)).cast("double")
    (sxy - sx * sy / n) / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n))
  }

  /** DuckDB-side SQL for the same exact sum (keep in lockstep with dsum). */
  def sqlSum(expr: String): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(38,$S))) AS DOUBLE)"
  def sqlAvg(expr: String): String =
    s"${sqlSum(expr)} / COUNT($expr)"
}
