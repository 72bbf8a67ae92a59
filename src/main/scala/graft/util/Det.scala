package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Determinism helpers shared by every oracled query (SURVEY.md §2b footer).
  *
  * Oracle parity rules:
  *  - Sums of doubles are order-dependent, so distributed partial aggregation
  *    would not reproduce DuckDB's single-threaded fold bit-for-bit. We cast
  *    to DECIMAL(24,6) first: exact arithmetic, order-independent, identical
  *    in both engines; scale 6 is fine-grained enough that the cast of the
  *    2-dp-generated fixture doubles is rounding-mode-independent.
  *  - Timestamps leave result sets as formatted strings: `events.ts` is ns in
  *    parquet but µs in Spark, and engines disagree on sub-second repr.
  */
object Det {
  /** Order-independent exact sum of a double column, surfaced as double.
    * SQL mirror: `CAST(SUM(CAST(x AS DECIMAL(24,6))) AS DOUBLE)`. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(24, 6))).cast("double")

  /** Exact mean: decimal sum divided by count, in double at the end.
    * SQL mirror: `CAST(SUM(CAST(x AS DECIMAL(24,6))) AS DOUBLE) / COUNT(x)`. */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** Floor-quantize a computed double to 4 dp: `floor(x·10⁴+0.5)/10⁴` —
    * the SAME IEEE op sequence in both engines, unlike `round(x, 4)`
    * whose half-way tie-break diverges between Spark's BigDecimal
    * HALF_UP and DuckDB's C-double round (the f68354c parity class).
    * SQL mirror: `floor(x * 10000 + 0.5) / 10000`. */
  def q4(c: Column): Column = floor(c * 10000 + lit(0.5)) / 10000

  /** [[q4]] at 6 dp. SQL mirror: `floor(x * 1000000 + 0.5) / 1000000`.
    * The argument must be a double: with the int literal, the ×10⁶ step
    * runs in DECIMAL for a DECIMAL argument and in BIGINT (which can
    * wrap) for a BIGINT one, so cast those with `.cast("double")` first
    * (PARITY.md §3). */
  def q6(c: Column): Column = floor(c * 1000000 + lit(0.5)) / 1000000

  /** [[q4]] at 8 dp. SQL mirror: `floor(x * 100000000 + 0.5) / 100000000`. */
  def q8(c: Column): Column = floor(c * 100000000 + lit(0.5)) / 100000000

  /** [[q6]] guarded for magnitude: at |x| ≥ 1e12 the 10⁻⁶ quantum is
    * already below the double's own ulp (≥ 2.4·10⁻⁴), AND Spark's
    * LONG-returning floor would silently wrap at x·10⁶ ≥ 2⁶³
    * (PARITY.md §4 — the r10 sf1 q_kruskal_wallis failure), so the
    * value passes through unquantized. The branch condition compares a
    * bit-identical double, so both engines take the same arm. SQL
    * mirror: `CASE WHEN abs(x) < 1e12 THEN floor(x * 1000000 + 0.5) /
    * 1000000 ELSE x END`. */
  def q6big(c: Column): Column =
    when(abs(c) < 1e12, q6(c)).otherwise(c)

  /** [[q4]] at an arbitrary decimal scale (1..9 — powers of ten up to 1e9
    * are exact doubles; Spark's floor returns LONG, so the argument must
    * stay well under 2^63/10^digits, PARITY.md §4). SQL mirror:
    * `floor(x * 10^digits + 0.5) / 10^digits` with the power written as a
    * literal. */
  def q(c: Column, digits: Int): Column = {
    require(digits >= 1 && digits <= 9, s"q: unsupported scale $digits")
    val m = math.pow(10, digits)
    floor(c * m + lit(0.5)) / m
  }

  /** 6-dp-quantized natural log of an INTEGER count, entered into
    * DECIMAL(18,6) so sums and products of logs stay exact. ln over the
    * integer count domain is bit-identical at 6 dp across Spark and
    * DuckDB for counts ≤ 2M. SQL mirror:
    * `CAST(floor(ln(x) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))`. */
  def qln(c: Column): Column = q6(log(c.cast("double"))).cast(DecimalType(18, 6))

  /** Rounded micro-units of a double: `floor(x·10⁶+0.5)` as BIGINT, for
    * integer-exact sums of derived or embedding coordinates. SQL mirror:
    * `CAST(floor(x * 1000000 + 0.5) AS BIGINT)`. */
  def micro(c: Column): Column = floor(c * 1000000 + lit(0.5)).cast("long")

  /** Exact micro-units of a fixture value: enter the integer domain
    * through a DECIMAL cast, not floor (PARITY.md §4), so the cast
    * rounds the double's ulp noise away. Differs from [[micro]] where
    * `x·10⁶` lands just under a half-way point. SQL mirror:
    * `CAST(CAST(x AS DECIMAL(24,6)) * 1000000 AS BIGINT)`. */
  def microExact(c: Column): Column =
    (c.cast(DecimalType(24, 6)) * lit(1000000)).cast("long")

  /** The exact-integer product domain: BIGINT operands cast here multiply
    * exactly up to 38 digits (sums of squares, cross terms), where a
    * BIGINT product would wrap. */
  val Dec0: DecimalType = DecimalType(38, 0)

  /** [[dsum]] at DECIMAL(30,12), for power sums (x², x·y) whose terms
    * carry more than 6 dp. SQL mirror:
    * `CAST(SUM(CAST(x AS DECIMAL(30,12))) AS DOUBLE)`. */
  def dsumWide(c: Column): Column = sum(c.cast(DecimalType(30, 12))).cast("double")

  /** Timestamp → second-precision string. SQL mirror:
    * `strftime(ts, '%Y-%m-%d %H:%M:%S')`. */
  def fmtTs(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** Timestamp → date string. SQL mirror: `strftime(ts, '%Y-%m-%d')`. */
  def fmtDate(c: Column): Column = date_format(c, "yyyy-MM-dd")
}
