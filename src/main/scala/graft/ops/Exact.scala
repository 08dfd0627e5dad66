package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deterministic aggregate math for the DuckDB oracle gate.
  *
  * Floating-point SUM/AVG/VAR depend on accumulation order, which differs
  * between Spark partitions and DuckDB — rounding can't hide a value that
  * straddles a rounding boundary. Instead: the raw columns are exact
  * 2-decimal values, so cast to DECIMAL first (exact, order-independent
  * sum) and derive avg/var with plain IEEE double expressions evaluated
  * identically by both engines. The DuckDB oracle SQL spells the same
  * casts, so results are bit-identical before any rounding.
  */
object Exact {
  private val dec = DecimalType(18, 2)

  /** Order-independent sum of a column holding exact `scale`-dp
    * decimals (2 dp for the raw fact columns, 6 dp for values already
    * quantized by [[r]]). */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** sum/count instead of avg() — avg accumulators are engine-specific
    * and order-dependent. */
  def davg(c: Column, scale: Int = 2): Column = dsum(c, scale) / count(c)

  /** Population variance via exact decimal sums: (Σx² − (Σx)²/n)/n,
    * clamped at 0 against cancellation producing −0.0. */
  def dvarPop(c: Column): Column = {
    val xd = c.cast(dec)
    val s1 = sum(xd).cast("double")
    val s2 = sum(xd * xd).cast("double")
    val n = count(c)
    greatest((s2 - s1 * s1 / n) / n, lit(0.0))
  }

  /** Exact sum of a 2-dp × 2-dp product (e.g. price × (1−discount)):
    * both factors cast to decimal first so the multiply is exact too. */
  def dsumProduct(a: Column, b: Column): Column =
    sum(a.cast(dec) * b.cast(dec)).cast("double")

  /** Reaggregable partials for two-level rollups (q85's day→slice
    * grain): the decimal sum is kept UNcast so a later sum-of-partials
    * is still exact and order-independent — decimal addition is
    * associative, so the rolled-up value is bit-identical to the
    * single-level [[dsum]]/[[dvarPop]] over the raw rows. Cast to
    * double only at the final grain. */
  def dsumPartial(c: Column): Column = sum(c.cast(dec))
  def dsumSqPartial(c: Column): Column = sum(c.cast(dec) * c.cast(dec))

  /** The fit mains' weight grid ([[graft.AttnFit]], [[graft.LstmFit]],
    * [[graft.DualFit]]): `x` rounded to the nearest multiple of 2⁻²⁰.
    * A dyadic weight is an exact double whose printed decimal parses
    * back to the same double in Spark and in DuckDB, so a fitted
    * literal pasted into plan text and oracle SQL multiplies exactly
    * in both. */
  def dyad(x: Double): Double = math.rint(x * (1 << 20)) / (1 << 20)

  /** Engine-identical rounding: floor(x·10^d + 0.5)/10^d.
    *
    * `round()` itself is NOT portable at boundaries: Spark rounds the
    * exact decimal expansion of the double (BigDecimal HALF_UP), DuckDB
    * multiplies by 10^d in floating point and std::round's — when a
    * rational output (any integer ratio) sits exactly on a .5 boundary
    * the two can disagree by one ulp of output. This spelling is the
    * same three IEEE ops in both engines, so it is bit-identical always
    * (ties go toward +∞ — consistency is what the oracle gate needs). */
  def r(c: Column, d: Int): Column = {
    val m = lit(math.pow(10, d))
    floor(c * m + lit(0.5)) / m
  }

  /** Engine-portable content hash: the first `hexDigits` hex chars of
    * md5 (identical bytes in every engine) read as one integer. md5 does
    * the mixing in native code; the hex→int conversion is exact integer
    * arithmetic, so Spark and DuckDB agree bit-for-bit — unlike
    * `xxhash64`, which only Spark has. 12 digits = 48 bits (fingerprint /
    * MinHash input), 15 digits = 60 bits (SimHash bit votes); both stay
    * positive in int64 so `%` behaves identically in both engines. */
  def portableHash(c: Column, hexDigits: Int): Column = {
    require(hexDigits <= 15, "16 hex digits can overflow signed int64")
    conv(substring(md5(c), 1, hexDigits), 16, 10).cast("long")
  }

  /** Deterministic LCG 80% split bucket (the reproducible stratified
    * train split used by q18, q46 and FraudPipeline — one definition).
    * The key is reduced mod 2³¹ BEFORE the multiply: a raw
    * `key * 1103515245` wraps int64 past key ≈ 8.4e9 — silently in
    * Spark (negative bucket ⇒ always "< 80" ⇒ a 100% split), an error
    * in DuckDB. Reduced first, the product tops out at ~2.4e18 for ANY
    * int64 key, and the bucket is unchanged for keys < 2³¹
    * ((a mod m)·c mod m = a·c mod m). */
  def lcgTrain80(key: String): Column =
    expr(s"((($key % 2147483648) * 1103515245 + 12345) % 2147483648) % 100") < 80

  // The DuckDB spellings of the same expressions.
  object sql {
    /** DuckDB spelling of [[Exact.portableHash]] (DuckDB casts 0x-prefixed
      * strings to integers natively; Spark spells the same value via conv). */
    def portableHash(x: String, hexDigits: Int): String =
      s"CAST('0x' || substring(md5($x), 1, $hexDigits) AS BIGINT)"
    /** DuckDB spelling of [[Exact.lcgTrain80]]. */
    def lcgTrain80(key: String): String =
      s"((($key % 2147483648) * 1103515245 + 12345) % 2147483648) % 100 < 80"
    /** DuckDB spelling of [[Exact.r]]. */
    def r(x: String, d: Int): String =
      s"floor(($x) * 1e$d + 0.5) / 1e$d"
    def dsum(x: String): String = s"CAST(sum(CAST($x AS DECIMAL(18,2))) AS DOUBLE)"
    def davg(x: String): String = s"${dsum(x)}/count($x)"
    def dvarPop(x: String): String =
      s"greatest((CAST(sum(CAST($x AS DECIMAL(18,2))*CAST($x AS DECIMAL(18,2))) AS DOUBLE)" +
        s" - ${dsum(x)}*${dsum(x)}/count($x))/count($x), 0.0)"
    def dsumProduct(a: String, b: String): String =
      s"CAST(sum(CAST($a AS DECIMAL(18,2))*CAST($b AS DECIMAL(18,2))) AS DOUBLE)"
  }
}
