package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Float-parity helpers for the DuckDB-oracle hash compare.
  *
  * Why this exists: source columns like prices are decimal-quantized
  * (2 dp). A SUM of such values sits on a coarse decimal lattice, so
  * rounding it at 4 dp is stable against the ~1-ulp partial-sum-order
  * differences between Spark and DuckDB (the nearest rounding
  * half-boundary is ≥ 5e-5 away). An AVG is not: dividing by the group
  * count re-quantizes the lattice onto exact rounding half-boundaries
  * (e.g. 274.03/8 = 34.25375), where the two engines' ROUND paths
  * disagree — Spark rounds the shortest decimal repr via BigDecimal
  * HALF_UP, DuckDB multiplies by 10^s in binary and std::round()s.
  *
  * [[stableAvg]] therefore leaves floating point entirely: it scales the
  * lattice-safe rounded sum to integer ten-thousandths and performs a
  * half-up division in exact integer arithmetic — identical in both
  * engines by construction. Semantics: a 4 dp-stabilized average,
  * deviating from round(avg,4) by at most one ulp-of-1e-4 at exact ties
  * (where it deterministically rounds half-up; floor-division form, so
  * negative ties round toward +inf in both engines alike).
  */
object Parity {
  def r4(c: Column): Column = round(c, 4)

  // ------------------------------------------------- lattice division
  // The ONE definition of integer-lattice division. Every operator that
  // reports a ratio on an e2/e4/e6/e9 lattice scales the numerator at
  // the call site (`halfUp(num * 1000000L, den)`), widens to
  // decimal(38,0) there when 2·num would overflow a long, and turns the
  // lattice value into a double there (`.cast("double") / 1e6`).
  //
  // Contract shared by all three Column helpers:
  //  - operands: integral or decimal(p,0) columns; den > 0;
  //  - result: a long (Spark `div`), exact at any magnitude whose
  //    quotient fits a long — `/` would go through double, exact only
  //    below 2^53;
  //  - the numerator is pulled down to an exact multiple of the
  //    divisor with `pmod` first, so `div`'s truncation IS the floor
  //    for either sign of num.
  // The `*Sql` twins render the same value in DuckDB, whose `//` and
  // `%` truncate toward zero (-7 // 2 = -3): the positive mod
  // ((x % d) + d) % d forces the floor there too.

  /** ⌊num / den⌋, den > 0, num of either sign. */
  def floorDiv(num: Column, den: Column): Column =
    call_function("div", num - pmod(num, den), den)

  /** DuckDB rendering of [[floorDiv]]. */
  def floorDivSql(num: String, den: String): String =
    s"((($num) - ((($num) % ($den) + ($den)) % ($den))) // ($den))"

  /** num / den rounded half-up: ⌊(2·num + den) / (2·den)⌋, den > 0.
    * Ties round toward +∞ for either sign (2.5 → 3, −2.5 → −2). */
  def halfUp(num: Column, den: Column): Column =
    floorDiv(num * 2L + den, den * 2L)

  /** DuckDB rendering of [[halfUp]]. */
  def halfUpSql(num: String, den: String): String =
    floorDivSql(s"2 * ($num) + ($den)", s"2 * ($den)")

  /** num / den rounded half away from zero, den > 0: sign(num) ·
    * [[halfUp]](|num|, den) (2.5 → 3, −2.5 → −3). Differs from
    * [[halfUp]] only on negative ties — the rule for signed quantities
    * (residuals, eigenvector components) whose oracle mirrors the
    * rounding symmetrically. */
  def signedHalfUp(num: Column, den: Column): Column = {
    val h = halfUp(abs(num), den)
    when(num < 0, -h).otherwise(h)
  }

  /** DuckDB rendering of [[signedHalfUp]]. */
  def signedHalfUpSql(num: String, den: String): String =
    s"(CASE WHEN ($num) < 0 THEN -1 ELSE 1 END) * " +
      s"(${halfUpSql(s"ABS($num)", den)})"

  /** Order-insensitive 4 dp average over decimal-quantized data:
    * [[halfUp]] of the e4 sum over the count, as a double.
    */
  def stableAvg(c: Column): Column = {
    val sumE4 = round(round(sum(c), 4) * 10000, 0).cast("long")
    halfUp(sumE4, count(c)).cast("double") / 10000.0
  }

  /** DuckDB rendering of [[stableAvg]] (the sum and count are
    * nonnegative, so `//` alone is the floor). */
  def stableAvgSql(e: String): String =
    s"CAST((2*CAST(ROUND(ROUND(SUM($e),4)*10000) AS BIGINT) + COUNT($e)) " +
      s"// (2*COUNT($e)) AS DOUBLE)/10000.0"

  /** Knuth multiplicative-hash bucket with engine-parity overflow
    * safety: the key is masked to 31 bits BEFORE the multiply, so the
    * widest product is 2^31 · k < 2^63 for any k < 2^32 — Spark never
    * silently wraps and DuckDB's checked BIGINT multiply never raises,
    * at any key magnitude (an unmasked key * 2654435761 overflows past
    * orderkey ≈ 3.5e9, i.e. exactly at the 100 TB scales this library
    * targets). For keys < 2^31 — every driver test scale — the masked
    * hash equals the unmasked one. Nonneg keys assumed (pmod == %).
    */
  def mixBucket(key: Column, k: Long, buckets: Long): Column =
    pmod(pmod(pmod(key, lit(2147483648L)) * lit(k), lit(4294967296L)),
      lit(buckets))

  /** DuckDB rendering of [[mixBucket]] — same mask, same arithmetic. */
  def mixBucketSql(key: String, k: Long, buckets: Long): String =
    s"((($key % 2147483648) * $k) % 4294967296) % $buckets"

  /** HIGH-bits multiplicative bucket — Knuth's actual prescription.
    * [[mixBucket]] keeps the product's LOW bits (`% buckets`), and for
    * a power-of-two bucket count the low bits of key·k are a fixed
    * bijection of the key's own low bits for EVERY odd multiplier —
    * so "independent" hash rows built from different multipliers
    * collide identically (two keys agree in one row ⟺ they agree in
    * all rows), which silently voids any d-row sketch or multi-draw
    * construction. Taking the TOP bits (divide by 2³²⁄buckets) makes
    * the bucket depend on the full product, so distinct multipliers
    * give genuinely distinct bucketings. `buckets` must divide 2³².
    * Same 31-bit pre-mask ⇒ same overflow safety as [[mixBucket]].
    */
  def mixBucketHi(key: Column, k: Long, buckets: Long): Column = {
    require(4294967296L % buckets == 0, s"buckets $buckets must divide 2^32")
    val shift = 4294967296L / buckets
    floorDiv(pmod(pmod(key, lit(2147483648L)) * lit(k), lit(4294967296L)),
      lit(shift))
  }

  /** DuckDB rendering of [[mixBucketHi]] (`//` = floor division). */
  def mixBucketHiSql(key: String, k: Long, buckets: Long): String = {
    require(4294967296L % buckets == 0, s"buckets $buckets must divide 2^32")
    s"((($key % 2147483648) * $k) % 4294967296) // ${4294967296L / buckets}"
  }
}
