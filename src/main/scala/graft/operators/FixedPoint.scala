package graft.operators

/** Engine-portable fixed-point SQL fragments: the one place the
  * registry's engine-exact divisions and logs are written.
  *
  * Background (SURVEY §5 output-cast discipline): the oracle compare is
  * cell-exact, so every division/log that feeds a compared column must
  * produce bit-identical values under Spark AND DuckDB. Two engine
  * differences bite:
  *   - integer division: Spark's `div` truncates toward zero, DuckDB's
  *     `//` is not guaranteed to — so divisions are sign-split: divide
  *     magnitudes (where truncating and flooring agree), re-apply the
  *     sign;
  *   - doubles: `ln`/`sqrt` are IEEE-correctly-rounded on both engines
  *     ONLY from exactly-representable inputs (BIGINT→DOUBLE is exact,
  *     HUGEINT→DOUBLE is not), and quantizing ⌊f(x)·10^q⌋ to BIGINT
  *     immediately after the transcendental keeps every downstream
  *     fold exact.
  *
  * Each helper emits a SQL FRAGMENT (string) usable in both `expr(...)`
  * on the Spark side and the DuckDB oracle text, with the `duck` flag
  * selecting the engine's integer-division operator:
  *   - [[sdiv]]: trunc(num / den), den > 0;
  *   - [[sdivPpm]]: trunc(num·10⁶ / den), den > 0;
  *   - [[sdivPpm2]]: trunc(num·10⁶ / den), any operand signs;
  *   - [[sdivRound]]: num / den rounded half away from zero, den > 0;
  *   - [[lnQ]]: ⌊ln(x)·scale⌋ as BIGINT.
  * FixedPointSpec checks every fragment, on Spark and live on DuckDB,
  * against BigInteger reference semantics across sign/magnitude grids;
  * FixedPointRatchetSpec fails if a query file writes one inline.
  */
object FixedPoint {

  private def divOp(duck: Boolean): String = if (duck) "//" else "div"

  /** Sign-split integral division: trunc(num / den), identical under
    * Spark's truncating `div` and DuckDB's `//` for any numerator sign.
    * Assumes a POSITIVE denominator. */
  def sdiv(num: String, den: String, duck: Boolean): String = {
    val d = divOp(duck)
    s"(CASE WHEN ($num) >= 0 THEN ($num) $d ($den) ELSE -((-($num)) $d ($den)) END)"
  }

  /** Sign-split ppm division: ⌊|num|·10⁶ / den⌋ with num's sign
    * re-applied. Assumes a POSITIVE denominator — use [[sdivPpm2]]
    * when the denominator can go negative too. */
  def sdivPpm(num: String, den: String, duck: Boolean): String = {
    val d = divOp(duck)
    s"""CASE WHEN ($num) >= 0 THEN (($num) * 1000000) $d ($den)
       | ELSE -((-($num)) * 1000000 $d ($den)) END"""
      .stripMargin.replace("\n", " ")
  }

  /** Fully sign-symmetric ppm division: result sign = sign(num·den),
    * magnitude = (|num|·10⁶) div |den|, for ANY operand signs. */
  def sdivPpm2(num: String, den: String, duck: Boolean): String = {
    val d = divOp(duck)
    s"""CASE WHEN (($num) >= 0) = (($den) >= 0)
       | THEN (abs($num) * 1000000) $d abs($den)
       | ELSE -((abs($num) * 1000000) $d abs($den)) END"""
      .stripMargin.replace("\n", " ")
  }

  /** Round-half-away-from-zero division: (2|num| + den) div (2·den)
    * with num's sign re-applied — the nearest integer to num/den, ties
    * away from zero. Assumes a POSITIVE denominator. */
  def sdivRound(num: String, den: String, duck: Boolean): String = {
    val d = divOp(duck)
    s"""CASE WHEN ($num) >= 0 THEN (2 * ($num) + ($den)) $d (2 * ($den))
       | ELSE -((2 * -($num) + ($den)) $d (2 * ($den))) END"""
      .stripMargin.replace("\n", " ")
  }

  /** Quantized natural log: ⌊ln(x)·scale⌋ as BIGINT. `x` must be
    * POSITIVE; the result is engine-exact when its double conversion is
    * exact on both engines (BIGINT counts, ppm integers — not HUGEINT
    * sums). The ⌊ln·10⁶⌋ fold is the q_char_kl device used across the
    * entropy / perplexity / PMI / Zipf family. */
  def lnQ(x: String, scale: Long = 1000000L): String =
    s"CAST(floor(ln($x) * $scale) AS BIGINT)"
}
