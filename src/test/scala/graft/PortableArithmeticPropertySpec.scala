package graft

import graft.queries.{Common, Text}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.forAll

/** Property tests for the engine-portable arithmetic ~30 oracles lean
  * on: the multiplicative hash (`Common.multHashExpr`/`multHashDuck` —
  * KMV, A/B bucketing, negative sampling), the ⌊ln·scale⌋ fixed-point
  * folds (token entropy, zipf fit, bigram LM, hill tail), and the
  * `(2n+d) div (2d)` round-half-up (raking, bootstrap CI, seasonal
  * decompose). One silent overflow or sign surprise in any of these
  * breaks many gates at once, so each is pinned against an exact
  * BigInt/BigDecimal JVM reference over adversarial ranges —
  * Long.Min/Max edges, negatives, denormal-adjacent doubles — not just
  * the friendly values the fixtures happen to produce. The PRODUCTION
  * expression strings are evaluated (private[graft] accessors), never a
  * re-derivation that could drift. */
class PortableArithmeticPropertySpec extends GraftSuite {
  import spark.implicits._

  private val M = BigInt(operators.TextAnalysis.FingerprintMod)
  private val A = BigInt(Common.HashMult)

  private def check(p: Prop, n: Int = 15): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(r.passed, r.status.toString)
  }

  test("multiplicative hash: Spark formula == BigInt pmod on the FULL Long range") {
    // DECIMAL(38,0) headroom is part of the contract: |x·A| ≤
    // 2^63·6.37e18 ≈ 5.9e37 < 10^38−1, so the product can never
    // overflow-null even at Long.MinValue. BigInt.mod is non-negative
    // for a positive modulus — exactly Spark's pmod.
    val edges = Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue,
      Long.MinValue + 1, M.toLong, -M.toLong, M.toLong - 1, M.toLong + 1)
    val gen = Gen.frequency(3 -> Gen.oneOf(edges), 7 -> Gen.long)
    val prop = forAll(Gen.listOfN(48, gen)) { xs0 =>
      val xs = (edges ++ xs0).distinct
      val got = xs.toDF("x")
        .selectExpr("x", s"${Common.multHashExpr("x")} AS h")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      xs.forall { x => got(x) == ((BigInt(x) * A) mod M).toLong }
    }
    check(prop)
  }

  test("multHashDuck % semantics == pmod on the non-negative call-site domain") {
    // DuckDB HUGEINT % keeps the dividend's sign (as does BigInt.%);
    // Spark's side uses pmod. They agree exactly iff the hashed key is
    // non-negative — which every call site (user_id, custkey-derived)
    // guarantees. Pure JVM replay of both formulas' arithmetic.
    val prop = forAll(Gen.chooseNum(0L, Long.MaxValue)) { x =>
      val prod = BigInt(x) * A
      (prod % M).toLong == (prod mod M).toLong
    }
    check(prop, 500)
    // ... and the domain restriction is REAL, not hypothetical:
    val neg = BigInt(-3L) * A
    assert((neg % M) != (neg mod M),
      "a negative key WOULD diverge between engines — call sites must stay >= 0")
  }

  test("⌊ln·1e6⌋ and ⌊ln·1e9⌋ folds match the JVM reference incl. denormal edges") {
    // Spark's ln/floor lower to java.lang.Math on the JVM, so this pins
    // the fixed-point quantization (floor-then-cast ordering, scale
    // headroom) rather than the log itself: even ln(Double.MIN_VALUE)
    // ≈ −744.44 scales to ~−7.4e11 at 1e9 — far inside BIGINT.
    val edges = Seq(java.lang.Double.MIN_VALUE, java.lang.Double.MIN_NORMAL,
      math.nextDown(1.0), 1.0, math.nextUp(1.0), 2.0, math.E,
      math.nextDown(math.E), 1e15, java.lang.Double.MAX_VALUE)
    val gen = Gen.frequency(
      3 -> Gen.oneOf(edges),
      4 -> Gen.chooseNum(1e-300, 1e300),
      3 -> Gen.chooseNum(1.0, 1e9).map(math.floor)) // the count-like domain
    val prop = forAll(Gen.listOfN(40, gen)) { xs0 =>
      val xs = (edges ++ xs0).distinct.filter(_ > 0)
      val got = xs.toDF("x")
        .selectExpr("x",
          "CAST(floor(ln(x) * 1e6) AS BIGINT) AS q6",
          "CAST(floor(ln(x) * 1e9) AS BIGINT) AS q9")
        .collect().map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2))).toMap
      xs.forall { x =>
        got(x) == (math.floor(math.log(x) * 1e6).toLong,
                   math.floor(math.log(x) * 1e9).toLong)
      }
    }
    check(prop)
  }

  test("(2n+d) div (2d) round-half-up matches exact BigInt truncating division") {
    // The raking/bootstrap/decompose rounding: nearest integer to n/d
    // with halves toward +inf, computed entirely in DECIMAL(38,0) —
    // IntegralDivide truncates toward zero on BOTH engines, which this
    // replays with BigInt./ (truncated division). Inputs are scaled
    // ×1e6 so intermediates genuinely exercise wide-decimal headroom
    // (~25 digits) while quotients stay within Long.
    val genN = Gen.frequency(
      2 -> Gen.oneOf(0L, 1L, -1L, 5L, -5L, Long.MaxValue, Long.MinValue + 1),
      8 -> Gen.long)
    val genD = Gen.frequency(
      2 -> Gen.oneOf(1L, 2L, 10L, Long.MaxValue),
      8 -> Gen.chooseNum(1L, Long.MaxValue))
    val prop = forAll(Gen.listOfN(32, Gen.zip(genN, genD))) { nds0 =>
      val nds = (Seq((5L, 10L), (-5L, 10L), (0L, 1L)) ++ nds0).distinct
      val scale = BigInt(1000000)
      val rows = nds.map { case (n, d) =>
        Row(new java.math.BigDecimal((BigInt(n) * scale).bigInteger),
            new java.math.BigDecimal((BigInt(d) * scale).bigInteger))
      }
      val schema = StructType(Seq(
        StructField("n", DecimalType(38, 0)), StructField("d", DecimalType(38, 0))))
      val got = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 2), schema)
        .selectExpr("n", "d", "(2 * n + d) div (2 * d) AS q")
        .collect()
        .map(r => (BigInt(r.getDecimal(0).toBigInteger),
                   BigInt(r.getDecimal(1).toBigInteger)) -> r.getLong(2))
        .toMap
      nds.forall { case (n, d) =>
        val (nn, dd) = (BigInt(n) * scale, BigInt(d) * scale)
        got((nn, dd)) == ((2 * nn + dd) / (2 * dd)).toLong
      }
    }
    check(prop)
    // the half cases pin the INTENT: +0.5 rounds up, −0.5 rounds to 0
    // (truncation toward zero ≡ half-toward-+inf at exact halves)
    val half = Seq((5L, 10L) -> 1L, (-5L, 10L) -> 0L, (15L, 10L) -> 2L,
      (-15L, 10L) -> -1L)
    half.foreach { case ((n, d), want) =>
      assert((2 * BigInt(n) + d) / (2 * BigInt(d)) == want, s"($n,$d)")
    }
  }

  test("universal minhash slot hash: (h·a+b) mod P stays in Long and matches BigInt") {
    // q_minhash_est_err computes pmod(h * a_j + b_j, P) in plain LONG
    // arithmetic (no DECIMAL widening), so the no-overflow claim is a
    // real contract: h < P and a_j < P give h·a_j ≤ (P−1)² ≈ 4.6e18 <
    // Long.Max ≈ 9.2e18, with room for b_j < P. Pin it at the extreme
    // corners and random draws against BigInt, through the PRODUCTION
    // expression shape.
    val u = functions.NativeText.SimHashUniv
    val P = u.P
    val aMax = u.a.max
    val bOfAMax = u.b(u.a.indexOf(aMax))
    assert(BigInt(P - 1) * aMax + bOfAMax <= Long.MaxValue,
      "slot-hash product must fit a signed 64-bit long")
    val gen = Gen.frequency(
      2 -> Gen.oneOf(0L, 1L, P - 1),
      8 -> Gen.chooseNum(0L, P - 1))
    val prop = forAll(Gen.listOfN(24, gen), Gen.chooseNum(0, 31)) { (hs0, j) =>
      val hs = (hs0 ++ Seq(0L, P - 1)).distinct
      val got = hs.toDF("h")
        .selectExpr("h", s"pmod(h * ${u.a(j)}L + ${u.b(j)}L, ${P}L) AS s")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      hs.forall { h =>
        got(h) == ((BigInt(h) * u.a(j) + u.b(j)) mod BigInt(P)).toLong
      }
    }
    check(prop)
  }

  test("JL sign parity: the DECIMAL multiplicative-parity formula matches BigInt exhaustively") {
    // q_random_projection draws its ±1 matrix from pmod((i·8+j)·A, M)%2
    // — the (dim, out-dim) domain is finite (64×8), so check EVERY cell
    // through the production expression, not a sample.
    val cells = for (i <- 0 until 64; j <- 0 until 8) yield (i, j)
    val got = cells.toDF("i", "j")
      .selectExpr("i", "j",
        s"pmod(CAST(i * 8 + j AS DECIMAL(38,0)) * ${Common.HashMult}, " +
          s"${operators.TextAnalysis.FingerprintMod}) % 2 = 0 AS pos")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getBoolean(2)).toMap
    cells.foreach { case (i, j) =>
      val want = ((BigInt(i * 8 + j) * A).mod(M) % 2) == 0
      assert(got((i, j)) == want, s"cell ($i,$j)")
    }
    // sanity: the matrix is not degenerate (both signs occur)
    assert(got.values.exists(identity) && got.values.exists(!_))
  }

  test("int8 symmetric quantization: reconstruction error is bounded by amax/254 + ulp slack") {
    // q_int8_quant_audit's claim is the standard symmetric-quantization
    // bound: rounding to the nearest of 255 levels over [−amax, amax]
    // errs at most half a step. The formula is pinned to Math ops the
    // Spark expression lowers to, so a pure JVM property is the
    // reference. (floor(x+0.5) is round-half-up — the DuckDB floor
    // expression is textually identical.)
    val gen = Gen.nonEmptyListOf(Gen.chooseNum(-1.0f, 1.0f))
    val prop = forAll(gen) { vs =>
      val amax = vs.foldLeft(0.0)((m, x) => math.max(m, math.abs(x.toDouble)))
      amax == 0.0 || vs.forall { xf =>
        val x = xf.toDouble
        val err = math.abs(x - math.floor(x * 127.0 / amax + 0.5) * amax / 127.0)
        err <= amax / 254.0 + math.ulp(amax) * 4
      }
    }
    check(prop, 300)
  }

  test("squared-hash mix (q_epoch_shuffle): DECIMAL(38,0) headroom holds and matches BigInt") {
    // h < M < 2^55 ⇒ h² < 1.3e33 < 10^38−1: the square can never
    // overflow-null the DECIMAL lane. The Spark expression is evaluated
    // verbatim against a BigInt reference, and the nonlinearity claim is
    // checked directly: the mix must NOT be an affine function of h
    // (an affine chain is the exact bug the op exists to detect).
    val gen = Gen.frequency(2 -> Gen.oneOf(Seq(0L, 1L, M.toLong - 1)),
      8 -> Gen.chooseNum(0L, M.toLong - 1))
    val prop = forAll(Gen.listOfN(24, gen)) { hs0 =>
      val hs = (hs0 ++ Seq(0L, M.toLong - 1)).distinct
      val got = hs.toDF("h")
        .selectExpr("h",
          s"CAST(pmod(pmod(CAST(h AS DECIMAL(38,0)) * h, ${M}), 8) AS INT) AS b")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      hs.forall { h => got(h) == ((BigInt(h) * h).mod(M) % 8).toInt }
    }
    check(prop)
    // non-affine: consecutive h values don't step the bucket by a constant
    val steps = (0L until 64L).map(h => (((BigInt(h + 1) * (h + 1)).mod(M) % 8)
      - ((BigInt(h) * h).mod(M) % 8)).toInt)
    assert(steps.distinct.size > 1, "squared mix degenerated to an affine step")
  }

  test("deterministic Laplace tail (q_dp_release): noise is odd in u and ln-bounded") {
    // noise(u) = −sign(u−½)·(⌊ln(1e6−2|u−½|)·1e6⌋ − ⌊ln(1e6)·1e6⌋) on the
    // ppm grid. Pure JVM reference (the ln fold is already pinned above);
    // the properties that matter downstream: symmetry (u and 1e6−u give
    // opposite noise), zero at the median, and the hard bound
    // |noise| ≤ ⌈ln(1e6)·1e6⌉ — which caps any released count's
    // distortion at 14 after the (2n+d) div (2d) rounding.
    def noise(u: Long): Long = {
      val s = u - 500000L
      val arg = math.max(1000000L - 2 * math.abs(s), 1L)
      -java.lang.Long.signum(s) *
        (math.floor(math.log(arg.toDouble) * 1e6).toLong - 13815510L)
    }
    val prop = forAll(Gen.chooseNum(0L, 999999L)) { u =>
      val n = noise(u)
      math.abs(n) <= 13815511L &&
        (u == 500000L || u == 0L || noise(1000000L - u) == -n) &&
        (u != 500000L || n == 0L)
    }
    check(prop, 500)
    // the rounded count distortion bound the op's doc claims
    assert((2 * 13815511L + 1000000L) / 2000000L <= 14L)
  }

  test("κ fold (q_cohen_kappa): the production expression matches BigInt under BOTH division semantics") {
    // the PRODUCTION string (Text.KappaPpmExpr) evaluated by Spark
    // over adversarial (n, agree, rc) triples — agree ≤ n, rc ≤ n²,
    // including rc > n·agree (negative κ) and the rc = n² degenerate
    // guard-off domain (den > 0 enforced by construction: rc < n²
    // whenever the confusion table has ≥2 distinct labels; here we
    // simply keep rc ≤ n²−1). The reference runs TRUNCATING division
    // on |num| (BigInt /); because both branches divide a nonnegative
    // numerator, flooring (DuckDB //, BigInt floorDiv) must give the
    // SAME answer — both are asserted, which is exactly the
    // cross-engine claim the oracle gate relies on.
    val gen = for {
      n <- Gen.chooseNum(1L, 1000000000000L) // up to 1e12 docs
      agree <- Gen.chooseNum(0L, n)
      rc <- Gen.chooseNum(BigInt(0), BigInt(n) * n - 1)
    } yield (n, agree, rc)
    val prop = forAll(gen) { case (n, agree, rc) =>
      val num = BigInt(n) * agree - rc
      val den = BigInt(n) * n - rc
      val wantTrunc = if (num >= 0) num * 1000000L / den
        else -((-num * 1000000L) / den)
      val absQ = (num.abs * 1000000L) / den
      val wantFloor = if (num >= 0) absQ else -absQ // floor(|x|/d) == trunc
      wantTrunc == wantFloor && {
        val got = Seq((n, agree, rc.toString))
          .toDF("n", "agree", "__rcs")
          .selectExpr("n", "agree", "CAST(__rcs AS DECIMAL(38,0)) AS __rc")
          .selectExpr(s"${Text.KappaPpmExpr} AS k")
          .collect().head.getLong(0)
        got == wantTrunc.toLong
      }
    }
    check(prop)
  }

  test("padding fold (q_padding_waste): sorted chunking minimizes padding over FULL batches only") {
    // the precise theorem behind the report: when every batch is full
    // (count % B == 0), sorted contiguous chunking minimizes
    // Σ(n_b·max − Σlen) over any order (exchange argument on group
    // maxima). With a PARTIAL final batch it is NOT universally better
    // — [5,5,1] at B=2 pads 0 in arrival order but 4 sorted (the small
    // doc lands inside a full batch instead of alone) — which is WHY
    // the op reports both policies instead of assuming one wins.
    def pad(groups: Iterator[Seq[Long]]): Long =
      groups.map(b => b.size * b.max - b.sum).sum
    val gen = Gen.zip(Gen.chooseNum(1, 8),
      Gen.listOf(Gen.chooseNum(1L, 512L)))
    val prop = forAll(gen) { case (nBatches, tail0 ) =>
      val lens = (tail0 ++ Seq.fill(16 * nBatches)(1L)).take(16 * nBatches)
      pad(lens.sorted.grouped(16)) <= pad(lens.grouped(16))
    }
    check(prop, 300)
    // the partial-batch counter-example, pinned
    assert(pad(Seq(5L, 5L, 1L).grouped(2)) == 0L)
    assert(pad(Seq(5L, 5L, 1L).sorted.grouped(2)) == 4L)
  }

  test("resize rounding (q_resize_plan): (n·scale+5e5) div 1e6 is round-half-up on the dim domain") {
    // positive operands only (dims 16..655, scale ≤ 14e6), so Spark div
    // and DuckDB // agree (truncation == floor); against an exact
    // BigDecimal HALF_UP reference.
    val gen = Gen.zip(Gen.chooseNum(16, 655), Gen.chooseNum(1L, 14000000L))
    val prop = forAll(gen) { case (dim, scale) =>
      val got = (dim * scale + 500000L) / 1000000L
      val want = BigDecimal(BigInt(dim) * scale, 6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact
      got == want
    }
    check(prop, 500)
  }
}
