package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text-dedup hot path.
  *
  * The declarative forms (`transform`/`aggregate` higher-order functions)
  * are semantically right but evaluate INTERPRETED — one lambda dispatch
  * and one boxed Long per array element. At millions of shingles that is
  * ~100× slower than a primitive loop. Each expression below is a single
  * tight loop over primitive arrays, no boxing in the inner loop, using
  * Spark's own XXH64 — the same preference order the Spark docs give:
  * built-in function < custom Expression < UDF.
  *
  * (CodegenFallback is a MEASURED decision, not an omission: r15 tried
  * the alternative — a kernel-call `doGenCode` so the host operator
  * stays inside WholeStageCodegen — and the full 415-query bench
  * regressed 366 → 448 s (144 queries >10% slower, 6 faster, same
  * quiet host back-to-back). The generated form pays an Object[]
  * allocation + boxing per row where the fallback's split stage
  * evaluates the same kernel once per row anyway, and the extra
  * generated classes pressure the JIT code cache session-wide. See
  * OPTIMIZATION_r15.md "KernelCodegen A/B".)
  */
object NativeText {

  private val Seed = 42L

  private val WhitespaceRe = java.util.regex.Pattern.compile("\\s+")

  /** Whitespace tokens of a trimmed UTF8 string — matches
    * `split(trim(text), "\\s+")`. The pattern is compiled ONCE;
    * `UTF8String.split` would recompile the regex per row. */
  private[functions] def tokenize(text: UTF8String): Array[UTF8String] = {
    val parts = WhitespaceRe.split(text.trim.toString, -1)
    val out = new Array[UTF8String](parts.length)
    var i = 0
    while (i < parts.length) { out(i) = UTF8String.fromString(parts(i)); i += 1 }
    out
  }

  private def requireType(ok: Boolean, what: String): TypeCheckResult =
    if (ok) TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(what)

  private def isLongArray(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  /** The set-op expressions accept ARRAY<INT> alongside ARRAY<BIGINT>:
    * the univ shingle family emits 31-bit hashes (mod P = 2^31−1) as
    * INT — HALF the shuffle bytes of the verify stage, the dominant
    * disk cost of exact near-dup verification at corpus scale (the
    * r13 sf100 disk wall). Values are non-negative, so widening
    * preserves order and equality exactly. */
  private def isIntOrLongArray(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) | ArrayType(IntegerType, _) => true
    case _ => false
  }

  /** ArrayData → long[], widening an INT array (see above). */
  private def toLongs(dt: DataType, a: ArrayData): Array[Long] = dt match {
    case ArrayType(IntegerType, _) =>
      val ints = a.toIntArray()
      val out = new Array[Long](ints.length)
      var i = 0
      while (i < ints.length) { out(i) = ints(i).toLong; i += 1 }
      out
    case _ => a.toLongArray()
  }

  private def isStringArray(dt: DataType): Boolean = dt match {
    case ArrayType(StringType, _) => true
    case _ => false
  }

  private def hashToken(t: UTF8String, seed: Long): Long = {
    val b = t.getBytes
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, seed)
  }

  /** `hashed_shingles(text, k)` — distinct 64-bit hashes of the k-token
    * word shingles, hashed by XXH64 seed-chaining over the k tokens
    * (documents shorter than k yield one shingle of what's there). */
  case class HashedShingles(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {
    require(k >= 1, "shingle size must be >= 1")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(child.dataType == StringType,
        s"hashed_shingles expects a STRING argument, got ${child.dataType.sql}")
    override def nullSafeEval(input: Any): Any = {
      val toks = tokenize(input.asInstanceOf[UTF8String])
      val n = math.max(toks.length - k + 1, 1)
      val seen = new java.util.HashSet[java.lang.Long](n * 2)
      val out = new Array[Long](n)
      var m = 0
      var i = 0
      while (i < n) {
        var h = Seed
        var j = 0
        while (j < k) {
          if (i + j < toks.length) h = hashToken(toks(i + j), h)
          j += 1
        }
        if (seen.add(h)) { out(m) = h; m += 1 }
        i += 1
      }
      // emit sorted: order is irrelevant to Jaccard/minhash, and sorted
      // shingle sets make the verify-stage set ops cache-friendly
      val trimmed = java.util.Arrays.copyOf(out, m)
      java.util.Arrays.sort(trimmed)
      new GenericArrayData(trimmed)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `minhash_signature(shingleHashes, numHashes)` — for slot i, the
    * minimum over the shingle set of a slot-seeded XXH64 rehash. */
  case class MinHashSignature(child: Expression, numHashes: Int)
      extends UnaryExpression with CodegenFallback {
    require(numHashes >= 1)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(isLongArray(child.dataType),
        s"minhash_signature expects ARRAY<BIGINT>, got ${child.dataType.sql}")
    override def nullable: Boolean = true
    override def nullSafeEval(input: Any): Any = {
      val hashes = input.asInstanceOf[ArrayData].toLongArray()
      // empty set has no minima — null, matching the declarative
      // array_min-based form (not a Long.MaxValue sentinel signature)
      if (hashes.isEmpty) return null
      val sig = new Array[Long](numHashes)
      var i = 0
      while (i < numHashes) {
        val slotSeed = XXH64.hashInt(i, Seed)
        var min = Long.MaxValue
        var j = 0
        while (j < hashes.length) {
          val h = XXH64.hashLong(hashes(j), slotSeed)
          if (h < min) min = h
          j += 1
        }
        sig(i) = min
        i += 1
      }
      new GenericArrayData(sig)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Parameters of the SQL-REPLICABLE minhash variant — the
    * [[SimHashUniv]] discipline applied to MinHash so an external SQL
    * engine can recompute signatures, band keys, candidate pairs, and
    * the exact Jaccard verify bit-for-bit (the registry's minhash-band
    * oracle): shingle base hash = 31-polynomial over the code points of
    * the SPACE-JOINED k-token shingle string mod P (Mersenne 2^31−1 —
    * matches DuckDB's `ascii` char fold over
    * `array_to_string(toks[i:i+k-1], ' ')`), then one universal hash
    * per signature slot, h_i(x) = (x·A_i + B_i) mod P, minimum over the
    * shingle set. Every product stays < 2^62 — exact in a JVM long AND
    * a BIGINT. Constants from a fixed-seed java.util.Random
    * (spec-pinned LCG), interpolated into the oracle SQL from here.
    * The XXH64 default family stays the hot-path choice when replay
    * isn't needed. */
  object MinHashUniv {
    val P: Long = 2147483647L
    val MaxHashes: Int = 32
    val (a: Array[Long], b: Array[Long]) = {
      val rnd = new java.util.Random(4242L)
      val a = Array.fill(MaxHashes)(Math.floorMod(rnd.nextLong(), P - 1) + 1)
      val b = Array.fill(MaxHashes)(Math.floorMod(rnd.nextLong(), P))
      (a, b)
    }
  }

  /** `shingle_hashes_univ(text, k)` — distinct SQL-replicable base
    * hashes of the k-token word shingles: the 31-polynomial code-point
    * fold of each space-joined shingle string mod [[MinHashUniv.P]]
    * (documents shorter than k yield one shingle of what's there —
    * same windowing as [[HashedShingles]]). Emitted sorted. */
  case class ShingleHashesUniv(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {
    require(k >= 1, "shingle size must be >= 1")
    // INT, not BIGINT: every hash is mod P = 2^31−1, so 31 bits suffice
    // — and these arrays are the payload of the exact-verify joins, the
    // single largest shuffle of the dedup surface (~8 KB/doc at BIGINT,
    // the r13 sf100 disk wall). Halving the element width halves that
    // irreducible shuffle; the set-op consumers widen on read, and the
    // DuckDB replay is value-identical (the SQL computes the same
    // 31-bit residues whatever the column width).
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(child.dataType == StringType,
        s"shingle_hashes_univ expects a STRING argument, got ${child.dataType.sql}")
    override def nullSafeEval(input: Any): Any = {
      import MinHashUniv.P
      val toks = tokenize(input.asInstanceOf[UTF8String])
      val n = math.max(toks.length - k + 1, 1)
      val seen = new java.util.HashSet[java.lang.Integer](n * 2)
      val out = new Array[Int](n)
      var m = 0
      var i = 0
      while (i < n) {
        var h = 0L
        var j = 0
        while (j < k) {
          if (i + j < toks.length) {
            if (j > 0) h = (h * 31L + 32L) % P // the joining space
            val s = toks(i + j).toString
            var ci = 0
            while (ci < s.length) {
              val cp = s.codePointAt(ci)
              h = (h * 31L + cp) % P
              ci += Character.charCount(cp)
            }
          }
          j += 1
        }
        if (seen.add(h.toInt)) { out(m) = h.toInt; m += 1 }
        i += 1
      }
      val trimmed = java.util.Arrays.copyOf(out, m)
      java.util.Arrays.sort(trimmed)
      new GenericArrayData(trimmed)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `minhash_signature_univ(shingleHashes, numHashes)` — for slot i,
    * the minimum over the shingle set of the universal rehash
    * (h·A_i + B_i) mod P ([[MinHashUniv]]). The replicable sibling of
    * [[MinHashSignature]]: same null-on-empty contract. */
  case class MinHashSignatureUniv(child: Expression, numHashes: Int)
      extends UnaryExpression with CodegenFallback {
    require(numHashes >= 1 && numHashes <= MinHashUniv.MaxHashes)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(isIntOrLongArray(child.dataType),
        s"minhash_signature_univ expects ARRAY<INT> or ARRAY<BIGINT>, got ${child.dataType.sql}")
    override def nullable: Boolean = true
    override def nullSafeEval(input: Any): Any = {
      import MinHashUniv.{P, a, b}
      val hashes = toLongs(child.dataType, input.asInstanceOf[ArrayData])
      if (hashes.isEmpty) return null
      val sig = new Array[Long](numHashes)
      var i = 0
      while (i < numHashes) {
        var min = Long.MaxValue
        var j = 0
        while (j < hashes.length) {
          val h = (hashes(j) * a(i) + b(i)) % P
          if (h < min) min = h
          j += 1
        }
        sig(i) = min
        i += 1
      }
      new GenericArrayData(sig)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `jaccard_sets(a, b)` — exact Jaccard of two long-array SETS via
    * sort-merge over primitive arrays (no boxing, no hash sets). */
  case class JaccardSets(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(isIntOrLongArray(left.dataType) && isIntOrLongArray(right.dataType),
        s"jaccard_sets expects ARRAY<INT>/ARRAY<BIGINT> arguments, got " +
          s"${left.dataType.sql} and ${right.dataType.sql}")
    // the shingle producers emit sorted arrays, so the common case is a
    // free O(n) verification instead of an O(n log n) re-sort per pair
    // (the verify stage evaluates this once per candidate pair — at
    // corpus scale that's billions of evals)
    private def sortIfNeeded(a: Array[Long]): Unit = {
      var i = 1
      while (i < a.length && a(i - 1) <= a(i)) i += 1
      if (i < a.length) java.util.Arrays.sort(a)
    }
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = toLongs(left.dataType, l.asInstanceOf[ArrayData])
      val b = toLongs(right.dataType, r.asInstanceOf[ArrayData])
      sortIfNeeded(a)
      sortIfNeeded(b)
      var i = 0; var j = 0; var inter = 0L
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      val union = a.length.toLong + b.length - inter
      if (union == 0L) 1.0 else inter.toDouble / union
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** `adjacent_transposition(a, b)` — do the two strings differ by
    * EXACTLY one swap of two adjacent, distinct code points? One
    * primitive loop over the code-point arrays, replacing the
    * interpreted `exists(sequence(1, length-1), i -> 6 substring
    * compares)` lambda (q_fuzzy_phone evaluated that once per
    * candidate pair — ~60 interpreted UTF8String slices each).
    * Code-point (not UTF-16-unit) positions, exactly the SQL
    * substring arithmetic it replaces. */
  case class AdjacentTransposition(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(left.dataType == StringType && right.dataType == StringType,
        s"adjacent_transposition expects two STRING arguments, got " +
          s"${left.dataType.sql} and ${right.dataType.sql}")
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[UTF8String].toString
      val b = r.asInstanceOf[UTF8String].toString
      val ca = a.codePoints().toArray
      val cb = b.codePoints().toArray
      if (ca.length != cb.length) return false
      var i = 0
      while (i < ca.length && ca(i) == cb(i)) i += 1
      if (i >= ca.length - 1) return false // equal, or mismatch at last pos
      if (!(ca(i) == cb(i + 1) && ca(i + 1) == cb(i) && ca(i) != ca(i + 1)))
        return false
      var j = i + 2
      while (j < ca.length) {
        if (ca(j) != cb(j)) return false
        j += 1
      }
      true
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** `bleu_clip_counts(hyp_tokens, ref_tokens)` — BLEU-4's per-pair
    * clipped n-gram statistics computed ENTIRELY map-side: for each
    * n = 1..4, the number of hyp n-gram positions (`tot`) and the
    * clipped overlap Σ_g min(count_hyp(g), count_ref(g)) (`clip`),
    * returned flat as [tot1, clip1, …, tot4, clip4]. Gram positions
    * follow the registry convention sequence(1, greatest(len−n+1, 1))
    * — an input shorter than n yields ONE truncated gram; an empty
    * array yields the empty gram. Gram identity is the exact
    * space-joined token string — no hashing, so parity with the
    * string-keyed DuckDB replay is exact, not probabilistic. Replaces
    * a corpus×4 gram posexplode→groupBy→self-join round trip (the
    * r13 sf100 audit priced that shuffle at ~corpus×4 gram rows) with
    * one primitive loop per pair. */
  case class BleuClipCounts(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(isStringArray(left.dataType) && isStringArray(right.dataType),
        s"bleu_clip_counts expects two ARRAY<STRING> arguments, got " +
          s"${left.dataType.sql} and ${right.dataType.sql}")
    private def gram(toks: Array[String], i: Int, n: Int): String = {
      if (toks.length == 0) return "" // concat_ws over an empty slice
      val end = math.min(i + n, toks.length)
      if (end - i == 1) toks(i)
      else {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = i + 1
        while (j < end) { sb.append(' ').append(toks(j)); j += 1 }
        sb.toString
      }
    }
    override def nullSafeEval(l: Any, r: Any): Any = {
      def strings(a: Any): Array[String] = {
        val ad = a.asInstanceOf[ArrayData]
        val out = new Array[String](ad.numElements())
        var i = 0
        while (i < out.length) { out(i) = ad.getUTF8String(i).toString; i += 1 }
        out
      }
      val hyp = strings(l)
      val ref = strings(r)
      val out = new Array[Long](8)
      val counts = new java.util.HashMap[String, Integer]()
      var n = 1
      while (n <= 4) {
        counts.clear()
        val rTot = math.max(ref.length - n + 1, 1)
        var i = 0
        while (i < rTot) {
          counts.merge(gram(ref, i, n), Integer.valueOf(1), (a, b) => a + b)
          i += 1
        }
        val hTot = math.max(hyp.length - n + 1, 1)
        var clip = 0L
        i = 0
        while (i < hTot) {
          val g = gram(hyp, i, n)
          val c = counts.get(g)
          if (c != null && c > 0) { clip += 1; counts.put(g, c - 1) }
          i += 1
        }
        out(2 * (n - 1)) = hTot.toLong
        out(2 * (n - 1) + 1) = clip
        n += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Parameters of the SQL-replicable simhash variant (`simhash_univ`):
    * token base hash = 31-polynomial over code points mod P (P = the
    * Mersenne prime 2^31-1), then one universal hash per bit,
    * g_j(h) = (h·A_j + B_j) mod P, voting +1 when g_j < P/2. Every
    * product stays < 2^62 — exact in a JVM long AND in a DuckDB/ANSI
    * BIGINT, which is the point: an external SQL engine can recompute
    * the identical fingerprint (see queries.Lsh.dedupSimhashSql). 63 bits so
    * `1 << j` never touches the sign bit. The A/B constants come from a
    * fixed-seed java.util.Random (spec-pinned LCG — identical on every
    * JVM) and are interpolated into the oracle SQL from these arrays. */
  object SimHashUniv {
    val P: Long = 2147483647L
    val Bits: Int = 63
    val (a: Array[Long], b: Array[Long]) = {
      val rnd = new java.util.Random(42L)
      val a = Array.fill(Bits)(Math.floorMod(rnd.nextLong(), P - 1) + 1)
      val b = Array.fill(Bits)(Math.floorMod(rnd.nextLong(), P))
      (a, b)
    }
    def tokenBaseHash(t: UTF8String): Long = {
      val s = t.toString
      var h = 0L
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        h = (h * 31L + cp) % P
        i += Character.charCount(cp)
      }
      h
    }
  }

  /** `simhash_univ(text)` — Charikar simhash with per-bit universal
    * hashing of a SQL-replicable token base hash (see [[SimHashUniv]]).
    * Use when the fingerprint must be reproducible outside the JVM
    * (oracle checks, cross-engine dedup); `simhash64` (XXH64) is the
    * faster default when it doesn't. */
  case class SimHashUnivExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(child.dataType == StringType,
        s"simhash_univ expects a STRING argument, got ${child.dataType.sql}")
    override def nullSafeEval(input: Any): Any = {
      import SimHashUniv._
      val toks = tokenize(input.asInstanceOf[UTF8String])
      val votes = new Array[Int](Bits)
      var i = 0
      while (i < toks.length) {
        val h = tokenBaseHash(toks(i))
        var j = 0
        while (j < Bits) {
          if (((h * a(j) + b(j)) % P) * 2 < P) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
        i += 1
      }
      var fp = 0L
      var j = 0
      while (j < Bits) {
        if (votes(j) > 0) fp |= (1L << j)
        j += 1
      }
      fp
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `simhash64(text)` — Charikar simhash over whitespace tokens: one
    * pass hashing each token, one 64-bit vote loop per token. */
  case class SimHash64(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(child.dataType == StringType,
        s"simhash64 expects a STRING argument, got ${child.dataType.sql}")
    override def nullSafeEval(input: Any): Any = {
      val toks = tokenize(input.asInstanceOf[UTF8String])
      val votes = new Array[Int](64)
      var i = 0
      while (i < toks.length) {
        val h = hashToken(toks(i), Seed)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
        i += 1
      }
      var fp = 0L
      var j = 0
      while (j < 64) {
        if (votes(j) > 0) fp |= (1L << j)
        j += 1
      }
      fp
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `poly_fingerprint(text, seed)` — the 61-bit polynomial rolling hash
    * `acc ← (acc·31 + codepoint) mod m` seeded by `seed`, over the
    * string's Unicode code points. Bit-identical to the declarative
    * `aggregate(split(text, ''), seed, (a, c) -> pmod(a*31 + ascii(c), m))`
    * fold (property-tested in NativeTextSpec) but a primitive loop — the
    * HOF form dispatches a lambda and boxes a Long per character, which
    * dominates gram-hashing passes (winnow, dup-spans, count-min).
    * `seed` is an expression so per-row seeds (count-min's d hash rows)
    * stay map-side. Engine-portable: DuckDB replays the same fold with
    * list_reduce. */
  case class PolyFingerprint(left: Expression, right: Expression, mod: Long)
      extends BinaryExpression with CodegenFallback {
    require(mod > 1, "modulus must be > 1")
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(left.dataType == StringType && right.dataType == LongType,
        s"poly_fingerprint expects (STRING, BIGINT), got " +
          s"(${left.dataType.sql}, ${right.dataType.sql})")
    override def nullSafeEval(text: Any, seed: Any): Any = {
      val s = text.asInstanceOf[UTF8String].toString
      var acc = seed.asInstanceOf[Long]
      // split('', '') yields [''] and ascii('') is 0, so the declarative
      // fold takes exactly ONE zero step on an empty string — replicate
      if (s.isEmpty) return java.lang.Math.floorMod(acc * 31L, mod)
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        acc = java.lang.Math.floorMod(acc * 31L + cp, mod)
        i += Character.charCount(cp)
      }
      acc
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  // Column-level API ---------------------------------------------------------

  private def toCol(e: Expression): Column =
    org.apache.spark.sql.graftshim.GraftShim.column(e)

  private def exprOf(c: Column): Expression =
    org.apache.spark.sql.graftshim.GraftShim.expression(c)

  def hashed_shingles(text: Column, k: Int): Column = toCol(HashedShingles(exprOf(text), k))
  def shingle_hashes_univ(text: Column, k: Int): Column =
    toCol(ShingleHashesUniv(exprOf(text), k))
  def minhash_signature(hashes: Column, numHashes: Int): Column =
    toCol(MinHashSignature(exprOf(hashes), numHashes))
  def minhash_signature_univ(hashes: Column, numHashes: Int): Column =
    toCol(MinHashSignatureUniv(exprOf(hashes), numHashes))
  def jaccard_sets(a: Column, b: Column): Column = toCol(JaccardSets(exprOf(a), exprOf(b)))
  def adjacent_transposition(a: Column, b: Column): Column =
    toCol(AdjacentTransposition(exprOf(a), exprOf(b)))
  def bleu_clip_counts(hyp: Column, ref: Column): Column =
    toCol(BleuClipCounts(exprOf(hyp), exprOf(ref)))
  def simhash64(text: Column): Column = toCol(SimHash64(exprOf(text)))
  def simhash_univ(text: Column): Column = toCol(SimHashUnivExpr(exprOf(text)))
  def poly_fingerprint(text: Column, seed: Column, mod: Long): Column =
    toCol(PolyFingerprint(exprOf(text), exprOf(seed), mod))
}
