package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the array-heavy pipeline operators.
  *
  * Spark's higher-order array functions (`transform`/`aggregate`/
  * `zip_with`) evaluate their lambda per element through the interpreter —
  * they are not codegen'd. For signature/dot-product inner loops over
  * thousands of elements per row that interpretive overhead dominates the
  * query (measured 15-26 s/query at sf0.1); these expressions replace the
  * lambda pipelines with tight JVM loops, 20-50x faster.
  *
  * Every expression implements `doGenCode` as a static call into
  * [[ArrayOps]] (the same pattern Spark's own collection expressions use),
  * so none of them breaks whole-stage codegen for the stage it sits in.
  */
object ArrayExprs {

  /** Exact dot product of two ARRAY<BIGINT> columns (whole-stage codegen). */
  def dotq(a: Column, b: Column): Column =
    ColumnBridge.column(ArrayLongDot(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** k-permutation MinHash signature of an ARRAY<STRING> shingle set. */
  def minhashSig(shingles: Column, k: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(shingles), k))

  /** PORTABLE 32-permutation affine minhash signature of an ARRAY<BIGINT>
    * hash set — the q227 family ((pa·(h mod p) + pb) mod p, constants
    * from the Lehmer stream seeded 42) whose DuckDB oracles replay it
    * verbatim. One tight pass over the array (whole-stage codegen). */
  def affineMinhashSig(hashes: Column): Column =
    ColumnBridge.column(AffineMinHashSig(ColumnBridge.expression(hashes)))

  /** 64-bit SimHash of an ARRAY<STRING> token sequence. */
  def simhash64(tokens: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(tokens)))

  /** Distinct n-token shingles ("a b c") of an ARRAY<STRING> token sequence. */
  def shingles(tokens: Column, n: Int): Column =
    ColumnBridge.column(Shingles(ColumnBridge.expression(tokens), n))

  /** Order-sensitive polynomial fingerprint of an ARRAY<STRING> token
    * sequence (portable: the DuckDB oracle computes the same fold). */
  def polyFingerprint(tokens: Column): Column =
    ColumnBridge.column(PolyFingerprint(ColumnBridge.expression(tokens)))

  /** Random-hyperplane LSH band hashes of a quantized ARRAY<BIGINT> vector. */
  def hyperplaneBands(qv: Column, bands: Int, bits: Int): Column =
    ColumnBridge.column(HyperplaneBands(ColumnBridge.expression(qv), bands, bits))

  /** Max multiplicity of any element in an ARRAY<STRING> token sequence —
    * the top-token count of the Gopher repetition gate, map-side. */
  def topTokenCount(tokens: Column): Column =
    ColumnBridge.column(TopTokenCount(ColumnBridge.expression(tokens)))

  /** 62-bit hashes of the n-w+1 space-joined w-token windows of an
    * ARRAY<STRING> token sequence — the narrow dup-span group/join key. */
  def windowHashes(tokens: Column, w: Int): Column =
    ColumnBridge.column(WindowHashes(ColumnBridge.expression(tokens), w))

  /** |a ∩ b| of two ARRAY<BIGINT> columns whose elements are DISTINCT per
    * side (the per-doc key-set contract of the winnow-blocked verify). */
  def overlapCount(a: Column, b: Column): Column =
    ColumnBridge.column(OverlapCount(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Greedy longest-match subword tokenization of an ARRAY<STRING> word
    * sequence under a fixed merge vocabulary (see [[SubwordVocab]]). */
  def subwordTokens(words: Column, vocab: Seq[String] = SubwordVocab.Default): Column =
    ColumnBridge.column(SubwordTokens(ColumnBridge.expression(words), vocab))

  /** Next-fit bin assignment over an ARRAY<BIGINT> of sequence lengths:
    * out(i) = bin index of item i under capacity `cap` (see
    * [[ArrayOps.nextFitBins]] for the exact recurrence). */
  def nextFitBins(lens: Column, cap: Long): Column =
    ColumnBridge.column(NextFitBins(ColumnBridge.expression(lens), cap))

  /** 64-bit perceptual difference-hash of a BINARY media payload. */
  def dhash64(payload: Column): Column =
    ColumnBridge.column(DHash64(ColumnBridge.expression(payload)))

  private[functions] def xxh64(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)
}

/** Static per-row kernels shared by interpreted eval and generated code.
  * (A Scala top-level object emits static forwarders, so Janino-generated
  * Java can call `graft.functions.ArrayOps.simhash64(arr)` directly.) */
object ArrayOps {

  /** Polynomial codepoint hash: h = fold(cp, (h*base + cp) mod M) with
    * M = 4294967291 (largest 32-bit prime). Intermediate h*base+cp stays
    * below 2^40, so 64-bit arithmetic never overflows; the identical fold
    * is expressible in DuckDB SQL (`list_reduce` over `unicode(w[i])`),
    * which is what makes the fingerprint/simhash queries oracle-eligible. */
  def polyHash(s: UTF8String, base: Long): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * base + cp) % 4294967291L
      i += Character.charCount(cp)
    }
    h
  }

  def minhashSig(arr: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val base = ArrayExprs.xxh64(arr.getUTF8String(i), 42L)
      var j = 0
      while (j < k) {
        val h = XXH64.hashLong(base, j)
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** The q227 affine permutation constants: 32 (pa, pb) pairs drawn from
    * the Lehmer stream x -> x·48271 mod (2^31−1) seeded at 42 — the
    * exact family every affine-minhash oracle interpolates as literals. */
  private val AffineP = 2147483647L
  private val (affinePA, affinePB) = {
    var x = 42L
    def nxt(): Long = { x = x * 48271 % AffineP; x }
    val pa = new Array[Long](32); val pb = new Array[Long](32)
    var j = 0
    while (j < 32) { pa(j) = nxt(); pb(j) = nxt(); j += 1 }
    (pa, pb)
  }

  /** j-ordered 32-slot affine minhash over an ARRAY<BIGINT> of distinct
    * 62-bit hashes: out(j) = min over h of (pa_j·(h mod p) + pb_j) mod p.
    * Bit-identical to a grouped min over the exploded (h × perm) rows;
    * pa_j < p and (h mod p) < p keep pa·h < 2^62 — no overflow. */
  def affineMinhashSig(arr: ArrayData): ArrayData = {
    val mins = Array.fill(32)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h = arr.getLong(i) % AffineP
      var j = 0
      while (j < 32) {
        val v = (affinePA(j) * h + affinePB(j)) % AffineP
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  def shingles(arr: ArrayData, n: Int): ArrayData = {
    val len = arr.numElements()
    if (len < n) return new GenericArrayData(new Array[Any](0))
    val count = len - n + 1
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val sep = UTF8String.fromString(" ")
    var i = 0
    while (i < count) {
      val parts = new Array[UTF8String](n)
      var j = i
      while (j < i + n) { parts(j - i) = arr.getUTF8String(j); j += 1 }
      seen.add(UTF8String.concatWs(sep, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  def topTokenCount(arr: ArrayData): Int = {
    val n = arr.numElements()
    if (n == 0) return 0
    val counts = new java.util.HashMap[UTF8String, Integer](n * 2)
    var mx = 0
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val prev = counts.get(s)
      val c = if (prev == null) 1 else prev.intValue() + 1
      counts.put(s, c)
      if (c > mx) mx = c
      i += 1
    }
    mx
  }

  /** Perceptual difference-hash (dHash) of a media payload: the payload
    * bytes downscale to an 8x9 grid of range sums (cell k covers bytes
    * [k*n/72, (k+1)*n/72), an integer aspect-free "resize"), and bit
    * (r*8+c) is set when cell (r,c)'s MEAN byte exceeds cell (r,c+1)'s —
    * the horizontal luminance gradient of the classic image dHash,
    * computed on the stub byte domain (graft.multimodal.Decode's
    * contract: the codec is stubbed, the hash arithmetic is the real
    * algorithm). Means, not raw sums, and exactly (cross-multiplied in
    * int64 — no doubles): cell widths alternate floor/ceil(n/72), and a
    * raw-sum compare is then dominated by the width pattern (a function
    * of n mod 72 alone) times the mean byte value — hash entropy
    * collapses and unrelated payloads collide, measured as quadratic
    * accidental-pair growth (phash_neardup_x*, SCALEPROBE_r14.txt).
    * Mean gradients are content-driven. Exactness bound: sum * width < 2^57 for payloads
    * up to 2^28 bytes (256 MB) — far above any single media blob.
    * Locality: a byte edit touches ONE cell, so it flips at most 2
    * gradient bits — what makes Hamming distance a near-dup measure. */
  def dhash64(payload: Array[Byte]): Long = {
    val n = payload.length
    val cells = new Array[Long](72)
    val widths = new Array[Long](72)
    var k = 0
    while (k < 72) {
      var i = (k.toLong * n / 72).toInt
      val hi = ((k + 1).toLong * n / 72).toInt
      widths(k) = hi - i
      var s = 0L
      while (i < hi) { s += payload(i) & 0xff; i += 1 }
      cells(k) = s
      k += 1
    }
    var h = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        val a = r * 9 + c
        if (cells(a) * widths(a + 1) > cells(a + 1) * widths(a))
          h |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    h
  }

  /** SimHash bit source: 64 bits per token from two polynomial hashes
    * (bases 131 and 137) — bit j comes from h1 for j<32, h2 for j>=32. */
  def simhash64(arr: ArrayData): Long = {
    val v = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      val h1 = polyHash(t, 131L)
      val h2 = polyHash(t, 137L)
      var j = 0
      while (j < 32) {
        if (((h1 >>> j) & 1L) == 1L) v(j) += 1 else v(j) -= 1
        if (((h2 >>> j) & 1L) == 1L) v(j + 32) += 1 else v(j + 32) -= 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (v(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  def polyFingerprint(arr: ArrayData): Long = {
    val n = arr.numElements()
    var fp = 0L
    var i = 0
    while (i < n) {
      fp = (fp * 31L + polyHash(arr.getUTF8String(i), 131L)) % 1000000007L
      i += 1
    }
    fp
  }

  /** Per-window 62-bit hashes of the space-joined w-token windows:
    * out(i) = h131 * 2^31 + (h137 mod 2^31), where h_base is [[polyHash]]
    * with that base over the window's codepoints INCLUDING the single
    * joining spaces — i.e. exactly polyHash(array_to_string(window, ' ')),
    * so the DuckDB oracle reproduces every value from the window string.
    * Max value (2^32-6)*2^31 + 2^31-1 < 2^63, so the combine never
    * overflows a signed 64-bit. Collisions exist in principle (62-bit
    * space) but at ~10^10 windows the expected count is ~0.003 — the
    * price of shuffling 8-byte keys instead of ~30-byte strings. */
  def windowHashes(arr: ArrayData, w: Int): ArrayData = {
    val n = arr.numElements()
    if (n < w) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Long](n - w + 1)
    var i = 0
    while (i <= n - w) {
      var h1 = 0L
      var h2 = 0L
      var j = i
      while (j < i + w) {
        val s = arr.getUTF8String(j).toString
        var k = 0
        while (k < s.length) {
          val cp = s.codePointAt(k)
          h1 = (h1 * 131L + cp) % 4294967291L
          h2 = (h2 * 137L + cp) % 4294967291L
          k += Character.charCount(cp)
        }
        if (j < i + w - 1) {
          h1 = (h1 * 131L + 32L) % 4294967291L
          h2 = (h2 * 137L + 32L) % 4294967291L
        }
        j += 1
      }
      out(i) = h1 * 2147483648L + (h2 % 2147483648L)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** |a ∩ b| of two long arrays with DISTINCT NON-NEGATIVE elements per
    * side: open-addressing hash set over the smaller side (keys stored
    * +1 so 0L can be the empty slot even though 0 is a valid 62-bit
    * hash), probed by the larger. No boxing, no intersection-array
    * allocation — the winnow-blocked verify calls this once per
    * candidate pair. The non-negative contract is REQUIRED, not
    * assumed: a key of -1L would alias the empty sentinel after the +1
    * shift and silently vanish from the count, so it throws instead
    * (all current callers feed 62-bit hashes, which can never trip it). */
  def overlapCount(a: ArrayData, b: ArrayData): Int = {
    val (s, l) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val n = s.numElements()
    if (n == 0) return 0
    // cap must stay a positive power of two: past 2^30 elements the
    // doubled table exceeds the max JVM array and `n * 2` overflows Int
    // into an infinite insert loop — fail loudly instead.
    require(n <= (1 << 30), s"overlapCount side too large: $n elements")
    var cap = 2
    while (cap < n * 2) cap <<= 1
    val tab = new Array[Long](cap)
    val mask = cap - 1
    var i = 0
    while (i < n) {
      val k = s.getLong(i) + 1L
      require(k != 0L, "overlapCount requires non-negative elements; got -1")
      var j = (java.lang.Long.hashCode(k * 0x9E3779B97F4A7C15L)) & mask
      while (tab(j) != 0L && tab(j) != k) j = (j + 1) & mask
      tab(j) = k
      i += 1
    }
    var cnt = 0
    val m = l.numElements()
    i = 0
    while (i < m) {
      val k = l.getLong(i) + 1L
      require(k != 0L, "overlapCount requires non-negative elements; got -1")
      var j = (java.lang.Long.hashCode(k * 0x9E3779B97F4A7C15L)) & mask
      var probing = true
      while (probing) {
        val v = tab(j)
        if (v == 0L) probing = false
        else if (v == k) { cnt += 1; probing = false }
        else j = (j + 1) & mask
      }
      i += 1
    }
    cnt
  }

  /** Next-fit whole-item bin packing over a length array: items are
    * placed in order; an item that does not fit the current bin's
    * remaining capacity closes it and opens the next. The exact
    * recurrence (the single definition both engines share — the DuckDB
    * oracle replays it as a recursive CTE):
    *
    *   bin = 0; rem = cap
    *   for each len:
    *     if (len > rem && rem < cap) { bin += 1; rem = cap }
    *     out(i) = bin
    *     rem = if (len >= rem) 0 else rem - len
    *
    * An oversized item (len >= cap) therefore fills whatever bin it
    * opens and closes it immediately (the loader chunks it); bin ids
    * are dense — every bin receives at least one item. One pass, no
    * allocation beyond the output array. */
  def nextFitBins(lens: ArrayData, cap: Long): ArrayData = {
    val n = lens.numElements()
    val out = new Array[Long](n)
    var bin = 0L
    var rem = cap
    var i = 0
    while (i < n) {
      val len = lens.getLong(i)
      if (len > rem && rem < cap) { bin += 1L; rem = cap }
      out(i) = bin
      rem = if (len >= rem) 0L else rem - len
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Deterministic Rademacher (+-1) hyperplane sign masks: plane p's mask
    * bit i is the sign of weight w(p, i). Precomputed once per JVM. */
  private val MaxPlanes = 4096
  private lazy val planeMasks: Array[Long] = {
    val m = new Array[Long](MaxPlanes)
    var p = 0
    while (p < MaxPlanes) { m(p) = XXH64.hashLong(p.toLong, 0x5EEDC0DEL); p += 1 }
    m
  }

  /** Band hashes of a random-hyperplane signature: band b packs `bits`
    * consecutive plane signs; sign(p) = [ sum_i w(p,i)*qv_i > 0 ]. */
  def hyperplaneBands(arr: ArrayData, bands: Int, bits: Int): ArrayData = {
    val n = arr.numElements()
    // one 64-bit sign mask per plane: beyond 64 dims the weights would
    // alias with period 64 and silently break band independence
    require(n <= 64, s"hyperplane bands support at most 64 dimensions, got $n")
    val out = new Array[Int](bands)
    var b = 0
    while (b < bands) {
      var bv = 0
      var r = 0
      while (r < bits) {
        val mask = planeMasks(b * bits + r)
        var acc = 0L
        var i = 0
        while (i < n) {
          val x = arr.getLong(i)
          // branchless +-x: s = 0 or -1 from the mask bit; (x^s)-s = x or -x.
          // The branchy form mispredicts ~50% on random sign bits and was
          // ~10x slower over the 2048-plane loop.
          val s = -((mask >>> (i & 63)) & 1L)
          acc += (x ^ s) - s
          i += 1
        }
        if (acc > 0L) bv |= (1 << r)
        r += 1
      }
      out(b) = bv
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** Σ a(i)*b(i) over two ARRAY<BIGINT> columns. Inputs are pre-quantized
  * (bounded) so 64-bit arithmetic cannot overflow by construction. */
case class ArrayLongDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value} += $a.getLong($i) * $b.getLong($i);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayLongDot =
    copy(left = newLeft, right = newRight)
}

/** |a ∩ b| over two ARRAY<BIGINT> columns whose elements are DISTINCT per
  * side. `size(array_intersect(a, b))` computes the same number but boxes
  * every long and allocates the intersection array just to take its
  * length; this is one hash-set pass (see [[ArrayOps.overlapCount]]). */
case class OverlapCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayOps.overlapCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.ArrayOps.overlapCount($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): OverlapCount =
    copy(left = newLeft, right = newRight)
}

/** MinHash signature: sig(j) = min over shingles s of xxh64(xxh64(s, 42), j)
  * for j in [0, k). One pass over the shingle array; the per-shingle base
  * hash is mixed k times with `hashLong` (a few ns each) instead of
  * re-hashing the string k times.
  */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ArrayOps.minhashSig(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayOps.minhashSig($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Distinct n-token shingles, space-joined, order-preserving on first
  * occurrence. One pass; equivalent to (but ~20x faster than) the
  * interpreted `array_distinct(transform(sequence(...), i ->
  * concat_ws(' ', tokens[i], ..., tokens[i+n-1])))` pipeline. Sequences
  * shorter than n yield NO shingles (an empty array) — the same semantics
  * as the SQL oracle's `range(1, len - n + 2)` window enumeration. */
/** Portable 32-permutation affine minhash of an ARRAY<BIGINT> hash set
  * (see [[ArrayOps.affineMinhashSig]]). */
case class AffineMinHashSig(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ArrayOps.affineMinhashSig(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayOps.affineMinhashSig($c)")

  override protected def withNewChildInternal(newChild: Expression): AffineMinHashSig =
    copy(child = newChild)
}

case class Shingles(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ArrayOps.shingles(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayOps.shingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

/** Max multiplicity of any element of an ARRAY<STRING> — equals
  * `max(count) GROUP BY (row, element)` without the explode + two
  * shuffles when the per-row token count is bounded (the distributed
  * explode formulation remains the right shape for unbounded documents).
  */
case class TopTokenCount(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def nullSafeEval(input: Any): Any =
    ArrayOps.topTokenCount(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayOps.topTokenCount($c)")

  override protected def withNewChildInternal(newChild: Expression): TopTokenCount =
    copy(child = newChild)
}

/** 62-bit hashes of the space-joined w-token windows of a token sequence
  * ([[ArrayOps.windowHashes]]) — replaces the raw window STRINGS as the
  * dup-span group/join key: the shuffle carries 8-byte longs instead of
  * reconstructed text. */
case class WindowHashes(child: Expression, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ArrayOps.windowHashes(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayOps.windowHashes($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): WindowHashes =
    copy(child = newChild)
}

/** 64-bit SimHash: bit j of the result is set iff the sum over tokens of
  * sign(bit j of hash(token)) is positive. The per-token hash is the
  * portable two-base polynomial hash ([[ArrayOps.polyHash]] with bases
  * 131/137), so the DuckDB oracle reproduces the signature bit-for-bit. */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    ArrayOps.simhash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayOps.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** 64-bit perceptual difference-hash of a BINARY payload
  * ([[ArrayOps.dhash64]]) — the image-modality near-dup key. Map-side,
  * whole-stage codegen'd; blocking/verification happen downstream (the
  * q46 pigeonhole block index over the hash). */
case class DHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  // analysis-time gate: payloads are opaque BINARY; a string child must
  // be cast explicitly so the byte semantics are the caller's choice
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"dhash64 requires BINARY payload, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    ArrayOps.dhash64(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayOps.dhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): DHash64 =
    copy(child = newChild)
}

/** Order-sensitive document fingerprint:
  * fp = fold(tokens, (fp*31 + polyHash(token)) mod 1e9+7). Pure 64-bit
  * arithmetic (no wraparound under ANSI mode), portable to the oracle. */
case class PolyFingerprint(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    ArrayOps.polyFingerprint(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayOps.polyFingerprint($c)")

  override protected def withNewChildInternal(newChild: Expression): PolyFingerprint =
    copy(child = newChild)
}

/** Next-fit bin ids for an ARRAY<BIGINT> of item lengths under a fixed
  * capacity ([[ArrayOps.nextFitBins]]) — the boundary-respecting packer
  * (whole documents per training sequence) that q264's padding-waste
  * report prices. The fold is inherently sequential, so it runs as a
  * per-row kernel over BOUNDED groups rather than a corpus window. */
case class NextFitBins(child: Expression, cap: Long)
    extends UnaryExpression {
  require(cap > 0L, "nextFitBins capacity must be positive")

  // analysis-time type gate: a mistyped child (ARRAY<INT>, non-array)
  // must fail analysis, not blow up inside getLong at execution
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nextFitBins requires ARRAY<BIGINT> lengths, got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ArrayOps.nextFitBins(input.asInstanceOf[ArrayData], cap)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayOps.nextFitBins($c, ${cap}L)")

  override protected def withNewChildInternal(newChild: Expression): NextFitBins =
    copy(child = newChild)
}

/** Random-hyperplane LSH bands over a quantized ARRAY<BIGINT> vector:
  * `bands` band hashes, each packing `bits` consecutive hyperplane signs
  * (Rademacher +-1 weights, deterministic per plane index). Two vectors
  * with angle theta agree on one plane with p = 1 - theta/pi; a band
  * collides with p^bits — the s-curve that makes near-angular-duplicate
  * blocking sublinear. */
case class HyperplaneBands(child: Expression, bands: Int, bits: Int)
    extends UnaryExpression {
  require(bands * bits <= 4096, "at most 4096 hyperplanes are precomputed")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ArrayOps.hyperplaneBands(input.asInstanceOf[ArrayData], bands, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayOps.hyperplaneBands($c, $bands, $bits)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBands =
    copy(child = newChild)
}
