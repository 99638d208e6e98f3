package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the array-heavy pipeline operators.
  *
  * Spark's higher-order array functions (`transform`/`aggregate`/
  * `zip_with`) evaluate their lambda per element through the interpreter —
  * they are not codegen'd. For signature/dot-product inner loops over
  * thousands of elements per row that interpretive overhead dominates the
  * query (measured 15-26 s/query at sf0.1); these kernels replace the
  * lambda pipelines with tight JVM loops, 20-50x faster.
  *
  * Each builder is one Catalyst `StaticInvoke` of a method of [[ArrayOps]]
  * (or [[SubwordOps]]), the way Spark builds its own per-row utilities:
  * generated code calls `graft.functions.ArrayOps.fn(args)` inside the
  * whole-stage method, and the interpreted path calls the same method by
  * reflection. A new kernel is one `ArrayOps` method plus one builder;
  * SessionLawSpec fails on any other Expression class in this package.
  * [[DHash64]] and [[NextFitBins]] stay classes for their analysis-time
  * type gates, which `StaticInvoke`'s implicit casts would relax.
  */
object ArrayExprs {

  private val Strings = ArrayType(StringType)
  private val Longs = ArrayType(LongType)
  private val LongArray = ArrayType(LongType, containsNull = false)

  /** `ops.fn(args)` as a column. Each argument is declared with its type:
    * the analyzer casts a compatible column to it and rejects any other.
    * A null argument gives a null result; the kernels never return null,
    * so the column is nullable exactly when an argument is. */
  private def invoke(ops: AnyRef, fn: String, out: DataType,
      args: (Expression, DataType)*): Column =
    ColumnBridge.column(StaticInvoke(ops.getClass, out, fn, args.map(_._1), args.map(_._2),
      returnNullable = false))

  private def e(c: Column): Expression = ColumnBridge.expression(c)

  /** Exact dot product of two ARRAY<BIGINT> columns. */
  def dotq(a: Column, b: Column): Column =
    invoke(ArrayOps, "dot", LongType, e(a) -> Longs, e(b) -> Longs)

  /** k-permutation MinHash signature of an ARRAY<STRING> shingle set. */
  def minhashSig(shingles: Column, k: Int): Column =
    invoke(ArrayOps, "minhashSig", LongArray, e(shingles) -> Strings, Literal(k) -> IntegerType)

  /** PORTABLE 32-permutation affine minhash signature of an ARRAY<BIGINT>
    * hash set — the q227 family ((pa·(h mod p) + pb) mod p, constants
    * from the Lehmer stream seeded 42) whose DuckDB oracles replay it
    * verbatim. One tight pass over the array. */
  def affineMinhashSig(hashes: Column): Column =
    invoke(ArrayOps, "affineMinhashSig", LongArray, e(hashes) -> Longs)

  /** 64-bit SimHash of an ARRAY<STRING> token sequence. */
  def simhash64(tokens: Column): Column =
    invoke(ArrayOps, "simhash64", LongType, e(tokens) -> Strings)

  /** Distinct n-token shingles ("a b c") of an ARRAY<STRING> token sequence. */
  def shingles(tokens: Column, n: Int): Column =
    invoke(ArrayOps, "shingles", ArrayType(StringType, containsNull = false),
      e(tokens) -> Strings, Literal(n) -> IntegerType)

  /** Order-sensitive polynomial fingerprint of an ARRAY<STRING> token
    * sequence (portable: the DuckDB oracle computes the same fold). */
  def polyFingerprint(tokens: Column): Column =
    invoke(ArrayOps, "polyFingerprint", LongType, e(tokens) -> Strings)

  /** Random-hyperplane LSH band hashes of a quantized ARRAY<BIGINT> vector. */
  def hyperplaneBands(qv: Column, bands: Int, bits: Int): Column = {
    require(bands * bits <= 4096, "at most 4096 hyperplanes are precomputed")
    invoke(ArrayOps, "hyperplaneBands", ArrayType(IntegerType, containsNull = false),
      e(qv) -> Longs, Literal(bands) -> IntegerType, Literal(bits) -> IntegerType)
  }

  /** Max multiplicity of any element in an ARRAY<STRING> token sequence —
    * the top-token count of the Gopher repetition gate, map-side. */
  def topTokenCount(tokens: Column): Column =
    invoke(ArrayOps, "topTokenCount", IntegerType, e(tokens) -> Strings)

  /** 62-bit hashes of the n-w+1 space-joined w-token windows of an
    * ARRAY<STRING> token sequence — the narrow dup-span group/join key:
    * the shuffle carries 8-byte longs instead of reconstructed text. */
  def windowHashes(tokens: Column, w: Int): Column =
    invoke(ArrayOps, "windowHashes", LongArray, e(tokens) -> Strings, Literal(w) -> IntegerType)

  /** |a ∩ b| of two ARRAY<BIGINT> columns whose elements are DISTINCT per
    * side (the per-doc key-set contract of the winnow-blocked verify).
    * `size(array_intersect(a, b))` computes the same number but boxes
    * every long and allocates the intersection array just to take its
    * length. */
  def overlapCount(a: Column, b: Column): Column =
    invoke(ArrayOps, "overlapCount", IntegerType, e(a) -> Longs, e(b) -> Longs)

  /** Greedy longest-match subword tokenization of an ARRAY<STRING> word
    * sequence under a fixed merge vocabulary (see [[SubwordVocab]]). The
    * prebuilt lookup table rides in the plan as an object literal, which
    * generated code reads from its `references`. */
  def subwordTokens(words: Column, vocab: Seq[String] = SubwordVocab.Default): Column =
    invoke(SubwordOps, "subwordTokens", ArrayType(StringType, containsNull = false),
      e(words) -> Strings,
      Literal.fromObject(new SubwordTable(vocab)) -> ObjectType(classOf[SubwordTable]))

  /** Next-fit bin assignment over an ARRAY<BIGINT> of sequence lengths:
    * out(i) = bin index of item i under capacity `cap` (see
    * [[ArrayOps.nextFitBins]] for the exact recurrence). */
  def nextFitBins(lens: Column, cap: Long): Column =
    ColumnBridge.column(NextFitBins(e(lens), cap))

  /** 64-bit perceptual difference-hash of a BINARY media payload. */
  def dhash64(payload: Column): Column =
    ColumnBridge.column(DHash64(e(payload)))

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

  /** Σ a(i)*b(i) over the common prefix of two long arrays. Inputs are
    * pre-quantized (bounded), so 64-bit arithmetic cannot overflow by
    * construction. */
  def dot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += a.getLong(i) * b.getLong(i); i += 1 }
    acc
  }

  /** MinHash signature: sig(j) = min over shingles s of xxh64(xxh64(s, 42), j)
    * for j in [0, k). One pass over the shingle array; the per-shingle base
    * hash is mixed k times with `hashLong` (a few ns each) instead of
    * re-hashing the string k times. */
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

  /** Distinct n-token shingles, space-joined, order-preserving on first
    * occurrence. One pass; equivalent to (but ~20x faster than) the
    * interpreted `array_distinct(transform(sequence(...), i ->
    * concat_ws(' ', tokens[i], ..., tokens[i+n-1])))` pipeline. Sequences
    * shorter than n yield NO shingles (an empty array) — the same semantics
    * as the SQL oracle's `range(1, len - n + 2)` window enumeration. */
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

  /** Max multiplicity of any element — equals `max(count) GROUP BY (row,
    * element)` without the explode + two shuffles when the per-row token
    * count is bounded (the distributed explode formulation remains the
    * right shape for unbounded documents). */
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

  /** 64-bit SimHash: bit j of the result is set iff the sum over tokens of
    * sign(bit j of hash(token)) is positive. The per-token hash is the
    * portable two-base [[polyHash]] (bases 131 and 137; bit j comes from
    * h1 for j<32, h2 for j>=32), so the DuckDB oracle reproduces the
    * signature bit-for-bit. */
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

  /** Order-sensitive document fingerprint:
    * fp = fold(tokens, (fp*31 + polyHash(token)) mod 1e9+7). Pure 64-bit
    * arithmetic (no wraparound under ANSI mode), portable to the oracle. */
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
    * consecutive plane signs; sign(p) = [ sum_i w(p,i)*qv_i > 0 ]
    * (Rademacher +-1 weights, deterministic per plane index). Two vectors
    * with angle theta agree on one plane with p = 1 - theta/pi; a band
    * collides with p^bits — the s-curve that makes near-angular-duplicate
    * blocking sublinear. */
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
