package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class FunctionsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("ArrayLongDot matches scala dot (eval + codegen paths)") {
    val df = Seq((Array(1L, 2L, 3L), Array(4L, 5L, 6L)),
      (Array(-2L, 0L, 7L), Array(3L, 9L, 1L))).toDF("a", "b")
    val got = df.select(ArrayExprs.dotq(col("a"), col("b"))).collect().map(_.getLong(0))
    assert(got.toSeq == Seq(32L, 1L))
  }

  test("OverlapCount equals size(array_intersect) incl. 0L keys and empties") {
    // 0L is a valid 62-bit hash — the hash-set's empty sentinel is the
    // +1-shifted slot, so a genuine 0 key must still count
    val df = Seq(
      (Array(1L, 2L, 3L, 0L), Array(0L, 3L, 9L)),
      (Array.empty[Long], Array(1L, 2L)),
      (Array(5L, 6L), Array.empty[Long]),
      (Array(7L), Array(7L)),
      (Array(1L, 2L, 3L), Array(4L, 5L)),
      ((1L to 200L).toArray, (101L to 400L).toArray)).toDF("a", "b")
    val got = df.select(
      ArrayExprs.overlapCount(col("a"), col("b")).as("o"),
      size(array_intersect(col("a"), col("b"))).as("want")).collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1),
      s"overlapCount ${r.getInt(0)} != array_intersect ${r.getInt(1)}"))
  }

  test("Shingles matches sliding window semantics incl. short docs") {
    // documents shorter than the shingle width yield NO shingles — the
    // same enumeration as the oracle's range(1, len-1) window (ADVICE r1:
    // the old max(1, len-n+1) truncated-shingle rule diverged on <n-token
    // docs)
    val df = Seq("a b c d e", "x y", "solo", "a b c").toDF("text")
    val got = df.select(ArrayExprs.shingles(split(col("text"), " "), 3))
      .collect().map(_.getSeq[String](0).toSeq)
    assert(got(0) == Seq("a b c", "b c d", "c d e"))
    assert(got(1) == Seq.empty)
    assert(got(2) == Seq.empty)
    assert(got(3) == Seq("a b c"))
  }

  test("Shingles dedups repeats") {
    val got = Seq("a b a b a b a b").toDF("text")
      .select(ArrayExprs.shingles(split(col("text"), " "), 3))
      .first().getSeq[String](0).toSeq
    assert(got == Seq("a b a", "b a b"))
  }

  test("MinHashSig: identical inputs agree, signature length k") {
    val df = Seq("a b c d e f g", "a b c d e f g", "q r s t u v w").toDF("text")
      .select(ArrayExprs.minhashSig(ArrayExprs.shingles(split(col("text"), " "), 3), 32).as("sig"))
    val sigs = df.collect().map(_.getSeq[Long](0).toSeq)
    assert(sigs(0).length == 32)
    assert(sigs(0) == sigs(1))
    assert(sigs(0) != sigs(2))
  }

  test("AffineMinHashSig equals the brute affine-permutation min") {
    // the portable q227 family: (pa·(h mod p) + pb) mod p, constants from
    // the Lehmer stream seeded 42 — the kernel must match a direct Scala
    // replay slot for slot (the values every affine-minhash oracle
    // interpolates), including a genuine 0L hash and a singleton set
    val P = 2147483647L
    var x = 42L
    def nxt(): Long = { x = x * 48271 % P; x }
    val perms = (0 until 32).map(_ => (nxt(), nxt()))
    val sets = Seq(Array(0L, 17L, 4611686018427387903L), Array(42L),
      (1L to 100L).map(_ * 987654321987L).toArray)
    def brute(hs: Array[Long]): Seq[Long] =
      perms.map { case (pa, pb) => hs.map(h => (pa * (h % P) + pb) % P).min }
    val got = sets.toDF("sh")
      .select(ArrayExprs.affineMinhashSig(col("sh")).as("ms"))
      .collect().map(_.getSeq[Long](0).toSeq)
    assert(got.toSeq == sets.map(s => brute(s)))
  }

  test("SimHash64 is stable and near-identical docs have small hamming") {
    val df = Seq(
      "the quick brown fox jumps over the lazy dog again and again today",
      "the quick brown fox jumps over the lazy dog again and again tomorrow",
      "completely different words entirely unrelated content here now").toDF("text")
      .select(ArrayExprs.simhash64(split(col("text"), " ")).as("s"))
    val s = df.collect().map(_.getLong(0))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(s(0), s(1)) < hamming(s(0), s(2)))
  }

  test("TopTokenCount equals the explode-groupBy formulation") {
    val docs = Seq("a b a c a b", "x", "", "q q q q")
    docs.zip(Seq(3, 1, 1, 4)).foreach { case (text, want) =>
      val got = Seq(text).toDF("text")
        .select(ArrayExprs.topTokenCount(split(col("text"), " ")))
        .first().getInt(0)
      assert(got == want, s"'$text'")
    }
  }

  test("WindowHashes equals polyHash of the space-joined window strings") {
    // reference: the portable two-base polynomial fold over the window
    // STRING — what the DuckDB oracle computes
    def ph(s: String, base: Long): Long = {
      var h = 0L; var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        h = (h * base + cp) % 4294967291L
        i += Character.charCount(cp)
      }
      h
    }
    def ref(text: String, w: Int): Seq[Long] =
      text.split(" ").sliding(w).filter(_.length == w)
        .map(_.mkString(" ")).map(s => ph(s, 131L) * 2147483648L + ph(s, 137L) % 2147483648L)
        .toSeq
    val texts = Seq("a b c d e f g", "one two three four five", "x y", "solo")
    val got = texts.toDF("text")
      .select(ArrayExprs.windowHashes(split(col("text"), " "), 5))
      .collect().map(_.getSeq[Long](0).toSeq)
    texts.zip(got).foreach { case (t, g) =>
      assert(g == ref(t, 5), s"'$t'")
    }
    // shorter-than-W sequences yield no windows
    assert(got(2).isEmpty && got(3).isEmpty)
  }

  test("SubwordTokens greedy longest-match against a hand-verified fixture vocab") {
    val vocab = Seq("a", "b", "c", "d", "x", "ab", "cd", "abc")
    def tok(words: String*): Seq[String] =
      Seq(words.mkString(" ")).toDF("text")
        .select(ArrayExprs.subwordTokens(split(col("text"), " "), vocab))
        .first().getSeq[String](0).toSeq
    // longest match wins: "abc" beats "ab"
    assert(tok("abcd") == Seq("abc", "d"))
    // after a match the scan resumes AFTER the consumed span
    assert(tok("abab") == Seq("ab", "ab"))
    // no match at position 0 -> single char, then "cd" merges
    assert(tok("acd") == Seq("a", "cd"))
    // unknown characters fall through as single-codepoint tokens
    assert(tok("zq!") == Seq("z", "q", "!"))
    // multiple words flatten in order
    assert(tok("abcd", "acd", "x") == Seq("abc", "d", "a", "cd", "x"))
    // non-BMP codepoint: fallback must not split the surrogate pair
    assert(tok("a𝕏b") == Seq("a", "𝕏", "b"))
  }

  test("SubwordTokens default vocab is lossless (concat of tokens = concat of words)") {
    val texts = Seq("the streaming data table sort merge window batch",
      "a query joins customer rows against sorted filter batches")
    val got = texts.toDF("text")
      .select(col("text"), ArrayExprs.subwordTokens(split(col("text"), " ")).as("st"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[String](1).mkString == r.getString(0).replace(" ", ""))
    }
    // and it must actually MERGE, not degrade to chars: fewer tokens than
    // characters, more than words
    val st = got(0).getSeq[String](1)
    val words = texts(0).split(" ")
    assert(st.length > words.length && st.length < texts(0).replace(" ", "").length)
    // spot-check one segmentation end-to-end ("the" is a 3-char merge;
    // "streaming" = stre|am|ing under the default table)
    val one = Seq("the streaming").toDF("text")
      .select(ArrayExprs.subwordTokens(split(col("text"), " ")))
      .first().getSeq[String](0).toSeq
    assert(one == Seq("the", "stre", "am", "ing"))
  }

  test("SQL registration exposes the functions to spark.sql") {
    GraftFunctions.register(spark)
    Seq("a b c d e").toDF("text").createOrReplaceTempView("fdocs")
    val row = spark.sql(
      """SELECT graft_simhash64(split(text, ' ')) AS sh,
        |  graft_dot(array(1L, 2L), array(3L, 4L)) AS d,
        |  size(graft_minhash_sig(graft_shingles(split(text, ' '), 3), 16)) AS k,
        |  graft_fingerprint(split(text, ' ')) AS fp,
        |  size(graft_hyperplane_bands(array(1L, -2L, 3L), 8, 16)) AS nb
        |FROM fdocs""".stripMargin).first()
    assert(row.getLong(1) == 11L && row.getInt(2) == 16)
    assert(row.getLong(3) > 0L && row.getInt(4) == 8)
  }

  test("extensions injector registers functions at session build") {
    val s2 = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .appName("ext-test").getOrCreate()
    // same JVM: getOrCreate may return the shared session; registration via
    // extensions only applies to fresh sessions, so fall back to checking
    // the function resolves after explicit register
    GraftFunctions.register(s2)
    assert(s2.sql("SELECT graft_dot(array(2L), array(21L))").first().getLong(0) == 42L)
  }

  test("pipeline expressions agree between generated and interpreted paths") {
    // CODEGEN_ONLY would throw if any doGenCode were broken; NO_CODEGEN
    // forces the nullSafeEval path — both must produce identical results,
    // since oracle parity rides on these kernels
    val docs = Seq("the quick brown fox jumps over the lazy dog",
      "a b", "lorem ipsum dolor sit amet consectetur x y z")
    val vecs = Seq(
      Array.tabulate(64)(i => (i * 37 % 19 - 9).toLong),
      Array.tabulate(64)(i => (i * 53 % 23 - 11).toLong))
    def runAll(s: org.apache.spark.sql.SparkSession): Seq[Seq[Any]] = {
      val sess = s
      import sess.implicits._
      val tok = split(col("text"), " ")
      val r1 = docs.toDF("text").select(
          ArrayExprs.shingles(tok, 3).as("sh"),
          ArrayExprs.simhash64(tok).as("sim"),
          ArrayExprs.polyFingerprint(tok).as("fp"),
          ArrayExprs.topTokenCount(tok).as("mx"),
          ArrayExprs.windowHashes(tok, 3).as("wh"),
          ArrayExprs.subwordTokens(tok).as("sw"))
        .withColumn("sig", ArrayExprs.minhashSig(col("sh"), 8))
        .withColumn("asig", ArrayExprs.affineMinhashSig(col("wh")))
        .collect().map(_.toSeq).toSeq
      val r2 = vecs.toDF("qv")
        .select(ArrayExprs.hyperplaneBands(col("qv"), 8, 16).as("hb"),
          ArrayExprs.dotq(col("qv"), col("qv")).as("n2"))
        .collect().map(_.toSeq).toSeq
      r1 ++ r2
    }
    val gen = spark.newSession()
    gen.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val interp = spark.newSession()
    interp.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    interp.conf.set("spark.sql.codegen.wholeStage", "false")
    assert(runAll(gen) == runAll(interp))
  }

  test("NextFitBins matches the reference fold incl. exact-fit and oversize") {
    // reference implementation of the documented recurrence
    def ref(lens: Seq[Long], cap: Long): Seq[Long] = {
      var bin = 0L; var rem = cap
      lens.map { len =>
        if (len > rem && rem < cap) { bin += 1; rem = cap }
        val out = bin
        rem = if (len >= rem) 0L else rem - len
        out
      }
    }
    val cases = Seq(
      Seq(10L, 20L, 30L, 40L, 50L),        // plain fills
      Seq(64L, 1L),                        // exact fit closes the bin
      Seq(100L, 5L, 100L, 100L),           // oversize in fresh + partial bins
      Seq(65L),                            // single oversized doc
      Seq.empty[Long],                     // empty group
      Seq(32L, 32L, 32L, 32L, 32L))        // repeated exact halves
    val df = cases.toDF("lens")
    val got = df.select(ArrayExprs.nextFitBins(col("lens"), 64L))
      .collect().map(_.getSeq[Long](0).toSeq).toSeq
    assert(got == cases.map(ref(_, 64L)))
    // the two structural laws the packing queries lean on:
    // bins are dense (0..max with no gaps) and oversize bins are solo
    cases.foreach { ls =>
      val bins = ref(ls, 64L)
      if (bins.nonEmpty) assert(bins.distinct.sorted == (0L to bins.max))
      bins.zip(ls).groupBy(_._1).values.foreach { items =>
        if (items.map(_._2).sum > 64L)
          assert(items.size == 1, s"oversize bin not solo: $items")
      }
    }
  }

  test("dhash64 matches a plain-Scala reference and is edit-local") {
    def ref(bytes: Array[Byte]): Long = {
      val n = bytes.length
      val ranges = (0 until 72).map { k =>
        (((k.toLong * n) / 72).toInt, (((k + 1).toLong * n) / 72).toInt)
      }
      val cells = ranges.map { case (lo, hi) =>
        (lo until hi).map(i => (bytes(i) & 0xff).toLong).sum }
      val ws = ranges.map { case (lo, hi) => (hi - lo).toLong }
      (0 until 8).flatMap(r => (0 until 8).map(c => (r, c)))
        .foldLeft(0L) { case (h, (r, c)) =>
          val a = r * 9 + c
          // mean compare, cross-multiplied exactly
          if (cells(a) * ws(a + 1) > cells(a + 1) * ws(a)) h | (1L << (r * 8 + c)) else h
        }
    }
    val payloads = Seq("", "abc", "a" * 71, ("xyz" * 100).take(250),
      (0 until 500).map(i => ('a' + i % 26).toChar).mkString)
    payloads.foreach { p =>
      val b = p.getBytes("UTF-8")
      assert(ArrayOps.dhash64(b) == ref(b), s"payload len ${b.length}")
    }
    // the expression agrees with the kernel through codegen
    val df = payloads.toDF("t")
      .select(ArrayExprs.dhash64(col("t").cast("binary")))
    assert(df.collect().map(_.getLong(0)).toSeq ==
      payloads.map(p => ref(p.getBytes("UTF-8"))))
    // locality: a one-byte edit moves one grid cell => at most 2 bits
    val long = (0 until 300).map(i => ('a' + i % 26).toChar).mkString
    val edited = long.take(40) + "Q" + long.drop(41)
    val d = java.lang.Long.bitCount(
      ArrayOps.dhash64(long.getBytes) ^ ArrayOps.dhash64(edited.getBytes))
    assert(d <= 2, s"one-byte edit flipped $d bits")
  }

  test("dhash64 rejects a non-binary child at analysis time") {
    val strs = Seq("oops").toDF("t")
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      strs.select(ArrayExprs.dhash64(col("t"))).collect()
    }
    assert(ex.getMessage.contains("BINARY"))
  }

  test("nextFitBins rejects a mistyped child at analysis time") {
    // the r13 advice gate: ARRAY<INT> (or non-array) must fail ANALYSIS,
    // not blow up inside getLong mid-execution
    val ints = Seq(Seq(1, 2, 3)).toDF("lens")
    val exInt = intercept[org.apache.spark.sql.AnalysisException] {
      ints.select(ArrayExprs.nextFitBins(col("lens"), 64L)).collect()
    }
    assert(exInt.getMessage.contains("ARRAY<BIGINT>"))
    val strs = Seq("oops").toDF("lens")
    intercept[org.apache.spark.sql.AnalysisException] {
      strs.select(ArrayExprs.nextFitBins(col("lens"), 64L)).collect()
    }
  }

  /** A session whose optimizer keeps a projection over a local frame
    * (ConvertToLocalRelation would evaluate it while optimizing), so the
    * kernels run in the planned ProjectExec. */
  private def planned(confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Every ArrayExprs builder applied to a small frame, by builder name. */
  private def kernelFrames(s: SparkSession): Seq[(String, DataFrame)] = {
    val sess = s
    import sess.implicits._
    val docs = Seq("the quick brown fox jumps over the lazy dog", "a b",
      "lorem ipsum dolor sit amet consectetur x y z").toDF("text")
    val tok = split(col("text"), " ")
    val vecs = Seq(Array.tabulate(64)(i => (i * 37 % 19 - 9).toLong),
      Array.tabulate(64)(i => (i * 53 % 23 - 11).toLong)).toDF("qv")
    val pairs = Seq((Array(1L, 2L, 3L, 0L), Array(0L, 3L, 9L)),
      (Array.empty[Long], Array(1L, 2L))).toDF("a", "b")
    val lens = Seq(Seq(10L, 20L, 30L, 40L, 50L), Seq(100L, 5L, 100L)).toDF("lens")
    Seq(
      "dotq" -> vecs.select(ArrayExprs.dotq(col("qv"), col("qv"))),
      "minhashSig" -> docs.select(ArrayExprs.minhashSig(tok, 8)),
      "affineMinhashSig" -> docs.select(ArrayExprs.affineMinhashSig(
        ArrayExprs.windowHashes(tok, 2))),
      "simhash64" -> docs.select(ArrayExprs.simhash64(tok)),
      "shingles" -> docs.select(ArrayExprs.shingles(tok, 3)),
      "polyFingerprint" -> docs.select(ArrayExprs.polyFingerprint(tok)),
      "hyperplaneBands" -> vecs.select(ArrayExprs.hyperplaneBands(col("qv"), 8, 16)),
      "topTokenCount" -> docs.select(ArrayExprs.topTokenCount(tok)),
      "windowHashes" -> docs.select(ArrayExprs.windowHashes(tok, 3)),
      "overlapCount" -> pairs.select(ArrayExprs.overlapCount(col("a"), col("b"))),
      "subwordTokens" -> docs.select(ArrayExprs.subwordTokens(tok)),
      "nextFitBins" -> lens.select(ArrayExprs.nextFitBins(col("lens"), 64L)),
      "dhash64" -> docs.select(ArrayExprs.dhash64(col("text").cast("binary"))))
  }

  test("every kernel gives the codegen rows on the interpreted path") {
    // whole-stage codegen off and NO_CODEGEN projections: each kernel runs
    // through StaticInvoke's reflective call (or the class's nullSafeEval)
    val gen = kernelFrames(planned())
    val interp = kernelFrames(planned("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    gen.zip(interp).foreach { case ((name, g), (_, i)) =>
      val want = g.collect().map(_.toSeq).toSeq
      assert(i.collect().map(_.toSeq).toSeq == want, name)
      assert(i.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
        .isEmpty, name)
    }
  }

  test("no pipeline expression falls back out of whole-stage codegen") {
    // each kernel column executes inside a WholeStageCodegenExec and no
    // CodegenFallback is planned; CODEGEN_ONLY with fallback off makes a
    // generated-code compile failure throw instead of running interpreted
    val s = planned("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    def kernels(p: SparkPlan): Seq[Expression] =
      p.collect { case n => n.expressions }.flatten.flatMap(_.collect {
        case e: StaticInvoke
            if e.staticObject == ArrayOps.getClass || e.staticObject == SubwordOps.getClass => e
        case e @ (_: DHash64 | _: NextFitBins) => e
      })
    val frames = kernelFrames(s)
    val builders = ArrayExprs.getClass.getDeclaredMethods.toSeq
      .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers) &&
        m.getReturnType == classOf[Column])
      .map(_.getName)
    assert(frames.map(_._1).sorted == builders.sorted, "a builder has no kernel frame")
    frames.foreach { case (name, df) =>
      df.collect()
      val plan = df.queryExecution.executedPlan
      val fused = plan.collect { case w: WholeStageCodegenExec => kernels(w.child) }.flatten
      assert(kernels(plan).nonEmpty && fused.size == kernels(plan).size,
        s"$name runs outside whole-stage codegen:\n$plan")
      assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[CodegenFallback]))),
        s"$name plans a CodegenFallback expression:\n$plan")
    }
  }
}
