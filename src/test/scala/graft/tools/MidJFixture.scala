package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic planted-pair fixture for certifying blocker
  * completeness at MID similarity — the r10 verdict's open flank: the
  * testdata corpus' every true near-dup pair is J >= ~0.8, so a sweep
  * measuring "completeness 1.0 at theta 0.4" never stressed the floor
  * it certifies. This fixture PLANTS pairs at controlled true Jaccard
  * across 0.35-0.95 under the two edit models that matter:
  *
  *   - `segment`: a contiguous token range replaced — the realistic
  *     near-dup shape (editor touched one region). Remaining text keeps
  *     long shared runs, so the WINNOW tier must reach these at any J.
  *   - `scatter`: every k-th token substituted — the adversarial shape
  *     for a run-based blocker: J ~ (k-3)/(k+3) with NO shared run
  *     longer than k-1 tokens, so below J ~ 0.6 these pairs share no
  *     winnowing fingerprint at all and only the RARE-KEY tier
  *     (df-bounded verify keys) can reach them.
  *   - `contain`: sub/super pairs at containment ~0.85-1.0 (evenly
  *     spread substitutions in a copied slice) for the tau >= 0.9
  *     containment hybrid.
  *
  * Token vocabulary is PAIR-UNIQUE (pNNNaI / pNNNbJ), so planted pairs
  * are mutually independent and independent of the background corpus;
  * the exact joins compute each pair's true J, which is what
  * WinnowBlockSpec (and the recorded envelope runs in PROBES_r11.txt,
  * PROBES_r12.txt and PROBES_r13_midj.txt) measure against. Everything
  * is arithmetic in the pair index — no RNG, no time — so every run
  * sees byte-identical text.
  */
object MidJFixture {
  /** Target Jaccard levels for the set/multiset models. */
  val Levels: Seq[Double] =
    Seq(0.35, 0.40, 0.45, 0.50, 0.55, 0.60, 0.65, 0.70, 0.80, 0.90)

  /** Substitutions-per-sub for the containment model: 0 -> c = 1.0,
    * 1 -> ~0.95, 2 -> ~0.90 (58 windows, 3 killed per substitution). */
  val ContainSubs: Seq[Int] = Seq(0, 1, 2)

  val IdOffset = 10000000L
  private val N = 60 // tokens per planted doc (58 3-gram windows)

  /** (docs(doc_id, text), pairs(doc_a, doc_b, model, level)) — `level`
    * is the TARGET (the generator's aim); consumers always measure
    * against the exact join's computed similarity, not the target. */
  def planted(spark: SparkSession, nPerLevel: Int): (DataFrame, DataFrame) = {
    var pid = 0
    val docs = Seq.newBuilder[(Long, String)]
    val pairs = Seq.newBuilder[(Long, Long, String, Double)]
    def add(model: String, level: Double, a: Seq[String], b: Seq[String]): Unit = {
      val ida = IdOffset + pid * 2L
      val idb = ida + 1L
      docs += ((ida, a.mkString(" ")))
      docs += ((idb, b.mkString(" ")))
      pairs += ((ida, idb, model, level))
      pid += 1
    }
    for (j <- Levels; i <- 0 until nPerLevel) {
      // segment: replace m contiguous tokens starting at 20 so both the
      // 20-token prefix and the (40-m)-token suffix stay shared runs.
      // J = (N - m - 4) / (N + m)  =>  m = (N(1-J) - 4) / (1+J)
      val base = (0 until N).map(t => s"p${pid}a$t")
      val m = math.round((N * (1 - j) - 4) / (1 + j)).toInt.max(1).min(N - 24)
      add("segment", j, base,
        base.zipWithIndex.map { case (t, x) =>
          if (x >= 20 && x < 20 + m) s"p${pid}b$x" else t })
      // scatter: substitute every k-th token (offset 2); for large n,
      // J ~ (k-3)/(k+3)  =>  k = 3(1+J)/(1-J); shared runs are k-1
      // tokens — below the 11-token winnowing guarantee for J < ~0.6
      val base2 = (0 until N).map(t => s"p${pid}a$t")
      val k = math.round(3 * (1 + j) / (1 - j)).toInt.max(4)
      add("scatter", j, base2,
        base2.zipWithIndex.map { case (t, x) =>
          if (x % k == 2) s"p${pid}b$x" else t })
      // shortscatter: the same substitution period on a 32-token doc —
      // only ~29 4-gram windows / ~6 winnow fingerprints per doc, so
      // chance fingerprint sharing (which rescues the 60-token scatter
      // pairs above the run guarantee) has far fewer draws; this is the
      // regime where the rare-key tier carries completeness alone
      val n3 = 32
      val base3 = (0 until n3).map(t => s"p${pid}a$t")
      add("shortscatter", j, base3,
        base3.zipWithIndex.map { case (t, x) =>
          if (x % k == 2) s"p${pid}b$x" else t })
    }
    for (s <- ContainSubs; i <- 0 until nPerLevel) {
      // contain: super = 90 tokens, sub = a copied 60-token slice with s
      // evenly spread substitutions; c = (58 - 3s) / 58
      val sup = (0 until 90).map(t => s"p${pid}a$t")
      val slice = sup.slice(5, 65)
      val sub = slice.zipWithIndex.map { case (t, x) =>
        if (s > 0 && x % (N / (s + 1) + 1) == 7 && x / (N / (s + 1) + 1) < s)
          s"p${pid}b$x"
        else t
      }
      add("contain", (58.0 - 3 * s) / 58.0, sup, sub)
    }
    val d = spark.createDataFrame(docs.result()).toDF("doc_id", "text")
    val p = spark.createDataFrame(pairs.result())
      .toDF("doc_a", "doc_b", "model", "level")
    (d, p)
  }
}
