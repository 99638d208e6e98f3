package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Dedup

/** Deterministic planted-pair fixture for certifying blocker
  * completeness at MID similarity — the r10 verdict's open flank: the
  * driver corpus' every true near-dup pair is J >= ~0.8, so a sweep
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
  * the exact joins compute each pair's true J, which is what the probe
  * reports against. Everything is arithmetic in the pair index — no
  * RNG, no time — so fixture, probe, and spec see byte-identical text.
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
    * is the TARGET (the generator's aim); the probe always measures
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

/** Measures blocked-join completeness per threshold on the planted
  * mid-J fixture UNIONED onto the real corpus, for both the SHIPPING
  * two-tier candidate generator (winnow + rare-key below
  * [[graft.queries.Dedup.RareTierTheta]]) and the winnow tier alone —
  * the delta between the two columns is exactly the scattered-edit
  * regime the r11 rare-key tier exists for.
  *
  * Run: `sbt "runMain graft.tools.MidJProbe <sfDir> <nPerLevel>
  * [set|multiset|containment]"`. Prints one JSON line per threshold
  * plus a per-(model, target-level) breakdown of any winnow-only
  * misses.
  */
object MidJProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nPerLevel = if (args.length > 1) args(1).toInt else 8
    val mode = if (args.length > 2) args(2) else "set"
    val spark = graft.Session.local()
    try {
      if (mode == "raresweep") runRareSweep(spark, dir, nPerLevel)
      else run(spark, dir, nPerLevel, mode)
    } finally spark.stop()
  }

  /** (cap, minShared) operating-curve sweep for [[Dedup.rareKeyCandidates]]
    * (the r11 verdict's ask #6): the shipped constants (25, 3) were
    * certified at one point; this measures, per grid point, the planted
    * mid-J completeness of the two-tier union on the blocked branch
    * (pairs with least(la, lb) >= ShortLen — short pairs route through
    * the provably-complete prefix join regardless of the tier) AGAINST
    * its cost (rare candidate count, and the rare-only pairs that are
    * the tier's incremental exact-verify bill). One JSON line per
    * (cap, minShared, theta).
    */
  def runRareSweep(spark: SparkSession, dir: String, nPerLevel: Int): Unit = {
    import graft.Materialize.MaterializeOps
    val (pd, _) = MidJFixture.planted(spark, nPerLevel)
    val docs = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "text").union(pd).materialize
    val docsSh = docs.select(col("doc_id"), array_distinct(
        graft.functions.ArrayExprs.windowHashes(split(col("text"), " "), 3))
        .as("sh"))
      .filter(size(col("sh")) > 0).materialize
    val toks = docsSh.select(col("doc_id"), explode(col("sh")).as("tok"))
      .materialize
    val lens = docsSh.select(col("doc_id"), size(col("sh")).as("len"))
    val truth = Dedup.jaccardJoin(docs, 0.4)
      .join(lens.select(col("doc_id").as("doc_a"), col("len").as("la")), "doc_a")
      .join(lens.select(col("doc_id").as("doc_b"), col("len").as("lb")), "doc_b")
      .filter(least(col("la"), col("lb")) >= Dedup.ShortLen)
      .select("doc_a", "doc_b", "jaccard")
      .materialize
    val winnow = Dedup.winnowCandidates(docs).materialize
    for (cap <- Seq(10, 25, 50); minShared <- Seq(2, 3, 4, 5)) {
      val rare = Dedup.rareKeyCandidates(toks, cap, minShared).materialize
      val nRare = rare.count()
      val nRareOnly = rare.join(winnow, Seq("doc_a", "doc_b"), "left_anti")
        .count()
      val union = winnow.union(rare).distinct().materialize
      for (theta <- Seq(0.4, 0.5, 0.6)) {
        val t = truth.filter(col("jaccard") >= theta)
        val nTruth = t.count()
        val miss = t.join(union, Seq("doc_a", "doc_b"), "left_anti").count()
        val comp = if (nTruth == 0) 1.0 else (nTruth - miss).toDouble / nTruth
        println(s"""{"probe":"raresweep","sf":"$dir","cap":$cap,""" +
          s""""min_shared":$minShared,"theta":$theta,"n_truth":$nTruth,""" +
          s""""missed":$miss,"completeness":$comp,"n_rare_cand":$nRare,""" +
          s""""n_rare_only":$nRareOnly}""")
      }
      union.release()
      rare.release()
    }
  }

  def run(spark: SparkSession, dir: String, nPerLevel: Int, mode: String): Unit = {
    import graft.Materialize.MaterializeOps
    val (pd, pairs) = MidJFixture.planted(spark, nPerLevel)
    val docs = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "text").union(pd).materialize
    val pairsM = pairs.materialize
    val thetas = mode match {
      case "containment" => Seq(0.9, 0.95)
      case _ => Seq(0.4, 0.45, 0.5, 0.55, 0.6, 0.65, 0.7, 0.8)
    }
    // exact truth ONCE at the loosest threshold; per-theta truth is a
    // filter on the computed similarity column
    val (truthAll, simCol) = mode match {
      case "multiset" =>
        (Dedup.multisetJaccardJoin(docs, thetas.min)
          .select(col("doc_a"), col("doc_b"), col("jaccard").as("sim")),
          "jaccard")
      case "containment" =>
        (Dedup.containmentJoin(docs, thetas.min)
          .select(least(col("doc_sub"), col("doc_sup")).as("doc_a"),
            greatest(col("doc_sub"), col("doc_sup")).as("doc_b"),
            col("containment").as("sim"))
          .groupBy("doc_a", "doc_b").agg(max("sim").as("sim")),
          "containment")
      case _ =>
        (Dedup.jaccardJoin(docs, thetas.min)
          .select(col("doc_a"), col("doc_b"), col("jaccard").as("sim")),
          "jaccard")
    }
    val truth = truthAll.materialize
    val winnowOnly = Dedup.winnowCandidates(docs).materialize
    for (theta <- thetas) {
      // the same >= theta comparison the joins apply internally: both
      // engines compute the ratio identically, so no epsilon slack —
      // slack would manufacture boundary "misses" the join correctly
      // excludes
      val t = truth.filter(col("sim") >= theta)
      val blocked = (mode, theta) match {
        case ("multiset", th) if th >= 0.5 =>
          Some(Dedup.multisetJaccardJoinWinnowBlocked(docs, th)
            .select("doc_a", "doc_b"))
        case ("containment", th) if th >= 0.9 =>
          Some(Dedup.containmentJoinWinnowBlocked(docs, th)
            .select(least(col("doc_sub"), col("doc_sup")).as("doc_a"),
              greatest(col("doc_sub"), col("doc_sup")).as("doc_b"))
            .distinct())
        case ("set", th) if th >= 0.4 =>
          Some(Dedup.jaccardJoinWinnowBlocked(docs, th)
            .select("doc_a", "doc_b"))
        case _ => None
      }
      val nTruth = t.count()
      val nPlanted = t.filter(col("doc_a") >= MidJFixture.IdOffset).count()
      val missedW = t.join(winnowOnly, Seq("doc_a", "doc_b"), "left_anti")
      val nMissW = missedW.count()
      val (nMissB, src) = blocked match {
        case Some(b) =>
          (t.join(b, Seq("doc_a", "doc_b"), "left_anti").count(), "hybrid_join")
        case None => (-1L, "below_floor")
      }
      def comp(miss: Long) =
        if (nTruth == 0) 1.0 else (nTruth - miss).toDouble / nTruth
      println(s"""{"probe":"midj","sf":"$dir","mode":"$mode","theta":$theta,""" +
        s""""n_truth":$nTruth,"n_truth_planted":$nPlanted,""" +
        s""""blocked_missed":$nMissB,"blocked_completeness":${
          if (nMissB < 0) "null" else comp(nMissB).toString},""" +
        s""""blocked_src":"$src",""" +
        s""""winnow_only_missed":$nMissW,"winnow_only_completeness":${comp(nMissW)}}""")
      // winnow-only misses by planted (model, target level) — the
      // scattered-edit hole made visible; anything NOT planted here
      // would be a real-corpus miss and demands attention
      if (nMissW > 0) {
        val br = missedW
          .join(pairsM, Seq("doc_a", "doc_b"), "left")
          .groupBy("model", "level").agg(count(lit(1)).as("n"))
          .orderBy("model", "level")
          .collect()
        br.foreach(r => println(s"""  winnow-miss model=${r.get(0)} target=${r.get(1)} n=${r.get(2)}"""))
      }
    }
  }
}
