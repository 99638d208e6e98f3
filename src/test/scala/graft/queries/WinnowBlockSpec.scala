package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The law behind q275's winnow-blocked plan: on this corpus the
  * winnowing-fingerprint blocker reaches EVERY exact-Jaccard pair at
  * theta >= 0.4, so jaccardJoinWinnowBlocked (blocker + exact verify)
  * equals jaccardJoin (prefix-filtered, provably complete) row for row.
  * q306 drives the same pair-completeness statistic (= 1.0 at theta
  * 0.7) through the DuckDB oracle gate every round; the r10 winnow
  * sweep (PROBES_r10.txt) measured completeness 1.0 at theta 0.4 on
  * sf0.001/sf0.01/sf0.1.
  * This spec pins the strongest local form — full plan equality
  * including the jaccard values — plus the documented theta floor.
  */
class WinnowBlockSpec extends AnyFunSuite with SparkTestBase {

  test("winnow-blocked join equals the prefix-filtered exact join at theta 0.4") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val want = Dedup.jaccardJoin(docs, 0.4)
    val got = Dedup.jaccardJoinWinnowBlocked(docs, 0.4)
    assert(want.count() > 0, "fixture must plant theta>=0.4 pairs")
    assertSameRows(got, want)
  }

  test("winnow-blocked multiset join equals the PPJoin multiset join at theta 0.5") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val want = Dedup.multisetJaccardJoin(docs, 0.5)
    val got = Dedup.multisetJaccardJoinWinnowBlocked(docs, 0.5)
    assert(want.count() > 0, "fixture must plant theta>=0.5 multiset pairs")
    assertSameRows(got, want)
  }

  test("winnow-blocked containment join equals the prefix-filtered join at tau 0.9") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val want = Dedup.containmentJoin(docs, 0.9)
    val got = Dedup.containmentJoinWinnowBlocked(docs, 0.9)
    assert(want.count() > 0, "fixture must plant tau>=0.9 containments")
    assertSameRows(got, want)
  }

  test("short docs ride the provably-complete branch: the 3-token J=1.0 pair is found") {
    // the blocker's PROVABLE hole: a doc with < 4 tokens has no 4-gram
    // windows, hence no fingerprints — two identical 3-token docs are
    // Jaccard 1.0 and invisible to pure winnow blocking. The hybrid's
    // short-side branch must carry them (and agree with the unblocked
    // join on the whole mixed corpus).
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c"),
      (2L, "a b c"),
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18 w19 w20"),
      (4L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18 zz yy"),
      (5L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12 q13 q14 q15 q16 q17 q18 q19 q20")
    ).toDF("doc_id", "text")
    val want = Dedup.jaccardJoin(docs, 0.5)
    val got = Dedup.jaccardJoinWinnowBlocked(docs, 0.5)
    assertSameRows(got, want)
    val pairs = got.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "the fingerprint-less 3-token pair must be found")
    assert(pairs.contains((3L, 4L)), "the long near-dup pair must be found")
    // multiset face of the same corpus
    assertSameRows(
      Dedup.multisetJaccardJoinWinnowBlocked(docs, 0.5),
      Dedup.multisetJaccardJoin(docs, 0.5))
    // containment: the 3-token sub is wholly inside a long container
    val cdocs = docs.union(Seq(
      (6L, "p1 p2 a b c p3 p4 p5 p6 p7 p8 p9 p10 p11 p12")).toDF("doc_id", "text"))
    val cw = Dedup.containmentJoin(cdocs, 0.9)
    val cg = Dedup.containmentJoinWinnowBlocked(cdocs, 0.9)
    assertSameRows(cg, cw)
    val subs = cg.select("doc_sub", "doc_sup").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(subs.contains((1L, 6L)) && subs.contains((2L, 6L)),
      "fingerprint-less short subs must be found inside their container")
  }

  test("NULL text and an empty corpus: blocked equals unblocked, nothing throws") {
    // Off the happy path. A NULL-text doc has no shingles, fingerprints
    // or occurrence keys, so the key builders must drop it the way they
    // drop sub-3-token docs; an empty corpus must give empty results.
    import spark.implicits._
    val mixed = Seq[(Long, String)](
      (1L, "a b c"),
      (2L, "a b c"),
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18 w19 w20"),
      (4L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18 zz yy"),
      (5L, null),
      (6L, "p1 p2 a b c p3 p4 p5 p6 p7 p8 p9 p10 p11 p12")
    ).toDF("doc_id", "text")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    for (docs <- Seq(mixed, empty)) {
      assertSameRows(Dedup.jaccardJoinWinnowBlocked(docs, 0.5),
        Dedup.jaccardJoin(docs, 0.5))
      assertSameRows(Dedup.multisetJaccardJoinWinnowBlocked(docs, 0.5),
        Dedup.multisetJaccardJoin(docs, 0.5))
      assertSameRows(Dedup.containmentJoinWinnowBlocked(docs, 0.9),
        Dedup.containmentJoin(docs, 0.9))
    }
    val pairs = Dedup.jaccardJoinWinnowBlocked(mixed, 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)), s"pairs: $pairs")
    assert(Dedup.containmentJoinWinnowBlocked(mixed, 0.9)
      .filter(col("doc_sub") === 5L || col("doc_sup") === 5L).isEmpty)
  }

  test("one-sided error is a THEOREM: blocked output is a subset of exact truth, even adversarially") {
    // Completeness of the blocker is empirical (probed + oracle-gated);
    // SOUNDNESS is not: every emitted pair passed the exact verify, so
    // blocked \subseteq unblocked holds on ANY corpus. This fixture is
    // adversarial by design — tiny-vocabulary docs overlap heavily as
    // shingle SETS while sharing few long runs, the regime where the
    // fingerprint blocker's recall genuinely degrades (natural-text
    // near-dups share runs; these don't). The law pinned here is the
    // one-sided contract, not recall.
    import spark.implicits._
    val vocab = Array("a", "b", "c", "d", "e")
    val docs = (1L to 12L).map { i =>
      // deterministic shuffled-ish tiny-vocab text, 30 tokens
      val txt = (0 until 30)
        .map(j => vocab(((i * 31 + j * 17 + j * j * 7) % 5).toInt))
        .mkString(" ")
      (i, txt)
    }.toDF("doc_id", "text")
    val want = Dedup.jaccardJoin(docs, 0.4)
      .select("doc_a", "doc_b").collect().map(_.toSeq).toSet
    val got = Dedup.jaccardJoinWinnowBlocked(docs, 0.4)
      .select("doc_a", "doc_b").collect().map(_.toSeq).toSet
    assert(got.subsetOf(want), s"blocked emitted non-pairs: ${got.diff(want)}")
    val cw = Dedup.containmentJoin(docs, 0.9)
      .select("doc_sub", "doc_sup").collect().map(_.toSeq).toSet
    val cg = Dedup.containmentJoinWinnowBlocked(docs, 0.9)
      .select("doc_sub", "doc_sup").collect().map(_.toSeq).toSet
    assert(cg.subsetOf(cw), s"blocked emitted non-containments: ${cg.diff(cw)}")
  }

  test("planted MID-similarity pairs are complete at the floors (the r10 open flank)") {
    // The r10 probes certified "completeness 1.0 at theta 0.4" against
    // truth sets whose every pair was J >= ~0.8 — the floor itself was
    // unstressed. MidJFixture plants pairs at controlled true Jaccard
    // 0.35-0.95 under three edit models, including the run-free
    // scattered regime where the winnow tier alone demonstrably misses
    // (PROBES_r11.txt records the winnow-only misses; the shipping
    // two-tier generator must not). This law pins blocked == exact AT
    // the registered floors on that fixture, and pins that the fixture
    // genuinely contains mid-similarity truth.
    val (docs, _) = graft.tools.MidJFixture.planted(spark, 2)
    val want = Dedup.jaccardJoin(docs, 0.4)
    val mid = want.filter(col("jaccard") < 0.7).count()
    assert(mid >= 10, s"fixture must carry J in [0.4, 0.7) truth pairs, had $mid")
    assertSameRows(Dedup.jaccardJoinWinnowBlocked(docs, 0.4), want)
    assertSameRows(
      Dedup.multisetJaccardJoinWinnowBlocked(docs, 0.5),
      Dedup.multisetJaccardJoin(docs, 0.5))
    assertSameRows(
      Dedup.containmentJoinWinnowBlocked(docs, 0.9),
      Dedup.containmentJoin(docs, 0.9))
  }

  test("the sampled blocking-quality gate estimates the full gate (q316 vs q306)") {
    // q316 = q306 on a Lehmer HALF of the doc set — both truth and
    // candidates within the sample, so its statistics are a pair-level
    // r^2 subsample of the full gate's population. On the spec corpus
    // both must report the same verdict a pipeline would gate on:
    // completeness 1.0 (the blocker misses nothing, in the population
    // or any subsample of it) and a reduction ratio within a couple of
    // points (the candidate rate is a population property; the sample
    // estimates it).
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val full = Dedup.blockingQualityOf(docs).collect()(0)
    val sampled = Dedup.blockingQualityOf(
      docs.filter(Sampling.lehmer(col("doc_id")) % 2 === 0)).collect()(0)
    assert(sampled.getAs[Long]("n_docs") > 0 &&
      sampled.getAs[Long]("n_truth") > 0,
      "the half-sample must keep a non-empty truth set on the spec corpus")
    assert(full.getAs[Double]("pair_completeness") == 1.0)
    assert(sampled.getAs[Double]("pair_completeness") == 1.0,
      "a complete blocker is complete on every doc-induced subsample")
    val rrFull = full.getAs[Double]("reduction_ratio")
    val rrSampled = sampled.getAs[Double]("reduction_ratio")
    assert(math.abs(rrFull - rrSampled) < 0.02,
      s"sampled reduction ratio $rrSampled vs full $rrFull")
  }

  test("the theta floors are enforced: below them callers must use the PPJoin paths") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val e = intercept[IllegalArgumentException] {
      Dedup.jaccardJoinWinnowBlocked(docs, 0.3)
    }
    assert(e.getMessage.contains("theta"))
    val e2 = intercept[IllegalArgumentException] {
      Dedup.multisetJaccardJoinWinnowBlocked(docs, 0.4)
    }
    assert(e2.getMessage.contains("theta"))
    val e3 = intercept[IllegalArgumentException] {
      Dedup.containmentJoinWinnowBlocked(docs, 0.8)
    }
    assert(e3.getMessage.contains("tau"))
  }
}
