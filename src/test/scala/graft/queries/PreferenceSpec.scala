package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestBase, Tables}

/** Laws for the preference-data family (q341–q346): a planted fixture
  * with hand-computed duels, plus the exact conservation identities that
  * tie the duel stream, the matrix, and the rankings together on real
  * testdata.
  */
class PreferenceSpec extends AnyFunSuite with SparkTestBase {

  private def ts(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)

  /** Two annotators, hand-traceable: u1's stream exercises the same-arm
    * skip and the exact-tie skip; u2 is one clean duel. */
  private lazy val planted: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, 1L, ts(1), "a", 10.0, """{"k": 1}"""),
      (1L, 2L, ts(2), "b", 20.0, """{"k": 1}"""),
      (1L, 3L, ts(3), "a", 5.0, """{"k": 1}"""),
      (1L, 4L, ts(4), "a", 7.0, """{"k": 1}"""), // same arm as 3: no duel
      (1L, 5L, ts(5), "c", 7.0, """{"k": 1}"""), // exact tie with 4: no duel
      (2L, 6L, ts(1), "a", 1.0, """{"k": 1}"""),
      (2L, 7L, ts(2), "b", 2.0, """{"k": 1}"""))
      .toDF("user_id", "event_id", "ts", "event_type", "value", "props")
  }

  test("planted duels: same-arm and exact-tie pairs are skipped, " +
    "winners by value, later_won by position") {
    val got = Preference.duels(planted)
      .orderBy("user_id", "second_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getBoolean(5))).toSeq
    assert(got == Seq(
      (1L, 1L, 2L, "b", "a", true),   // 20 > 10, later event won
      (1L, 2L, 3L, "b", "a", false),  // 20 > 5, earlier event won
      (2L, 6L, 7L, "b", "a", true)))
  }

  test("planted matrix, copeland and agreement agree with the hand trace") {
    val m = Preference.duelMatrix(planted).collect()
    assert(m.length == 1)
    val r = m.head
    assert((r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == ("a", "b", 0L, 3L, 3L, 2L))

    val cop = Preference.copelandRanking(planted)
      .orderBy("arm").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSeq
    assert(cop == Seq(("a", 0L, 0L, 3L, false), ("b", 2L, 3L, 3L, true)))

    val ag = Preference.annotatorAgreement(planted).collect()
    assert(ag.length == 1)
    val a = ag.head
    assert((a.getString(0), a.getString(1), a.getLong(2), a.getLong(3),
      a.getLong(4), a.getLong(5), a.getString(6)) ==
      ("a", "b", 0L, 2L, 0L, 2L, "b"))
  }

  test("planted dpo pair: strict best vs strict worst, small and " +
    "degenerate prompts excluded") {
    import spark.implicits._
    val ev = Seq(
      // k=1: three responses, clean gap
      (1L, 1L, ts(1), "x", 1.0, """{"k": 1}"""),
      (1L, 2L, ts(2), "y", 2.0, """{"k": 1}"""),
      (1L, 3L, ts(3), "z", 3.0, """{"k": 1}"""),
      // k=2: only two responses — below minResponses
      (2L, 4L, ts(1), "x", 1.0, """{"k": 2}"""),
      (2L, 5L, ts(2), "y", 9.0, """{"k": 2}"""),
      // k=3: all responses tie — no strict gap
      (3L, 6L, ts(1), "x", 5.0, """{"k": 3}"""),
      (3L, 7L, ts(2), "y", 5.0, """{"k": 3}"""),
      (3L, 8L, ts(3), "z", 5.0, """{"k": 3}"""))
      .toDF("user_id", "event_id", "ts", "event_type", "value", "props")
    val got = Preference.dpoPairs(ev).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getInt(0), r.getLong(1), r.getLong(2), r.getString(3),
      r.getLong(4), r.getString(5)) == (1, 3L, 3L, "z", 1L, "x"))
  }

  test("conservation laws on testdata: duels = matrix mass = borda mass; " +
    "every pair contributes exactly 2 copeland points") {
    val ev = Tables.load(spark, sfDir, "events")
    val nDuels = Preference.duels(ev).count()
    assert(nDuels > 0)

    val m = Preference.duelMatrix(ev)
    val mm = m.agg(sum("n"), sum(expr("wins_a + wins_b")),
      sum("n_later_wins")).head()
    assert(mm.getLong(0) == nDuels && mm.getLong(1) == nDuels)
    val laterWins = Preference.duels(ev).filter(col("later_won")).count()
    assert(mm.getLong(2) == laterWins)

    val nPairs = m.count()
    val cop = Preference.copelandRanking(ev)
    val cc = cop.agg(sum("copeland2"), sum("borda"), sum("duels")).head()
    assert(cc.getLong(0) == 2L * nPairs)     // 2+0 or 1+1 per pair
    assert(cc.getLong(1) == nDuels)          // each duel has one winner
    assert(cc.getLong(2) == 2L * nDuels)     // each duel counted by both arms
    // a condorcet winner beats every opponent: copeland2 = 2*(arms-1);
    // and there can be at most one
    val arms = cop.count()
    val condorcet = cop.filter(col("condorcet")).collect()
    assert(condorcet.length <= 1)
    condorcet.foreach(r => assert(r.getLong(1) == 2L * (arms - 1)))
  }

  test("agreement accounting: annotator verdicts partition; majority " +
    "names a real arm or 'split'") {
    val ev = Tables.load(spark, sfDir, "events")
    val ag = Preference.annotatorAgreement(ev).collect()
    assert(ag.nonEmpty)
    ag.foreach { r =>
      val (a, b, na, nb, nt, ann, maj) = (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getString(6))
      assert(na + nb + nt == ann)
      assert(maj == a || maj == b || maj == "split")
      if (na > nb) assert(maj == a)
      if (nb > na) assert(maj == b)
    }
  }

  test("dpo pairs on testdata: strict gap, min group size, ids distinct") {
    val ev = Tables.load(spark, sfDir, "events")
    val got = SparkEntry.queries("q345_dpo_pairs")(spark, sfDir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getLong(1) >= 3L)
      assert(r.getLong(2) != r.getLong(4)) // chosen_id != rejected_id
    }
    // chosen really is the per-prompt argmax: spot-check via a join
    val k0 = got.head.getInt(0)
    val best = ev
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .filter(col("k") === k0)
      .orderBy(col("value").desc, col("event_id").desc)
      .select("event_id").head().getLong(0)
    assert(got.head.getLong(2) == best)
  }

  test("planted grpo advantage: beats/beaten from the hand trace") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, ts(1), "x", 1.0, """{"k": 1}"""),
      (1L, 2L, ts(2), "y", 2.0, """{"k": 1}"""),
      (1L, 3L, ts(3), "z", 3.0, """{"k": 1}"""),
      (1L, 4L, ts(4), "z", 2.0, """{"k": 1}""")) // ties with event 2
      .toDF("user_id", "event_id", "ts", "event_type", "value", "props")
    val got = Preference.grpoAdvantage(ev).orderBy("event_id")
      .select("event_id", "beats", "beaten", "n_group", "positive")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSeq
    assert(got == Seq(
      (1L, 0L, 3L, 4L, false),  // worst: beats none, beaten by 2.0,2.0,3.0
      (2L, 1L, 1L, 4L, false),  // ties with 4: the tie counts neither way
      (3L, 3L, 0L, 4L, true),   // best
      (4L, 1L, 1L, 4L, false)))
  }

  test("grpo conservation on testdata: strict pairs count once each way; " +
    "ties excluded from both sides") {
    val ev = Tables.load(spark, sfDir, "events")
    val adv = Preference.grpoAdvantage(ev)
    // per prompt, sum(beats) == sum(beaten) — every strict (lo, hi) pair
    // contributes 1 to hi.beats and 1 to lo.beaten
    val bad = adv.groupBy("k")
      .agg(sum("beats").as("sb"), sum("beaten").as("sn"))
      .filter(col("sb") =!= col("sn")).count()
    assert(bad == 0)
    // beats + beaten <= n_group - 1 (equality iff no score ties)
    assert(adv.filter(col("beats") + col("beaten") > col("n_group") - 1)
      .count() == 0)
    assert(adv.count() > 0)
  }

  test("best-of-n manifest: <= m rows per prompt, rank-1 is the group max") {
    val ev = Tables.load(spark, sfDir, "events")
    val bon = Preference.bestOfN(ev)
    assert(bon.filter(col("rank") > 4 || col("rank") < 1).count() == 0)
    val overfull = bon.groupBy("k").count().filter(col("count") > 4).count()
    assert(overfull == 0)
    // the rank-1 pick carries the maximum score of its prompt group
    val e = ev.withColumn("k",
        get_json_object(col("props"), "$.k").cast("int"))
      .filter(col("k").isNotNull && col("value").isNotNull)
    val mx = e.groupBy("k").agg(max("value").as("vmax"))
    val top1 = bon.filter(col("rank") === 1)
      .join(e.select(col("k"), col("event_id"), col("value")),
        Seq("k", "event_id"))
      .join(mx, Seq("k"))
    assert(top1.filter(col("value") =!= col("vmax")).count() == 0)
    assert(top1.count() > 0)
  }

  test("exact pass@k identities: c=0 means certain failure, c>n-4 means " +
    "certain success, estimator bounded") {
    import spark.implicits._
    val ev = Seq(
      // k=1: 4 rollouts, 0 purchases -> fail4 == tot4
      (1L, 1L, ts(1), "view", 1.0, """{"k": 1}"""),
      (1L, 2L, ts(2), "view", 2.0, """{"k": 1}"""),
      (1L, 3L, ts(3), "click", 3.0, """{"k": 1}"""),
      (1L, 4L, ts(4), "click", 4.0, """{"k": 1}"""),
      // k=2: 5 rollouts, 2 purchases (n-c=3 < 4) -> fail4 == 0
      (2L, 5L, ts(1), "purchase", 1.0, """{"k": 2}"""),
      (2L, 6L, ts(2), "purchase", 2.0, """{"k": 2}"""),
      (2L, 7L, ts(3), "view", 3.0, """{"k": 2}"""),
      (2L, 8L, ts(4), "view", 4.0, """{"k": 2}"""),
      (2L, 9L, ts(5), "view", 5.0, """{"k": 2}"""),
      // k=3: 3 rollouts — below the k=4 estimator's domain, excluded
      (3L, 10L, ts(1), "purchase", 1.0, """{"k": 3}"""),
      (3L, 11L, ts(2), "view", 2.0, """{"k": 3}"""),
      (3L, 12L, ts(3), "view", 3.0, """{"k": 3}"""))
      .toDF("user_id", "event_id", "ts", "event_type", "value", "props")
    val got = Preference.passAtK(ev).orderBy("k").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSeq
    assert(got == Seq(
      (1, 4L, 0L, 24L, 24L, false),  // C(4,4)=C(4,4): pass@4 = 0
      (2, 5L, 2L, 0L, 120L, true)))  // C(3,4)=0: pass@4 = 1
    // testdata: estimator stays in [0, 1] and n >= 4 everywhere
    val real = Preference.passAtK(Tables.load(spark, sfDir, "events"))
    assert(real.filter(col("fail4_num") > col("tot4_num") ||
      col("fail4_num") < 0 || col("n") < 4).count() == 0)
    assert(real.count() > 0)
  }

  test("planted condorcet cycle: rock-paper-scissors majorities yield one " +
    "cyclic triad; reliability scores every annotator as the majority") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, ts(1), "b", 1.0, "{}"), (1L, 2L, ts(2), "a", 2.0, "{}"), // a>b
      (2L, 3L, ts(1), "c", 1.0, "{}"), (2L, 4L, ts(2), "b", 2.0, "{}"), // b>c
      (3L, 5L, ts(1), "a", 1.0, "{}"), (3L, 6L, ts(2), "c", 2.0, "{}")) // c>a
      .toDF("user_id", "event_id", "ts", "event_type", "value", "props")
    val tri = Preference.duelTransitivity(ev).collect()
    assert(tri.length == 1)
    assert((tri.head.getString(0), tri.head.getString(1),
      tri.head.getString(2), tri.head.getBoolean(3)) == ("a", "b", "c", true))
    // each pair has exactly one (strict) annotator verdict, so every
    // annotator IS the majority: scored 1, agreed 1, unflagged
    val rel = Preference.annotatorReliability(ev).orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSeq
    assert(rel == Seq((1L, 1L, 1L, false), (2L, 1L, 1L, false),
      (3L, 1L, 1L, false)))
  }

  test("transitivity and reliability bounds on testdata") {
    val ev = Tables.load(spark, sfDir, "events")
    val tri = Preference.duelTransitivity(ev).collect()
    // every strict-edge triple of the 5-arm tournament appears once
    assert(tri.length <= 10 && tri.nonEmpty)
    assert(tri.map(r => (r.getString(0), r.getString(1),
      r.getString(2))).distinct.length == tri.length)
    val rel = Preference.annotatorReliability(ev).collect()
    assert(rel.nonEmpty)
    rel.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1)) // n_agree <= n_scored
      assert(r.getBoolean(3) == (r.getLong(2) * 2 < r.getLong(1)))
    }
  }

  test("planted self-consistency: modal count, lexicographic tie-break, " +
    "unanimity") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, ts(1), "x", 1.0, """{"k": 1}"""),
      (1L, 2L, ts(2), "x", 2.0, """{"k": 1}"""),
      (1L, 3L, ts(3), "y", 3.0, """{"k": 1}"""),
      (2L, 4L, ts(1), "y", 1.0, """{"k": 2}"""),
      (2L, 5L, ts(2), "y", 2.0, """{"k": 2}"""),
      (3L, 6L, ts(1), "y", 1.0, """{"k": 3}"""), // 1-1 tie: modal = lex
      (3L, 7L, ts(2), "x", 2.0, """{"k": 3}"""))
      .toDF("user_id", "event_id", "ts", "event_type", "value", "props")
    val got = Preference.selfConsistency(ev).orderBy("k")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4), r.getLong(5), r.getBoolean(6))).toSeq
    assert(got == Seq(
      (1, 3L, 2L, "x", 2L, 1L, false),
      (2, 2L, 1L, "y", 2L, 0L, true),
      (3, 2L, 2L, "x", 1L, 1L, false)))
  }

  test("self-consistency bounds on testdata: modal dominates, unanimity " +
    "iff a single arm") {
    val sc = Preference.selfConsistency(Tables.load(spark, sfDir, "events"))
    assert(sc.count() > 0)
    assert(sc.filter(col("modal_n") < col("runner_n") ||
      col("modal_n") + col("runner_n") > col("n") ||
      col("unanimous") =!= (col("n_arms") === 1)).count() == 0)
  }

  test("cross-op consistency: dpo endpoints carry the grpo advantage " +
    "sign, best-of-n rank 1 scores equal the dpo chosen score") {
    val ev = Tables.load(spark, sfDir, "events")
    val dpo = Preference.dpoPairs(ev)
    val adv = Preference.grpoAdvantage(ev)
      .select(col("k"), col("event_id"), col("positive"))
    // the strictly-best response has positive advantage; the strictly
    // worst cannot (beats = 0, beaten >= 1 whenever n >= 3 and a gap
    // exists) — holds even under score ties among the middle ranks
    val chosenBad = dpo.select(col("k"), col("chosen_id").as("event_id"))
      .join(adv, Seq("k", "event_id")).filter(!col("positive")).count()
    val rejectedBad = dpo.select(col("k"), col("rejected_id").as("event_id"))
      .join(adv, Seq("k", "event_id")).filter(col("positive")).count()
    assert(chosenBad == 0 && rejectedBad == 0)
    // best-of-n's rank-1 pick scores exactly the dpo chosen score (ids
    // may differ only under a top-score tie, where the tie-breaks point
    // opposite ways — scores must agree regardless)
    val scores = ev
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .select(col("k"), col("event_id"), col("value"))
    val top1 = Preference.bestOfN(ev).filter(col("rank") === 1)
      .join(scores, Seq("k", "event_id"))
      .select(col("k"), col("value").as("bon_v"))
    val mism = dpo.select(col("k"), col("chosen_id").as("event_id"))
      .join(scores, Seq("k", "event_id"))
      .join(top1, Seq("k"))
      .filter(col("value") =!= col("bon_v")).count()
    assert(mism == 0)
    // self-consistency's modal count is a true per-(prompt, arm) max
    val counts = scores.join(
        ev.select(col("event_id"), col("event_type")), "event_id")
      .groupBy("k", "event_type").agg(count(lit(1)).as("c"))
      .groupBy("k").agg(max("c").as("true_max"))
    val scBad = Preference.selfConsistency(ev)
      .join(counts, Seq("k"))
      .filter(col("modal_n") =!= col("true_max")).count()
    assert(scBad == 0)
  }

  test("streaming face single-batch replay equals batch q341 row-for-row") {
    val ev = Tables.load(spark, sfDir, "events")
    val batch = Preference.duels(ev)
    val face = graft.streaming.Streams.duelIngest(ev).toDF()
    assertSameRows(face, batch)
  }

  test("q345 is a pure projection of q362 (one-definition law); " +
    "delta and flag are consistent") {
    val ev = Tables.load(spark, sfDir, "events")
    assertSameRows(
      Preference.dpoPairLengths(ev).select("k", "n_responses", "chosen_id",
        "chosen_type", "rejected_id", "rejected_type"),
      Preference.dpoPairs(ev))
    Preference.dpoPairLengths(ev).collect().foreach { r =>
      val (cl, rl) = (r.getLong(4), r.getLong(7))
      assert(r.getLong(8) == cl - rl && r.getBoolean(9) == (cl > rl))
      // the stub length rule itself
      assert(cl == r.getLong(2) * 7919 % 512 + 1)
    }
  }

  /** Length-confound fixture builder: per prompt, chosen/rejected ids
    * are drawn from two fixed len-classes of the stub rule
    * len(e) = e*7919 % 512 + 1 (each residue class mod 512 is one len),
    * so within every arm the chosen and rejected lengths are two exact
    * points — the regime where point-biserial pins to +-1. */
  private def confoundFixture(chosenLen: Long, rejectedLen: Long): DataFrame = {
    import spark.implicits._
    def idsWithLen(l: Long): Seq[Long] =
      (1L to 200000L).filter(e => e * 7919 % 512 + 1 == l).take(30)
    val hi = idsWithLen(chosenLen)
    val lo = idsWithLen(rejectedLen)
    val mid = idsWithLen(250L) // the group-size filler, never chosen/rejected
    assert(hi.size == 30 && lo.size == 30 && mid.size == 30)
    val rows = (0 until 30).flatMap { j =>
      val (cArm, rArm) = if (j % 2 == 0) ("x", "y") else ("y", "x")
      Seq(
        (1L, hi(j), ts(j * 3), cArm, 3.0, s"""{"k": ${j + 1}}"""),
        (1L, lo(j), ts(j * 3 + 1), rArm, 1.0, s"""{"k": ${j + 1}}"""),
        (1L, mid(j), ts(j * 3 + 2), "z", 2.0, s"""{"k": ${j + 1}}"""))
    }
    rows.toDF("user_id", "event_id", "ts", "event_type", "value", "props")
  }

  test("planted length confound: r_pb pins to +-1, means are the exact " +
    "class lengths") {
    val biased = Preference.dpoLengthBias(confoundFixture(500L, 10L))
      .orderBy("arm").collect()
    assert(biased.map(_.getString(0)).toSeq == Seq("x", "y"))
    biased.foreach { r =>
      assert(r.getDouble(5) == 500.0 && r.getDouble(6) == 10.0)
      assert(r.getDouble(7) > 0.999, s"arm ${r.getString(0)} r_pb ${r.getDouble(7)}")
    }
    // anti-confound: rejected responses are the long ones
    Preference.dpoLengthBias(confoundFixture(10L, 500L)).collect().foreach {
      r => assert(r.getDouble(7) < -0.999)
    }
    // no confound: chosen and rejected drawn from the SAME len class —
    // zero length variance within each arm, the guarded NULL (not NaN)
    Preference.dpoLengthBias(confoundFixture(100L, 100L)).collect().foreach {
      r => assert(r.isNullAt(7))
    }
  }

  test("q378 curriculum is a dense easy-to-hard permutation with stable " +
      "tiebreaks") {
    val rows = SparkEntry.queries("q378_curriculum")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("curriculum_idx"), r.getAs[Long]("pass_ppm"),
        r.getAs[Int]("k"), r.getAs[Long]("phase")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == rows.indices.map(_.toLong).toSeq,
      "curriculum_idx is not a dense 0..n-1 permutation")
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._2 > b._2 || (a._2 == b._2 && a._3 < b._3),
          s"order violated at idx ${b._1}")
      case _ =>
    }
    rows.foreach(t => assert(t._4 == t._1 / 8))
    // non-degenerate: multiple difficulty levels exist
    assert(rows.map(_._2).distinct.length > 1)
  }

  test("q375 planted rollout confounds: perfect +/- correlation pins " +
      "bias_num to +-2(n^3-n); no-variance groups are degenerate-false") {
    import spark.implicits._
    def len(eid: Long): Long = eid * 7919 % 512 + 1
    val eids = Seq(11L, 12L, 13L, 14L, 15L)
    assert(eids.map(len).distinct.length == eids.length, "len ties in fixture")
    val ev = (
      eids.map(e => (1L, e, ts(e.toInt), "a", len(e).toDouble,
        """{"k": 100}""")) ++ // reward == length: rho = +1
      eids.map(e => (1L, e + 100, ts(e.toInt), "a", -len(e + 100).toDouble,
        """{"k": 101}""")) ++ // reward == -length: rho = -1
      eids.map(e => (1L, e + 200, ts(e.toInt), "a", 7.0,
        """{"k": 102}"""))) // constant reward: undefined rho
      .toDF("user_id", "event_id", "ts", "event_type", "value", "props")
    val got = Preference.rolloutLengthBias(ev).orderBy("k").collect()
      .map(r => r.getAs[Int]("k") -> r).toMap
    val n = eids.length.toLong
    val nn2 = (n * n * n - n) * 2
    assert(got(100).getAs[Long]("bias_num") == nn2)
    assert(got(100).getAs[Boolean]("length_biased"))
    assert(!got(100).getAs[Boolean]("degenerate"))
    assert(got(101).getAs[Long]("bias_num") == -nn2)
    assert(!got(101).getAs[Boolean]("length_biased"))
    assert(got(102).getAs[Boolean]("degenerate"))
    assert(!got(102).getAs[Boolean]("length_biased"), "verdict must be total")
    // real testdata: verdicts are total and both signs occur
    val real = Preference.rolloutLengthBias(
      Tables.load(spark, sfDir, "events")).collect()
    assert(real.forall(r => !r.isNullAt(r.fieldIndex("length_biased"))))
    assert(real.exists(r => r.getAs[Long]("bias_num") > 0) &&
      real.exists(r => r.getAs[Long]("bias_num") < 0))
  }

  test("planted unanimous slice stops at look 1; cumulative identities " +
    "hold on testdata") {
    import spark.implicits._
    // 30 annotators, one clean duel each, all on day 0, prompt k=8
    // (slice 0), arm b always beating arm a: z at look 1 is
    // -30/sqrt(30) = -5.48, past the O'Brien-Fleming 2.05*sqrt(6) = 5.02
    val rows = (0 until 30).flatMap { u =>
      Seq((u.toLong, 2L * u, ts(1), "a", 1.0, """{"k": 8}"""),
        (u.toLong, 2L * u + 1, ts(2), "b", 2.0, """{"k": 8}"""))
    }
    val planted = Preference.winrateSlices(
      rows.toDF("user_id", "event_id", "ts", "event_type", "value", "props"))
      .orderBy("look").collect()
    assert(planted.length == 6)
    planted.foreach { r =>
      assert(r.getInt(0) == 0 && r.getString(1) == "a" && r.getString(2) == "b")
      assert(r.getLong(5) == 30L && r.getLong(6) == 0L && r.getDouble(7) == 0.0)
      assert(r.getBoolean(10), "every look must cross")
      assert(r.getInt(11) == 1, "stopped_at must be the first look")
    }
    // testdata identities: win_rate*n == wins_a exactly in the int
    // domain; n nondecreasing in look; stopped_at == first crossed look
    val got = SparkEntry.queries("q364_winrate_slices")(spark, sfDir).collect()
    assert(got.nonEmpty)
    got.groupBy(r => (r.getInt(0), r.getString(1), r.getString(2)))
      .foreach { case (_, g) =>
        val sorted = g.sortBy(_.getInt(3))
        sorted.sliding(2).filter(_.length == 2).foreach { w =>
          assert(w(0).getLong(5) <= w(1).getLong(5))
        }
        val firstCross = sorted.find(_.getBoolean(10)).map(_.getInt(3))
        sorted.foreach { r =>
          assert(r.getLong(6) <= r.getLong(5))
          assert(r.getDouble(7) == r.getLong(6).toDouble / r.getLong(5))
          firstCross match {
            case Some(l) => assert(r.getInt(11) == l)
            case None => assert(r.isNullAt(11))
          }
        }
      }
  }
}
