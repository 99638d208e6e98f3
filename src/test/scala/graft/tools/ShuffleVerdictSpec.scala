package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The byte-surface gate's comparison logic, driven on synthetic audit
  * outputs: every violation class (strategy flip, >5% swrite delta,
  * spill, FAILED rows, coverage mismatch) must be flagged, and the
  * jitter classes the r13 evidence showed are host noise (sub-5% swrite
  * compression deltas, deltas under 256 KiB) must NOT be. */
class ShuffleVerdictSpec extends AnyFunSuite {

  private def audit(rows: (String, Long, Long, String)*): Vector[String] =
    rows.flatMap { case (n, sw, sp, sig) =>
      Seq(s"SHUFFLE $n in=1.0KiB sread=1.0KiB swrite=1.0KiB " +
        s"spillMem=0B spillDisk=0B rawswrite=$sw rawspill=$sp",
        s"PLANSIG $n $sig")
    }.toVector

  private def verdict(a: Vector[String], b: Vector[String]): String =
    ShuffleVerdict.compare(ShuffleVerdict.parseLines(a), ShuffleVerdict.parseLines(b))

  test("identical runs pass") {
    val a = audit(("q1", 1000L, 0L, "bhj=1 smj=0"), ("q2", 5L << 20, 0L, "bhj=0 smj=2"))
    val v = verdict(a, a)
    assert(v.startsWith("BYTE-SURFACE VERDICT PASS"))
  }

  test("sub-5% and sub-256KiB swrite jitter passes; larger deltas fail") {
    val base = audit(("q1", 100L << 20, 0L, "bhj=1 smj=0"))
    // 3% delta on 100 MiB: jitter band
    assert(verdict(base, audit(("q1", (100L << 20) * 103 / 100, 0L, "bhj=1 smj=0")))
      .startsWith("BYTE-SURFACE VERDICT PASS"))
    // 200 KiB absolute delta on a tiny shuffle: under the floor
    assert(verdict(audit(("q1", 10L << 10, 0L, "x=1")),
      audit(("q1", (10L << 10) + 200L * 1024, 0L, "x=1")))
      .startsWith("BYTE-SURFACE VERDICT PASS"))
    // 8% delta on 100 MiB: a real plan change
    val v = verdict(base, audit(("q1", (100L << 20) * 108 / 100, 0L, "bhj=1 smj=0")))
    assert(v.startsWith("BYTE-SURFACE VERDICT FAIL") && v.contains("SWRITE DELTA q1"))
  }

  test("a strategy MIGRATION fails even with identical bytes") {
    val v = verdict(audit(("q1", 1000L, 0L, "bhj=1 smj=0 shj=0")),
      audit(("q1", 1000L, 0L, "bhj=0 smj=1 shj=0")))
    assert(v.startsWith("BYTE-SURFACE VERDICT FAIL") && v.contains("STRATEGY FLIP q1"))
    // migration inside larger counts too: one join moved bhj -> smj
    val v2 = verdict(audit(("q1", 1000L, 0L, "bhj=14 smj=3 bnlj=4")),
      audit(("q1", 1000L, 0L, "bhj=13 smj=4 bnlj=4")))
    assert(v2.contains("STRATEGY FLIP q1"))
  }

  test("same-sign count drift is SHAPE JITTER, not a failure") {
    // AQE empty-relation elimination: a no-op join excised from one
    // run's final plan — bytes identical, no class migration
    val v = verdict(audit(("q1", 1000L, 0L, "bhj=4 smj=0 bnlj=9")),
      audit(("q1", 1000L, 0L, "bhj=4 smj=0 bnlj=8")))
    assert(v.startsWith("BYTE-SURFACE VERDICT PASS"), v)
    assert(v.contains("SHAPE JITTER q1") && v.contains("shape-jitter=1"))
  }

  test("spill, FAILED rows, and coverage mismatches fail") {
    val ok = audit(("q1", 1000L, 0L, "bhj=1"))
    val vSpill = verdict(ok, audit(("q1", 1000L, 4096L, "bhj=1")))
    assert(vSpill.contains("SPILL q1"))
    val vFail = verdict(ok,
      Vector("SHUFFLE q1 FAILED boom") ++ audit(("q1", 1000L, 0L, "bhj=1")))
    assert(vFail.contains("run B FAILED"))
    val vCov = verdict(ok, audit(("q1", 1000L, 0L, "bhj=1"), ("q2", 1L, 0L, "bhj=0")))
    assert(vCov.contains("only in run B: q2"))
  }

  test("PROFILE lines are ignored: scheduling shape is not part of the gate") {
    val a = audit(("q1", 1000L, 0L, "bhj=1 smj=0"))
    val b = a :+ "PROFILE q1 jobs=9 stages=12 tasks=40 exch=3 bexch=1 aqe=2"
    assert(ShuffleVerdict.parseLines(b) == ShuffleVerdict.parseLines(a))
    assert(verdict(a, b).startsWith("BYTE-SURFACE VERDICT PASS"))
  }
}
