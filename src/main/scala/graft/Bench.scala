package graft

/** Per-round benchmark: times every registered query at the scale factor in
  * SPARK_GRAFT_SF_DIR and prints a compact JSON result line (twice — first
  * and last, bracketing a bytes/delta diagnostics line — see the
  * truncation-proof layout note at the bottom of [[main]]).
  *
  * Queries run in sorted name order, three base passes plus ADAPTIVE
  * per-query repetitions: a query reruns until its two smallest times
  * agree within 15% (cap 7 total reps), so the reported minimum is a
  * REPRODUCED measurement rather than a lucky draw — min-of-3 admitted
  * ±3x swings on byte-identical plans under host contention (q186,
  * round 10). The first pass also acts as the JVM/codegen warmup.
  * Wall-time is the headline; the BYTES surface below is the
  * regression gate (deterministic per plan).
  *
  * Execution is a NOOP WRITE, not count(): under count() Catalyst
  * legitimately eliminates everything cardinality-irrelevant — left
  * joins to aggregates (q78/q87's whole pipeline collapsed to a base
  * count) and every map-only project (q40-q43/q58/q80/q90 became bare
  * parquet row counts) — so rounds 1-6 under-measured those queries.
  * The noop sink consumes every output column, so the timed work is the
  * full plan. Round-7 `delta_vs_prev` is therefore NOT comparable for
  * map-only and pruned-join queries (they got honest, not slower).
  *
  * Besides seconds, the line carries per-query BYTE metrics under
  * `"bytes"` — input read, shuffle read/write, memory/disk spill — from
  * [[Profile]] (the ShuffleAudit surface, embedded). Bytes moved
  * is a property of the PLAN, immune to host contention: when a
  * contended run makes wall-clock meaningless (round 6: a 6x-loaded
  * host turned q65's 3.8s into 46s), the byte columns still adjudicate
  * whether the plan changed. Per-metric minimum across the three
  * passes, so a retried stage's double-counted bytes can't inflate the
  * reported value.
  *
  * A query that throws in either pass is a FAILURE: its stack trace goes
  * to stderr, it is reported as -1 in the per-query map, listed in the
  * `failed` array, and excluded from the totals — it cannot silently
  * vanish. If a previous round's `BENCH_r*.json` exists in the working
  * directory, per-query deltas (this - prev, seconds) are emitted under
  * `delta_vs_prev` so regressions are visible in-round.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // byte counters, reset per query and drained before reading
    val profile = Profile.attach(spark)

    // optional args: restrict to queries whose name starts with any arg
    // (local iteration aid; the driver passes none and times everything)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => args.isEmpty || args.exists(n.startsWith))
    def timeOnce(name: String): (Double, Option[Array[Long]]) = {
      profile.reset()
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        // drain the async listener bus AFTER the clock stops; a drain
        // failure leaves this pass's bytes partial — the cross-pass
        // minimum still reports a clean pass if any pass drained fully —
        // but it never marks a successfully executed query FAILED
        profile.drain()
        (sec, Some(Array(profile.inputBytes, profile.shuffleReadBytes,
          profile.shuffleWriteBytes, profile.memorySpillBytes, profile.diskSpillBytes)))
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] FAILED $name: $e")
          e.printStackTrace()
          (-1.0, None)
      } finally {
        // outside the clock, on BOTH outcomes: drop any cache entries the
        // query registered (persist-based materialize modes) so no query
        // — and no subsequent rep of a FAILED query — measures, or OOMs
        // on, a predecessor's leftovers (ADVICE r11); no-op under `local`
        spark.catalog.clearCache()
      }
    }
    val passes = (1 to 3).map(_ => names.map(n => n -> timeOnce(n)).toMap)
    // ADAPTIVE-STABILITY POLICY (round-11; the r10 verdict's ask #4):
    // min-of-3 admitted ±3x wall-time swings on byte-identical plans
    // (q186, r10), so sub-5s regressions read as noise. Per query,
    // after the 3 base passes, keep re-running until the two smallest
    // times agree within 15% (the reported min is then a reproduced
    // measurement, not a lucky draw) or a cap of 7 total reps. Queries
    // that fail any rep stay failed. Wall-time remains the headline
    // but the BYTES surface ("bytes" below / ShuffleAudit) is the
    // regression GATE — bytes are a plan property, immune to host
    // contention; the policy string rides the output JSON.
    val extraReps = scala.collection.mutable.Map[String, Int]()
    val allRuns: Map[String, Seq[(Double, Option[Array[Long]])]] =
      names.map { n =>
        var runs = passes.map(_(n)).toList
        def stable(rs: List[(Double, Option[Array[Long]])]): Boolean = {
          val ts = rs.map(_._1)
          if (ts.exists(_ < 0)) true // failed: no amount of reps helps
          else {
            val s = ts.sorted
            s(1) <= s(0) * 1.15
          }
        }
        // rep cap 7, raised to 9 for the >= 1 s tail (r11 close:
        // back-to-back runs agreed within 15% for only 64/110 queries
        // >= 1 s — the expensive tail is exactly where wall-time
        // regressions must be adjudicable, and two extra reps buy the
        // min2 criterion more draws where each draw is costliest), and
        // to 11 for the >= 2 s tail (r12 close: 89/102 >= 1 s queries
        // agreed; the residual disagreement lived almost entirely in
        // the >= 2 s queries, where host contention per draw is
        // largest — r12 verdict ask #7 targets >= 90%)
        def repCap(rs: List[(Double, Option[Array[Long]])]): Int = {
          val ts = rs.map(_._1).filter(_ >= 0)
          if (ts.isEmpty) 7
          else if (ts.min >= 2.0) 11
          else if (ts.min >= 1.0) 9
          else 7
        }
        while (!stable(runs) && runs.size < repCap(runs)) {
          runs = timeOnce(n) :: runs
          extraReps(n) = runs.size - 3
        }
        n -> (runs: Seq[(Double, Option[Array[Long]])])
      }.toMap
    // a failure in ANY rep marks the query failed
    val best = names.map { n =>
      val ts = allRuns(n).map(_._1)
      n -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }.toMap
    val bytes: Map[String, Array[Long]] = names.flatMap { n =>
      val ms = allRuns(n).flatMap(_._2)
      if (ms.isEmpty) None
      else Some(n -> Array.tabulate(5)(i => ms.map(_(i)).min))
    }.toMap
    val failed = names.filter(best(_) < 0)
    failed.foreach(n => System.err.println(s"[bench] query $n FAILED — excluded from total"))

    // Round number: one past the newest driver-written BENCH_r*.json
    // (the driver writes it when a round closes, so during round N the
    // cwd holds BENCH_r{N-1}). Self-written BENCH_SELF files don't count
    // — rerunning Bench within a round must overwrite, not advance.
    val allFiles = Option(new java.io.File(".").listFiles())
      .getOrElse(Array.empty[java.io.File])
    val driverRx = "BENCH_r(\\d+)\\.json".r
    val selfRx = "BENCH_SELF_r(\\d+)\\.json".r
    val driverFiles = allFiles.flatMap(f => f.getName match {
      case driverRx(n) => Some((n.toInt, f))
      case _ => None
    }).sortBy(_._1)
    val round = driverFiles.lastOption.map(_._1 + 1).getOrElse(1)

    // previous round's numbers: prefer self-written BENCH_SELF_r*.json
    // (complete by construction) over the driver's BENCH_r*.json (tail
    // capture chopped the queries map head in rounds 6-8 -> parsed:null).
    // Exclude this round's own SELF file — deltas compare across rounds.
    val prev: Option[(String, Map[String, Double])] = {
      val selfFiles = allFiles.flatMap(f => f.getName match {
        case selfRx(n) if n.toInt < round => Some((n.toInt, f))
        case _ => None
      }).sortBy(_._1)
      val files = if (selfFiles.nonEmpty) selfFiles else driverFiles
      files.lastOption.map { case (n, f) =>
        val txt = scala.io.Source.fromFile(f).mkString
        // Parse ONLY the "queries":{...} object: the file also carries
        // delta_vs_prev entries under the same names, and a later match
        // winning in toMap would poison next round's deltas with deltas.
        // Query values contain no braces, so slicing to the first closing
        // brace after "queries" is exact. Driver-written BENCH files embed
        // the bench line inside an escaped "tail" JSON string, so quotes
        // may appear as \" — the regex allows both.
        // anchor on the actual JSON key (raw or escaped form), not the bare
        // word — the driver's file wraps arbitrary log text that could
        // contain "queries" anywhere
        val start = Seq("\"queries\":{", "\\\"queries\\\":{")
          .map(txt.indexOf).filter(_ >= 0).minOption.getOrElse(-1)
        val section =
          if (start < 0) "" else txt.substring(start, txt.indexOf('}', start).max(start))
        val qrx = "(q[0-9]+_[0-9a-zA-Z_]+)\\\\?\":(-?[0-9.]+)".r
        (s"r$n", qrx.findAllMatchIn(section).map(m => m.group(1) -> m.group(2).toDouble).toMap)
      }
    }

    // Locale.ROOT: the f interpolator honors the default locale, and a
    // comma-decimal locale would emit invalid JSON
    def jnum(d: Double): String = String.format(java.util.Locale.ROOT, "%.3f", d)
    val qs = names.map(n => "\"" + n + "\":" + jnum(best(n))).mkString("{", ",", "}")
    val byteKeys = Seq("in", "sread", "swrite", "spillMem", "spillDisk")
    val bytesJson = names.flatMap(n => bytes.get(n).map(b =>
      "\"" + n + "\":" + byteKeys.zip(b)
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")))
      .mkString("{", ",", "}")
    val total = best.values.filter(_ >= 0).sum
    val headlineTotal = SparkEntry.headline.flatMap(best.get).filter(_ >= 0).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val deltaJson = prev.map { case (round, pm) =>
      val ds = names.flatMap(n => pm.get(n).collect {
        case p if p >= 0 && best(n) >= 0 => "\"" + n + "\":" + jnum(best(n) - p)
      }).mkString("{", ",", "}")
      s""","prev_round":"$round","delta_vs_prev":$ds"""
    }.getOrElse("")
    // TRUNCATION-PROOF LAYOUT (round-8 postmortem, third iteration): the
    // driver keeps only ~2.2 KB of output TAIL, and a compact line
    // carrying a 232-entry queries map is ~6 KB — its leading
    // total/headline_total/failed fields were chopped three rounds
    // running (parsed:null). So the LAST printed line is now TINY
    // (summary only, no per-query map — ~200 bytes, survives any
    // plausible tail window), and the complete per-query seconds/bytes/
    // delta payload is WRITTEN TO DISK as BENCH_SELF_r{N}.json (committed
    // with the round; the prev-round parser above prefers it). The full
    // line is still printed FIRST for head-biased captures and humans.
    val selfFile = s"BENCH_SELF_r$round.json"
    // total reps for each query that needed MORE than the 3 base passes
    // (absent = stable within 3)
    val repsJson = extraReps.toSeq.sortBy(_._1)
      .map { case (n, e) => "\"" + n + "\":" + (3 + e) }.mkString("{", ",", "}")
    val policy = s""""policy":"min2-within-15pct-cap7-cap9ge1s-cap11ge2s; bytes surface is the regression gate","reps":$repsJson"""
    val full = s"""{"metric":"total","value":${jnum(total)},"unit":"sec","headline_total":${jnum(headlineTotal)},"failed":$failedJson,"n_queries":${names.size},$policy,"queries":$qs,"bytes":$bytesJson$deltaJson,"sf":"$sfDir"}"""
    // subset runs (args given) are local iteration — never let a partial
    // queries map overwrite the round's committed full record
    if (args.isEmpty) {
      val fw = new java.io.PrintWriter(selfFile, "UTF-8")
      try fw.println(full) finally fw.close()
    }
    println(full)
    println(s"""{"metric":"total","value":${jnum(total)},"unit":"sec","headline_total":${jnum(headlineTotal)},"failed":$failedJson,"n_queries":${names.size},"self":"$selfFile","sf":"$sfDir"}""")
    spark.stop()
  }
}
