package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestBase, Tables}

/** Text / dedup / similarity / multimodal extension operators: reference
  * implementations in plain Scala pin the distributed results.
  */
class PipelineSpec extends AnyFunSuite with SparkTestBase {

  def q(name: String) = SparkEntry.queries(name)(spark, sfDir)

  // --- text ---------------------------------------------------------------

  test("q40 token counts match plain-Scala tokenization") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    q("q40_text_stats").collect().foreach { r =>
      val text = docs(r.getLong(0))
      assert(r.getInt(4) == text.split(" ").length, s"doc ${r.getLong(0)}")
      assert(r.getInt(3) == text.length)
    }
  }

  test("q335 span plan: in-bounds, non-overlapping, ~15% corruption") {
    val rows = q("q335_span_corruption").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (doc, spans) =>
      val n = spans.head.getLong(4)
      val sorted = spans.sortBy(_.getLong(1))
      // contiguous span indices 0..n_spans-1
      assert(sorted.map(_.getLong(1)).toSeq == (0L until spans.head.getLong(5)))
      var prevEnd = 0L
      sorted.foreach { r =>
        val (st, len) = (r.getLong(2), r.getLong(3))
        assert(len >= 2 && len <= 4, s"doc $doc span length $len")
        assert(st >= prevEnd, s"doc $doc spans overlap at $st")
        assert(st + len <= n, s"doc $doc span [$st, ${st + len}) out of bounds")
        prevEnd = st + len
      }
    }
    // corpus-level corruption rate lands near the 15% target
    val masked = rows.map(_.getLong(3)).sum.toDouble
    val total = rows.groupBy(_.getLong(0)).map(_._2.head.getLong(4)).sum.toDouble
    assert(masked / total > 0.10 && masked / total < 0.20,
      s"corruption rate ${masked / total} off target")
  }

  test("q43 fingerprint matches reference rolling hash") {
    // driver-side reference implementation of the portable polynomial
    // fingerprint: per-token codepoint hash (base 131 mod 4294967291),
    // folded with fp = (fp*31 + h) mod 1e9+7 — the same fold the DuckDB
    // oracle expresses with nested list_reduce
    def tokHash(w: String): Long = {
      var h = 0L; var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        h = (h * 131L + cp) % 4294967291L
        i += Character.charCount(cp)
      }
      h
    }
    val fps = q("q43_fingerprint").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.foreach { case (id, text) =>
      val want = text.split(" ", -1).foldLeft(0L)((acc, w) => (acc * 31 + tokHash(w)) % 1000000007L)
      assert(fps(id) == want, s"doc $id")
    }
  }

  test("q66 repetition metrics match plain-Scala computation") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = q("q66_repetition").collect()
    assert(rows.map(_.getLong(0)).toSet == docs.filter(_._2.split(" ").length >= 3).keySet)
    rows.foreach { r =>
      val tk = docs(r.getLong(0)).split(" ")
      val d2 = tk.sliding(2).map(_.mkString(" ")).toSet.size
      val mx = tk.groupBy(identity).values.map(_.length).max
      assert(r.getDouble(2) == (tk.length - 1 - d2).toDouble / (tk.length - 1))
      assert(r.getDouble(4) == mx.toDouble / tk.length)
    }
    // the gate must split the corpus, not rubber-stamp it
    val oks = rows.map(_.getBoolean(5)).toSet
    assert(oks == Set(true, false), s"repetition_ok should have a mix, got $oks")
  }

  test("q69 chunks reassemble to the original documents") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val chunks = q("q69_chunking").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    chunks.groupBy(_._1).foreach { case (id, cs) =>
      val ordered = cs.sortBy(_._2)
      assert(ordered.map(_._2).toSeq == ordered.indices.toSeq, s"doc $id gaps")
      assert(ordered.map(_._3).mkString(" ") == docs(id), s"doc $id text")
      ordered.dropRight(1).foreach(c => assert(c._4 == 16L, s"doc $id chunk ${c._2}"))
    }
    assert(chunks.map(_._1).toSet == docs.keySet)
  }

  test("q70 packing equals a driver-side greedy fill over q69's chunks") {
    val chunks = q("q69_chunking").collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getLong(3))).sortBy(_._1).toSeq
    val got = q("q70_seq_packing").collect()
      .map(r => ((r.getLong(0), r.getInt(1)), (r.getLong(2), r.getLong(3), r.getLong(4))))
      .sortBy(_._1).toSeq
    assert(got.map(x => x._1 -> x._2._1) == chunks, "chunk inventory must match q69")
    var cum = 0L
    chunks.zip(got).foreach { case (((id, cid), n), (_, (_, seqId, cumTok))) =>
      assert(seqId == cum / 64, s"doc $id chunk $cid seq")
      cum += n
      assert(cumTok == cum, s"doc $id chunk $cid cum")
    }
  }

  test("q66 plans zero shuffles beyond the determinism sort") {
    val plan = q("q66_repetition").queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    val rangeEx = "Exchange rangepartitioning".r.findAllIn(plan).size
    assert(hashEx == 0, s"q66 should be map-side, found $hashEx hash exchanges:\n${plan.take(1500)}")
    assert(rangeEx <= 1, "only the root orderBy may range-partition")
  }

  test("q67 tf-idf top terms match driver-side ranking") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val tf = docs.toSeq.flatMap { case (id, t) =>
      t.split(" ").groupBy(identity).map { case (w, g) => (id, w, g.length) }
    }
    val df = tf.groupBy(_._2).map { case (w, g) => w -> g.size }
    val got = q("q67_tfidf_topk").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getLong(3), r.getLong(4)))
      .toMap
    docs.keys.foreach { id =>
      val want = tf.filter(_._1 == id)
        .map { case (_, w, c) => (w, c.toLong, df(w).toLong, c.toDouble / df(w)) }
        .sortBy { case (w, _, _, s) => (-s, w) }.take(3)
      want.zipWithIndex.foreach { case ((w, c, d, _), i) =>
        assert(got((id, i + 1)) == ((w, c, d)), s"doc $id rank ${i + 1}")
      }
    }
  }

  test("q68 curation pipeline composes its constituent operators exactly") {
    val got = q("q68_curation_pipeline").collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    // survivors = quality gate AND repetition gate AND not near-dup-dropped
    val quality = q("q41_text_quality").collect()
      .filter(_.getBoolean(4)).map(_.getLong(0)).toSet
    val repOk = q("q66_repetition").collect()
      .filter(_.getBoolean(5)).map(_.getLong(0)).toSet
    val dropped = q("q45_minhash_lsh").collect().map(_.getLong(1)).toSet
    assert(got.keySet == (quality & repOk) -- dropped)
    assert(got.nonEmpty)
    // split must agree with q56's assignment for every surviving doc
    val split = q("q56_train_split").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    got.foreach { case (id, sp) => assert(sp == split(id), s"doc $id") }
  }

  test("q90 subword stream is lossless and counts are consistent") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = q("q90_subword_tokens").collect()
    assert(rows.length == docs.size)
    rows.foreach { r =>
      val (id, text) = (r.getLong(0), docs(r.getLong(0)))
      // concatenating the subword stream reproduces the document exactly
      assert(r.getString(5).replace(" ", "") == text.replace(" ", ""), s"doc $id")
      val (nWords, nSub) = (r.getInt(1), r.getLong(2))
      assert(nWords == text.split(" ").length)
      // each word yields at least one and at most len(word) tokens
      assert(nSub >= nWords && nSub <= text.replace(" ", "").length, s"doc $id")
      assert(r.getDouble(3) == nSub.toDouble / nWords)
      assert(r.getLong(4) == (nSub + 127) / 128)
    }
    // the merge table must do real work on this corpus: mean fertility
    // well below chars-per-word (pure char fallback) and above 1
    val fert = rows.map(_.getDouble(3))
    assert(fert.sum / fert.length > 1.0 && fert.sum / fert.length < 3.0)
    // map-only at scale: no hash exchange anywhere (ordering aside)
    val plan = q("q90_subword_tokens").queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty,
      s"q90 should be a pure scan->project pass:\n${plan.take(1200)}")
  }

  test("q92 subword packing is the exact running sum of q90's counts") {
    val counts = q("q90_subword_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val rows = q("q92_subword_packing").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    var cum = 0L
    rows.foreach { case (id, n, seq, c) =>
      assert(n == counts(id), s"doc $id count")
      assert(seq == cum / 256, s"doc $id starts in the wrong sequence")
      cum += n
      assert(c == cum, s"doc $id cumulative")
    }
    // the packer must actually produce multi-doc sequences AND multiple
    // sequences (i.e. the cap is binding in both directions)
    val seqs = rows.map(_._3)
    assert(seqs.distinct.length > 1 && seqs.length > seqs.distinct.length)
  }

  test("q78 duplicated-span coverage matches a driver-side interval union") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val W = 5
    // reference: positional windows, cross-doc duplicate windows, merged spans
    val wins = docs.toSeq.flatMap { case (id, t) =>
      val tk = t.split(" ")
      if (tk.length < W) Seq.empty
      else tk.sliding(W).zipWithIndex.map { case (w, p) => (id, p, w.mkString(" ")) }.toSeq
    }
    val dup = wins.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2).keySet
    val want = docs.map { case (id, t) =>
      val spans = wins.filter(x => x._1 == id && dup(x._3)).map(x => (x._2, x._2 + W - 1)).sorted
      var covered = 0L; var curS = -1; var curE = -2
      spans.foreach { case (s0, e0) =>
        if (s0 > curE) { if (curE >= curS) covered += curE - curS + 1; curS = s0; curE = e0 }
        else curE = math.max(curE, e0)
      }
      if (curE >= curS) covered += curE - curS + 1
      id -> ((spans.size.toLong, covered, t.split(" ").length))
    }
    val got = q("q78_dup_spans").collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got.keySet == docs.keySet)
    want.foreach { case (id, (ndw, cov, n)) =>
      val (gndw, gcov, gfrac) = got(id)
      assert(gndw == ndw, s"doc $id n_dup_windows")
      assert(gcov == cov, s"doc $id covered")
      assert(gfrac == cov.toDouble / n, s"doc $id frac")
    }
    // the statistic must split the corpus: planted near-dups have coverage,
    // unique docs have none
    assert(got.values.exists(_._2 > 0) && got.values.exists(_._2 == 0))
  }

  test("dupSpans pins planted partial-copy coverage exactly") {
    val spark2 = spark
    import spark2.implicits._
    // docs 1 and 2 share one 8-token run at different positions; doc 3 is
    // unique. An 8-token shared run yields exactly 4 duplicated 5-windows
    // whose interval union covers exactly 8 tokens — boundary windows mix
    // in differing context and must NOT count.
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    val df = Seq(
      (1L, s"a1 a2 a3 $shared b1 b2"),
      (2L, s"c1 $shared e1 e2 e3 e4"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10")).toDF("doc_id", "text")
    val got = Dedup.dupSpans(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) == ((4L, 8L)))
    assert(got(2L) == ((4L, 8L)))
    assert(got(3L) == ((0L, 0L)))
  }

  test("lmFamiliarity scores a planted repeated-trigram corpus exactly") {
    val spark2 = spark
    import spark2.implicits._
    // doc 1: "x y z x y z" -> trigrams [xyz, yzx, zxy, xyz]; doc 2 shares
    // only "x y z". Corpus counts: xyz=3, all others 1.
    val df = Seq((1L, "x y z x y z"), (2L, "x y z q r s")).toDF("doc_id", "text")
    val got = Text.lmFamiliarity(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(4), r.getBoolean(6))))
      .toMap
    assert(got(1L) == ((4L, 8L, 2L, true)))  // fam 3+1+1+3, novel yzx/zxy
    assert(got(2L) == ((4L, 6L, 3L, false))) // fam 3+1+1+1 < 2*4
  }

  test("q89 overlap chunks slide by the stride and clip at the end") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap
    val got = q("q89_overlap_chunks").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getInt(2), r.getString(3), r.getInt(4))))
      .toMap
    docs.foreach { case (id, tk) =>
      val nChunks = (tk.length - 1) / 8 + 1
      (0 until nChunks).foreach { c =>
        val start = c * 8
        val want = tk.slice(start, math.min(start + 16, tk.length))
        val (gs, gt, gn) = got((id, c))
        assert(gs == start && gt == want.mkString(" ") && gn == want.length,
          s"doc $id chunk $c")
      }
      assert(!got.contains((id, nChunks)), s"doc $id has excess chunks")
    }
    assert(got.size == docs.values.map(tk => (tk.length - 1) / 8 + 1).sum)
  }

  test("q88 BM25 ranking matches a driver-side computation") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap
    val terms = Seq("data", "stream", "table")
    val n = docs.size.toLong
    val sumlen = docs.values.map(_.length.toLong).sum
    val tf = docs.toSeq.flatMap { case (id, tk) =>
      terms.flatMap { t =>
        val c = tk.count(_ == t)
        if (c > 0) Some((id, t, c.toLong, tk.length.toLong)) else None
      }
    }
    val dfm = tf.groupBy(_._2).map { case (t, g) => t -> g.size.toLong }
    val want = tf.groupBy(_._1).map { case (id, g) =>
      val fixed = g.map { case (_, t, c, len) =>
        val idf = (2 * (n - dfm(t)) + 1).toDouble / (2 * dfm(t) + 1).toDouble
        val norm = len.toDouble * n / sumlen
        val ts = idf * (c.toDouble * 2.2) / (c.toDouble + 1.2 * (0.25 + 0.75 * norm))
        math.floor(ts * 1e9).toLong
      }.sum
      id -> ((fixed, g.size.toLong))
    }
    val got = q("q88_bm25").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // rows are the global top-50 under (score desc, id)
    val wantTop = want.toSeq.map { case (id, (f, nt)) => (id, f, nt) }
      .sortBy(x => (-x._2, x._1)).take(50)
    assert(got.toSeq == wantTop)
  }

  test("q79 LM familiarity matches driver-side trigram counting") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val grams = docs.toSeq.flatMap { case (id, t) =>
      val tk = t.split(" ")
      if (tk.length < 3) Seq.empty
      else tk.sliding(3).map(g => (id, g.mkString(" "))).toSeq
    }
    val cf = grams.groupBy(_._2).map { case (g, xs) => g -> xs.size.toLong }
    val got = q("q79_lm_familiarity").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(4)))).toMap
    assert(got.keySet == grams.map(_._1).toSet)
    grams.groupBy(_._1).foreach { case (id, xs) =>
      val fam = xs.map(x => cf(x._2)).sum
      val novel = xs.count(x => cf(x._2) == 1).toLong
      assert(got(id) == ((xs.size.toLong, fam, novel)), s"doc $id")
    }
  }

  test("q80 int8 quantization round-trips within the provable bound") {
    val rows = q("q80_embed_quantize").collect()
    assert(rows.length ==
      Tables.load(spark, sfDir, "embeddings").count())
    rows.foreach { r =>
      val (mx, err, ok, fid) = (r.getLong(1), r.getLong(2), r.getBoolean(3), r.getDouble(4))
      assert(ok && err * 254 <= mx + 508, s"vec ${r.getLong(0)} err $err mx $mx")
      assert(fid > 0.999 && fid <= 1.0, s"vec ${r.getLong(0)} cos_fid $fid")
      val q8 = r.getString(5).split(",").map(_.toLong)
      assert(q8.length == 64 && q8.forall(v => v >= -127 && v <= 127))
    }
  }

  test("q78/q79 shuffle the exploded token stream (no Generate-side broadcast)") {
    // Catalyst's size estimate under a Generate is the PRE-explode relation
    // size, so without the shuffle_hash hint it would broadcast the
    // corpus-sized window/trigram stream (the q65 hazard). The hinted join
    // must survive optimization as a shuffled hash join.
    Seq("q78_dup_spans", "q79_lm_familiarity").foreach { name =>
      val plan = q(name).queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin"),
        s"$name lost its shuffle-hash token-stream join:\n${plan.take(1200)}")
    }
  }

  test("q81 training order equals a driver-side global hash sort") {
    val M = 2147483647L
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    val want = docs.map(id => (id, id % M * 48271 % M * 48271 % M))
      .sortBy(x => (x._2, x._1)).zipWithIndex
      .map { case ((id, h), i) => (id, h, i.toLong, i.toLong / 32) }.toSeq
    val got = q("q81_train_order").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
    // the permutation must not be the identity (the hash actually shuffles)
    assert(got.map(_._1) != got.map(_._1).sorted)
  }

  test("q81 plans no corpus-wide single-task sort below the root") {
    // phase-1 windows partition by the data-derived chunk key; the only
    // unpartitioned window runs over the tiny per-chunk offsets aggregate
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, UnaryNode, Window => LWindow}
    def boundedByAgg(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      case u: UnaryNode => boundedByAgg(u.child)
      case _ => false
    }
    val plan = q("q81_train_order").queryExecution.optimizedPlan
    val wins = plan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty || boundedByAgg(w.child),
        s"monolithic window over raw rows: ${w.partitionSpec.map(_.sql)}")
    }
  }

  test("q82 assembly composes gates, split, and embedding norm exactly") {
    val rows = q("q82_example_assembly").collect()
    // one record per document that has an embedding (inner join on id —
    // at sf0.1 only a subset of documents carries the second modality)
    val docIds = Tables.load(spark, sfDir, "documents")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val vecIds = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(rows.length == (docIds & vecIds).size)
    // gates must equal q41 AND q66's verdicts; split must equal q56's
    val quality = q("q41_text_quality").collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    val rep = q("q66_repetition").collect()
      .map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    val split = q("q56_train_split").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // driver-side exact integer norm from the quantization grid
    val n2 = Tables.load(spark, sfDir, "embeddings").collect().map { r =>
      val v = r.getSeq[Float](1)
      r.getLong(0) -> v.map(x => math.floor(x.toDouble * 1e7 + 0.5).toLong)
        .map(g => g * g).sum
    }.toMap
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getBoolean(4) == (quality(id) && rep.getOrElse(id, true)), s"doc $id gates")
      assert(r.getString(5) == split(id), s"doc $id split")
      assert(r.getLong(6) == n2(id), s"doc $id n2")
    }
  }

  test("q83 corpus report aggregates the per-doc verdicts by stratum") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "lang", "source", "n_chars", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getString(4)))
    val contaminated = q("q72_decontaminate").collect().map(_.getLong(0)).toSet
    // gate verdicts from the per-doc queries, NOT from q82's output: the
    // assembly inner-joins embeddings, which at sf0.1 cover only a subset
    // of documents — q83 reports on every document
    val quality = q("q41_text_quality").collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    val rep = q("q66_repetition").collect()
      .map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    val gates = quality.map { case (id, ok) => id -> (ok && rep.getOrElse(id, true)) }
    val want = docs.groupBy(x => (x._2, x._3)).map { case (k, g) =>
      k -> ((g.length.toLong,
        g.map(_._5.split(" ").length.toLong).sum,
        g.count(x => gates(x._1)).toLong,
        g.count(x => contaminated(x._1)).toLong,
        g.map(_._4).min, g.map(_._4).max))
    }
    val got = q("q83_corpus_report").collect().map { r =>
      (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(6), r.getLong(7), r.getLong(8)))
    }.toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (k, v) => assert(got(k) == v, s"stratum $k") }
  }

  test("q84 length histogram matches a driver-side bucket count") {
    val ns = Tables.load(spark, sfDir, "documents")
      .select("text").collect().map(_.getString(0).split(" ").length)
    def bucket(n: Int) = if (n < 16) 0 else if (n < 32) 16 else if (n < 64) 32
      else if (n < 128) 64 else 128
    val want = ns.groupBy(bucket).view.mapValues(g => (g.length.toLong, g.map(_.toLong).sum)).toMap
    val got = q("q84_len_histogram").collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
    assert(got.map(_._1).toSet == want.keySet)
    var cum = 0L
    got.sortBy(_._1).foreach { case (b, (nd, st, cd, cf)) =>
      assert((nd, st) == want(b), s"bucket $b")
      cum += nd
      assert(cd == cum && cf == cum.toDouble / ns.length, s"bucket $b cumulative")
    }
  }

  test("q96 equi-depth buckets follow the rank-before rule and balance") {
    val lens = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = lens.size
    val got = q("q96_equidepth_buckets").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    // driver replay: bucket = floor(k * rank_before(v) / n), ties share
    val want = lens.map { case (id, v) =>
      id -> 8L * lens.values.count(_ < v) / n
    }
    assert(got == want)
    // equi-depth has teeth: every bucket materializes and the loads stay
    // within 2x of ideal on the testdata's spread-out length distribution
    val loads = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(loads.keySet == (0L until 8L).toSet, loads.toString)
    assert(loads.values.max <= 2 * (n / 8), loads.toString)
  }

  test("q85 provenance matrix aggregates q45's pairs by source") {
    val src = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = q("q45_minhash_lsh").collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = pairs.map { case (a, b) =>
      val (x, y) = (src(a), src(b))
      (if (x <= y) x else y, if (x <= y) y else x)
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = q("q85_dup_provenance").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == want && got.values.sum == pairs.length)
  }

  test("ivfExtend assigns a batch to the existing quantizer without rebuild") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.load(spark, sfDir, "embeddings")
    val corpus = emb.filter(col("vec_id") < 400)
    val batch = emb.filter(col("vec_id") >= 400)
    val idx = Similarity.ivfIndex(corpus, centroids = 16)
    val ext = Similarity.ivfExtend(idx, batch)
    // old assignments are untouched; every batch vector gains exactly one
    val before = idx.assigned.collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val after = ext.assigned.collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(after.size == emb.count())
    before.foreach { case (id, cell) => assert(after(id) == cell, s"vec $id moved") }
    // each new vector's cell is its argmax-cosine centroid (driver check
    // on the exact integer grid, ties broken by smaller centroid id)
    val cents = idx.cents.collect().map { r =>
      (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2))
    }
    def quant(v: Seq[Float]) = v.map(x => math.floor(x.toDouble * 1e7 + 0.5).toLong).toArray
    batch.collect().foreach { r =>
      val q = quant(r.getSeq[Float](1))
      val n2 = q.map(x => x * x).sum
      val best = cents.map { case (cid, cv, cn) =>
        val d = q.zip(cv).map { case (a, b) => a * b }.sum
        (d.toDouble / math.sqrt(n2.toDouble) / math.sqrt(cn.toDouble), -cid)
      }.zip(cents.map(_._1)).maxBy(_._1)._2
      assert(after(r.getLong(0)) == best, s"vec ${r.getLong(0)}")
    }
  }

  test("q87 gap fill covers the dense spine and carries sums forward") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("event_type"), unix_micros(date_trunc("hour", col("ts"))).as("us"),
        col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1) / 3600000000L, r.getDouble(2)))
    val types = ev.map(_._1).distinct.sorted
    val (lo, hi) = (ev.map(_._2).min, ev.map(_._2).max)
    val hourly = ev.groupBy(x => (x._1, x._2)).map { case (k, g) =>
      k -> ((g.length.toLong,
        g.map(x => JBD.valueOf(x._3).setScale(2, RoundingMode.HALF_UP))
          .reduce(_.add(_))))
    }
    val rows = q("q87_gap_fill").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toInstant.toEpochMilli * 1000L / 3600000000L,
        r.getLong(2), r.getBoolean(3), Option(r.get(4)).map(_.asInstanceOf[Double])))
    assert(rows.length == types.length * (hi - lo + 1))
    types.foreach { t =>
      var carry: Option[Double] = None
      rows.filter(_._1 == t).sortBy(_._2).foreach { case (_, h, n, gap, locf) =>
        hourly.get((t, h)) match {
          case Some((cnt, sum)) =>
            assert(n == cnt && !gap, s"$t@$h")
            carry = Some(sum.doubleValue)
          case None =>
            assert(n == 0L && gap, s"$t@$h should be a gap")
        }
        assert(locf == carry, s"$t@$h locf $locf vs $carry")
      }
    }
    assert(rows.exists(_._4), "the spine must contain filled gaps")
  }

  test("gapFillHourly is total on degenerate inputs (empty / null ts / singleton)") {
    import spark.implicits._
    val nullTs = null.asInstanceOf[java.sql.Timestamp]
    def df(rows: Seq[(String, java.sql.Timestamp, Double)]) =
      rows.toDF("event_type", "ts", "value")
    // empty input -> empty spine, no sequence(null, null) error
    assert(Events.gapFillHourly(df(Seq.empty)).count() == 0L)
    // all-null timestamps -> no spine position exists -> empty
    assert(Events.gapFillHourly(df(Seq(("click", nullTs, 1.0)))).count() == 0L)
    // a single event -> a one-hour spine
    val one = Events.gapFillHourly(
      df(Seq(("click", java.sql.Timestamp.valueOf("2024-01-01 10:30:00"), 2.5)))).collect()
    assert(one.length == 1 && one(0).getLong(2) == 1L && !one(0).getBoolean(3) &&
      one(0).getDouble(4) == 2.5)
    // null-ts rows are excluded, not crashed on, when real rows exist too
    val mixed = Events.gapFillHourly(df(Seq(
      ("click", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      ("view", nullTs, 9.0))))
    assert(mixed.collect().map(_.getString(0)).toSet == Set("click"))
  }

  test("q94 rolling features equal a driver-side frame replay (ties, boundary)") {
    import spark.implicits._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val nullTs = null.asInstanceOf[java.sql.Timestamp]
    // user 1: irregular spacing including an event EXACTLY 3600s before
    // another (inclusive frame edge) and one 3601s before (outside);
    // user 2: two events at the SAME microsecond (frame peers see each
    // other); plus a null-ts row that must be excluded, not crashed on
    val rows = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), 5.0),
      (2L, 1L, ts("2024-01-01 11:00:00"), 1.5),   // 10:00 is IN its frame
      (3L, 1L, ts("2024-01-01 11:59:59"), 2.0),   // 11:00 in, 10:00 out
      (4L, 2L, ts("2024-01-01 10:30:00"), 3.25),
      (5L, 2L, ts("2024-01-01 10:30:00"), 4.75),  // tie: peers
      (6L, 2L, nullTs, 9.0))
    val got = Events.rollingHour(rows.toDF("event_id", "user_id", "ts", "value"))
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getDouble(4), r.getDouble(5)))
      .toSet
    val us = rows.filter(_._3 != null)
      .map(r => (r._1, r._2, r._3.getTime * 1000L, BigDecimal(r._4).setScale(2)))
    val want = us.map { case (id, u, t0, _) =>
      val frame = us.filter(o => o._2 == u && o._3 >= t0 - 3600000000L && o._3 <= t0)
      (id, frame.size.toLong, frame.map(_._4).sum.toDouble, frame.map(_._4).max.toDouble)
    }.toSet
    assert(got == want)
    // the boundary cases actually bound: event 2 saw event 1, event 3 did
    // not see event 1, and the tied pair both count 2
    assert(want.exists(t => t._1 == 2L && t._2 == 2L))
    assert(want.exists(t => t._1 == 3L && t._2 == 2L))
    assert(Seq(4L, 5L).forall(id => want.exists(t => t._1 == id && t._2 == 2L)))
  }

  // driver-side union-find over an edge list: the reference closure for
  // the multi-signal dedup tests
  private def unionFind(edges: Set[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).map(n => n -> find(n)).toMap
  }

  test("q86 default (cluster-local) clusters equal union-find over q45 + SemDeDup pairs") {
    // 8 centroids at sf0.001 (50 vectors): the registered query's 64 would
    // make every vector its own centroid and the semantic signal vacuous —
    // the sf0.01 driver gate exercises the registered 64-centroid default
    val docs = Tables.load(spark, sfDir, "documents")
    val emb = Tables.load(spark, sfDir, "embeddings")
    val tp = q("q45_minhash_lsh").collect().map(r => (r.getLong(0), r.getLong(1)))
    val ep = Similarity.clusterLocalNearPairs(emb, 0.45, centroids = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(tp.nonEmpty && ep.nonEmpty, "both signals must contribute edges")
    val want = unionFind((tp ++ ep).toSet)
    val got = Dedup.multiSignalDedup(docs, emb,
        Dedup.SemanticEdges.ClusterLocal(0.45, centroids = 8))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // fusing the embedding signal must change the picture vs text-only
    val textOnly = q("q52_dedup_components").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got != textOnly)
  }

  test("q86 exact variant clusters equal union-find over q45 + q47 pairs") {
    val tp = q("q45_minhash_lsh").collect().map(r => (r.getLong(0), r.getLong(1)))
    val ep = q("q47_embed_near_pairs").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(tp.nonEmpty && ep.nonEmpty, "both signals must contribute edges")
    val want = unionFind((tp ++ ep).toSet)
    val got = Dedup.multiSignalDedup(
        Tables.load(spark, sfDir, "documents"),
        Tables.load(spark, sfDir, "embeddings"),
        Dedup.SemanticEdges.ExactTiled(0.45))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("q86 default edge-generator plan carries no tiled-explosion Generate") {
    // the closure's localCheckpoint truncates lineage, so the registered
    // query's own plan cannot show the pair generators — assert on the
    // edge-generator plan that FEEDS the checkpoint. The exact tiled
    // join's signature is a Generate exploding a sequence() tile range;
    // the cluster-local default must never plan one (its Generates, if
    // any, explode band-hash ARRAYS — 'sequence' isolates the tile
    // expansion exactly).
    val emb = Tables.load(spark, sfDir, "embeddings")
    // both halves of the default generator: the assignment pipeline that
    // feeds the checkpoint, and the within-cell pair join above it
    val asg = Similarity.ivfIndex(emb, 64).assigned
      .queryExecution.optimizedPlan.toString
    val dflt = Dedup.SemanticEdges.ClusterLocal()
      .pairs(emb).queryExecution.optimizedPlan.toString
    Seq(asg, dflt).foreach(p =>
      assert(!p.toLowerCase.contains("sequence("),
        s"default q86 edges must not contain the tiled sequence() expansion:\n${p.take(1500)}"))
    // the opt-in exact variant DOES (sanity check of the assert itself)
    val exact = Dedup.SemanticEdges.ExactTiled(0.45)
      .pairs(emb).queryExecution.optimizedPlan.toString
    assert(exact.toLowerCase.contains("sequence("))
  }

  test("q80 quantization is map-only (no hash exchange)") {
    val plan = q("q80_embed_quantize").queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty,
      s"q80 should be a pure scan->project pass:\n${plan.take(1200)}")
  }

  // --- dedup --------------------------------------------------------------

  test("q45 minhash LSH finds exactly the brute-force near-dup pairs") {
    // brute-force 3-shingle Jaccard >= 0.8 on the driver (sf0.001: 50 docs)
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    def shingles(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val sh = docs.map { case (id, t) => id -> shingles(t) }
    val want = (for {
      (a, sa) <- sh; (b, sb) <- sh if a < b
      jac = (sa & sb).size.toDouble / (sa | sb).size if jac >= 0.8
    } yield (a, b)).toSet
    val got = q("q45_minhash_lsh").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(want.nonEmpty, "testdata should contain planted near-dups")
  }

  test("q65 prefix-filter jaccard join is exact at thresholds LSH can't cover") {
    // brute-force shingle Jaccard on the driver, same 0.6 threshold as the
    // registered query — prefix filtering promises pair-for-pair equality
    val docsDf = Tables.load(spark, sfDir, "documents")
    val docs = docsDf.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def shingles(t: String): Set[String] =
      if (t.split(" ").length < 3) Set.empty
      else t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val sh = docs.map { case (id, t) => id -> shingles(t) }.filter(_._2.nonEmpty)
    def brute(theta: Double) = (for {
      (a, sa) <- sh; (b, sb) <- sh if a < b
      jac = (sa & sb).size.toDouble / (sa | sb).size if jac >= theta
    } yield (a, b)).toSet
    val got06 = Dedup.jaccardJoin(docsDf, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got06 == brute(0.6))
    assert(got06.nonEmpty, "testdata should contain pairs at 0.6")
    // harsher completeness stress: a threshold low enough that prefixes
    // cover almost half of every document
    val got03 = Dedup.jaccardJoin(docsDf, 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got03 == brute(0.3))
  }

  test("q44 exact dedup groups cover the table") {
    val total = q("q44_dedup_exact").agg(sum("n_copies")).first().getLong(0)
    assert(total == Tables.load(spark, sfDir, "documents").count())
  }

  test("q46 simhash pairs have verified hamming distance") {
    q("q46_simhash").collect().foreach(r => assert(r.getInt(2) <= 3))
  }

  test("q337 planted perceptual near-dups are recovered and blocking is complete") {
    import spark.implicits._
    // synthetic media payloads, ALL img-format by construction
    // (length 198, 198 % 3 == 0), with enough byte variety that dHash
    // signatures spread across the 4x16 block space
    val base = (0L until 120L).map { i =>
      (i, (0 until 198).map(j => ('a' + ((i * 7 + j * j) % 26)).toChar).mkString)
    }
    val got = graft.queries.Multimodal.phashNearDups(base.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // 1) every planted one-byte-edit variant pairs with its source: the
    //    edit moves ONE grid cell, flipping at most 2 gradient bits
    val planted = got.collect { case (a, b, _) if b == a + 1000000L => a }.toSet
    assert((0L until 120L by 10L).toSet.subsetOf(planted), s"missing: $planted")
    // 2) verification law: popcount(xor) bounds every emitted pair
    got.foreach { case (_, _, h) => assert(h <= 3) }
    // 3) pigeonhole completeness: the 4x16 block equi-join finds EXACTLY
    //    the brute-force hamming <= 3 pairs over the same signature set
    val union = base ++ base.collect { case (i, t) if i % 10 == 0 =>
      (i + 1000000L, t.take(10) + "x" + t.drop(11)) }
    val sigs = union.map { case (i, t) =>
      i -> graft.functions.ArrayOps.dhash64(t.getBytes("UTF-8")) }
    val brute = (for {
      (a, ha) <- sigs; (b, hb) <- sigs if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    assert(got.map(t => (t._1, t._2)).toSet == brute)
    assert(brute.size >= 12, "fixture must exercise the hit path")
  }

  test("q337 df-cap tier: a planted hot template is fenced, planted " +
    "variants survive at the shipped cap") {
    import spark.implicits._
    // 120 organic img-format docs (the existing fixture) + 80 IDENTICAL
    // copies of one template payload — the boilerplate regime the
    // BlockDfCap fence exists for (blank tiles / shared templates whose
    // every block bucket goes hot). Template ids sit at 1 mod 10, so
    // phashNearDups' own planting never touches them.
    val organic = (0L until 120L).map { i =>
      (i, (0 until 198).map(j => ('a' + ((i * 7 + j * j) % 26)).toChar).mkString)
    }
    val template = (0 until 80).map { k =>
      (10000L + 10L * k + 1L,
        (0 until 198).map(j => ('a' + (j * 3 % 26)).toChar).mkString)
    }
    val docs = (organic ++ template).toDF("doc_id", "text")
    // planted variants live at +1000000, so the template band is
    // [10000, 1000000)
    val isTemplate = (id: Long) => id >= 10000L && id < 1000000L
    // shipped cap: every bucket holding the template value has df >= 80
    // > 64, so ALL template-involving candidates are fenced...
    val capped = graft.queries.Multimodal.phashNearDups(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!capped.exists { case (a, b) => isTemplate(a) || isTemplate(b) },
      "hot template buckets must be fenced at the shipped cap")
    // ...while every planted one-byte organic variant still pairs with
    // its source: its buckets are organic (df far below the cap) — the
    // completeness-under-fence law
    val planted = capped.collect { case (a, b) if b == a + 1000000L => a }.toSet
    assert((0L until 120L by 10L).toSet.subsetOf(planted), s"missing: $planted")
    // the fence is load-bearing: uncapped, the template contributes its
    // C(80,2) = 3160 identical-signature pairs (hamming 0)
    val uncapped = graft.queries.Multimodal
      .phashNearDups(docs, blockDfCap = 1 << 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val templatePairs = uncapped.count { case (a, b) =>
      isTemplate(a) && isTemplate(b) }
    assert(templatePairs == 80 * 79 / 2, s"got $templatePairs")
    // and fencing changes NOTHING else: the non-template pair sets match
    assert(capped.toSet ==
      uncapped.filter { case (a, b) => !isTemplate(a) && !isTemplate(b) }.toSet)
  }

  test("q340 df-cap tier: a planted hot silence prefix is fenced, " +
    "planted segment copies still align at the shipped cap") {
    import spark.implicits._
    // 70 audio-format docs sharing a 64-byte silence prefix (one frame
    // hash repeated ~49 positions x 70 docs — df in the thousands) with
    // pseudorandom pair-local suffixes; every id is 0 mod 15, so each
    // doc gets a planted segment copy. 70 > the cap also pushes the
    // variants' SHARED 'q'-filler/silence boundary windows (df = one
    // per variant) over the fence — below the cap those are honest
    // shared-run alignments, not a fence defect. Length 265 % 3 == 1.
    val docs = (0 until 70).map { k =>
      val i = 15L * k
      (i, "s" * 64 + (0 until 201).map(j =>
        ('a' + ((i * 1009 + j * 131 + (i * j) % 97) % 26)).toChar).mkString)
    }.toDF("doc_id", "text")
    val capped = graft.queries.Multimodal.audioAlign(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // completeness under the fence: all 70 planted copies align at the
    // construction offset -18 on their pair-local suffix anchors alone
    val plantedPairs = capped.filter { case (a, b, _) => b == a + 2000000L }
    assert(plantedPairs.length == 70, s"got ${plantedPairs.length}")
    plantedPairs.foreach { case (a, _, off) =>
      assert(off == -18, s"pair $a offset $off") }
    // the silence-prefix cross-doc pairs (offset-0 alignments a real
    // corpus would drown in) are exactly what the fence removes
    assert(capped.length == 70,
      s"boilerplate-only pairs must be fenced, got ${capped.length}")
    // load-bearing: uncapped, the silence frame pairs every doc with
    // every other (and their variants) at some boilerplate offset
    val uncapped = graft.queries.Multimodal
      .audioAlign(docs, dfCap = 1 << 20).collect()
    assert(uncapped.length > 70 * 69 / 2,
      s"expected the silence blow-up, got ${uncapped.length}")
  }

  test("q359 planted video tampers are recovered; Jaccard certificate " +
    "holds on every emitted pair") {
    import spark.implicits._
    // synthetic payloads, ALL video-format by construction (length 200,
    // 200 % 3 == 2 -> video; nf = 200 % 16 + 1 = 9 frames); the i*j
    // mixing term breaks any cross-video periodicity, so no two distinct
    // videos share a frame slice
    val base = (0L until 90L).map { i =>
      (i, (0 until 200).map(j =>
        ('a' + ((i * 1009 + j * 131 + (i * j) % 97) % 26)).toChar).mkString)
    }
    val got = graft.queries.Multimodal.videoNearDup(base.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // 1) every planted single-byte tamper pairs with its source: the
    //    edit changes ONE of 9 frames -> 8 shared, J = 8/10 >= 1/2
    val planted = got.collect { case (a, b, _, _, _) if b == a + 1000000L => a }.toSet
    assert((0L until 90L by 10L).toSet.subsetOf(planted), s"missing: $planted")
    // 2) the exact-count Jaccard certificate holds on every pair
    got.foreach { case (_, _, sh, na, nb) =>
      assert(sh * 3 >= na + nb && sh <= math.min(na, nb))
    }
    // 3) distinct videos never match: frame md5s are content identity
    //    and the fixture's payloads share no slice across videos
    assert(got.forall { case (a, b, _, _, _) => b == a + 1000000L })
  }

  test("q340 planted segment copies align at the construction offset") {
    val rows = q("q340_audio_align").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getInt(4)))
    rows.foreach { case (_, _, _, n, span) => assert(n >= 3 && span >= 16) }
    // only payloads with a LONG shared suffix guarantee >= 3 winnowed
    // anchors (the trailing-8 selection keeps ~1/8 of run frames; an
    // 82-byte payload's 53-byte run can legitimately select fewer) —
    // the law binds where the anchor-density argument does
    val planted = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter { case (id, t) =>
        t.length % 3 == 1 && t.length >= 150 && id % 15 == 0 }
    assert(planted.size >= 5, "fixture must plant long segment copies")
    val byPair = rows.map(r => (r._1, r._2) -> r).toMap
    planted.foreach { case (id, t) =>
      val r = byPair.get((id, id + 2000000L))
      assert(r.isDefined, s"planted pair $id not aligned")
      // variant = 11 filler bytes + original from byte 30 (1-based):
      // the shared run sits at 0-based position 11 in the variant and 29
      // in the original, so offset = p_variant - p_original = -18
      assert(r.get._3 == -18, s"planted pair $id offset ${r.get._3}")
      assert(r.get._5 >= 48, s"planted pair $id span ${r.get._5}")
    }
  }

  test("q339 keep set: one canonical per cluster, pairs co-clustered, universe covered") {
    val rows = q("q339_phash_keep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      // the canonical is the cluster's min id, kept exactly once
      assert(members.count(_._3) == 1 && members.find(_._3).get._1 == cid)
      assert(members.map(_._1).min == cid)
    }
    // every q337 pair's endpoints share a cluster
    val cluster = rows.map(r => r._1 -> r._2).toMap
    q("q337_phash_neardup").collect().foreach { p =>
      assert(cluster(p.getLong(0)) == cluster(p.getLong(1)))
    }
    // the keep set covers the full hashed universe (img docs + variants)
    val docs = Tables.load(spark, sfDir, "documents")
    val nImg = docs.filter(length(col("text")) % 3 === 0).count()
    val nPlanted = docs.filter(length(col("text")) % 3 === 0 &&
      col("doc_id") % 10 === 0).count()
    assert(rows.length == nImg + nPlanted)
  }

  // --- similarity ---------------------------------------------------------

  test("q48 brute-force knn matches driver-side cosine ranking") {
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def quant(v: Array[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 1e7 + 0.5).toLong)
    def cos(a: Long, b: Long): Double = {
      val (qa, qb) = (quant(vecs(a)), quant(vecs(b)))
      val dot = qa.zip(qb).map { case (x, y) => x * y }.sum
      val na = qa.map(x => x * x).sum
      val nb = qb.map(x => x * x).sum
      dot.toDouble / math.sqrt(na.toDouble) / math.sqrt(nb.toDouble)
    }
    val got = q("q48_knn_brute").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    got.groupBy(_._1).foreach { case (qid, rows) =>
      val want = vecs.keys.filter(_ != qid).toSeq
        .map(n => (n, cos(qid, n)))
        .sortBy { case (n, c) => (-c, n) }.take(10)
      assert(rows.sortBy(_._2).map(t => (t._3, t._4)).toSeq == want, s"query $qid")
    }
  }

  test("IVF index answers out-of-corpus query batches (build once, query many)") {
    // corpus = 200 base vectors; queries = 20 NEW perturbed copies with
    // ids outside the corpus — the index must route each query to its
    // source vector as the top-1 neighbor (cos ~0.99, well inside any
    // cell), without rebuilding anything per batch
    val corpus = embFixture(200, 0)
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    val base = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val queries = (0 until 20).map { i =>
      val src = (i * 7L) % 200
      (1000L + i, base(src).map(x => x + (rnd.nextFloat() * 0.02f - 0.01f)), src)
    }
    val qDf = queries.map(q => (q._1, q._2)).toDF("vec_id", "embedding")
    val idx = Similarity.ivfIndex(corpus, centroids = 16)
    val got = Similarity.ivfQuery(idx, qDf, k = 3, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val top1 = got.filter(_._2 == 1).map(t => t._1 -> t._3).toMap
    val hits = queries.count(q => top1.get(q._1).contains(q._3))
    assert(hits >= 16, s"top-1 should find the perturbation source, got $hits/20")
    // every query produced k answers
    assert(got.groupBy(_._1).forall(_._2.length == 3) && got.map(_._1).distinct.length == 20)
  }

  test("q49 IVF recall@10 vs exact beats the scanned-corpus fraction") {
    // The sf0.001 corpus is pure noise (no cluster structure), the
    // hardest case for IVF: scanning nprobe/centroids = 25% of the
    // corpus would give ~0.25 recall if cells carried no signal. The
    // assertion is that cell assignment still concentrates true
    // neighbors well above that floor. (An earlier revision asserted
    // 0.8 — an artifact of the pre-fix monotone id hash making the
    // query set double as the centroid set.) Recall on SEMANTICALLY
    // structured data is the planted-dup routing test above, where
    // top-1 recall is ~1.
    val exact = q("q48_knn_brute").collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = q("q49_knn_ivf").collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall")
  }

  // --- multimodal ---------------------------------------------------------

  test("q62 media pipeline emits sampled frames with stable checksums") {
    val rows = q("q62_media_pipeline").collect()
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.map(_.getLong(0)).distinct.length == docs.size)
    val dec = graft.multimodal.Decode.open()
    rows.take(20).foreach { r =>
      val meta = dec.decode(r.getLong(0), docs(r.getLong(0)).getBytes("UTF-8"))
      val frames = graft.multimodal.Transforms.sampleFrames(meta)
      val f = frames.find(_.frame_idx == r.getInt(4)).get
      assert(r.getLong(5) == f.frame_checksum)
      val resized = graft.multimodal.Transforms.resize(meta)
      assert(r.getInt(2) == resized.target_w && r.getInt(3) == resized.target_h)
      assert(resized.target_w <= 224 && resized.target_h <= 224)
    }
  }

  test("q61 decode stub is deterministic and complete") {
    val a = q("q61_decode_batch").collect().map(_.toSeq)
    val b = q("q61_decode_batch").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
    assert(a.length == Tables.load(spark, sfDir, "documents").count())
    // checksum matches a direct driver-side computation
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val dec = graft.multimodal.Decode.open()
    a.take(10).foreach { row =>
      val id = row.head.asInstanceOf[Long]
      val want = dec.decode(id, docs(id).getBytes("UTF-8"))
      assert(row(6).asInstanceOf[Long] == want.checksum)
    }
  }

  // --- pair joins: exact tiled + hyperplane LSH ---------------------------

  /** Deterministic fixture: nBase random 64-dim vectors + planted near-dup
    * copies (tiny perturbation => cosine ~0.99). */
  private def embFixture(nBase: Int, nDups: Int, seed: Int = 7) = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(seed)
    val base = (0 until nBase).map { i =>
      (i.toLong, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat))
    }
    val dups = (0 until nDups).map { i =>
      val v = base(i * 3)._2
      (nBase + i.toLong, v.map(x => x + (rnd.nextDouble() * 0.02 - 0.01).toFloat))
    }
    (base ++ dups).toDF("vec_id", "embedding")
  }

  private def bruteCos(df: org.apache.spark.sql.DataFrame, threshold: Double): Set[(Long, Long)] = {
    val vecs = df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def quant(v: Array[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 1e7 + 0.5).toLong)
    val q = vecs.map { case (k, v) => k -> quant(v) }
    (for {
      a <- vecs.keys; b <- vecs.keys if a < b
      dot = q(a).zip(q(b)).map { case (x, y) => x * y }.sum
      na = q(a).map(x => x * x).sum
      nb = q(b).map(x => x * x).sum
      cos = dot.toDouble / math.sqrt(na.toDouble) / math.sqrt(nb.toDouble)
      if cos >= threshold
    } yield (a, b)).toSet
  }

  test("q47 tiled exact join equals brute force and plans no BNLJ") {
    val df = embFixture(150, 0)
    // 0.3 is a ~2.4-sigma threshold: plenty of borderline noise pairs, the
    // regime where candidate-pruning schemes are impossible and only the
    // exact tiled join is correct
    val got = Similarity.tiledNearPairs(df, 0.3, blocks = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = bruteCos(df, 0.3)
    assert(got == want)
    assert(want.nonEmpty, "fixture should produce pairs at 0.3")
    // the whole point of the tile rewrite: a distributed equi-join shape,
    // never a corpus x corpus BroadcastNestedLoopJoin
    val plan = Similarity.tiledNearPairs(df, 0.3).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop"), plan.take(2000))
  }

  test("q47 tile count scales with corpus size, result does not") {
    // the per-tile row bound is what keeps executor memory flat at 100x:
    // blocks = ceil(n / rowsPerTile), so tile side length stays <= target
    // as the corpus is replicated. Pair results must be tiling-invariant.
    val small = embFixture(120, 0)
    val big = embFixture(480, 0)
    // assert on the PRODUCTION sizing function, not a local re-statement
    assert(Similarity.tileCount(480, 40) == 12 && Similarity.tileCount(120, 40) == 4)
    assert(480.0 / Similarity.tileCount(480, 40) <= 40 &&
      120.0 / Similarity.tileCount(120, 40) <= 40)
    // tile count must grow with the estimate, bound per-tile rows, and
    // never explode on a stats artifact (Long.MaxValue sizeInBytes)
    assert(Similarity.tileCount(48000, 40) == 100 * Similarity.tileCount(480, 40))
    assert(Similarity.tileCount(Long.MaxValue, 1024) == 4096)
    // the estimate half of auto-sizing, on the real storage format:
    // parquet-backed stats must land within a small factor of the truth
    // (in-memory fixtures undercount array columns — documented contract)
    val pq = java.nio.file.Files.createTempDirectory("emb-est").toString + "/e.parquet"
    big.write.parquet(pq)
    val est = Similarity.estimatedRows(spark.read.parquet(pq), 256L)
    assert(est >= 480 / 4 && est <= 480 * 4, s"estimate $est for 480 parquet rows")
    val auto = Similarity.tiledNearPairs(small, 0.3, rowsPerTile = 40).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fixed = Similarity.tiledNearPairs(small, 0.3, blocks = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == fixed && auto == bruteCos(small, 0.3))
    val autoBig = Similarity.tiledNearPairs(big, 0.3, rowsPerTile = 40).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(autoBig == bruteCos(big, 0.3))
  }

  test("q55 hyperplane LSH finds every planted near-dup (and equals brute force)") {
    val df = embFixture(200, 20)
    val got = Similarity.lshNearPairs(df, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = bruteCos(df, 0.9)
    assert(want.size >= 20, s"fixture should plant >=20 near-dup pairs, got ${want.size}")
    // 128-band/16-bit s-curve: miss probability ~7e-12 per 0.95+ pair =>
    // LSH + exact verify equals brute force on any realistic fixture
    assert(got == want)
  }

  test("q55 plan blocks on band buckets, not corpus x corpus") {
    val plan = Similarity.lshNearPairs(embFixture(50, 5), 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop"), plan.take(2000))
  }

  // --- connected components ----------------------------------------------

  test("large-star/small-star converges in O(log n) rounds on a long chain") {
    val s = spark
    import s.implicits._
    // 64-node path graph: min-label propagation needs ~63 rounds; the
    // star algorithm collapses it exponentially
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.connectedComponents(chain)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 64 && got.values.forall(_ == 0L), got.toString)
    assert(rounds <= 10, s"expected O(log n) rounds, got $rounds")
  }

  test("connected components equal driver-side union-find on a random graph") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val edges = (0 until 150).map(_ => (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
    val (labels, _) = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"))
    // union-find reference
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> find(n)).toMap
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  // --- round-6 pipeline operators -----------------------------------------

  test("q72 decontamination matches driver-side shingle overlap") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def shingles(text: String): Set[String] =
      text.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val bench = docs.filter(_._1 % 97 == 0).map { case (id, t) => id -> shingles(t) }
    val want = docs.filter(_._1 % 97 != 0).flatMap { case (id, t) =>
      val sh = shingles(t)
      val hits = bench.map { case (bid, bsh) => bid -> (sh & bsh) }.filter(_._2.nonEmpty)
      if (hits.isEmpty) None
      else Some(id -> ((hits.values.flatten.toSet.size.toLong, hits.size.toLong)))
    }
    val got = q("q72_decontaminate").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == want)
    assert(want.nonEmpty, "fixture corpus should have benchmark overlap")
  }

  test("q327 planted contamination is non-degenerate: contaminated rows exist") {
    // the r12 verdict flagged q320's all-zero fractions at the sf0.01
    // gate as weak evidence (an engine that always emits zeros would
    // pass); q327 plants eval excerpts in-plan, and THIS pin — flagged
    // rows exist, and every excerpted source doc scores > 0 — is what
    // upgrades the oracle hash-match from "agrees on zeros" to "agrees
    // on real signal" at every scale factor
    val out = q("q327_contamination_planted").cache()
    assert(out.filter(col("contaminated_frac") > 0.0).count() > 0,
      "no contaminated rows — planted fixture degenerate")
    assert(out.filter(col("flagged")).count() > 0, "no flagged rows")
    // every excerpt SOURCE doc must score > 0: its own distinct window
    // set contains the excerpt's windows by construction
    val srcIds = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") % 89 === 0 &&
        size(split(col("text"), " ")) >= 34)
      .select("doc_id")
    val src = out.join(srcIds, "doc_id").cache()
    assert(src.count() > 0, "no excerpt-source docs at this SF")
    assert(src.filter(col("contaminated_frac") <= 0.0).count() == 0,
      "an excerpted source doc scored zero contamination")
    out.unpersist(); src.unpersist()
  }

  test("q73 semDedup equals driver-side cluster-local rule, drops planted dups") {
    val df = embFixture(200, 20)
    val got = Similarity.semDedup(df, 0.9, centroids = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // driver-side reference of the full operator: hash-rank centroids,
    // argmax-cosine assignment (tie -> smaller centroid id), then the
    // keep-lowest-id rule within each cell
    val vecs = df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val q7 = vecs.map { case (k, v) =>
      k -> v.map(x => math.floor(x.toDouble * 1e7 + 0.5).toLong)
    }
    def cos(a: Long, b: Long): Double = {
      val (x, y) = (q7(a), q7(b))
      val dot = x.zip(y).map { case (p, r) => p * r }.sum
      dot.toDouble / math.sqrt(x.map(p => p * p).sum.toDouble) /
        math.sqrt(y.map(p => p * p).sum.toDouble)
    }
    val M = 2147483647L
    val cents = vecs.keys.toSeq.sortBy(id => (id % M * 48271 % M * 48271 % M, id)).take(16)
    val cell = vecs.keys.map(id =>
      id -> cents.map(c => (-cos(id, c), c)).min._2).toMap
    val want = vecs.keys.filterNot(id =>
      vecs.keys.exists(o => o < id && cell(o) == cell(id) && cos(o, id) >= 0.9))
      .map(id => (id, cell(id))).toSet
    assert(got == want)
    // sanity that the operator has teeth: planted near-identical copies
    // sit next to their source in embedding space, so nearly all of them
    // co-cluster and die
    val droppedPlanted = (200L until 220L).count(id => !got.exists(_._1 == id))
    assert(droppedPlanted >= 15, s"only $droppedPlanted of 20 planted dups dropped")
  }

  test("q95 collocations equal a driver-side lift ranking (planted phrase wins)") {
    import spark.implicits._
    // "fast car" is a planted collocation: both words are rare but always
    // adjacent, so its lift must dominate bigrams of the common filler
    val docs = ((1 to 6).map(i => (i.toLong, "the cat sat on the mat fast car")) ++
      (7 to 12).map(i => (i.toLong, "the dog sat on the rug and the cat ran")))
      .toDF("doc_id", "text")
    val got = Text.collocations(docs, minCount = 3, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val words = docs.collect().flatMap(_.getString(1).split(" "))
    val uni = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bigrams = docs.collect().flatMap(_.getString(1).split(" ").sliding(2))
      .map(a => (a(0), a(1))).toSeq
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = bigrams.filter(_._2 >= 3).toSeq
      .map { case ((a, b), cab) =>
        (a, b, cab, cab.toDouble * words.length / (uni(a).toDouble * uni(b)))
      }
      .sortBy { case (a, b, _, l) => (-l, a, b) }.take(10)
    assert(got.toSeq == want)
    assert(got.head._1 == "fast" && got.head._2 == "car")
  }

  test("q93 kmeans equals a driver-side Lloyd replay and refinement helps") {
    val df = embFixture(200, 20)
    def run(iters: Int) = Similarity.kmeansRefine(df, iters = iters)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val got = run(2)
    // driver-side replay of the exact grid arithmetic: hash-rank seeds,
    // min-(d2, c_id) assignment, per-dim int64 sums, grid-rounded means
    val vecs = df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val q7 = vecs.map { case (k, v) =>
      k -> v.map(x => math.floor(x.toDouble * 1e7 + 0.5).toLong)
    }
    def d2(x: Array[Long], c: Array[Long]): Long =
      x.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
    val M = 2147483647L
    var cents: Map[Long, Array[Long]] = vecs.keys.toSeq
      .sortBy(id => (id % M * 48271 % M * 48271 % M, id)).take(8)
      .map(id => id -> q7(id)).toMap
    def assign(cs: Map[Long, Array[Long]]): Map[Long, (Long, Long)] =
      q7.map { case (id, x) =>
        val (dist, cid) = cs.map { case (c, cv) => (d2(x, cv), c) }.min
        id -> (cid, dist)
      }
    for (_ <- 1 to 2) {
      val asg = assign(cents)
      cents = asg.groupBy(_._2._1).map { case (cell, members) =>
        val xs = members.keys.map(q7).toSeq
        cell -> Array.tabulate(64) { i =>
          val sv = xs.map(_(i)).sum
          math.floor(sv.toDouble / xs.size + 0.5).toLong
        }
      }
    }
    val want = assign(cents).toSeq.map { case (id, (c, dist)) => (id, c, dist) }
    assert(got.toSet == want.toSet)
    // Lloyd's law (modulo grid rounding, which the slack absorbs): two
    // refinement iterations never leave inertia above the seed assignment
    val inertia0 = run(0).map(_._3).sum
    val inertia2 = got.map(_._3).sum
    assert(inertia2 <= inertia0, s"inertia rose: $inertia0 -> $inertia2")
    assert(inertia2 < (inertia0 * 0.999).toLong, "refinement did nothing")
    // planted near-identical copies must land in their source's cluster
    val cell = got.map(t => t._1 -> t._2).toMap
    val coClustered = (0 until 20).count(i => cell(200L + i) == cell(3L * i))
    assert(coClustered >= 15, s"only $coClustered of 20 dups co-clustered")
  }

  test("q75 blocklist counts and redaction match java.util.regex") {
    val pat = java.util.regex.Pattern.compile("\\b(customer|vector|stream)\\b")
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = q("q75_blocklist").collect()
    assert(rows.exists(_.getBoolean(4)), "fixture should flag some documents")
    rows.foreach { r =>
      val text = docs(r.getLong(0))
      val m = pat.matcher(text)
      var n = 0L
      while (m.find()) n += 1
      assert(r.getLong(1) == n, s"doc ${r.getLong(0)} hit count")
      assert(r.getString(5) == pat.matcher(text).replaceAll("[*]"))
    }
  }

  test("q76 domain mix follows the sqrt(nmin/nl) keep rule exactly") {
    val M = BigInt(2147483647L)
    val langs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val nl = langs.groupBy(_._2).map { case (l, xs) => l -> BigInt(xs.length) }
    val nmin = nl.values.min
    val want = langs.filter { case (id, l) =>
      val h = BigInt(id) % M * 48271 % M * 48271 % M
      h * h * nl(l) < M * M * nmin
    }.map(_._1).toSet
    val got = q("q76_domain_mix").collect().map(_.getLong(0)).toSet
    assert(got == want)
    // the smallest language keeps everything; larger ones are downsampled
    // toward sqrt-balance (the keep RATE is what the rule promises — each
    // language's kept fraction tracks sqrt(nmin/nl) up to hash noise)
    val minLang = nl.minBy(_._2)._1
    val keptByLang = langs.filter(x => got(x._1)).groupBy(_._2).map { case (l, xs) => l -> xs.length }
    assert(keptByLang(minLang) == nl(minLang).toInt)
    nl.foreach { case (l, n) =>
      val expect = math.sqrt((nmin.toDouble / n.toDouble)) * n.toDouble
      assert(math.abs(keptByLang.getOrElse(l, 0) - expect) <= math.max(6.0, 0.35 * expect),
        s"lang $l kept ${keptByLang.getOrElse(l, 0)} vs ~$expect")
    }
  }

  // --- cross-source content analytics (q97 / q100) ------------------------

  private def shingleSetsBySource(): Map[String, Set[Long]] = {
    def ph(s: String, base: Long): Long = {
      var h = 0L; var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        h = (h * base + cp) % 4294967291L
        i += Character.charCount(cp)
      }
      h
    }
    Tables.load(spark, sfDir, "documents")
      .select("source", "text").collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.flatMap(r =>
        r.getString(1).split(" ", -1).sliding(3).filter(_.length == 3)
          .map(_.mkString(" "))
          .map(w => ph(w, 131L) * 2147483648L + ph(w, 137L) % 2147483648L)).toSet)
      .toMap
  }

  test("q97 source overlap matrix equals a driver-side set replay") {
    val sets = shingleSetsBySource()
    val want = (for {
      a <- sets.keys; b <- sets.keys if a < b
      shared = (sets(a) & sets(b)).size if shared > 0
    } yield (a, b, shared.toLong, sets(a).size.toLong, sets(b).size.toLong,
        shared.toDouble / (sets(a).size + sets(b).size - shared)))
      .toSeq.sortBy(t => (t._1, t._2))
    val got = q("q97_source_overlap").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    assert(got == want)
  }

  test("q97/q100 share the one corpus shuffle via ReusedExchange") {
    // counts and pair/first-seen branches hang off the same sh-keyed
    // collect_set aggregate; the corpus must be shuffled once, not per
    // consumer (and never materialized — q45's recompute rule)
    Seq("q97_source_overlap", "q100_source_novelty").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // AQE settles stage reuse at runtime, not in the static plan
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"), s"$name: no exchange reuse")
    }
  }

  test("q100 novelty partitions the shingle universe across sources") {
    val sets = shingleSetsBySource()
    val rows = q("q100_source_novelty").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // per-source distinct counts and the first-seen attribution replay
    val firstSeen = sets.toSeq.flatMap { case (s, sh) => sh.map(_ -> s) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toSeq
      .groupBy(_._2).view.mapValues(_.size.toLong).toMap
    rows.foreach { case (src, n, novel, frac) =>
      assert(n == sets(src).size.toLong, src)
      assert(novel == firstSeen.getOrElse(src, 0L), src)
      assert(frac == novel.toDouble / n)
    }
    // credited-novel counts partition the global distinct-shingle universe
    assert(rows.map(_._3).sum == sets.values.reduce(_ ++ _).size.toLong)
    // the lexicographically first source sees everything fresh
    assert(rows.minBy(_._1)._4 == 1.0)
  }

  // --- DSIR importance weights (q98) ---------------------------------------

  test("q98 importance weights equal a driver-side replay and favor the target") {
    def tokHash(w: String): Long = {
      var h = 0L; var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        h = (h * 131L + cp) % 4294967291L
        i += Character.charCount(cp)
      }
      h
    }
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ", -1)))
    val feats = docs.flatMap { case (_, lang, tk) =>
      tk.map(w => (tokHash(w) % 1000000007L % 4096L, lang == "en")) }
    val stats = feats.groupBy(_._1).view.mapValues(fs =>
      (fs.count(_._2).toLong, fs.length.toLong)).toMap
    val wf = stats.view.mapValues { case (t, r) => ((t + 1) * 1000000L) / (r + 1) }.toMap
    val want = docs.map { case (id, _, tk) =>
      val score = tk.map(w => wf(tokHash(w) % 1000000007L % 4096L)).sum
      (id, score, tk.length.toLong, score / tk.length)
    }.sortBy { case (id, _, _, avg) => (-avg, id) }.take(300).toSeq
    val got = q("q98_importance_weights").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
    // the weights must actually point at the target: mean avg_weight of
    // target-language docs exceeds the non-target mean
    val avgByTarget = got.map(t => (docs.find(_._1 == t._1).get._2 == "en", t._4))
      .groupBy(_._1).view.mapValues(v => v.map(_._2).sum.toDouble / v.size).toMap
    assert(avgByTarget(true) > avgByTarget(false))
  }

  // --- TextRank keyword centrality (q99) -----------------------------------

  test("q99 textrank equals a driver-side fixed-point PageRank replay") {
    val S = 10000000000L
    val docs = Tables.load(spark, sfDir, "documents")
      .select("text").collect().map(_.getString(0).split(" ", -1))
    val bgd = docs.flatMap(_.sliding(2).filter(a => a.length == 2 && a(0) != a(1))
      .map(a => (a(0), a(1))))
    val edges = (bgd ++ bgd.map(_.swap)).groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    val deg = edges.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    var pr = deg.keys.map(_ -> S).toMap
    for (_ <- 1 to 8) {
      val acc = edges.toSeq.map { case ((u, v), w) =>
        v -> ((pr(u) / deg(u)) * w + (pr(u) % deg(u)) * w / deg(u))
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      pr = deg.keys.map(n => n -> (1500000000L + 85L * acc.getOrElse(n, 0L) / 100L)).toMap
    }
    val want = pr.toSeq.sortBy { case (tok, p) => (-p, tok) }.take(100)
    val got = q("q99_textrank").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want)
    // centrality must separate the vocabulary, not emit a constant
    assert(got.map(_._2).distinct.size > 1)
  }

  // --- audit rollups (q101 / q102 / q103 / q104) ---------------------------

  test("q101 confusion matrix reconciles with q42 row-level predictions") {
    val preds = q("q42_langid").collect()
      .map(r => (r.getString(1), r.getString(3)))
    val want = preds.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rows = q("q101_lang_confusion").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2), r.getDouble(3)))
    assert(rows.map(t => t._1 -> t._2).toMap == want)
    // per-lang fractions sum to 1
    rows.groupBy(_._1._1).foreach { case (lang, cells) =>
      assert(math.abs(cells.map(_._3).sum - 1.0) < 1e-12, lang)
    }
  }

  test("q102 funnel is monotone and reconciles with q68's surviving set") {
    val rows = q("q102_curation_funnel").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == (0 to 5))
    // cumulative gates only remove documents, and dropped = step delta
    rows.sliding(2).foreach { case Array(prev, cur) =>
      assert(cur._3 <= prev._3)
      assert(cur._4 == prev._3 - cur._3)
    }
    // the funnel's survivor count equals the assembled pipeline's output
    assert(rows.last._3 == q("q68_curation_pipeline").count())
    // stage 4 equals the conjunction gate population
    val gateCount = Tables.load(spark, sfDir, "documents")
      .filter(Curation.gatesOk).count()
    assert(rows(4)._3 == gateCount)
  }

  test("q103 cluster quality is the exact rollup of q93 assignments") {
    val asg = q("q93_kmeans").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    val want = asg.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val rows = q("q103_cluster_quality").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSet == want.keySet)
    rows.foreach { case (cell, n, _, avg, radius) =>
      val ds = want(cell)
      assert(n == ds.size)
      assert(avg == ds.sum / ds.size)
      assert(radius == ds.max)
    }
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-12)
  }

  test("q104 coverage curve is monotone and replays q53 frequencies") {
    val tf = q("q53_token_freq").collect().map(r => (r.getString(0), r.getLong(1)))
    val ranked = tf.sortBy { case (tok, c) => (-c, tok) }
    val total = tf.map(_._2).sum
    val rows = q("q104_vocab_coverage").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    rows.foreach { case (v, nv, covered, tot, cov) =>
      assert(nv == math.min(v.toLong, ranked.length.toLong))
      assert(covered == ranked.take(v).map(_._2).sum)
      assert(tot == total)
      assert(cov == covered.toDouble / total)
    }
    assert(rows.map(_._5).toSeq == rows.map(_._5).sorted.toSeq)
    // once the grid passes the vocabulary size, coverage is total
    if (rows.last._1 >= ranked.length) assert(rows.last._5 == 1.0)
  }

  // --- eval allocation / snapshot diff (q105 / q106) -----------------------

  test("q105 allocates exactly K seats with the Hamilton quota property") {
    val K = 100
    val rows = q("q105_eval_allocation").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == K)
    val byLang = Tables.load(spark, sfDir, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = byLang.values.sum
    val quotas = rows.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    assert(quotas.values.sum == K)
    // Hamilton's method stays within one seat of the exact share
    quotas.foreach { case (lang, got) =>
      val exact = K.toDouble * byLang(lang) / n
      assert(got == math.floor(exact).toLong || got == math.ceil(exact).toLong,
        s"$lang: $got vs $exact")
    }
    // within each stratum, picks are the smallest (lehmer, id)
    rows.groupBy(_._1).foreach { case (lang, picks) =>
      assert(picks.map(_._3).sorted.toSeq == (1L to picks.length))
    }
  }

  test("q106 classifies the synthetic snapshot delta exactly") {
    val rows = q("q106_snapshot_diff").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def want(status: String, pred: Long => Boolean) = {
      val by = docs.filter(t => pred(t._1)).groupBy(_._2)
        .view.mapValues(_.length.toLong).toMap
      by.foreach { case (src, cnt) =>
        assert(rows.getOrElse((src, status), 0L) == cnt, s"$src/$status")
      }
      by.values.sum
    }
    val a = want("added", id => id % 10 == 7)
    val r = want("removed", id => id % 10 == 3)
    val m = want("modified", id => id % 10 == 5)
    val u = want("unchanged", id => id % 10 != 7 && id % 10 != 3 && id % 10 != 5)
    assert(a + r + m + u == docs.length && rows.values.sum == docs.length)
  }

  // --- event analytics (q107 / q108) ---------------------------------------

  private def eventRows(): Array[(Long, Long, Long, String)] =
    Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))

  test("q107 retention cohorts replay driver-side; day 0 is always 1.0") {
    val dayUs = 86400L * 1000000L
    val ev = eventRows().map(e => (e._2, e._3 / dayUs))
    val cohort = ev.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val cells = ev.distinct
      .map { case (u, day) => (cohort(u), day - cohort(u)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val sizes = cohort.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rows = q("q107_retention_cohorts").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.map(t => t._1 -> t._2).toMap == cells)
    rows.foreach { case ((c, off), nActive, nUsers, rate) =>
      assert(nUsers == sizes(c))
      assert(rate == nActive.toDouble / nUsers)
      if (off == 0L) assert(rate == 1.0, s"cohort $c day 0")
    }
  }

  test("q108 session paths replay the gap-session 3-gram counts") {
    val gapUs = 1800L * 1000000L
    val paths = eventRows()
      .groupBy(_._2).values.flatMap { evs =>
        val sorted = evs.toSeq.sortBy(e => (e._3, e._1))
        // split on >30min inactivity, then count consecutive type 3-grams
        val sessions = sorted.foldLeft(List.empty[List[(Long, Long, Long, String)]]) {
          case (acc, e) => acc match {
            case cur :: rest if e._3 - cur.head._3 <= gapUs => (e :: cur) :: rest
            case _ => List(e) :: acc
          }
        }.map(_.reverse.map(_._4))
        sessions.filter(_.length >= 3)
          .flatMap(_.sliding(3).map(_.mkString(" ")))
      }
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (p, n) => (-n, p) }.take(20)
    val got = q("q108_session_paths").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == paths)
  }

  test("q109 invalidation equals a driver-side union-find over v2 near-dups") {
    val v2 = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") % 10 =!= 3)
      .withColumn("text",
        when(col("doc_id") % 10 === 5, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")))
    val ids = v2.select("doc_id").collect().map(_.getLong(0))
    val changed = ids.filter(id => id % 10 == 5 || id % 10 == 7).toSet
    val pairs = Dedup.nearDupPairsOf(v2).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // union-find over the verified pair set
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    val badRoots = changed.map(find)
    val wantInvalid = ids.filter(id => badRoots.contains(find(id))).toSet
    val got = q("q109_invalidation").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.map(_._1).toSet == wantInvalid)
    got.foreach { case (id, reason) =>
      assert(reason == (if (changed(id)) "direct" else "cluster"), s"doc $id")
    }
    // the diff actually pulls in un-changed cluster members
    assert(got.exists(_._2 == "cluster"))
  }

  test("q110 winsorized stats replay the exact rank cuts and decimal means") {
    val ev = Tables.load(spark, sfDir, "events")
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val rows = q("q110_winsorized_stats").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    rows.foreach { case (et, n, nClip, p05, p95, mean, wmean) =>
      val vs = ev.filter(_._1 == et).map(_._2).sorted
      assert(n == vs.length)
      // rank covers: smallest value whose 1-based rank reaches ceil(p*n)
      def cut(p: Int) = vs(((p.toLong * n + 99) / 100 - 1).toInt)
      assert(p05 == cut(5) && p95 == cut(95), et)
      assert(nClip == vs.count(v => v < p05 || v > p95))
      def decMean(xs: Seq[Double]) =
        (xs.map(v => BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP))
          .sum.toDouble / n)
      assert(mean == decMean(vs.toSeq), s"$et mean")
      assert(wmean == decMean(vs.toSeq.map(v => math.min(math.max(v, p05), p95))),
        s"$et wmean")
      assert(p05 <= wmean && wmean <= p95)
    }
    assert(rows.nonEmpty && rows.exists(_._3 > 0))
  }

  test("q111 outlier flags replay the q93 assignment rollup") {
    val asg = q("q93_kmeans").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val avg = asg.groupBy(_._2).view
      .mapValues(ds => ds.map(_._3).sum / ds.size).toMap
    val rows = q("q111_embed_outliers").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(rows.length == asg.length)
    rows.foreach { case (vid, cell, d2, avgD2, flag) =>
      assert(avgD2 == avg(cell))
      assert(flag == (d2 * 10 > avgD2 * 11), s"vec $vid")
    }
    // flags must separate the population, not blanket it
    val nf = rows.count(_._5)
    assert(nf > 0 && nf < rows.length / 4)
  }

  test("q112 recall equals the q48/q49 top-10 intersection per query") {
    def top10(name: String) = q(name).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val brute = top10("q48_knn_brute")
    val ivf = top10("q49_knn_ivf")
    val rows = q("q112_ivf_recall").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == brute.keys.toSeq.sorted)
    rows.foreach { case (qid, nHits, recall) =>
      val want = (ivf.getOrElse(qid, Set.empty) & brute(qid)).size.toLong
      assert(nHits == want, s"query $qid")
      assert(recall == nHits.toDouble / 10)
    }
    // the 16-of-64-probe config must actually retrieve (q49's recall spec
    // pins the calibrated value; this is the attestation consistency)
    assert(rows.map(_._3).sum / rows.length > 0.5)
  }

  test("q113 k-center trajectory replays greedy farthest-point exactly") {
    val vs = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x * 1e7 + 0.5).toLong).toArray)
      .sortBy(_._1)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    var selected = Vector(vs.head._1)
    val byId = vs.toMap
    val radii = Vector.newBuilder[Long]
    for (_ <- 1 until 8) {
      val (pick, md) = vs.filterNot(v => selected.contains(v._1))
        .map { case (id, v) => (id, selected.map(s => d2(v, byId(s))).min) }
        .maxBy { case (id, md) => (md, -id) }
      radii += md
      selected :+= pick
    }
    val got = q("q113_coreset_kcenter").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(_._2).toSeq == selected)
    assert(got.map(_._1).toSeq == (0L to 7L))
    // greedy coverage radius is non-increasing along the trajectory
    val rs = radii.result()
    assert(rs.zip(rs.tail).forall { case (a, b) => b <= a })
  }

  test("q114 PII scrub finds every planted email and redacts to the replayed hash") {
    val pii = "[a-z0-9._]+@[a-z0-9.]+\\.[a-z][a-z]+"
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val rows = q("q114_pii_scrub").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2), r.getString(3)))
    assert(rows.length == docs.length)
    val byId = docs.toMap
    rows.foreach { case (id, nPii, hasPii, redHash) =>
      val planted = if (id % 20 == 0)
        byId(id) + s" contact me at user$id@example.com please" else byId(id)
      val want = pii.r.findAllIn(planted).size
      assert(nPii == want && hasPii == (want > 0), s"doc $id")
      if (id % 20 == 0) assert(nPii >= 1)
      val red = planted.replaceAll(pii, "[EMAIL]")
      assert(pii.r.findFirstIn(red).isEmpty)
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(red.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(redHash == md, s"doc $id hash")
    }
  }

  test("q115 vocab growth is monotone and saturates at the shingle universe") {
    def ph(w: String, base: Long): Long = {
      var h = 0L; var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i); h = (h * base + cp) % 4294967291L
        i += Character.charCount(cp)
      }
      h
    }
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val firstRk = scala.collection.mutable.Map.empty[Long, Long]
    docs.zipWithIndex.foreach { case ((_, text), i) =>
      text.split(" ", -1).sliding(3).filter(_.length == 3).foreach { w3 =>
        val w = w3.mkString(" ")
        val h = ph(w, 131L) * 2147483648L + ph(w, 137L) % 2147483648L
        if (!firstRk.contains(h)) firstRk(h) = i + 1L
      }
    }
    val rows = q("q115_vocab_growth").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    rows.foreach { case (ck, n) =>
      assert(n == firstRk.values.count(_ <= ck), s"checkpoint $ck")
    }
    assert(rows.map(_._2).toSeq == rows.map(_._2).sorted.toSeq)
    assert(rows.last._2 == firstRk.size)
  }

  test("q116 ensemble score fuses the registered component signals exactly") {
    val docs = Tables.load(spark, sfDir, "documents")
    val fam = q("q79_lm_familiarity").collect()
      .map(r => r.getLong(0) -> r.getLong(2) / r.getLong(1)).toMap
    val imp = Sampling.importanceScores(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val gates = docs.select(col("doc_id"), Curation.gatesOk.as("g")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val want = gates.keys.toSeq.map { id =>
      val f = fam.getOrElse(id, 0L)
      (id, gates(id), f, imp(id),
        (if (gates(id)) 1000000L else 0L) + f * 10 + imp(id))
    }.sortBy { case (id, _, _, _, sc) => (-sc, id) }.take(200)
    val got = q("q116_ensemble_score").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == want)
    // the fusion must actually discriminate: gate failures cannot outrank
    // any gate pass inside the slice
    val (passes, fails) = got.partition(_._2)
    if (fails.nonEmpty && passes.nonEmpty)
      assert(passes.map(_._5).min > fails.map(_._5).max)
  }

  // --- hierarchical phase-2 prefix offsets ---------------------------------

  test("chunkOffsets (hierarchical) equals the flat exclusive prefix sum") {
    import spark.implicits._
    // irregular totals incl. missing chunk ids and multiple partitions;
    // fan=4 forces several super-groups at this size
    val totals = (0 until 100).filter(_ % 7 != 3)
      .flatMap(c => Seq(("p1", c.toLong, (c * 13 % 17 + 1).toLong),
        ("p2", c.toLong, (c * 5 % 11 + 1).toLong)))
      .toDF("part", "chunk", "tot")
    val got = Sampling.chunkOffsets(totals, "chunk", "tot",
        partCols = Seq("part"), fan = 4L)
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    val rows = totals.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    rows.foreach { case (p, c, _) =>
      val want = rows.filter(t => t._1 == p && t._2 < c).map(_._3).sum
      assert(got((p, c)) == want, s"($p, $c)")
    }
    assert(got.size == rows.length)
  }

  // --- whole-registry plan audit ------------------------------------------

  test("q117 paragraph dedup keeps exactly the first occurrence of every paragraph") {
    def ph(s: String, base: Long): Long = {
      var h = 0L; var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i); h = (h * base + cp) % 4294967291L
        i += Character.charCount(cp)
      }
      h
    }
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // reference replay: tumbling 8-token paragraphs, first (doc, para) wins
    val paras = docs.flatMap { case (id, text) =>
      text.split(" ", -1).grouped(8).zipWithIndex.map { case (p, i) =>
        val s = p.mkString(" ")
        (id, i, s, p.length, ph(s, 131L) * 2147483648L + ph(s, 137L) % 2147483648L)
      }
    }
    val firstOf = paras.groupBy(_._5).map { case (h, ps) =>
      h -> ps.map(p => (p._1, p._2)).min
    }
    val want = paras.groupBy(_._1).map { case (id, ps) =>
      val kept = ps.filter(p => firstOf(p._5) == ((p._1, p._2))).sortBy(_._2)
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(kept.map(_._3).mkString(" ").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      id -> ((ps.length.toLong, kept.length.toLong, kept.map(_._4.toLong).sum, md))
    }
    val got = q("q117_paragraph_dedup").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))).toMap
    assert(got == want)
    // the corpus plants real cross-doc duplication: some paragraph must drop
    assert(want.values.map(v => v._1 - v._2).sum > 0,
      "fixture has no duplicate paragraphs — spec is vacuous")
  }

  test("q121 canonical selection keeps the longest member of every q45 cluster") {
    val pairs = q("q45_minhash_lsh").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val labels = unionFind(pairs.toSet)
    val chars = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = labels.groupBy(_._2).map { case (cl, ms) =>
      val members = ms.keys.toSeq
      val canon = members.minBy(id => (-chars(id), id))
      cl -> ((members.length.toLong, canon, chars(canon),
        members.length.toLong - 1))
    }
    val got = q("q121_canonical_select").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(got == want)
    // every cluster's canonical is at least as long as every member
    got.foreach { case (cl, (_, canon, cchars, _)) =>
      labels.filter(_._2 == cl).keys.foreach { m =>
        assert(chars(m) <= cchars)
        if (chars(m) == cchars) assert(m >= canon)
      }
    }
  }

  // plain-Scala reference BPE (Sennrich et al. 2016) on type counts:
  // returns the merge trajectory and the final word -> symbols map
  // (shared by the q118 training and q128 application specs)
  private def refBpe(words: Seq[String], steps: Int)
      : (Seq[(Int, String, String, Long)], Map[String, Vector[String]]) = {
    var types = words.distinct
      .map(w => w -> w.map(_.toString).toVector).toMap
    val counts = words.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val merges = (1 to steps).map { i =>
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      types.foreach { case (w, syms) =>
        syms.sliding(2).filter(_.length == 2).foreach { p =>
          pc((p(0), p(1))) = pc.getOrElse((p(0), p(1)), 0L) + counts(w)
        }
      }
      val ((l, r), cnt) = pc.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
      types = types.map { case (w, syms) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var j = 0
        while (j < syms.length) {
          if (j + 1 < syms.length && syms(j) == l && syms(j + 1) == r) {
            out += l + r; j += 2
          } else { out += syms(j); j += 1 }
        }
        w -> out.toVector
      }
      (i, l, r, cnt)
    }
    (merges, types)
  }

  test("q118 BPE training replays reference merge induction exactly") {
    // the greedy left-to-right overlap rule on a hand fixture: "aaa"
    // under pair (a,a) must become [aa, a], and the merged symbol must
    // not chain-merge within the same step
    val s = spark
    import s.implicits._
    val tiny = Seq((0L, "aaa aaa ab"), (1L, "aaa ab ab")).toDF("doc_id", "text")
    val tinyGot = Text.bpeTrain(tiny, 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    val tinyWant = refBpe("aaa aaa ab aaa ab ab".split(" ").toSeq, 2)._1
    assert(tinyGot.toSeq == tinyWant, s"fixture: got ${tinyGot.toSeq}")
    // and the registered query against the corpus
    val words = Tables.load(spark, sfDir, "documents")
      .select("text").collect().flatMap(_.getString(0).split(" ", -1)).toSeq
    val want = refBpe(words, 6)._1
    val got = q("q118_bpe_train").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(got.toSeq == want, s"corpus: got ${got.toSeq}")
    got.foreach { case (_, l, r, _) => assert((l + r).nonEmpty) }
  }

  test("q128 trained-tokenizer application matches the reference segmentation") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    val types = refBpe(docs.flatMap(_._2).toSeq, 6)._2
    val want = docs.map { case (id, ws) =>
      id -> ((ws.length.toLong, ws.map(w => types(w).length.toLong).sum))
    }.toMap
    val got = q("q128_bpe_apply").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (id, (nw, ns, fert)) =>
      val (wnw, wns) = want(id)
      assert(nw == wnw && ns == wns, s"doc $id")
      assert(fert == ns.toDouble / nw)
    }
    // merges only shrink the stream: one subword per word at minimum,
    // one per character at maximum
    docs.foreach { case (id, ws) =>
      val (nw, ns, _) = got(id)
      assert(ns >= nw && ns <= ws.map(_.length.toLong).sum)
    }
  }

  test("q136 fertility by language aggregates q128's per-doc segmentation") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val langOf = docs.map(d => d._1 -> d._2).toMap
    // per-language word/subword totals from the ALREADY-SPEC'D q128
    val perDoc = q("q128_bpe_apply").collect()
      .map(r => (langOf(r.getLong(0)), r.getLong(1), r.getLong(2)))
    val want = perDoc.groupBy(_._1).map { case (l, g) =>
      l -> ((g.map(_._2).sum, g.map(_._3).sum))
    }
    // char totals independently, by codepoint count per word
    val chars = docs.groupBy(_._2).map { case (l, g) =>
      l -> g.flatMap(_._3.split(" ", -1))
        .map(w => w.codePointCount(0, w.length).toLong).sum
    }
    val got = q("q136_tokenizer_fertility").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    assert(got.keySet == want.keySet && got.size >= 2)
    got.foreach { case (l, (nw, ns, nc, fert, cps)) =>
      assert((nw, ns) == want(l), s"lang $l totals")
      assert(nc == chars(l), s"lang $l chars")
      assert(fert == ns.toDouble / nw && cps == nc.toDouble / ns, s"lang $l")
    }
  }

  test("q119 hard negatives are the exact top cross-label neighbors") {
    val rows = Tables.load(spark, sfDir, "embeddings").collect().map { r =>
      val v = r.getSeq[Float](1).map(x => math.floor(x * 1e7 + 0.5).toLong).toArray
      (r.getLong(0), r.getInt(2), v, v.map(x => x * x).sum)
    }
    val got = q("q119_hard_negatives").collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getLong(3), r.getInt(4),
        r.getDouble(5)))
      .groupBy(_._1)
    val anchors = rows.filter(_._1 < 50)
    assert(got.size == anchors.length)
    anchors.foreach { case (qid, qlab, qv, qn) =>
      val negs = rows.filter(_._2 != qlab).map { case (nid, nlab, nv, nn) =>
        val dot = qv.zip(nv).map { case (a, b) => a * b }.sum
        (nid, nlab, dot.toDouble / math.sqrt(qn.toDouble) / math.sqrt(nn.toDouble))
      }.sortBy(p => (-p._3, p._1)).take(5)
      val g = got(qid).sortBy(_._2) // by rank
      assert(g.map(x => (x._3, x._4)).toSeq == negs.map(n => (n._1, n._2)).toSeq,
        s"anchor $qid ids")
      assert(g.map(_._5).toSeq == negs.map(_._3).toSeq, s"anchor $qid cosines")
      // every mined negative is genuinely cross-label
      assert(g.forall(_._4 != qlab))
    }
  }

  test("q135 margin mining replays the exact two-sided margin rule") {
    val langs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = Tables.load(spark, sfDir, "embeddings").collect().map { r =>
      val v = r.getSeq[Float](1).map(x => math.floor(x * 1e7 + 0.5).toLong).toArray
      (r.getLong(0), v, v.map(x => x * x).sum)
    }
    def cos(a: (Long, Array[Long], Long), b: (Long, Array[Long], Long)) = {
      val dot = a._2.zip(b._2).map { case (x, y) => x * y }.sum
      dot.toDouble / math.sqrt(a._3.toDouble) / math.sqrt(b._3.toDouble)
    }
    val src = rows.filter(r => langs(r._1) == "en")
    val anchors = src.filter(_._1 < 100)
    val tgt = rows.filter(r => langs(r._1) == "de")
    val k = 4
    // forward top-k per anchor; sums fold over ASCENDING-sorted values —
    // the same deterministic order both engines use
    def foldSum(xs: Seq[Double]) = xs.sorted.foldLeft(0.0)(_ + _)
    val fwd = anchors.map { a =>
      a._1 -> tgt.map(b => (b._1, cos(a, b))).sortBy(p => (-p._2, p._1)).take(k)
    }.toMap
    val aAvg = fwd.map { case (s, ns) => s -> ((foldSum(ns.map(_._2)), ns.length)) }
    val cand = fwd.values.flatten.map(_._1).toSet
    val bAvg = tgt.filter(t => cand(t._1)).map { b =>
      val ns = src.map(a => (a._1, cos(a, b))).sortBy(p => (-p._2, p._1)).take(k)
      b._1 -> ((foldSum(ns.map(_._2)), ns.length))
    }.toMap
    val want = fwd.map { case (s, ns) =>
      val best = ns.map { case (tid, c) =>
        val (ss, cs) = aAvg(s); val (st, ct) = bAvg(tid)
        (tid, c, c / (ss / (cs * 2).toDouble + st / (ct * 2).toDouble))
      }.sortBy(p => (-p._3, p._1)).head
      s -> best
    }
    val got = q("q135_margin_mining").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4)))).toMap
    assert(got.keySet == want.keySet && got.nonEmpty)
    want.foreach { case (s, (tid, c, m)) =>
      val (gt, gc, gm, acc) = got(s)
      assert(gt == tid && gc == c && gm == m, s"anchor $s")
      assert(acc == (m > 1.05), s"anchor $s")
    }
    // the hub penalty genuinely discriminates: margins are not constant
    assert(got.values.map(_._3).toSet.size > 1)
  }

  test("q120 shard manifest balances tokens and conserves the corpus") {
    val lens = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).length.toLong))
    val grand = lens.map(_._2).sum
    // reference replay: rank by (tokens desc, id), snake-deal to 8 shards
    val want = lens.sortBy(p => (-p._2, p._1)).zipWithIndex.map { case ((id, n), r0) =>
      val pos = r0 % 8
      val shard = if ((r0 / 8) % 2 == 0) pos else 7 - pos
      (shard.toLong, n)
    }.groupBy(_._1).map { case (s, g) =>
      s -> ((g.length.toLong, g.map(_._2).sum, g.map(_._2).min, g.map(_._2).max))
    }
    val got = q("q120_shard_manifest").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))).toMap
    assert(got.size == 8)
    got.foreach { case (s, (nd, tt, mn, mx, frac)) =>
      val (wnd, wtt, wmn, wmx) = want(s)
      assert((nd, tt, mn, mx) == ((wnd, wtt, wmn, wmx)), s"shard $s")
      assert(frac == tt.toDouble / grand, s"shard $s frac")
    }
    assert(got.values.map(_._1).sum == lens.length && got.values.map(_._2).sum == grand)
    // the point of snake dealing: per-shard token loads stay within 2%
    val loads = got.values.map(_._2).toSeq
    assert(loads.max.toDouble / loads.min <= 1.02,
      s"snake balance broken: $loads")
  }

  test("q131 calibration buckets replay the scorer against truth labels") {
    val stop = Set("the", "a", "data")
    val docs = Tables.load(spark, sfDir, "documents")
      .select("lang", "text").collect()
      .map { r =>
        val tk = r.getString(1).split(" ", -1)
        val score = tk.count(stop).toDouble / tk.length
        (math.min(math.floor(score * 10).toInt, 9), r.getString(0) == "en")
      }
    val want = docs.groupBy(_._1).map { case (b, g) =>
      b -> ((g.length.toLong, g.count(_._2).toLong))
    }
    val got = q("q131_langid_calibration").collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (b, (n, nEn, obs)) =>
      val (wn, wEn) = want(b)
      assert(n == wn && nEn == wEn, s"bucket $b")
      assert(obs == wEn.toDouble / wn)
    }
    assert(got.values.map(_._1).sum == docs.length.toLong)
  }

  test("q132 modality integrity classifies planted orphans on both sides") {
    val s = spark
    import s.implicits._
    val docs = Seq(0L, 1L, 2L, 7L).toDF("doc_id")
    val vecs = Seq(1L, 2L, 3L, 4L).toDF("vec_id")
    val got = Curation.modalityIntegrity(docs, vecs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(
      "both" -> ((2L, 1L, 2L)),
      "doc_only" -> ((2L, 0L, 7L)),
      "vec_only" -> ((2L, 3L, 4L))))
    // and the registered query: the testdata id spaces fully overlap
    val reg = q("q132_modality_integrity").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(reg.toSeq == Seq(("both",
      Tables.load(spark, sfDir, "documents").count())))
  }

  test("q129 eval coverage replays shingle-set membership exactly") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map { r =>
        val tk = r.getString(1).split(" ", -1)
        (r.getLong(0), tk.sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet)
      }.filter(_._2.nonEmpty)
    val trainSet = docs.filter(_._1 % 97 != 0).flatMap(_._2).toSet
    val want = docs.filter(_._1 % 97 == 0).map { case (id, sh) =>
      id -> ((sh.size.toLong, sh.count(trainSet).toLong))
    }.toMap
    val got = q("q129_eval_coverage").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == want.keySet && got.nonEmpty)
    got.foreach { case (id, (n, cov, frac)) =>
      val (wn, wcov) = want(id)
      assert(n == wn && cov == wcov, s"doc $id")
      assert(frac == wcov.toDouble / wn)
    }
  }

  test("q130 dedup funnel is monotone and replays the three keep rules") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val toks = docs.map { case (id, t) => id -> t.split(" ", -1).length.toLong }.toMap
    val exactKeep = docs.groupBy(_._2).values.map(_.map(_._1).min).toSet
    val nearDrop = q("q45_minhash_lsh").collect().map(_.getLong(1)).toSet
    val kept2 = exactKeep -- nearDrop
    val paraTok = q("q117_paragraph_dedup").collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val raw = toks.values.sum
    val want = Seq(
      ("0_raw", docs.length.toLong, raw),
      ("1_exact", exactKeep.size.toLong, exactKeep.toSeq.map(toks).sum),
      ("2_neardup", kept2.size.toLong, kept2.toSeq.map(toks).sum),
      ("3_paragraph", kept2.size.toLong, kept2.toSeq.map(paraTok).sum))
    val got = q("q130_dedup_funnel").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(t => (t._1, t._2, t._3)).toSeq == want)
    got.foreach { case (_, _, n, frac) => assert(frac == n.toDouble / raw) }
    // funnel only ever shrinks
    assert(got.map(_._3).toSeq == got.map(_._3).sorted.reverse.toSeq)
  }

  test("q133 per-source funnel sums to q130 and shrinks monotonically") {
    val global = q("q130_dedup_funnel").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val rows = q("q133_source_funnel").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // every (source, stage) cell sums back to the global funnel
    rows.groupBy(_._2).foreach { case (stage, g) =>
      assert((g.map(_._3).sum, g.map(_._4).sum) == global(stage), stage)
    }
    // within each source the funnel only shrinks, and fracs are exact
    rows.groupBy(_._1).foreach { case (src, g) =>
      val byStage = g.sortBy(_._2)
      val toks = byStage.map(_._4)
      assert(toks.toSeq == toks.sorted.reverse.toSeq, s"source $src")
      val raw = byStage.head._4
      byStage.foreach { case (_, _, _, n, frac) =>
        assert(frac == n.toDouble / raw, s"source $src")
      }
    }
    assert(rows.map(_._1).distinct.length > 1)
  }

  test("q134 leakage-safe split never splits a near-dup pair or cluster") {
    val rows = q("q134_leakage_safe_split").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // total coverage: one row per document
    val nDocs = Tables.load(spark, sfDir, "documents").count()
    assert(rows.size.toLong == nDocs)
    // THE guarantee: both ends of every verified near-dup pair share a
    // cluster AND a split — leakage through near-duplicates is impossible
    val pairs = q("q45_minhash_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(rows(a)._1 == rows(b)._1, s"pair ($a,$b) cluster")
      assert(rows(a)._3 == rows(b)._3, s"pair ($a,$b) split")
    }
    // cluster labels agree with q52's components; singletons label
    // themselves
    val comp = q("q52_dedup_components").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, (cl, _, _)) =>
      assert(cl == comp.getOrElse(id, id), s"doc $id")
    }
    // bucket is the composed Lehmer hash of the CLUSTER id, and the split
    // names follow the 800/100/100 rule
    val M = 2147483647L
    def lehmer(x: Long) = ((x % M) * 48271 % M) * 48271 % M
    rows.foreach { case (id, (cl, bucket, split)) =>
      assert(bucket == lehmer(cl) % 1000, s"doc $id")
      val wantSplit =
        if (bucket < 800) "train" else if (bucket < 900) "val" else "test"
      assert(split == wantSplit, s"doc $id")
    }
    // and the assignment actually uses more than one split at this SF
    assert(rows.values.map(_._3).toSet.size >= 2)
  }

  test("q126 boilerplate report ranks the replayed multi-doc paragraphs") {
    def ph(s: String, base: Long): Long = {
      var h = 0L; var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i); h = (h * base + cp) % 4294967291L
        i += Character.charCount(cp)
      }
      h
    }
    val paras = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "source", "text").collect()
      .flatMap { r =>
        r.getString(2).split(" ", -1).grouped(8).map { p =>
          val s = p.mkString(" ")
          (ph(s, 131L) * 2147483648L + ph(s, 137L) % 2147483648L,
            r.getLong(0), r.getString(1), s)
        }
      }
    val want = paras.groupBy(_._1).map { case (h, g) =>
      (h, g.length.toLong, g.map(_._2).distinct.length.toLong,
        g.map(_._3).distinct.length.toLong, g.map(_._4).min)
    }.filter(_._3 >= 2).toSeq
      .sortBy(t => (-t._2, t._1)).take(20)
    val got = q("q126_boilerplate_report").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(got.toSeq == want, s"got ${got.toSeq.take(3)}")
    assert(got.nonEmpty && got.head._2 >= got.last._2)
  }

  test("q127 event drift replays day-over-day share deltas exactly") {
    val ev = Tables.load(spark, sfDir, "events")
      .select(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)))
    val daily = ev.groupBy(identity).map { case ((d, t), g) =>
      ((d, t), g.length.toLong)
    }
    val dayTotals = daily.groupBy(_._1._1).map { case (d, g) =>
      d -> g.values.sum
    }
    val share = daily.map { case ((d, t), n) =>
      ((d, t), (n, dayTotals(d), n.toDouble / dayTotals(d)))
    }
    val got = q("q127_event_drift").collect()
      .map(r => ((r.getTimestamp(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
          r.getBoolean(6)))).toMap
    assert(got.keySet == share.keySet)
    got.foreach { case (key @ (d, t), (n, tot, sh, drift, alert)) =>
      val (wn, wtot, wsh) = share(key)
      assert(n == wn && tot == wtot && sh == wsh, s"cell $key")
      val prevDays = share.keys.filter(k => k._2 == t && k._1.before(d))
      val wantDrift =
        if (prevDays.isEmpty) 0.0
        else sh - share(prevDays.maxBy(_._1.getTime))._3
      assert(drift == wantDrift, s"drift $key")
      assert(alert == (math.abs(drift) > 0.02))
    }
  }

  test("q125 code-switch divergence replays per-half stopword scoring") {
    val stop = Set("the", "a", "data")
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val want = docs.filter(_._2.length >= 2).map { case (id, tk) =>
      val (h, t) = tk.splitAt(tk.length / 2)
      def sc(a: Array[String]) = a.count(stop).toDouble / a.length
      id -> ((sc(h), sc(t), math.abs(sc(h) - sc(t))))
    }.toMap
    val got = q("q125_code_switch").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5)))).toMap
    assert(got.size == want.size)
    got.foreach { case (id, (sh, st, dv, mixed)) =>
      val (wh, wt, wd) = want(id)
      assert(sh == wh && st == wt && dv == wd, s"doc $id")
      assert(mixed == (dv >= 0.05))
    }
  }

  test("q124 retrieval metrics replay exact label-relevance ranking") {
    val rows = Tables.load(spark, sfDir, "embeddings").collect().map { r =>
      val v = r.getSeq[Float](1).map(x => math.floor(x * 1e7 + 0.5).toLong).toArray
      (r.getLong(0), r.getInt(2), v, v.map(x => x * x).sum)
    }
    val got = q("q124_retrieval_metrics").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getDouble(6)))).toMap
    val anchors = rows.filter(_._1 < 50)
    assert(got.size == anchors.length)
    anchors.foreach { case (qid, qlab, qv, qn) =>
      val ranked = rows.filter(_._1 != qid).map { case (nid, nlab, nv, nn) =>
        val dot = qv.zip(nv).map { case (a, b) => a * b }.sum
        (nid, nlab,
          dot.toDouble / math.sqrt(qn.toDouble) / math.sqrt(nn.toDouble))
      }.sortBy(p => (-p._3, p._1)).zipWithIndex
        .map { case ((nid, nlab, _), i) => (nid, nlab, i + 1L) }
      val rel = ranked.filter(_._2 == qlab)
      val (lab, nRel, relAt10, p10, firstRank, mrr) = got(qid)
      assert(lab == qlab && nRel == rel.length.toLong)
      assert(relAt10 == rel.count(_._3 <= 10).toLong)
      assert(p10 == rel.count(_._3 <= 10).toDouble / 10)
      assert(firstRank == rel.map(_._3).min)
      assert(mrr == 1.0 / rel.map(_._3).min)
    }
  }

  test("q122 epoch schedule replays the integer temperature allocation") {
    val toks = Tables.load(spark, sfDir, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1).length.toLong))
      .groupBy(_._1).map { case (s, g) => s -> g.map(_._2).sum }
    val weights = toks.map { case (s, n) =>
      s -> math.floor(math.sqrt(n.toDouble)).toLong
    }
    val tw = weights.values.sum
    val got = q("q122_epoch_schedule").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5), r.getLong(6)))).toMap
    assert(got.keySet == toks.keySet)
    got.foreach { case (s, (n, w, target, ppm, capped, alloc)) =>
      assert(n == toks(s) && w == weights(s))
      assert(target == 2000000L * w / tw)
      val raw = target * 1000000L / n
      assert(ppm == math.min(raw, 4000000L) && capped == (raw > 4000000L))
      assert(alloc == ppm * n / 1000000L)
      // the cap bounds every source at 4 epochs
      assert(ppm <= 4000000L && alloc <= 4L * n)
    }
    // budget is respected: allocations never exceed the 2M target total
    assert(got.values.map(_._6).sum <= 2000000L)
  }

  test("q123 suppression flags exactly the cells naming fewer than 5 users") {
    val cells = Tables.load(spark, sfDir, "events")
      .select(date_trunc("hour", col("ts")).as("h"), col("event_type"),
        col("user_id")).collect()
      .map(r => ((r.getTimestamp(0), r.getString(1)), r.getLong(2)))
      .groupBy(_._1)
    val got = q("q123_kanon_suppress").collect()
      .map(r => ((r.getTimestamp(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got.keySet == cells.keySet)
    got.foreach { case (cell, (nEvents, nUsers, suppress)) =>
      val g = cells(cell)
      assert(nEvents == g.length && nUsers == g.map(_._2).distinct.length)
      assert(suppress == (nUsers < 5), s"cell $cell")
    }
    // at sf0.001 every hourly cell is small, so everything suppresses;
    // the mixed regime (500 publishable vs 2885 suppressed cells) is
    // exercised by the sf0.01 driver gate
    assert(got.values.exists(_._3))
  }

  test("no registered query plans an unintended BroadcastNestedLoopJoin") {
    // BNLJ is legitimate only where one side is genuinely tiny by
    // construction: q08's theta join (the reference quirk, real theta
    // semantics), q48/q50's broadcast query set (fixed 50 ids), q49/q73/
    // q93's centroid broadcast (fixed k rows), and q57/q70/q76's one-row scalar
    // aggregate (count/max/min) cross-joined in to derive a data-dependent
    // constant. Everything else — in particular every pairwise
    // operator — must plan equi-join shapes.
    val allowed = Set("q08_theta_join", "q48_knn_brute", "q50_knn_topk_agg",
      "q49_knn_ivf", "q91_ivf_lifecycle", "q57_quota_sample", "q70_seq_packing",
      "q92_subword_packing", "q73_semdedup", "q76_domain_mix", "q81_train_order",
      "q87_gap_fill", "q88_bm25", "q93_kmeans", "q95_collocations",
      "q96_equidepth_buckets", "q103_cluster_quality", "q111_embed_outliers",
      "q112_ivf_recall", "q113_coreset_kcenter",
      "q119_hard_negatives", // q48's bounded-anchor broadcast, label-filtered
      "q120_shard_manifest", // one-row grand-total cross join (q76's class)
      "q118_bpe_train", // one-row best-pair cross join per unrolled step
      "q122_epoch_schedule", // one-row weight-total cross join (q76's class)
      "q104_vocab_coverage", // one-row grand-total cross join (q76's class)
      "q124_retrieval_metrics", // q48's bounded-anchor broadcast scan
      "q128_bpe_apply", // q118's one-row best-pair cross joins
      "q130_dedup_funnel", // one-row raw-total cross join (q76's class)
      "q135_margin_mining", // bounded anchor + bounded candidate broadcasts (q48's class)
      "q137_knn_graph", // fixed 64-row centroid broadcast (q49's class)
      "q138_graph_search", // centroid-layer entry beam: same fixed broadcast
      "q139_graph_recall", // composes q138 + q48's bounded-anchor scan
      "q144_graph_extend", // frozen-coarse-layer assignment broadcast (q49's class)
      "q149_cluster_mix", // q93's k-row centroid broadcast (Lloyd assignment)
      "q152_pq_recall", // q48's bounded-anchor broadcast (exact side of the attestation)
      "q153_zorder_layout", // one-row grid-bounds cross join (q76's class)
      "q158_triangle_count", // builds on q137's fixed centroid broadcast
      "q161_ppr", // builds on q137's fixed centroid broadcast
      "q157_kmv_overlap", // catalog-bounded sources^2 sketch-pair join
      "q163_scd2_merge", // one-row cutoff cross join (q76's class)
      "q164_join_cardinality", // one-row stats/actual cross joins (q76's class)
      "q165_temperature_mix", // one-row fold-normalizer cross join (q76's class)
      "q167_negative_samples", // one-row catalog-size cross join (q76's class)
      "q168_skew_report", // one-row distribution-stats cross joins (q76's class)
      "q169_hybrid_rrf", // q88's one-row corpus-stats cross + bounded anchors
      "q171_trend_fit", // one-row min-day cross join (q76's class)
      "q176_quantile_normalize", // value-domain-bounded dist x dist range join (q157's class)
      "q181_histogram_selectivity", // 1-row bounds + 5x32 range x histogram crosses (q76/q157's classes)
      "q182_zonemap_pruning", // one-row manifest/truth/missed aggregate joins (q76's class)
      "q184_mmr_rerank", // q48's bounded-anchor broadcast + 12-candidate greedy steps
      "q185_join_order_advisor", // one-row stats/actual cross joins (q164's class)
      "q188_modality_pack", // one-row max/count cross join per stream (q70's class)
      "q197_benford", // one-row digit-total cross join (q76's class)
      "q201_event_bigrams", // one-row transition-total cross join (q76's class)
      "q202_lof", // q137's fixed 64-row centroid broadcast (q49's class)
      "q203_link_predict", // builds on q137's fixed centroid broadcast
      "q206_cramers_v", // one-row totals + |langs|x|sources| marginal grid cross
      "q207_token_dispersion", // one-row corpus-size cross join (q76's class)
      "q208_kcore", // builds on q137's fixed centroid broadcast
      "q212_rendezvous_shards", // one-row corpus-size cross join (q76's class)
      "q213_multivar_ols", // one-row min-day cross join (q171's class)
      "q220_ab_proportion_test", // 1-row-per-arm cross join (q164's class)
      "q221_bfs_expansion", // builds on q137's fixed centroid broadcast
      "q225_weighted_median", // one-row weight-total cross join (q76's class)
      "q227_minhash_error", // fixed 32-row permutation broadcast (q49's class)
      "q228_freshness_report", // one-row high-water-mark cross join (q76's class)
      "q240_ivm_snapshot", // one-row split-bound cross join (q76's class)
      "q243_matryoshka_eval", // q48's bounded 50-query broadcast, scored twice
      "q244_markov_eval", // one-row split-bound cross join (q76's class)
      "q248_bbit_minhash", // fixed 32-row permutation broadcast (q227's class)
      "q249_salting_plan", // one-row before/after-ceiling cross join (q76's class)
      "q250_sequential_test", // one-row d0/stop-summary cross joins (q76's class)
      "q251_lsh_pr", // 32-row permutation broadcast + one-row n_cand cross (q227/q76)
      "q252_centroid_classifier", // 10-row label-centroid broadcast (q49's class)
      "q253_similarity_auc", // q48's bounded 50-anchor broadcast
      "q254_margin_reliability", // 10-row label-centroid broadcast (q49's class)
      "q257_active_users", // one-row day-bounds cross join (q76's class)
      "q258_power_analysis", // one-row traffic cross join (q76's class)
      "q261_partition_advisor", // one-row scheme-stats cross joins (q76's class)
      "q263_dedup_savings", // one-row corpus-total cross join (q76's class)
      "q265_split_leakage", // one-row totals/fraction cross joins (q76's class)
      "q266_lsh_bucket_load", // 32-row permutation broadcast (q227's class)
      "q268_bloom_fpr", // one-row member/bit-count cross joins (q76's class)
      "q269_label_prop", // builds on q137's fixed centroid broadcast
      "q271_jl_distortion", // q48's bounded 16-anchor broadcast scan
      "q277_waterfill_alloc", // one-row budget/round-state cross joins (q76's class)
      "q278_knn_vote", // builds on q137's fixed centroid broadcast
      "q280_bm25_sweep", // q88's one-row corpus-stats cross + bounded 32-case anchors
      "q283_modularity", // q137's centroid broadcast + one-row m/Q crosses (q76's class)
      "q284_graph_health", // q137's centroid broadcast + one-row scalar crosses
      "q285_hubness", // q137's centroid broadcast + one-row total cross
      "q286_target_encoding", // one-row global-prior cross join (q76's class)
      "q288_prefix_cache_savings", // one-row corpus-token-total cross (q76's class)
      "q290_split_balance", // one-row per-side-total crosses (q239/q76's class)
      "q292_nprobe_sweep", // q49's fixed 64-row centroid broadcast + q48 anchors
      "q297_markov_stationary", // one-row state-count/transition-total crosses (q76's class)
      "q298_sq8_recall", // q48's bounded 8-anchor broadcasts + one-row range-table cross
      "q299_cuped", // one-row day-range/pooled-moment crosses (q76's class)
      "q300_mann_whitney", // one-row per-group/tie-sum scalar crosses (q76's class)
      "q303_bloomjoin_benefit", // one-row build-key/bit-count crosses (q268's class)
      "q306_blocking_quality", // one-row truth/candidate-count crosses (q76's class)
      "q312_lsh_designer", // <=11-bucket histogram x 4-row config cross (q76's class)
      "q316_blocking_quality_sampled", // q306's one-row crosses on the Lehmer sample
      "q317_ivf_filtered", // q49's fixed 64-row centroid broadcast + q48's bounded 50-query anchors
      "q318_filtered_ann_sweep", // q49's centroid broadcast + the 10-row selectivity-grid cross (q76's class)
      "q319_bm25_filtered", // q88's one-row corpus-stats cross on the predicate slice
      "q321_graph_filtered", // q137's fixed centroid broadcast + q48's bounded 50-query anchors
      "q322_filtered_ann_adaptive", // q49's centroid broadcast + 64-row histogram/self-cell broadcasts + q48's anchors
      "q324_contamination_ingest_face", // one-row eval-window-array cross join (q76's class, bounded-eval contract enforced)
      "q325_graph_filtered_fallback", // q321's centroid broadcast + bounded routed-query anchor broadcast (q48's class)
      "q323_semantic_decon", // bounded eval-side broadcast (q48's contract) against one corpus pass
      "q326_ivf_delete_compaction", // q49's fixed 64-row centroid broadcast (Lloyd assignment)
      "q328_graph_delete_repair", // q137's fixed 64-row centroid broadcast (graph build)
      "q329_contamination_planted_face", // one-row eval-window-array cross join (q324's class, bounded-eval contract enforced)
      "q330_graph_relink", // q137's fixed 64-row centroid broadcast (graph build)
      "q331_pack_nextfit", // one-row corpus-count cross join (q76's class)
      "q332_pack_efficiency", // q331's one-row count cross, three sweep cells
      "q333_hard_negatives", // q48's bounded 50-anchor broadcast, label-filtered (q119's class)
      "q334_bitext_margin", // q137's fixed 64-row centroid broadcast (probed assignment)
      "q358_length_upsample", // one-row max-token-mass cross join (q76's class)
      "q364_winrate_slices", // one-row first-day cross join (q76's class)
      "q376_mrl_recall", // q298's bounded 8-anchor broadcasts (q48's class)
      "q378_curriculum", // q81's one-row prompt-count cross (q76's class)
      "q370_repeat_exposure", // q122's one-row weight-total cross (q76's class)
      "q371_shuffle_quality") // q81's one-row corpus-count cross (q76's class)
    graft.SparkEntry.registry.filterNot(q => allowed(q.name)).foreach { q =>
      val plan = q.build(spark, sfDir).queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoop"),
        s"${q.name} plans a BroadcastNestedLoopJoin")
    }
  }

  test("q370 exposure conserves documents and agrees with the q122 schedule") {
    val docs = Tables.load(spark, sfDir, "documents")
    val rows = q("q370_repeat_exposure").collect()
    // every document lands in exactly one cluster
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.count())
    // cluster ids are distinct and each is its own minimum member
    assert(rows.map(_.getAs[Long]("cluster_id")).distinct.length == rows.length)
    // exposure algebra: per-doc rates come from the q122 schedule, so a
    // cluster's exposure is bounded by n_docs x the global max rate and
    // the flag is exactly the 8e6 threshold
    val sched = q("q122_epoch_schedule").collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("epochs_ppm")).toMap
    val maxRate = sched.values.max
    rows.foreach { r =>
      val (n, exp, mx) = (r.getAs[Long]("n_docs"),
        r.getAs[Long]("exposure_ppm"), r.getAs[Long]("max_doc_ppm"))
      assert(exp <= n * maxRate && exp >= n * sched.values.min)
      assert(mx <= maxRate && exp >= mx)
      assert(r.getAs[Boolean]("overexposed") == (exp > 8000000L))
    }
    // singleton clusters carry exactly their source's schedule rate
    val srcOf = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val singles = rows.filter(_.getAs[Long]("n_docs") == 1L)
    assert(singles.nonEmpty)
    singles.foreach { r =>
      assert(r.getAs[Long]("exposure_ppm") ==
        sched(srcOf(r.getAs[Long]("cluster_id"))))
    }
    // the audit finds real multi-doc clusters at this SF
    assert(rows.exists(_.getAs[Long]("n_docs") > 1L))
  }

  test("q376 MRL recall: complete anchor grid, bounded, and wider " +
      "prefixes keep at least the narrower prefix's mean recall") {
    val rows = q("q376_mrl_recall").collect()
      .map(r => (r.getAs[Int]("dims"), r.getAs[Long]("q_id"),
        r.getAs[Long]("n_hits")))
    // 8 anchors x 2 widths, every cell present, hits within [0, 10]
    assert(rows.length == 16)
    assert(rows.map(t => (t._1, t._2)).distinct.length == 16)
    assert(rows.forall(t => t._3 >= 0 && t._3 <= 10))
    val mean = rows.groupBy(_._1).view.mapValues(v => v.map(_._3).sum).toMap
    assert(mean(32) >= mean(16),
      s"truncating harder should not raise recall: $mean")
  }

  test("q371 runs audit equals an in-memory reference over the q81 order") {
    val M = 2147483647L
    def lehmer(id: Long): Long = ((id % M) * 48271 % M) * 48271 % M
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ordered = docs.sortBy { case (id, _) => (lehmer(id), id) }.map(_._2)
    // reference runs: fold the ordered source sequence
    val want = scala.collection.mutable.Map[String, (Long, Long, Long)]()
    var i = 0
    while (i < ordered.length) {
      var j = i
      while (j < ordered.length && ordered(j) == ordered(i)) j += 1
      val (d, r, mx) = want.getOrElse(ordered(i), (0L, 0L, 0L))
      want(ordered(i)) = (d + (j - i), r + 1, math.max(mx, (j - i).toLong))
      i = j
    }
    val got = q("q371_shuffle_quality").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(got == want.toMap)
    // sanity: the audit is non-degenerate — multiple sources, runs
    // conserve docs, and at least one run of length >= 2 exists OR
    // every run is a singleton (both are valid shuffles; just pin sums)
    assert(got.size > 1)
    assert(got.values.map(_._1).sum == docs.length)
    assert(got.values.forall { case (d, r, mx) => r <= d && mx >= 1 })
  }

  test("q371 NULL-source run starts match the global-lag oracle across rchunks") {
    // shuffleQuality lags the predecessor's source within 100,000-row
    // idx chunks and carries each chunk's last source into the next; a
    // NULL in-chunk predecessor must start a run there, not fall back
    // to the carry. 100,100 docs give a second chunk; every 5th source
    // is NULL. The reference is q371's own oracle SQL — one global
    // lag(source) OVER (ORDER BY idx) — run by Spark on the same rows.
    val docs = spark.range(1, 100101).select(col("id").as("doc_id"),
      when(col("id") % 5 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("s"), (col("id") % 2).cast("string")))
        .as("source"))
    val oracle = SparkEntry.registry
      .find(_.name == "q371_shuffle_quality").get.oracle.get
    docs.createOrReplaceTempView("documents")
    try assertSameRows(Sampling.shuffleQuality(docs), spark.sql(oracle))
    finally spark.catalog.dropTempView("documents")
  }

  test("q369 strip removes exactly the planted banner and restores the text") {
    // The banner is prepended and 8 tokens wide, so it occupies one
    // paragraph window and every original window stays aligned; with no
    // natural df>=3 repeats at this SF, stripping the banner-injected
    // corpus must reconstruct each document EXACTLY: retained_hash ==
    // md5(original text), kept windows == all but the banner.
    val docs = Tables.load(spark, sfDir, "documents")
    val got = q("q369_boilerplate_strip").collect()
      .map(r => r.getLong(0) -> r).toMap
    val want = docs.select(col("doc_id"), md5(col("text")),
      col("source")).collect()
    assert(got.size == want.length)
    val perSource = want.groupBy(_.getString(2))
      .view.mapValues(_.count(_.getLong(0) % 4 == 0)).toMap
    want.foreach { r =>
      val (id, textMd5) = (r.getLong(0), r.getString(1))
      val g = got(id)
      assert(g.getAs[String]("retained_hash") == textMd5,
        s"doc $id: strip did not reconstruct the original text")
      val banner = id % 4 == 0
      assert(g.getAs[Long]("n_paras") - g.getAs[Long]("kept_paras") ==
        (if (banner) 1L else 0L), s"doc $id: wrong drop count")
      assert(g.getAs[Long]("max_dropped_df") ==
        (if (banner) perSource(r.getString(2)).toLong else 0L),
        s"doc $id: wrong dropped df")
    }
    assert(want.exists(_.getLong(0) % 4 == 0), "fixture has no banner docs")
  }
}
