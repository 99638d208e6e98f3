package graft.tools

import graft.Materialize._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Scale probe: replicate lineitem N times in-plan (union of N shifted
  * copies — no disk writes; testdata is read-only) and time the
  * shuffle-heavy operator shapes. Checks that runtimes scale ~linearly
  * with input size, i.e. nothing in the plan is accidentally quadratic or
  * driver-bound.
  *
  * Usage: runMain graft.tools.ScaleProbe <sfDir> [mult]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val mult = if (args.length > 1) args(1).toInt else 16
    val spark = graft.Session.local()

    def replicateN(df: DataFrame, keyCol: String, stride: Long,
        m: Int): DataFrame =
      (0 until m).map(i =>
        df.withColumn(keyCol, col(keyCol) + lit(i * stride))).reduce(_ union _)
    def replicate(df: DataFrame, keyCol: String, stride: Long): DataFrame =
      replicateN(df, keyCol, stride, mult)

    val li = graft.Tables.load(spark, sfDir, "lineitem")
    val orders = graft.Tables.load(spark, sfDir, "orders")
    val maxKey = orders.agg(max("o_orderkey")).first().getLong(0) + 1
    val bigLi = replicate(li, "l_orderkey", maxKey)
    val bigOrders = replicate(orders, "o_orderkey", maxKey)

    // SPARK_GRAFT_PROBE_ONLY=prefix[,prefix...] runs just the matching
    // probes — targeted evidence for a new operator without paying the
    // full (hours-long at x64) sweep
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").toSeq.filter(_.nonEmpty))
    def time(name: String)(f: => Long): Unit =
      if (only.exists(ps => !ps.exists(name.startsWith))) ()
      else {
        // best of two: the shared host shows +-25% run-to-run noise, and the
        // first execution of a shape also absorbs codegen warmup
        val (t, n) = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          val rows = f
          ((System.nanoTime() - t0) / 1e9, rows)
        }.minBy(_._1)
        println(f"SCALE $name $t%.2f s ($n rows)")
      }

    println(s"SCALE input ${bigLi.count()} lineitem x ${bigOrders.count()} orders")
    time("pricing_agg") {
      bigLi.groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_extendedprice").cast(DecimalType(12, 2))).as("s"),
          count(lit(1)).as("n")).count()
    }
    time("fact_fact_join") {
      bigLi.join(bigOrders, bigLi("l_orderkey") === bigOrders("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1))).count()
    }
    time("topk") {
      bigLi.select("l_orderkey", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc).limit(100).count()
    }
    time("distinct") {
      bigLi.select("l_orderkey", "l_linenumber", "l_quantity").distinct().count()
    }
    // the sketch's scale case, isolated: the registered q33/q34 carry
    // their exact sides for the oracle attestation, so BENCH times
    // exact+sketch — this probe shows the sketch-only path vs the exact
    // distinct shuffle it replaces at 100 TB
    time("hll_sketch_only") {
      bigLi.groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_orderkey"), 0.01)).count()
    }
    time("exact_distinct") {
      bigLi.groupBy("l_returnflag")
        .agg(countDistinct(col("l_orderkey"))).count()
    }
    // Bloom semi-join reduction: the dim filter is selective (urgent 1998+
    // orders from the BASE replica only, so the filter stays constant as
    // the fact side grows m-fold). The bloom's win case is the regime
    // where the dim is too big to BROADCAST yet selective enough to bloom
    // (at 100 TB a 100M-key dim is megabytes of bloom vs gigabytes of
    // hash table); at probe scale the dim would auto-broadcast and the
    // fact would never shuffle at all, so that regime is emulated by
    // disabling broadcast for this pair of measurements — plain then
    // shuffles the whole fact side, bloom prunes it in the scan first.
    val urgent = orders.filter(col("o_orderpriority") === "1-URGENT" &&
      col("o_orderdate") >= to_timestamp(lit("1998-01-01")))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    time("urgent_join_plain_noBcast") {
      bigLi.join(urgent, bigLi("l_orderkey") === urgent("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1))).count()
    }
    time("urgent_join_bloom_noBcast") {
      graft.operators.BloomJoin.prefilter(bigLi, col("l_orderkey"),
          urgent.select("o_orderkey"), col("o_orderkey"))
        .join(urgent, col("l_orderkey") === urgent("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1))).count()
    }
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    // wall-clock at probe scale is dominated by fixed costs (a 1M-row
    // shuffle is milliseconds); the quantity that matters at 100 TB is
    // SHUFFLE VOLUME, so report the row reduction the prefilter buys —
    // at cluster scale those are the rows that never leave the scan stage
    val factRows = bigLi.count()
    val bloomRows = graft.operators.BloomJoin.prefilter(bigLi, col("l_orderkey"),
      urgent.select("o_orderkey"), col("o_orderkey")).count()
    println(f"SCALE bloom_shuffle_reduction ${factRows.toDouble / bloomRows}%.1fx " +
      s"($factRows fact rows -> $bloomRows past the prefilter)")

    // --- LLM-pipeline shapes at increasing replication --------------------
    // Replicas must not be near-duplicates of each other, or the pair
    // OUTPUT itself grows quadratically by construction and the probe
    // measures the data, not the plan: every document token gets a
    // per-replica "r<i>_" prefix (within-replica near-dup structure
    // intact — token equality patterns are untouched — while replica
    // vocabularies are pairwise disjoint at ANY multiplier; the r12
    // Caesar rotation had period 26, so >= 27 replicas shared vocabulary
    // and x64 doc-shape outputs grew superlinearly — GATE_r12); embeddings
    // get a per-replica random sign flip per dimension (within-replica
    // cosines intact, cross-replica cosines collapse to noise).
    val docs0 = graft.Tables.load(spark, sfDir, "documents")
    val emb0 = graft.Tables.load(spark, sfDir, "embeddings")
    val ev0 = graft.Tables.load(spark, sfDir, "events")
    val maxDoc = docs0.agg(max("doc_id")).first().getLong(0) + 1
    val maxVec = emb0.agg(max("vec_id")).first().getLong(0) + 1
    val maxEv = ev0.agg(max("event_id")).first().getLong(0) + 1
    val maxUser = ev0.agg(max("user_id")).first().getLong(0) + 1
    // events replicate as NEW USERS (ids shifted): the 100x contract for
    // entity-keyed windows is more entities, not deeper per-entity history
    def replicateEvents(m: Int): DataFrame =
      (0 until m).map { i =>
        ev0.withColumn("event_id", col("event_id") + lit(i * maxEv))
          .withColumn("user_id", col("user_id") + lit(i * maxUser))
      }.reduce(_ union _)
    def replicateDocs(m: Int): DataFrame =
      (0 until m).map { i =>
        // "r<i>_" prefixes are mutually prefix-free across distinct i
        // (decimal digits never contain '_'), so replica vocabularies
        // are pairwise disjoint; replica 0 is prefixed too, so ALL
        // replicas carry identical within-replica structure
        docs0.withColumn("doc_id", col("doc_id") + lit(i * maxDoc))
          .withColumn("text", array_join(
            transform(split(col("text"), " "),
              t => concat(lit(s"r${i}_"), t)), " "))
      }.reduce(_ union _)
    def replicateEmb(m: Int): DataFrame =
      (0 until m).map { i =>
        emb0.withColumn("vec_id", col("vec_id") + lit(i * maxVec))
          .withColumn("embedding", transform(col("embedding"),
            (x, k) => x * (pmod(hash(lit(i * 7919) + k), lit(2)) * 2 - 1).cast("float")))
      }.reduce(_ union _)

    Seq(1, 4, mult).distinct.foreach { m =>
      val docs = replicateDocs(m)
      time(s"minhash_lsh_x$m") { graft.queries.Dedup.nearDupPairsOf(docs).count() }
      // exact prefix-filter join: candidate generation is df-bucketed, so
      // disjoint-vocabulary replicas must scale ~linearly (prefix postings
      // never mix across replicas)
      time(s"jaccard_join_x$m") { graft.queries.Dedup.jaccardJoin(docs, 0.6).count() }
      // multiset variant: occurrence-indexed keys are strictly rarer than
      // their set projections, so the same linear bound applies
      time(s"multiset_jaccard_x$m") {
        graft.queries.Dedup.multisetJaccardJoin(docs, 0.5).count()
      }
      // winnow-blocked family (r10): fingerprints are per-doc window
      // minima (~2/(w+1) of the window stream), the df<=50 stop-cap
      // bounds any bucket, and rotated-replica vocabularies keep
      // fingerprints per-replica — candidates and verify joins linear
      time(s"winnow_blocked_jaccard_x$m") {
        graft.queries.Dedup.jaccardJoinWinnowBlocked(docs, 0.5).count()
      }
      time(s"winnow_blocked_containment_x$m") {
        graft.queries.Dedup.containmentJoinWinnowBlocked(docs, 0.9).count()
      }
      time(s"winnow_decontaminate_x$m") {
        graft.queries.Dedup.winnowDecontaminate(docs,
          col("doc_id") % 11 === 0).count()
      }
      time(s"dedup_components_x$m") {
        val pairs = graft.queries.Dedup.nearDupPairsOf(docs).select("doc_a", "doc_b")
        graft.queries.Dedup.connectedComponents(pairs)._1.count()
      }
      time(s"embed_lsh_x$m") {
        graft.queries.Similarity.lshNearPairs(replicateEmb(m), 0.9).count()
      }
      // decontamination: the EVAL side is fixed (base replica only — an
      // eval set does not grow with the training corpus), so cost must
      // scale ~linearly with the corpus under a constant broadcast
      time(s"decontaminate_x$m") {
        graft.queries.Dedup.decontaminate(docs,
          col("doc_id") % 97 === 0 && col("doc_id") < maxDoc).count()
      }
      // SemDeDup with centroids ~ sqrt(n) (the contract at scale): cell
      // population stays ~sqrt(n), so within-cell comparisons grow
      // ~n^1.5, spread over cluster tasks — probe should show sub-m^2
      time(s"semdedup_x$m") {
        graft.queries.Similarity.semDedup(replicateEmb(m), 0.45,
          centroids = (64 * math.sqrt(m)).toInt).count()
      }
      // adaptive filtered ANN (q322): the routing decision is
      // queries x centroids rows against a centroids-row histogram —
      // corpus-free — and the probed-cell scan is the ivfQuery shape,
      // so the whole operator must scale like the fixed-nprobe query
      time(s"adaptive_filtered_ann_x$m") {
        val be = replicateEmb(m)
        val e = graft.queries.Similarity.quantize(be).materialize
        val (np, itop) = graft.queries.Similarity.ivfQueryAdaptive(
          be, e, col("label") === 3,
          centroids = (64 * math.sqrt(m)).toInt)
        itop.count() + np.count()
      }
      // semantic decontamination (q323): the eval side is FIXED (base
      // replica only — an eval suite does not grow with the corpus), so
      // the exact arm is one corpus pass against a constant broadcast
      // and the cluster arm is cell-local — both ~linear
      time(s"semantic_decon_x$m") {
        graft.queries.Similarity.semanticDecon(replicateEmb(m),
          col("vec_id") % 97 === 0 && col("vec_id") < maxVec, 0.35,
          centroids = (64 * math.sqrt(m)).toInt).count()
      }
      // multi-signal dedup, full q86 composition: LSH text edges ∪
      // cluster-local semantic edges (centroids ~ sqrt(n), the scale
      // contract) -> large-star/small-star closure — every piece is
      // bucketed, so the composition must scale ~linearly (the doc/vec
      // id spaces drift apart under replication, which only thins the
      // cross-modality fusion; the probe measures plan cost, not labels)
      time(s"multisignal_dedup_x$m") {
        graft.queries.Dedup.multiSignalDedup(docs, replicateEmb(m),
          graft.queries.Dedup.SemanticEdges.ClusterLocal(0.45,
            centroids = (64 * math.sqrt(m)).toInt)).count()
      }
      // duplicated-span coverage: window groups never mix across
      // Caesar-rotated replicas (disjoint vocabularies), so the count
      // shuffle, the join-back, and the per-doc interval merge must all
      // scale ~linearly with the corpus
      time(s"dup_spans_x$m") { graft.queries.Dedup.dupSpans(docs).count() }
      // LM familiarity: same two-shuffle envelope as tf-idf; trigram
      // postings stay per-replica under rotation
      time(s"lm_familiarity_x$m") { graft.queries.Text.lmFamiliarity(docs).count() }
      // k-means: fixed k=8 and 2 iterations, so per-iteration cost is
      // O(n x k) assignment + map-combined (cell, dim) sums — linear in n
      time(s"kmeans_x$m") {
        graft.queries.Similarity.kmeansRefine(replicateEmb(m), k = 8, iters = 2).count()
      }
      // collocations: the tf-idf two-shuffle envelope; Caesar rotation
      // keeps replica vocabularies disjoint, so counts stay per-replica
      time(s"collocations_x$m") {
        graft.queries.Text.collocations(docs, minCount = 5, topK = 50).count()
      }
      // rolling window: replicas are new users, so the user_id shuffle
      // fans out across more partitions while per-task frames stay fixed
      time(s"rolling_window_x$m") {
        graft.queries.Events.rollingHour(replicateEvents(m)).count()
      }
      // source overlap/novelty: replicas keep the SAME source labels but
      // disjoint shingle vocabularies, so per-shingle source sets stay
      // bounded and the distinct/min-combine shuffles must grow linearly
      time(s"source_overlap_x$m") {
        graft.queries.Dedup.sourceOverlap(docs).count()
      }
      time(s"source_novelty_x$m") {
        graft.queries.Dedup.sourceNovelty(docs).count()
      }
      // importance weights: feature space is FIXED at 4096 whatever the
      // corpus, so the stats shuffle stays capped and the token stream
      // dominates — must be linear
      time(s"importance_weights_x$m") {
        graft.queries.Sampling.importanceWeights(docs).count()
      }
      // textrank: one corpus pass for bigram counts, then 8 iterations
      // over the VOCAB-sized graph (rotation grows vocab m-fold, still
      // tiny vs the corpus) — near-linear with a fixed iteration floor
      time(s"textrank_x$m") {
        graft.queries.Text.textrank(docs).count()
      }
      // k-center coreset: K fixed passes over the corpus against a <=K
      // broadcast — cost must be ~K x one scan, linear in the corpus
      time(s"coreset_x$m") {
        graft.queries.Similarity.kcenterPick(replicateEmb(m), 8).count()
      }
      // ensemble scoring: three audited signal pipelines fused by id —
      // each keeps its own scale shape, the fusion adds id-keyed joins
      time(s"ensemble_x$m") {
        graft.queries.Curation.ensembleScore(docs).count()
      }
      // paragraph dedup: Caesar-rotated replicas have disjoint paragraph
      // vocabularies, so the hash agg, join-back, and per-doc rollup all
      // carry m x the base volume — must be linear
      time(s"paragraph_dedup_x$m") {
        graft.queries.Dedup.paragraphDedup(docs).count()
      }
      // boilerplate strip: same three-stage shape as paragraph dedup
      // (df count, 1:1 join-back, per-doc rollup) on the (source, hash)
      // key — disjoint replica vocabularies keep source-local df tables
      // m-fold but narrow; must be linear
      time(s"boilerplate_strip_x$m") {
        graft.queries.Dedup.boilerplateStrip(docs).count()
      }
      // token-F1 scorer: union-explode to (pair, token) rows + two
      // grouped aggs — pure per-document work, no cross-doc key mixing,
      // so the one shuffle carries m x the base token volume — linear
      time(s"token_f1_x$m") {
        graft.queries.Text.scoreTokenF1(
          graft.queries.Text.tokenF1Pairs(docs)).count()
      }
      // BPE training: the corpus pass (word-type counts) grows with m;
      // the 6 merge steps run on the TYPE table (vocab-sized — rotation
      // grows it m-fold, still corpus-independent) — near-linear with a
      // fixed per-step floor
      time(s"bpe_train_x$m") {
        graft.queries.Text.bpeTrain(docs, 6).count()
      }
      // dedup funnel: three audited signal passes (content hash, LSH
      // pairs, paragraph first-occurrence) + four tiny rollups — the
      // composition must inherit the linear shape of its parts
      time(s"dedup_funnel_x$m") {
        graft.queries.Dedup.dedupFunnel(docs).count()
      }
      // graph-ANN build: centroids ~ sqrt(n) keeps cell populations
      // ~sqrt(n), so candidate comparisons grow ~n^1.5 spread over
      // cell-keyed tasks and the kept edges stay <= 12n
      time(s"knn_graph_x$m") {
        graft.queries.Similarity.knnGraph(replicateEmb(m),
          centroids = (64 * math.sqrt(m)).toInt).count()
      }
      // graph-ANN search: query-time cost is corpus-independent (bounded
      // beam x bounded degree per hop) — only the build pays for scale
      time(s"graph_search_x$m") {
        graft.queries.Similarity.graphSearch(replicateEmb(m),
          col("vec_id") < 50, centroids = (64 * math.sqrt(m)).toInt).count()
      }
      // graph-index tombstone delete + repair report (q328): id-keyed
      // anti-joins + node-keyed degree aggregations over the <= 12n edge
      // table — linear on top of the index build, no scoring
      time(s"graph_delete_repair_x$m") {
        val e = replicateEmb(m)
        val idx = graft.queries.Similarity.knnGraphIndex(e,
          centroids = (64 * math.sqrt(m)).toInt)
        graft.queries.Similarity.graphRepairReport(idx,
          e.filter(col("vec_id") % 2 === 0).select("vec_id")).count()
      }
      // graph-index incremental re-link (q330): fresh lists ONLY for
      // flagged nodes, candidates from their probed cells' live members
      // — O(flagged-cell work) on top of the build, never a full rescore
      time(s"graph_relink_x$m") {
        val e = replicateEmb(m)
        val idx = graft.queries.Similarity.knnGraphIndex(e,
          centroids = (64 * math.sqrt(m)).toInt)
        graft.queries.Similarity.knnGraphRelink(idx,
          e.filter(col("vec_id") % 2 === 0).select("vec_id")).count()
      }
      // filtered IVF (q317): the predicate semi-prunes the posting side
      // BEFORE scoring, so cost must scale with the ELIGIBLE corpus
      // (here ~50% of it), never the full corpus x query count
      time(s"ivf_filtered_x$m") {
        val e = replicateEmb(m)
        val idx = graft.queries.Similarity.ivfIndex(e,
          (64 * math.sqrt(m)).toInt)
        graft.queries.Similarity.ivfQueryFiltered(idx,
          e.filter(col("vec_id") < 50),
          e.filter(col("label") % 2 === 0).select("vec_id")).count()
      }
      // bloom decontamination: the eval side is fixed (base replica) and
      // the 8 KB filter broadcast is CONSTANT however the eval set grows
      // — probing rides the corpus scan, so cost must be linear with no
      // broadcast growth (decontaminate's broadcast grows with eval)
      time(s"bloom_decontaminate_x$m") {
        graft.queries.Dedup.bloomDecontaminate(docs,
          col("doc_id") % 97 === 0 && col("doc_id") < maxDoc).count()
      }
      // PQ train: per-iteration cost is one broadcast-assign over m·k
      // codewords (linear in sub-vectors) + a bounded (sub, code, dim)
      // sum — must scale linearly with the corpus
      time(s"pq_train_x$m") {
        graft.queries.Similarity.pqCodebook(replicateEmb(m))._1.count()
      }
      // ADC search: encode (linear) + LUT join + bottom-k; anchors
      // fixed. The codebook is trained AND MATERIALIZED outside the
      // timed block so this number is the search path alone
      val (cbAdc, subsAdc) = graft.queries.Similarity.pqCodebook(replicateEmb(m))
      val cbM = cbAdc.materialize
      time(s"pq_adc_x$m") {
        graft.queries.Similarity.pqAdcTopK(spark, cbM, subsAdc).count()
      }
      // triangles: wedge joins bounded by the degree bound — O(d²·n)
      time(s"triangles_x$m") {
        graft.queries.Similarity.triangleStats(replicateEmb(m),
          centroids = (64 * math.sqrt(m)).toInt).count()
      }
      // PPR: 3 frontier×edges joins, ≤ degree flows per frontier row;
      // anchor count fixed, so cost rides the graph build
      time(s"ppr_x$m") {
        graft.queries.Similarity.pprTopK(replicateEmb(m),
          centroids = (64 * math.sqrt(m)).toInt).count()
      }
      // KMV sketches: O(k) state per source however many shingles — the
      // pairwise table is sources², constant here
      time(s"kmv_overlap_x$m") {
        graft.queries.Sketches.kmvOverlap(docs).count()
      }
      // SCD2: two window passes over one user-keyed shuffle; replicas
      // are NEW USERS, so cost must scale with events
      time(s"scd2_x$m") {
        graft.queries.Events.scd2History(replicateEvents(m)).count()
      }
      // co-occurrence: per-user pair fan-out capped at C(20,2)
      time(s"cooccur_x$m") {
        graft.queries.Events.cooccurItems(replicateEvents(m)).count()
      }
      // directed containment: the jaccard join's df-bucketed prefix
      // contract with the asymmetric (sub-side-only) prefix — disjoint
      // replica vocabularies keep postings per-replica, so linear
      time(s"containment_x$m") {
        graft.queries.Dedup.containmentJoin(docs, 0.9).count()
      }
      // robust trend + CUSUM: the corpus is touched by ONE grouped
      // aggregation each; the pairwise slopes / cumulative windows run
      // on the bounded (event_type, day) table — must ride the scan
      time(s"theilsen_x$m") {
        graft.queries.Events.theilSen(replicateEvents(m)).count()
      }
      time(s"cusum_x$m") {
        graft.queries.Events.cusum(replicateEvents(m)).count()
      }
      // duel mining: one user-keyed window shuffle; replicas are NEW
      // annotators, so duel count and cost must scale linearly
      time(s"pref_duels_x$m") {
        graft.queries.Preference.duels(replicateEvents(m)).count()
      }
      // ranking rides the duel shuffle, then lives on the bounded
      // arm-pair domain — the add-on over pref_duels must stay flat
      time(s"pref_copeland_x$m") {
        graft.queries.Preference.copelandRanking(replicateEvents(m)).count()
      }
      // DPO pairs: replicas keep the SAME prompt domain, so prompt
      // groups get m-times DEEPER — the stress test for the
      // max/min-over-struct partial agg (a per-prompt window would
      // superlinearly sort; the hash agg must stay linear)
      time(s"pref_dpo_x$m") {
        graft.queries.Preference.dpoPairs(replicateEvents(m)).count()
      }
      // best-of-n: TopKAgg's O(m) buffer — deeper prompt groups must
      // cost one scan, with 4 rows per (prompt, task) on the exchange
      time(s"pref_bon_x$m") {
        graft.queries.Preference.bestOfN(replicateEvents(m), 4).count()
      }
      // grpo: windows over the per-prompt DISTINCT-SCORE table; event
      // replicas keep the same values, so the distribution table stays
      // FIXED while response rows grow m-fold — the counts-first
      // compression the value-distribution pattern exists for; cost
      // must ride the scan + the (k, value) equijoin, never the window
      time(s"pref_grpo_x$m") {
        graft.queries.Preference.grpoAdvantage(replicateEvents(m)).count()
      }
      // dpo length-bias audit / per-slice win rates: outputs live on the
      // bounded arm and (slice, pair, look) domains — replicas are new
      // prompts/annotators, so row counts stay FLAT and cost rides the
      // scan plus the one bounded-domain aggregation
      time(s"pref_dpolen_x$m") {
        graft.queries.Preference.dpoLengthBias(replicateEvents(m)).count()
      }
      time(s"pref_winrate_x$m") {
        graft.queries.Preference.winrateSlices(replicateEvents(m)).count()
      }
      // rollout length-bias: two bounded distribution tables per prompt
      // (distinct values / <=512 distinct lengths) — replicas deepen the
      // groups while the distinct domains stay fixed, so cost rides the
      // scan + the two pinned join-backs, never a response-row window
      time(s"pref_rolloutlen_x$m") {
        graft.queries.Preference.rolloutLengthBias(replicateEvents(m)).count()
      }
      // conversation assembly: replicas are NEW USERS, so conversations
      // multiply while each stays human-length-bounded — one user
      // shuffle + conversation-bounded windows must scale linearly
      time(s"conv_gate_x$m") {
        graft.queries.Conversation.chatGate(replicateEvents(m)).count()
      }
      // loss mask + loop detect: the same conversation-bounded window
      // class as the gate — one user shuffle, episode-bounded frames
      time(s"conv_lossmask_x$m") {
        graft.queries.Conversation.lossMask(replicateEvents(m)).count()
      }
      time(s"conv_loop_x$m") {
        graft.queries.Conversation.loopDetect(replicateEvents(m)).count()
      }
      time(s"conv_sft_x$m") {
        graft.queries.Conversation.sftExamples(replicateEvents(m)).count()
      }
      // conversation scrub: map-side span scan over the user shuffle +
      // one content-cell distinct agg joined back — replicas are new
      // users, so cells deepen while the cell TABLE stays fixed; linear
      time(s"conv_scrub_x$m") {
        graft.queries.Conversation.convScrub(replicateEvents(m)).count()
      }
      // length-bucket plan: doc replicas keep every LENGTH (prefixes
      // change tokens, not counts), so the distribution table is fixed
      // while counts deepen — cost must ride the scan (the grpo class)
      time(s"layout_lenbuckets_x$m") {
        graft.queries.Layout.lengthBuckets(docs).count()
      }
      // needle plan: map-only, rows = 3x eligible docs, linear
      time(s"layout_needle_x$m") {
        graft.queries.Layout.needlePlan(docs).count()
      }
      // video near-dup: replica prefixes change every byte slice, so
      // frame fingerprints decorrelate across replicas and pairs stay
      // within-replica — one fingerprint equijoin, linear
      time(s"video_neardup_x$m") {
        graft.queries.Multimodal.videoNearDup(docs).count()
      }
      // lexical diversity: one (source, token) count shuffle with
      // map-side combine, vocab-bounded per-source rollup
      time(s"token_diversity_x$m") {
        graft.queries.Text.tokenDiversity(docs).count()
      }
      // priority sampling: map-only priorities + per-partition top-k
      // merge (TakeOrdered), windows only over the k+1 kept rows
      time(s"priority_sample_x$m") {
        graft.queries.Sampling.prioritySample(docs, 100).count()
      }
      // lateness report: one grouped agg + chunk-partitioned prefix-max
      // windows; replicas are new arrival ranges, so linear
      time(s"lateness_x$m") {
        graft.queries.Events.latenessReport(replicateEvents(m)).count()
      }
      // incremental components: old pair set collapses to star edges, the
      // batch adds asymmetric-LSH bridges — the LS/SS closure runs on the
      // compressed graph, so cost rides the two pair generators (linear)
      time(s"incr_components_x$m") {
        graft.queries.Dedup.incrementalComponents(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0)).count()
      }
      // LOF / link prediction / k-core all ride the cell-probed graph:
      // centroids follow the ~sqrt(n) cell contract so per-cell work
      // stays bounded; degrees are fixed, so the post-graph stages
      // (reach sums, wedges, peeling) are linear in nodes
      time(s"lof_x$m") {
        graft.queries.Similarity.lofOverGraph(replicateEmb(m),
          centroids = (64 * math.sqrt(m)).toInt).count()
      }
      time(s"link_predict_x$m") {
        graft.queries.Similarity.linkPredictRA(replicateEmb(m),
          centroids = (64 * math.sqrt(m)).toInt).count()
      }
      time(s"kcore_x$m") {
        graft.queries.Similarity.kcoreProfile(replicateEmb(m),
          centroids = (64 * math.sqrt(m)).toInt).count()
      }
      // label propagation: 3 rounds of O(E) joins on a degree-bounded
      // graph — must ride the graph build's ~linear cost
      time(s"label_prop_x$m") {
        graft.queries.Similarity.labelProp(replicateEmb(m),
          centroids = (64 * math.sqrt(m)).toInt)._2.count()
      }
      // time-series family: ONE corpus aggregation to the daily
      // distribution table; everything after is series-length work, so
      // these must ride the scan
      time(s"acf_x$m") {
        graft.queries.Events.acfDaily(replicateEvents(m)).count()
      }
      time(s"event_bigrams_x$m") {
        graft.queries.Events.eventBigrams(replicateEvents(m)).count()
      }
      // sweep-line concurrency: sessionization's user-keyed windows +
      // the two-phase prefix sum over hour chunks — both linear
      time(s"session_concurrency_x$m") {
        graft.queries.Events.sessionConcurrency(replicateEvents(m)).count()
      }
      // weighted quartiles: two corpus passes (weights join + chunked
      // cumsum); the crossing test is a map filter — linear
      time(s"weighted_median_x$m") {
        graft.queries.Sampling.weightedLengthQuartiles(docs).count()
      }
      // next-fit packing: group count scales with the corpus (expected
      // 64 docs/group), the sequential fold is a per-row kernel over the
      // collected group — one grp shuffle, linear
      time(s"pack_nextfit_x$m") {
        graft.queries.Sampling.nextFitPack(docs).count()
      }
      // stateful streaming packer in batch mode: the same fold through
      // flatMapGroupsWithState — must match the batch packer's shape
      // (group count hoisted OUT of the timed block: the extra corpus
      // scan was skewing the shape comparison vs pack_nextfit, r13 advice)
      val packGroups = math.max(32L, (docs0.count() * m) / 64L)
      time(s"pack_ingest_x$m") {
        graft.streaming.Streams.packIngest(docs, packGroups).count()
      }
      // hard negatives: bounded 50-anchor broadcast, TopKAgg pre-reduce —
      // one corpus scan per side, linear
      time(s"hard_negatives_x$m") {
        graft.queries.Similarity.hardNegatives(replicateEmb(m)).count()
      }
      // bitext margin mining: cross-parity cell-mate candidates under the
      // ~sqrt(n) centroid contract, cell-bounded neighborhood windows —
      // within-cell comparisons grow ~n^1.5 spread over cell tasks
      time(s"bitext_margin_x$m") {
        graft.queries.Similarity.bitextMargin(replicateEmb(m),
          centroids = (64 * math.sqrt(m)).toInt).count()
      }
      // span-corruption plan: map-only, bounded per-doc generate — must
      // ride the scan exactly
      time(s"span_corruption_x$m") {
        graft.queries.Text.spanCorruptionPlan(docs).count()
      }
      // perceptual image near-dup: map-side dHash + 4x16 pigeonhole
      // block equi-join. The token-prefix replicas are NOT usable here:
      // a per-token prefix shifts every grid cell's byte mass nearly
      // uniformly, the gradient BITS barely move, and replicas of the
      // same doc pair with each other — output grows m^2 by fixture
      // construction, not by plan defect (measured 343k pairs at x64).
      // The replicas below are the dedup disjoint-vocabulary rule for a
      // LOCALITY hash, which shrugs off small shifts by design: replica
      // i rotates the alphabet by i%26 (content-dependent per-cell mass
      // scrambling — 7-byte cells have high-variance letter mixes, so
      // wrap mass differs per cell and gradients flip) AND pads by i
      // bytes (same-rotation replicas then differ by >= 26 bytes, a
      // multi-cell realignment). Replica hashes decorrelate, the dup
      // structure stays within-replica, and pair output stays linear.
      time(s"phash_neardup_x$m") {
        val alpha = "abcdefghijklmnopqrstuvwxyz"
        val padded = (0 until m).map { i =>
          val rot = alpha.drop(i % 26) + alpha.take(i % 26)
          docs0.withColumn("doc_id", col("doc_id") + lit(i * maxDoc))
            .withColumn("text",
              concat(lit("z" * i), translate(col("text"), alpha, rot)))
        }.reduce(_ union _)
        graft.queries.Multimodal.phashNearDups(padded).count()
      }
      // audio segment alignment: anchors are EXACT 16-byte window hashes,
      // so the token-prefix replicas decorrelate fully (any byte change
      // kills an anchor); planted copies stay within-replica — linear
      time(s"audio_align_x$m") {
        graft.queries.Multimodal.audioAlign(docs).count()
      }
    }
    // z-order layout report rides the big lineitem replica: one
    // broadcast + one map pass + 64-row rollups
    time("zorder_layout") {
      graft.queries.Layout.zorderReport(bigLi).count()
    }
    // referential-integrity probe on the replicated fact pair: the
    // audit is exactly the production join it certifies, so it must
    // cost one keyed join + one fold at any scale
    time("fk_audit_fact_fact") {
      graft.queries.Quality.fkEdge("lineitem->orders", bigLi, "l_orderkey",
        bigOrders, "o_orderkey").count()
    }
    // grouping sets over the big fact: ONE Expand + one hash aggregate
    // (vs four separate scans) — the probe shows the single-pass cost
    time("grouping_sets") {
      bigLi.groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n")).count()
    }
    // the EXACT threshold join is Omega(n^2) comparisons by nature (see
    // queries/Similarity.scala q47 note) — probe it at 1x/4x to show the
    // expected ~16x growth is structural, evenly distributed, and not a
    // BNLJ pathology
    Seq(1, 4).foreach { m =>
      time(s"embed_tiled_exact_x$m") {
        graft.queries.Similarity.tiledNearPairs(replicateEmb(m), 0.45).count()
      }
    }

    // --- STREAM-STATE PROBE (r14 verdict ask #5) --------------------------
    // The stateful faces (q338's per-band LSH index, q346's per-annotator
    // last-judgment fold) ARGUE bounded state; this measures it from the
    // engine's own StateOperatorProgress: replay x{1,4,mult} streams in
    // two triggers and report state-store rows + bytes per trigger.
    // Claims pinned by the printed rows: duel state == one row per ACTIVE
    // ANNOTATOR — flat when replicas reuse the same users at m times the
    // events, growing only when replicas add users; dedup state rides the
    // arrival count (band-bucket entries), never the verdict volume.
    def probeOn(name: String): Boolean =
      !only.exists(ps => !ps.exists(name.startsWith))
    if (probeOn("stream_state")) {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      def ckpt(): String = java.nio.file.Files
        .createTempDirectory("graft-state-probe").toString
      def lastState(q: org.apache.spark.sql.streaming.StreamingQuery)
          : (Long, Long) =
        q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
          .map(p => (p.stateOperators.map(_.numRowsTotal).sum,
            p.stateOperators.map(_.memoryUsedBytes).sum))
          .getOrElse((-1L, -1L))
      val evBase = ev0
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select("user_id", "event_id", "ts", "event_type", "value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
          r.getString(3), r.getDouble(4)))
      val cutMs = evBase.map(_._3.getTime).sorted.apply(evBase.length / 2)
      Seq(1, 4, mult).distinct.foreach { m =>
        Seq(false, true).foreach { newUsers =>
          val label = if (newUsers) "newusers" else "sameusers"
          val evm = (0 until m).flatMap { i =>
            evBase.map { case (u, e, t, ty, v) =>
              (if (newUsers) u + i * maxUser else u, e + i * maxEv, t, ty, v)
            }
          }
          val ms = org.apache.spark.sql.execution.streaming.runtime
            .MemoryStream[(Long, Long, java.sql.Timestamp, String, Double)]
          val q = graft.streaming.Streams.duelIngest(
              ms.toDF.toDF("user_id", "event_id", "ts", "event_type", "value"))
            .writeStream.outputMode("append").format("noop")
            .option("checkpointLocation", ckpt()).start()
          try {
            Seq(evm.filter(_._3.getTime <= cutMs),
              evm.filter(_._3.getTime > cutMs)).zipWithIndex.foreach {
              case (wave, i) =>
                ms.addData(wave)
                q.processAllAvailable()
                val (rows, bytes) = lastState(q)
                println(s"SCALE stream_state_duel_${label}_x$m " +
                  s"trigger=${i + 1} events=${wave.size} " +
                  s"state_rows=$rows state_bytes=$bytes")
            }
          } finally q.stop()
          // q367's face: one open-conversation accumulator per ACTIVE
          // USER — the same flat-in-events / linear-in-users claim as
          // the duel state, measured on the identical replicated waves
          val ms3 = org.apache.spark.sql.execution.streaming.runtime
            .MemoryStream[graft.streaming.Streams.ConvTurn]
          val q3 = graft.streaming.Streams.convGateIngest(ms3.toDS())
            .writeStream.outputMode("append").format("noop")
            .option("checkpointLocation", ckpt()).start()
          try {
            Seq(evm.filter(_._3.getTime <= cutMs),
              evm.filter(_._3.getTime > cutMs)).zipWithIndex.foreach {
              case (wave, i) =>
                ms3.addData(wave.map { case (u, e, t, ty, _) =>
                  graft.streaming.Streams.ConvTurn(u, e, t.getTime * 1000L,
                    ty, None, flush = false)
                })
                q3.processAllAvailable()
                val (rows, bytes) = lastState(q3)
                println(s"SCALE stream_state_conv_${label}_x$m " +
                  s"trigger=${i + 1} events=${wave.size} " +
                  s"state_rows=$rows state_bytes=$bytes")
            }
          } finally q3.stop()
        }
        // q338's face: arrivals extend the per-band index — replicas are
        // disjoint-vocabulary docs, so band entries ride the arrival count
        val incoming = (0 until m).map { i =>
          docs0.filter(col("doc_id") % 5 === 0)
            .withColumn("doc_id", col("doc_id") + lit(i * maxDoc))
            .withColumn("text", array_join(
              transform(split(col("text"), " "),
                t => concat(lit(s"r${i}_"), t)), " "))
        }.reduce(_ union _).select("doc_id", "text")
          .collect().map(r => (r.getLong(0), r.getString(1)))
        val half = incoming.length / 2
        val ms2 = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val q2 = graft.streaming.Streams.dedupIngest(
            docs0.filter(col("doc_id") % 5 =!= 0).select("doc_id", "text"),
            ms2.toDF.toDF("doc_id", "text"))
          .writeStream.outputMode("append").format("noop")
          .option("checkpointLocation", ckpt()).start()
        try {
          Seq(incoming.take(half), incoming.drop(half)).zipWithIndex.foreach {
            case (wave, i) =>
              ms2.addData(wave.toIndexedSeq)
              q2.processAllAvailable()
              val (rows, bytes) = lastState(q2)
              println(s"SCALE stream_state_dedup_x$m trigger=${i + 1} " +
                s"arrivals=${wave.length} state_rows=$rows state_bytes=$bytes")
          }
        } finally q2.stop()
        // q377's face: one counter per DISTINCT (source, para-hash) —
        // state rides paragraph VOCABULARY (m-fold under the
        // disjoint-vocabulary replicas), never occurrence volume
        val pocc = graft.queries.Dedup.paraOccurrences(
            graft.queries.Dedup.bannerInjected((0 until m).map { i =>
              docs0.withColumn("doc_id", col("doc_id") + lit(i * maxDoc))
                .withColumn("text", array_join(
                  transform(split(col("text"), " "),
                    t => concat(lit(s"r${i}_"), t)), " "))
            }.reduce(_ union _)))
          .collect().map(r => graft.streaming.Streams.ParaOcc(
            r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        val ms4 = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[graft.streaming.Streams.ParaOcc]
        val q4 = graft.streaming.Streams.boilerIngest(ms4.toDS())
          .writeStream.outputMode("append").format("noop")
          .option("checkpointLocation", ckpt()).start()
        try {
          val h2 = pocc.length / 2
          Seq(pocc.take(h2), pocc.drop(h2)).zipWithIndex.foreach {
            case (wave, i) =>
              ms4.addData(wave.toIndexedSeq)
              q4.processAllAvailable()
              val (rows, bytes) = lastState(q4)
              println(s"SCALE stream_state_boiler_x$m trigger=${i + 1} " +
                s"arrivals=${wave.length} state_rows=$rows state_bytes=$bytes")
          }
        } finally q4.stop()
      }
    }

    // --- x64 OVERFLOW PROBE (r11 verdict ask #6) --------------------------
    // The moment/rank/sketch families carry documented int64 bounds the
    // sf0.01 and sf0.1 gates sit comfortably under (q222's n*sum(v^2) -
    // sum(v)^2 fix was only caught at 600k rows; q294's exact-branch
    // bound is 1.3e6). Push the REGISTERED queries to x64 replicas
    // (sf0.01 x64 = ~3.84M lineitem rows) via a temp parquet directory
    // the QueryDefs read like any SF dir, so every documented bound is
    // either CROSSED in-probe (forcing the guarded production branch —
    // q294 runs its normalized-double branch here) or measured-safe.
    // Disjointness rules match the replica builders above (new order
    // keys / users / Caesar-rotated docs / sign-flipped embeddings).
    val omult = if (args.length > 2) args(2).toInt else 64
    if (omult > 0) {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-scale-x64").toString
      def save(name: String, df: DataFrame): Unit =
        df.write.mode("overwrite").parquet(s"$tmp/$name.parquet")
      save("lineitem", replicateN(li, "l_orderkey", maxKey, omult))
      save("orders", replicateN(orders, "o_orderkey", maxKey, omult))
      save("events", (0 until omult).map { i =>
        ev0.withColumn("event_id", col("event_id") + lit(i * maxEv))
          .withColumn("user_id", col("user_id") + lit(i * maxUser))
      }.reduce(_ union _))
      save("documents", replicateDocs(omult))
      save("embeddings", (0 until omult).map { i =>
        emb0.withColumn("vec_id", col("vec_id") + lit(i * maxVec))
          .withColumn("embedding", transform(col("embedding"),
            (x, k) => x * (pmod(hash(lit(i * 7919) + k), lit(2)) * 2 - 1)
              .cast("float")))
      }.reduce(_ union _))
      Seq("region", "nation", "customer", "supplier", "part")
        .foreach(n => save(n, graft.Tables.load(spark, sfDir, n)))
      val overflowProne = Seq("q171_trend_fit", "q197_benford",
        "q206_cramers_v", "q222_column_correlations",
        "q253_similarity_auc", "q294_spearman")
      overflowProne.foreach { name =>
        time(s"${name}_x$omult") {
          graft.SparkEntry.queries(name)(spark, tmp).count()
        }
      }
    }
    spark.stop()
  }
}
