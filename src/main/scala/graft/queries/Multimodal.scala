package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Report._
import graft.QueryDef
import graft.Tables.{load => t}

/** Multimodal-column plumbing: media payloads as opaque `BINARY` columns
  * with typed metadata, plus a batched "decode" stage.
  *
  * The container has no image/audio codecs, so decoding is STUBBED with a
  * deterministic fake (see [[graft.multimodal.Decode]]); everything
  * Spark-side — binary schema, partition-parallel batch iteration, typed
  * output — is real. The `documents.text` bytes stand in for media blobs.
  */
object Multimodal {
  /** Video near-duplicate pairs — the fourth modality's dedup primitive
    * (text: q45/q65 set joins; images: q337 dHash blocks; audio: q340
    * fingerprint anchors). A video is identified by its FRAME SET: the
    * stub decode's nf = nb % 16 + 1 frames are contiguous CHARACTER
    * slices over the payload (nb = character length — see the in-body
    * note; frame f covers [f*nb/nf, (f+1)*nb/nf)), each fingerprinted by md5
    * of its bytes (the q338 exact-row convention — a full frame slice
    * is near-unique content, so md5 equality IS frame identity and the
    * 2^-64 collision odds are the q63 class). Two videos are near-dups
    * when their frame-set Jaccard >= 1/2, tested exactly by counts
    * (3 * |shared| >= |A| + |B|). A localized edit changes ONE frame,
    * so a tampered copy still shares nf-1 frames — exactly what the
    * planted single-byte variants (the q337 planting rule) verify.
    *
    * Scale shape: candidate generation is ONE equijoin on the frame
    * fingerprint (a bucket join — the q45 blocking class; buckets are
    * true-duplicate frames only, no banding needed because the
    * fingerprint is exact content identity), then two shuffled-hash
    * joins back to the per-video frame counts. No all-pairs anywhere. */
  def videoNearDup(documents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val base = documents
      .filter(octet_length(col("text")) % 3 === 2)
      .select(col("doc_id"), col("text"))
    val planted = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(substring(col("text"), 1, 10), lit("x"),
          expr("substring(text, 12)")).as("text"))
    // nb is the CHARACTER length because the frame slices below are
    // character-based substrings — deriving nb from octet_length would,
    // on any non-ASCII payload, run past the character domain and make
    // every trailing frame the empty string, whose md5('') is identical
    // across unrelated videos (a false-dup magnet AND an all-pairs hot
    // bucket). On the ASCII testdata the two lengths coincide, so both
    // engines are unchanged; the s1 > s0 guard additionally drops any
    // degenerate empty slice a sub-frame-count payload could produce.
    val frames = base.unionByName(planted)
      .withColumn("nb", length(col("text")).cast("long"))
      .withColumn("nf", col("nb") % 16 + 1)
      .select(col("doc_id"), col("text"), col("nb"), col("nf"),
        explode(sequence(lit(0L), col("nf") - 1)).as("f"))
      .withColumn("s0", expr("f * nb div nf"))
      .withColumn("s1", expr("(f + 1) * nb div nf"))
      .filter(col("s1") > col("s0"))
      .select(col("doc_id"), md5(expr(
        "substring(text, CAST(s0 AS INT) + 1, CAST(s1 - s0 AS INT))"))
        .as("fh"))
      .distinct()
    val sizes = frames.groupBy("doc_id").agg(count(lit(1)).as("nfr"))
    val inter = frames.toDF("doc_a", "fh")
      .join(frames.toDF("doc_b", "fh").hint("shuffle_hash"), "fh")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
    inter
      .join(sizes.toDF("doc_a", "n_a").hint("shuffle_hash"), "doc_a")
      .join(sizes.toDF("doc_b", "n_b").hint("shuffle_hash"), "doc_b")
      .filter(col("n_shared") * 3 >= col("n_a") + col("n_b"))
      .select("doc_a", "doc_b", "n_shared", "n_a", "n_b")
  }

  /** Shared oracle CTE chain of the pHash family (q337/q339): the
    * img-format universe with planted variants (`u`), per-payload
    * grid cells + widths, and the lo/hi dHash signature halves
    * (`sig`). One definition, so the pair query and the component/
    * keep-set query cannot drift. */
  private val sqlPhashSigCtes: String =
    """base AS MATERIALIZED (
      |  SELECT doc_id, text FROM documents
      |  WHERE octet_length(CAST(text AS BLOB)) % 3 = 0),
      |u AS MATERIALIZED (
      |  SELECT doc_id, text FROM base
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |    substr(text, 1, 10) || 'x' || substr(text, 12)
      |  FROM base WHERE doc_id % 10 = 0),
      |ce AS MATERIALIZED (
      |  SELECT doc_id,
      |    list_transform(range(72), k ->
      |      coalesce(list_sum(list_transform(
      |        range(1 + (k * length(text)) // 72,
      |              1 + ((k + 1) * length(text)) // 72),
      |        i -> CAST(unicode(text[i]) AS BIGINT))), 0)) AS cells,
      |    list_transform(range(72), k ->
      |      ((k + 1) * length(text)) // 72
      |        - (k * length(text)) // 72) AS ws
      |  FROM u),
      |sig AS MATERIALIZED (
      |  SELECT doc_id,
      |    bit_or(CASE WHEN cells[rr.r * 9 + cc.c + 1]
      |                     * ws[rr.r * 9 + cc.c + 2]
      |                   > cells[rr.r * 9 + cc.c + 2]
      |                     * ws[rr.r * 9 + cc.c + 1]
      |                 AND rr.r * 8 + cc.c < 32
      |      THEN (CAST(1 AS BIGINT) << CAST(rr.r * 8 + cc.c AS INTEGER))
      |      ELSE CAST(0 AS BIGINT) END) AS lo,
      |    bit_or(CASE WHEN cells[rr.r * 9 + cc.c + 1]
      |                     * ws[rr.r * 9 + cc.c + 2]
      |                   > cells[rr.r * 9 + cc.c + 2]
      |                     * ws[rr.r * 9 + cc.c + 1]
      |                 AND rr.r * 8 + cc.c >= 32
      |      THEN (CAST(1 AS BIGINT) << CAST(rr.r * 8 + cc.c - 32 AS INTEGER))
      |      ELSE CAST(0 AS BIGINT) END) AS hi
      |  FROM ce CROSS JOIN range(8) rr(r) CROSS JOIN range(8) cc(c)
      |  GROUP BY doc_id)""".stripMargin

  /** Shared oracle CTE chain of the audio-anchor family (q340/q361):
    * the audio universe with planted segment copies (`au`), the
    * content-keyed 16-byte frame anchors (`sel` — position + 62-bit
    * hash). One definition, so the alignment query and the anchor-load
    * report cannot drift. */
  private def sqlAudioAnchorCtes: String =
    s"""ab AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents
       |  WHERE octet_length(CAST(text AS BLOB)) % 3 = 1
       |    AND octet_length(CAST(text AS BLOB)) >= 64),
       |au AS MATERIALIZED (
       |  SELECT doc_id, text FROM ab
       |  UNION ALL
       |  SELECT doc_id + 2000000, repeat('q', 11) || substr(text, 30)
       |  FROM ab WHERE doc_id % 15 = 0),
       |tkc AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, '') AS t FROM au),
       |hw AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_transform(
       |      list_filter(range(1, len(t) - 14),
       |        i -> (unicode(t[i]) * 31 + unicode(t[i+1])) % 8 = 0),
       |      i -> [CAST(i - 1 AS BIGINT),
       |            ${Dedup.sqlStringHash62("array_to_string(t[i:i+15], ' ')")}])
       |      AS ph
       |  FROM tkc),
       |sel AS MATERIALIZED (
       |  SELECT doc_id, CAST(pr[1] AS INTEGER) AS p, pr[2] AS h
       |  FROM (SELECT doc_id, unnest(ph) AS pr FROM hw))""".stripMargin

  /** Cap grid of the two modality load reports (q360/q361): powers of
    * two bracketing the shipped caps, small enough that the gate corpora
    * exercise the nonzero-fence rows (anchor df reaches 5 at sf0.01).
    * Declared ABOVE defs: both are vals and defs interpolates the grid
    * into its oracle SQL at initialization. */
  private[queries] val LoadReportCaps: Seq[Int] = Seq(2, 4, 8, 16, 32, 64)

  /** The load reports' shared SQL cap grid. */
  private def sqlCapGrid: String =
    s"(SELECT CAST(unnest([${LoadReportCaps.mkString(", ")}]) AS INTEGER) AS cap)"

  val defs: Seq[QueryDef] = Seq(

    // ---- Binary metadata extraction: byte length, content hash, and
    // stub-"decoded" dimensions derived with exact integer arithmetic.
    // The length * prime products are computed in 64-bit on BOTH engines:
    // in 32-bit, a document over ~20 KB would overflow (ArithmeticException
    // under Spark 4's ANSI mode, silent wrap elsewhere). ------------------
    QueryDef("q60_blob_meta", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          octet_length(col("text")).as("n_bytes"),
          sha2(col("text"), 256).as("sha"),
          (octet_length(col("text")).cast("bigint") * 7919 % 1024).as("width"),
          (octet_length(col("text")).cast("bigint") * 104729 % 768).as("height"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
             |  sha256(text) AS sha,
             |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) * 7919 % 1024 AS width,
             |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) * 104729 % 768 AS height
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- Batched decode via mapPartitions (the Dataset-typed path a real
    // codec would use: one decoder instance per partition, streaming
    // iterator, no driver involvement). The stub is deterministic byte
    // arithmetic, so DuckDB can recompute it exactly: the rolling checksum
    // is a wrapping 64-bit fold reproduced with HUGEINT mod 2^64 (signed
    // view at the end), and byte values equal codepoints because the
    // testdata payloads are ASCII (asserted: length == octet_length for
    // every row at every SF). Full hash-match oracle. -------------------
    QueryDef("q61_decode_batch", (s, d) => {
      val spark = s
      import spark.implicits._
      t(s, d, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          // A real pipeline would initialize the codec here, once per
          // partition, then decode each payload in the batch.
          val decoder = graft.multimodal.Decode.open()
          it.map { case (id, bytes) => decoder.decode(id, bytes) }
        }
        .toDF()
        .orderBy("doc_id")
    },
      Some("""WITH m AS (
             |  SELECT doc_id,
             |    octet_length(CAST(text AS BLOB)) AS nb,
             |    list_reduce(list_prepend(CAST(1125899906842597 AS HUGEINT),
             |      list_transform(range(1, length(text)+1), i -> CAST(unicode(text[i]) AS HUGEINT))),
             |      (h, c) -> (31*h + c) % 18446744073709551616) AS ucsum
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(nb AS INTEGER) AS n_bytes,
             |  CASE WHEN nb % 3 = 0 THEN 'img' WHEN nb % 3 = 1 THEN 'audio'
             |       ELSE 'video' END AS format,
             |  CAST(nb * 7919 % 1024 AS INTEGER) AS width,
             |  CAST(nb * 104729 % 768 AS INTEGER) AS height,
             |  CAST(nb % 16 + 1 AS INTEGER) AS n_frames,
             |  CAST(CASE WHEN ucsum >= 9223372036854775808
             |       THEN ucsum - 18446744073709551616 ELSE ucsum END AS BIGINT) AS checksum
             |FROM m ORDER BY doc_id""".stripMargin)),

    // ---- Full media pipeline: decode -> frame-sample -> feature-extract.
    // flatMap over sampled frames then per-frame features; the shape a
    // video/image ingest pipeline has at scale (each stage map-parallel,
    // output flat and columnar). Stubbed per graft.multimodal; the stub
    // arithmetic (incl. the aspect-fit resize in IEEE doubles and the
    // per-frame wrapping checksum) is mirrored exactly in SQL -> full
    // hash-match oracle. -------------------------------------------------
    QueryDef("q62_media_pipeline", (s, d) => {
      val spark = s
      import spark.implicits._
      t(s, d, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          val decoder = graft.multimodal.Decode.open()
          it.flatMap { case (id, bytes) =>
            val meta = decoder.decode(id, bytes)
            val resized = graft.multimodal.Transforms.resize(meta)
            graft.multimodal.Transforms.sampleFrames(meta).map { f =>
              (meta.doc_id, meta.format, resized.target_w, resized.target_h,
                f.frame_idx, f.frame_checksum)
            }
          }
        }
        .toDF("doc_id", "format", "target_w", "target_h", "frame_idx", "frame_checksum")
        .orderBy("doc_id", "frame_idx")
    },
      Some("""WITH m AS (
             |  SELECT doc_id,
             |    octet_length(CAST(text AS BLOB)) AS nb,
             |    list_reduce(list_prepend(CAST(1125899906842597 AS HUGEINT),
             |      list_transform(range(1, length(text)+1), i -> CAST(unicode(text[i]) AS HUGEINT))),
             |      (h, c) -> (31*h + c) % 18446744073709551616) AS ucsum
             |  FROM documents),
             |d AS (
             |  SELECT doc_id,
             |    CASE WHEN nb % 3 = 0 THEN 'img' WHEN nb % 3 = 1 THEN 'audio'
             |         ELSE 'video' END AS format,
             |    nb * 7919 % 1024 AS width, nb * 104729 % 768 AS height,
             |    nb % 16 + 1 AS n_frames, ucsum
             |  FROM m),
             |s AS (
             |  SELECT d.*, least(224.0 / greatest(width, 1),
             |                    224.0 / greatest(height, 1)) AS sc FROM d),
             |f AS (SELECT s.*, unnest(range(0, n_frames, 4)) AS frame_idx FROM s)
             |SELECT doc_id, format,
             |  CAST(greatest(1, floor(width * sc)) AS INTEGER) AS target_w,
             |  CAST(greatest(1, floor(height * sc)) AS INTEGER) AS target_h,
             |  CAST(frame_idx AS INTEGER) AS frame_idx,
             |  CAST(CASE WHEN (31*ucsum + frame_idx) % 18446744073709551616 >= 9223372036854775808
             |       THEN (31*ucsum + frame_idx) % 18446744073709551616 - 18446744073709551616
             |       ELSE (31*ucsum + frame_idx) % 18446744073709551616 END AS BIGINT) AS frame_checksum
             |FROM f ORDER BY doc_id, frame_idx""".stripMargin)),

    // ---- Modality-interleaved batch packing ------------------------------
    // The assembly step a multimodal trainer consumes: fixed 8-slot
    // batches with a pinned modality ratio (6 text slots + 2 media
    // slots), each modality stream filling its slot range in id order.
    // Either stream running out leaves later batches partially filled —
    // the honest tail, reported rather than silently rebalanced.
    //
    // Scale shape: each stream's global position comes from the q70
    // two-phase prefix rank (stride bucketing + hierarchical chunk
    // offsets — no single-task window, no corpus sort); batch and slot
    // are then pure arithmetic on the rank. One shuffle per stream.
    QueryDef("q188_modality_pack", (s, d) => {
      def ranked(df: org.apache.spark.sql.DataFrame, idCol: String) = {
        val mx = df.agg(max(col(idCol)).as("mx"), count(lit(1)).as("cnt"))
        val sub = df.crossJoin(broadcast(mx))
          .withColumn("nb", Sampling.prefixBuckets(col("cnt")))
          .withColumn("sub", expr(s"$idCol div (mx div nb + 1)"))
          .drop("mx", "cnt", "nb")
        val offsets = Sampling.chunkOffsets(
          sub.groupBy("sub").agg(count(lit(1)).as("tot")), "sub", "tot")
        val wLoc = Window.partitionBy("sub").orderBy(idCol)
        sub.withColumn("lrn", row_number().over(wLoc).cast("long"))
          .join(broadcast(offsets), "sub")
          .select(col(idCol).as("item_id"),
            (col("off") + col("lrn")).as("rank"))
      }
      val texts = ranked(t(s, d, "documents").select("doc_id"), "doc_id")
        .select(expr("(rank - 1) div 6").as("batch_id"),
          expr("CAST((rank - 1) % 6 AS INT)").as("slot"),
          lit("text").as("modality"), col("item_id"))
      val media = ranked(t(s, d, "embeddings").select("vec_id"), "vec_id")
        .select(expr("(rank - 1) div 2").as("batch_id"),
          expr("CAST(6 + (rank - 1) % 2 AS INT)").as("slot"),
          lit("media").as("modality"), col("item_id"))
      texts.union(media).orderBy("batch_id", "slot")
    },
      Some("""WITH tr AS MATERIALIZED (
             |  SELECT doc_id AS item_id,
             |    CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rank
             |  FROM documents),
             |ir AS MATERIALIZED (
             |  SELECT vec_id AS item_id,
             |    CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) AS rank
             |  FROM embeddings)
             |SELECT * FROM (
             |  SELECT (rank - 1) // 6 AS batch_id,
             |    CAST((rank - 1) % 6 AS INTEGER) AS slot,
             |    'text' AS modality, item_id
             |  FROM tr
             |  UNION ALL
             |  SELECT (rank - 1) // 2,
             |    CAST(6 + (rank - 1) % 2 AS INTEGER), 'media', item_id
             |  FROM ir)
             |ORDER BY batch_id, slot""".stripMargin)),

    // ---- Video frame-sampling plan --------------------------------------
    // The planning stage in front of a frame-extract decode (the
    // mapInPandas batch whose codec this container lacks): per blob,
    // derive duration/fps from metadata (stub arithmetic on the blob,
    // q60's rule), then emit the frame-request rows a decoder batch
    // would consume — uniform stride capped at 16 frames per clip, each
    // with its timestamp and estimated byte offset. The generator is
    // `explode(sequence(...))` — rows fan out in the SCAN stage with no
    // shuffle at all (the plan is embarrassingly parallel at any
    // corpus size), and every derived number is exact int64 arithmetic
    // so the oracle replays it with generate_series. Stride is
    // ceil(duration/16) via (d + 15) div 16 — never 0, at most 16
    // frames, SHORT clips sample every ms.
    QueryDef("q274_frame_sample_plan", (s, d) => {
      val nb = octet_length(col("text")).cast("bigint")
      val blobs = t(s, d, "documents")
        .select(col("doc_id"), nb.as("n_bytes"),
          (nb * 3 + 40).as("duration_ms"),
          (lit(24L) + nb % 8).as("fps"))
      blobs
        .withColumn("stride_ms", expr("(duration_ms + 15) div 16"))
        .select(col("doc_id"), col("n_bytes"), col("duration_ms"),
          col("fps"), col("stride_ms"),
          posexplode(sequence(lit(0L), col("duration_ms") - 1,
            col("stride_ms"))).as(Seq("frame_idx", "ts_ms")))
        .withColumn("frame_no", expr("ts_ms * fps div 1000"))
        .withColumn("byte_offset", expr("ts_ms * n_bytes div duration_ms"))
        .select(col("doc_id"), col("frame_idx").cast("int").as("frame_idx"),
          col("ts_ms"), col("frame_no"), col("byte_offset"))
        .orderBy("doc_id", "frame_idx")
    },
      Some("""WITH b AS MATERIALIZED (
             |  SELECT doc_id,
             |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
             |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) * 3 + 40
             |      AS duration_ms,
             |    24 + CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) % 8
             |      AS fps
             |  FROM documents),
             |p AS (
             |  SELECT doc_id, n_bytes, duration_ms, fps,
             |    (duration_ms + 15) // 16 AS stride_ms
             |  FROM b)
             |SELECT doc_id,
             |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ts_ms)
             |    - 1 AS INTEGER) AS frame_idx,
             |  CAST(ts_ms AS BIGINT) AS ts_ms,
             |  CAST(ts_ms * fps // 1000 AS BIGINT) AS frame_no,
             |  CAST(ts_ms * n_bytes // duration_ms AS BIGINT) AS byte_offset
             |FROM p, LATERAL (
             |  SELECT unnest(generate_series(0, duration_ms - 1, stride_ms))
             |    AS ts_ms)
             |ORDER BY doc_id, frame_idx""".stripMargin)),

    // ---- Perceptual near-duplicate images (dHash + pigeonhole blocks) ----
    // The image-modality twin of q45/q46's text near-dup stack: a corpus
    // of media payloads dedups by PERCEPTUAL hash, not byte checksum —
    // re-encoded/lightly-edited copies share almost all gradient bits.
    // The hash is the classic image dHash computed on the stub byte
    // domain (graft.functions.ArrayExprs.dhash64: 8x9 range-sum grid,
    // bit = horizontal gradient sign — the codec is stubbed per
    // multimodal/Decode.scala, the hash algorithm and all downstream
    // plumbing are real). Near-dups are PLANTED deterministically (every
    // img-format payload with doc_id % 10 == 0 gets a one-byte-edited
    // variant at doc_id + 1000000 — both engines construct the identical
    // input, q106's versioning trick), so the hit path is exercised and
    // hash-verified at every SF, not trivially zero (the q327 rule).
    //
    // Scale shape: q46's 4x16-bit pigeonhole block index — Hamming <= 3
    // guarantees one of the 4 blocks matches exactly, so candidates come
    // from an EQUI-join on (block idx, block value), never all pairs;
    // popcount(xor) verifies. Hot buckets (boilerplate gradient
    // patterns far above the n/2^16 expected load) are fenced by the
    // BlockDfCap df-cap tier — the q229 stop-key rule — with q360 as
    // the report that sizes the cap on a concrete corpus.
    QueryDef("q337_phash_neardup", (s, d) =>
      phashNearDups(t(s, d, "documents")).orderBy("doc_a", "doc_b"),
      Some(s"""WITH $sqlPhashSigCtes
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  CAST(bit_count(xor(a.lo, b.lo))
             |     + bit_count(xor(a.hi, b.hi)) AS INTEGER) AS hamming
             |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.lo, b.lo))
             |    + bit_count(xor(a.hi, b.hi)) <= 3
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // ---- Perceptual dedup keep set: clusters + canonical selection --------
    // What q52 is to q45's text pairs, this is to q337's image pairs:
    // near-dup is not transitive, so retention decisions need the
    // CONNECTED COMPONENT of the perceptual-pair graph, then one
    // canonical survivor per cluster (min doc_id — the q121 default
    // policy; a production pipeline would rank by resolution/recency).
    // Every hashed payload appears in the output: paired docs carry
    // their component's min id, singletons keep themselves.
    //
    // Scale shape: q337's blocked pair generation + the q52
    // large-star/small-star components (O(log) label rounds over the
    // PAIR set, orders of magnitude smaller than the corpus) + one
    // left join back to the hashed universe. Oracle: recursive-CTE
    // reachability over the shared signature CTEs.
    QueryDef("q339_phash_keep", (s, d) => {
      val docs = t(s, d, "documents")
      val (labels, _) = Dedup.connectedComponents(
        phashNearDups(docs).select("doc_a", "doc_b"))
      phashCorpus(docs).select("doc_id")
        .join(labels.select(col("node").as("doc_id"),
          col("lbl").as("cluster_id")), Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
        .withColumn("keep", col("cluster_id") === col("doc_id"))
        .orderBy("doc_id")
    },
      Some(s"""WITH RECURSIVE $sqlPhashSigCtes,
             |pairs AS MATERIALIZED (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
             |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
             |  WHERE bit_count(xor(a.lo, b.lo))
             |      + bit_count(xor(a.hi, b.hi)) <= 3),
             |edges AS MATERIALIZED (
             |  SELECT doc_a, doc_b FROM pairs
             |  UNION SELECT doc_b, doc_a FROM pairs),
             |reach(a, b) AS (
             |  SELECT doc_a, doc_b FROM edges
             |  UNION
             |  SELECT r.a, e.doc_b FROM reach r JOIN edges e ON r.b = e.doc_a),
             |lbl AS (
             |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
             |  FROM reach GROUP BY a)
             |SELECT u.doc_id,
             |  coalesce(l.cluster_id, u.doc_id) AS cluster_id,
             |  coalesce(l.cluster_id, u.doc_id) = u.doc_id AS keep
             |FROM u LEFT JOIN lbl l USING (doc_id)
             |ORDER BY u.doc_id""".stripMargin)),

    // ---- Audio segment alignment: fingerprint anchors + offset mode ------
    // The third modality's dedup primitive (text: q45/q65 set joins;
    // images: q337 dHash; audio: ALIGNMENT — a copied PASSAGE at any
    // position, which no set hash sees). See [[audioAlign]] for the
    // method and the df-capped (AnchorDfCap) candidate join; planted
    // segment copies (audioCorpus) pin the hit path at every SF: each
    // planted pair must align at byte offset -18 with a span covering
    // most of the shared suffix.
    QueryDef("q340_audio_align", (s, d) =>
      audioAlign(t(s, d, "documents")).orderBy("doc_a", "doc_b"),
      Some(s"""WITH $sqlAudioAnchorCtes,
             |ofs AS MATERIALIZED (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |    b.p - a.p AS d_off,
             |    CAST(count(*) AS BIGINT) AS n_anchors,
             |    max(a.p) - min(a.p) + 16 AS span_len
             |  FROM sel a JOIN sel b ON a.h = b.h AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2, 3
             |  HAVING count(*) >= 3)
             |SELECT doc_a, doc_b, CAST(d_off AS INTEGER) AS offset,
             |  n_anchors, CAST(span_len AS INTEGER) AS span_len
             |FROM (SELECT *, row_number() OVER (PARTITION BY doc_a, doc_b
             |        ORDER BY n_anchors DESC, span_len DESC, d_off) AS rn
             |      FROM ofs)
             |WHERE rn = 1 ORDER BY doc_a, doc_b""".stripMargin)),

    // ---- Video near-duplicate pairs (frame-set Jaccard) --------------------
    // Completes the modality-dedup matrix (text q45/q65, images q337,
    // audio q340): videos match when their frame-fingerprint sets share
    // Jaccard >= 1/2, tested exactly by counts. Candidates come from ONE
    // equijoin on the frame fingerprint; a planted single-byte tamper
    // changes one frame and must still match (nf - 1 shared frames).
    QueryDef("q359_video_neardup", (s, d) =>
      videoNearDup(t(s, d, "documents")).orderBy("doc_a", "doc_b"),
      Some("""WITH base AS MATERIALIZED (
             |  SELECT doc_id, text FROM documents
             |  WHERE octet_length(CAST(text AS BLOB)) % 3 = 2),
             |u AS MATERIALIZED (
             |  SELECT doc_id, text FROM base
             |  UNION ALL
             |  SELECT doc_id + 1000000,
             |    substr(text, 1, 10) || 'x' || substr(text, 12)
             |  FROM base WHERE doc_id % 10 = 0),
             |v AS (
             |  SELECT doc_id, text,
             |    CAST(length(text) AS BIGINT) AS nb,
             |    CAST(length(text) AS BIGINT) % 16 + 1 AS nf
             |  FROM u),
             |fr AS MATERIALIZED (
             |  SELECT DISTINCT doc_id,
             |    md5(substr(text, CAST(f * nb // nf AS INTEGER) + 1,
             |      CAST((f + 1) * nb // nf - f * nb // nf AS INTEGER)))
             |      AS fh
             |  FROM (SELECT doc_id, text, nb, nf, unnest(range(nf)) AS f
             |        FROM v)
             |  WHERE (f + 1) * nb // nf > f * nb // nf),
             |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nfr
             |       FROM fr GROUP BY doc_id),
             |pr AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |    CAST(count(*) AS BIGINT) AS n_shared
             |  FROM fr a JOIN fr b ON a.fh = b.fh AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT doc_a, doc_b, n_shared, sa.nfr AS n_a, sb.nfr AS n_b
             |FROM pr
             |JOIN sz sa ON pr.doc_a = sa.doc_id
             |JOIN sz sb ON pr.doc_b = sb.doc_id
             |WHERE n_shared * 3 >= sa.nfr + sb.nfr
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // ---- Pigeonhole block-load report (the BlockDfCap instrument) ---------
    // q266's bucket-load discipline applied to q337's image block index:
    // per block and candidate cap, the bucket census, the candidate-pair
    // bill sum(df*(df-1)/2), and the fenced/kept split — the table an
    // operator reads to retune BlockDfCap before a petabyte image run
    // (organic load on a 16-bit block grows as n/2^16; the fence is for
    // boilerplate buckets orders of magnitude above that). Reads only
    // the df DISTRIBUTION (one map-combined agg), never the pair join;
    // the cap sweep rides the tiny df table (the q280 one-pass trick).
    QueryDef("q360_phash_block_load", (s, d) =>
      phashBlockLoad(t(s, d, "documents")).reportSorted("blk", "cap"),
      Some(s"""WITH $sqlPhashSigCtes,
             |blocks AS MATERIALIZED (
             |  SELECT doc_id, b.blk,
             |    (CASE WHEN b.blk < 2 THEN lo >> (b.blk * 16)
             |          ELSE hi >> ((b.blk - 2) * 16) END) & 65535 AS bv
             |  FROM sig CROSS JOIN
             |    (SELECT CAST(unnest(range(4)) AS INTEGER) AS blk) b),
             |df AS MATERIALIZED (
             |  SELECT blk, bv, CAST(count(*) AS BIGINT) AS nd
             |  FROM blocks GROUP BY 1, 2)
             |SELECT blk, cap,
             |  CAST(count(*) AS BIGINT) AS n_buckets,
             |  CAST(coalesce(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END), 0)
             |    AS BIGINT) AS n_pairing,
             |  CAST(max(nd) AS BIGINT) AS max_k,
             |  CAST(coalesce(sum(nd * (nd - 1) // 2), 0) AS BIGINT)
             |    AS pairs_total,
             |  CAST(coalesce(sum(CASE WHEN nd > cap THEN 1 ELSE 0 END), 0)
             |    AS BIGINT) AS n_hot,
             |  CAST(coalesce(sum(CASE WHEN nd > cap
             |    THEN nd * (nd - 1) // 2 ELSE 0 END), 0) AS BIGINT)
             |    AS fenced_pairs,
             |  CAST(coalesce(sum(nd * (nd - 1) // 2), 0)
             |    - coalesce(sum(CASE WHEN nd > cap
             |        THEN nd * (nd - 1) // 2 ELSE 0 END), 0) AS BIGINT)
             |    AS kept_pairs
             |FROM df CROSS JOIN $sqlCapGrid
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- Audio anchor-load report (the AnchorDfCap instrument) ------------
    // The same q266 discipline for q340's anchor equi-join: per
    // candidate cap, anchor-key census, pair bill, and the fenced/kept
    // split. Anchor df is content-bound (boilerplate = silence/template
    // frames), so unlike q360 the organic band does NOT grow with the
    // corpus — the report confirms the fence sits above it.
    QueryDef("q361_audio_anchor_load", (s, d) =>
      audioAnchorLoad(t(s, d, "documents")).reportSorted("cap"),
      Some(s"""WITH $sqlAudioAnchorCtes,
             |df AS MATERIALIZED (
             |  SELECT h, CAST(count(*) AS BIGINT) AS nd
             |  FROM sel GROUP BY 1)
             |SELECT cap,
             |  CAST(count(*) AS BIGINT) AS n_keys,
             |  CAST(coalesce(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END), 0)
             |    AS BIGINT) AS n_pairing,
             |  CAST(max(nd) AS BIGINT) AS max_k,
             |  CAST(coalesce(sum(nd * (nd - 1) // 2), 0) AS BIGINT)
             |    AS pairs_total,
             |  CAST(coalesce(sum(CASE WHEN nd > cap THEN 1 ELSE 0 END), 0)
             |    AS BIGINT) AS n_hot,
             |  CAST(coalesce(sum(CASE WHEN nd > cap
             |    THEN nd * (nd - 1) // 2 ELSE 0 END), 0) AS BIGINT)
             |    AS fenced_pairs,
             |  CAST(coalesce(sum(nd * (nd - 1) // 2), 0)
             |    - coalesce(sum(CASE WHEN nd > cap
             |        THEN nd * (nd - 1) // 2 ELSE 0 END), 0) AS BIGINT)
             |    AS kept_pairs
             |FROM df CROSS JOIN $sqlCapGrid
             |GROUP BY 1 ORDER BY 1""".stripMargin)),
  )

  /** The audio-alignment universe (q340): audio-format payloads plus,
    * every 15th audio doc, a deterministic SEGMENT-COPY
    * variant at doc_id + 2000000 — 11 filler bytes then the original
    * payload from byte 30 on, so the planted pair shares a long run at
    * byte offset -18 (q106's versioning trick). Map-only. */
  def audioCorpus(documents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val base = documents
      .filter(octet_length(col("text")) % 3 === 1 &&
        octet_length(col("text")) >= 64)
      .select(col("doc_id"), col("text"))
    base.unionByName(
      base.filter(col("doc_id") % 15L === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(lit("q" * 11),
            col("text").substr(lit(30), length(col("text")))).as("text")))
  }

  /** Anchor extraction shared by [[audioAlign]] and [[audioAnchorLoad]]
    * (one definition, so the alignment join and its load report cannot
    * drift): per audio payload, the 0-mod-p content-keyed anchor frames
    * as (doc_id, p, h) — 16-byte frame hashes at stride 1, kept when
    * (c0*31 + c1) % 8 == 0 on the frame's first two bytes. Selection
    * depends only on frame content, so a shared run anchors in BOTH
    * payloads at equal content positions; expected density 1/8. PURE
    * map-side (codegen'd windowHashes + an arithmetic filter). */
  private[queries] def audioAnchors(documents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    audioCorpus(documents)
      .select(col("doc_id"), split(col("text"), "").as("tc"))
      .select(col("doc_id"), col("tc"), posexplode(graft.functions.ArrayExprs
        .windowHashes(col("tc"), 16)).as(Seq("p", "h")))
      .filter((ascii(element_at(col("tc"), col("p") + 1)) * 31 +
        ascii(element_at(col("tc"), col("p") + 2))) % 8 === 0)
      .select("doc_id", "p", "h")

  /** Anchor-hash document-frequency cap of [[audioAlign]] — the q229
    * stop-key fence for the audio modality: an anchor hash shared by
    * more than this many frames corpus-wide is boilerplate (silence,
    * test tones, template jingles — content so common it carries no
    * pair-specific alignment signal) and is fenced out of the candidate
    * equi-join. Organic anchor df is content-bound, not corpus-bound
    * (measured max 5 at sf0.01, 24 at sf0.1 — the same content-keyed
    * regime as the winnow tier's df <= 50 fingerprint cap), so 64 is a
    * fence above the organic band, not a recall knob. The documented
    * approximation: a pair loses an alignment vote only for its
    * BOILERPLATE shared frames; a copied passage's pair-local anchors
    * all survive (PipelineSpec plants a hot silence prefix and proves
    * the planted alignments intact while the boilerplate-only pair
    * blow-up is fenced). [[audioAnchorLoad]] (q361) is the instrument
    * that retunes this on a concrete corpus. */
  private[queries] val AnchorDfCap = 64

  /** q340's body: offset-robust SEGMENT alignment between audio-format
    * payloads — the fingerprint-anchor method (Shazam-style constellation
    * reduced to 1-D): hash every 16-byte frame (stride 1, the stub's
    * stand-in for spectral frames), keep ANCHOR frames by content-keyed
    * sampling (see [[audioAnchors]] — anchors only seed the offset-mode
    * vote), equi-join anchors on the 62-bit frame hash under the
    * [[AnchorDfCap]] stop-key fence, and read each pair's alignment off
    * the MODE of the position-difference distribution: per (pair,
    * offset) anchor count and byte span, best offset per pair by
    * (anchors, span). Unlike set near-dup (q337's dHash), this finds a
    * COPIED PASSAGE at any position — transcript overlap, sampled
    * audio, quoted segments.
    *
    * Scale shape: per-payload work is PURE map-side; the only
    * corpus-wide operation is the df-capped anchor equi-join on narrow
    * 8-byte keys, built q229-style — df count first (map-side partial
    * agg, safe at any key multiplicity), eligible keys (2 <= df <=
    * dfCap) joined back, posting lists grouped per key (collect_list
    * BOUNDED by the cap) and paired by nested Generates, so per-key
    * pair cost is <= C(dfCap, 2) and a billion-frame silence bucket
    * never forms. Group-bys ride the join's partitioning. */
  def audioAlign(documents: org.apache.spark.sql.DataFrame,
      dfCap: Int = AnchorDfCap): org.apache.spark.sql.DataFrame = {
    val minAnchors = 3L
    val anchors = audioAnchors(documents)
    val elig = anchors.groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= dfCap).select("h")
    val byKey = anchors.join(elig, "h")
      .groupBy("h")
      .agg(collect_list(struct(col("doc_id"), col("p"))).as("ds"))
    val byOffset = byKey
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (col("b.p") - col("a.p")).as("offset"), col("a.p").as("pa"))
      .groupBy("doc_a", "doc_b", "offset")
      .agg(count(lit(1)).as("n_anchors"),
        (max("pa") - min("pa") + 16).as("span_len"))
      .filter(col("n_anchors") >= minAnchors)
    byOffset
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_a", "doc_b")
          .orderBy(col("n_anchors").desc, col("span_len").desc, col("offset"))))
      .filter(col("rn") === 1)
      .select("doc_a", "doc_b", "offset", "n_anchors", "span_len")
  }

  /** Anchor-load report (q361) — the q266-style instrument for
    * [[AnchorDfCap]]: from the anchor-hash df distribution alone (never
    * the pair join), for each candidate cap the bucket counts, the pair
    * bill sum(df*(df-1)/2), how many keys the cap fences, and the
    * fenced/kept pair split. One anchor pass to the df table (map-side
    * partial agg); the sweep explodes the TINY df table over the cap
    * grid (the q280 one-pass-sweep trick). All exact int64. */
  def audioAnchorLoad(documents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    audioAnchors(documents)
      .groupBy("h").agg(count(lit(1)).as("nd"))
      .select(col("nd"), explode(array(LoadReportCaps.map(lit): _*)).as("cap"))
      .groupBy("cap")
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_pairing"),
        max("nd").as("max_k"),
        sum(expr("nd * (nd - 1) div 2")).as("pairs_total"),
        sum(when(col("nd") > col("cap"), 1L).otherwise(0L)).as("n_hot"),
        sum(when(col("nd") > col("cap"), expr("nd * (nd - 1) div 2"))
          .otherwise(0L)).as("fenced_pairs"))
      .withColumn("kept_pairs", col("pairs_total") - col("fenced_pairs"))

  /** The pHash family's hashing universe (q337/q339): img-format
    * payloads plus, every 10th doc, a deterministic
    * one-byte-edited variant at doc_id + 1000000 (both engines construct
    * the identical input — q106's versioning trick).
    * Map-only. */
  def phashCorpus(documents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val base = documents
      .filter(octet_length(col("text")) % 3 === 0)
      .select(col("doc_id"), col("text"))
    base.unionByName(
      base.filter(col("doc_id") % 10L === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(substring(col("text"), 1, 10), lit("x"),
            col("text").substr(lit(12), length(col("text")))).as("text")))
  }

  /** Per-signature pigeonhole blocks shared by [[phashNearDups]] and
    * [[phashBlockLoad]]: (doc_id, ph, blk, bv) — the dHash signature
    * split into 4 disjoint 16-bit block values. Map-only. */
  private def phashBlocks(sigs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val blocks = array((0 until 4).map(i =>
      shiftright(col("ph"), i * 16).bitwiseAND(lit(0xFFFFL))): _*)
    sigs.select(col("doc_id"), col("ph"),
      posexplode(blocks).as(Seq("blk", "bv")))
  }

  private def phashSigs(documents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    phashCorpus(documents).select(col("doc_id"),
      graft.functions.ArrayExprs.dhash64(col("text").cast("binary")).as("ph"))

  /** Block-bucket document-frequency cap of [[phashNearDups]] — the
    * q229 stop-key fence for the image modality: a (block, value)
    * bucket naming more than this many signatures is a boilerplate
    * gradient pattern (blank/template/solid-tile images whose dHash
    * degenerates to a handful of values) and is fenced out of candidate
    * generation. Sizing: organic bucket load on a 16-bit block is
    * n/2^16 in expectation (measured max 3 at sf0.01, 10 at sf0.1), so
    * 64 sits far above the gate corpora's organic band; UNLIKE the
    * anchor cap, this load grows with corpus size, so at production
    * scale the cap must be retuned to a multiple of n/2^16 from the
    * q360 report — the fence is for buckets orders of magnitude above
    * expectation (true boilerplate), which exact dedup (q44) already
    * owns. Completeness under the fence degrades gracefully: hamming
    * <= 3 guarantees >= 1 exactly-matching block, and a true edited
    * variant agrees on nearly all 64 bits, so it is missed only when
    * EVERY matching block value is boilerplate-hot — the planted-
    * template law in PipelineSpec pins that the planted one-byte
    * variants survive a fenced hot template. */
  private[queries] val BlockDfCap = 64

  /** q337's body, exposed for library use: perceptual near-duplicate
    * pairs over the img-format payloads, dHash-keyed,
    * candidate-blocked by the 4x16-bit pigeonhole index, popcount-
    * verified at hamming <= 3 (the pigeonhole guarantee's limit:
    * 3 flipped bits cannot touch all 4 blocks), over [[phashCorpus]]'s
    * universe with its planted variants.
    *
    * Candidate generation is the q229 df-capped posting join (see
    * [[BlockDfCap]]): per-bucket df first (map-side partial agg),
    * eligible buckets (2 <= df <= cap) joined back, posting lists
    * grouped per bucket (collect_list BOUNDED by the cap) and paired by
    * nested Generates — per-bucket pair cost <= C(cap, 2), and a
    * million-image blank-tile bucket never forms. */
  def phashNearDups(documents: org.apache.spark.sql.DataFrame,
      blockDfCap: Int = BlockDfCap): org.apache.spark.sql.DataFrame = {
    val exploded = phashBlocks(phashSigs(documents))
    val elig = exploded.groupBy("blk", "bv").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= blockDfCap).select("blk", "bv")
    exploded.join(elig, Seq("blk", "bv"))
      .groupBy("blk", "bv")
      .agg(collect_list(struct(col("doc_id"), col("ph"))).as("ds"))
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.ph").bitwiseXOR(col("b.ph"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  /** Block-bucket load report (q360) — the q266-style instrument for
    * [[BlockDfCap]]: per pigeonhole block and candidate cap, the bucket
    * census, the pair bill sum(df*(df-1)/2), and the fenced/kept split
    * the cap would produce. Reads ONLY the (block, value) df
    * distribution (one map-combined agg over the block stream — never
    * the pair join), then sweeps the cap grid over that tiny table.
    * All exact int64. */
  def phashBlockLoad(documents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    phashBlocks(phashSigs(documents))
      .groupBy("blk", "bv").agg(count(lit(1)).as("nd"))
      .select(col("blk"), col("nd"),
        explode(array(LoadReportCaps.map(lit): _*)).as("cap"))
      .groupBy("blk", "cap")
      .agg(count(lit(1)).as("n_buckets"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_pairing"),
        max("nd").as("max_k"),
        sum(expr("nd * (nd - 1) div 2")).as("pairs_total"),
        sum(when(col("nd") > col("cap"), 1L).otherwise(0L)).as("n_hot"),
        sum(when(col("nd") > col("cap"), expr("nd * (nd - 1) div 2"))
          .otherwise(0L)).as("fenced_pairs"))
      .withColumn("kept_pairs", col("pairs_total") - col("fenced_pairs"))
}
