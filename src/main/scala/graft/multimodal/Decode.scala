package graft.multimodal

/** Stub media decoder for the multimodal column path.
  *
  * The execution container ships no image/audio/video codecs, so the codec
  * call itself is replaced by a deterministic fake derived from the payload
  * bytes. The surrounding contract is the real one a codec-backed
  * implementation would keep:
  *   - `open()` is called once per partition (expensive init amortized);
  *   - `decode` is pure per-record work on the opaque payload;
  *   - output is a flat, typed record suitable for a columnar sink.
  */
final case class MediaMeta(
    doc_id: Long,
    n_bytes: Int,
    format: String,
    width: Int,
    height: Int,
    n_frames: Int,
    checksum: Long)

final class Decode private () {
  /** STUB: a real implementation would call the codec here. */
  def decode(id: Long, payload: Array[Byte]): MediaMeta = {
    var h = 1125899906842597L // deterministic FNV-ish rolling checksum
    var i = 0
    while (i < payload.length) { h = 31 * h + (payload(i) & 0xff); i += 1 }
    val n = payload.length
    MediaMeta(
      doc_id = id,
      n_bytes = n,
      format = if (n % 3 == 0) "img" else if (n % 3 == 1) "audio" else "video",
      width = (n * 7919) % 1024,
      height = (n * 104729) % 768,
      n_frames = n % 16 + 1,
      checksum = h)
  }
}

object Decode {
  /** Per-partition initialization (a real codec would allocate here). */
  def open(): Decode = new Decode()
}

/** Downstream media transforms over decoded metadata. Each is the pure
  * per-record stage a real implementation would run on pixel/sample
  * buffers; here they operate on the stub metadata deterministically, so
  * the Spark-side pipeline shape (typed Datasets, per-partition batching,
  * flat columnar outputs) is fully exercised.
  */
object Transforms {

  final case class Resized(doc_id: Long, width: Int, height: Int,
      target_w: Int, target_h: Int, scale: Double)
  final case class Frame(doc_id: Long, frame_idx: Int, frame_checksum: Long)

  /** STUB resize: aspect-preserving fit into a 224 x 224 box. */
  def resize(m: MediaMeta): Resized = {
    val (targetW, targetH) = (224, 224)
    val s = math.min(targetW.toDouble / math.max(m.width, 1),
      targetH.toDouble / math.max(m.height, 1))
    Resized(m.doc_id, m.width, m.height,
      math.max(1, (m.width * s).toInt), math.max(1, (m.height * s).toInt), s)
  }

  /** STUB frame sampling: every 4th frame, checksum derived per frame. */
  def sampleFrames(m: MediaMeta): Seq[Frame] =
    (0 until m.n_frames by 4).map(i =>
      Frame(m.doc_id, i, m.checksum * 31 + i))
}
