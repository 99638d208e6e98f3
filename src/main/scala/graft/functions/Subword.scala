package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic subword tokenization — the WordPiece/BPE-family greedy
  * longest-match segmenter over a FIXED in-query merge table.
  *
  * Real LLM pipelines size every budget (packing, quotas, context
  * windows) in SUBWORD tokens, not whitespace words. The algorithm here
  * is the standard greedy inference pass of a trained merge vocabulary:
  * scan each word left to right, at every position emit the LONGEST
  * vocabulary entry that prefixes the remainder, falling back to the
  * single character (always making progress — unknown characters pass
  * through as themselves). Training the vocabulary is an offline job;
  * inference, which is what a query engine runs per corpus pass, is this
  * kernel.
  *
  * Portability contract (what makes q90 oracle-eligible): the greedy
  * scan advances by whole codepoints, and a candidate window containing
  * a non-ASCII codepoint can never match the ASCII-only vocabulary — so
  * the emitted token stream is identical whether windows are measured in
  * UTF-16 units (here) or codepoints (DuckDB's substr), for ANY input.
  */
object SubwordVocab {

  /** The fixed merge table: all single [a-z0-9] characters plus 2-4 char
    * merges (common English digrams/trigrams and corpus-frequent stems).
    * Deterministic and engine-neutral — the DuckDB oracle embeds the
    * same list as a literal. Max entry length 4 (the CASE ladder in the
    * oracle mirrors exactly the lengths that exist here). */
  val Default: Seq[String] =
    ("abcdefghijklmnopqrstuvwxyz0123456789".map(_.toString)) ++
      Seq(
        "th", "he", "in", "er", "an", "re", "on", "at", "en", "nd",
        "ti", "es", "or", "te", "ow", "ed", "is", "it", "al", "ar",
        "st", "to", "nt", "ng", "se", "ha", "as", "ou", "io", "le",
        "ve", "co", "me", "de", "ri", "ro", "ic", "ne", "ea", "ra",
        "ce", "ta", "da", "ba", "jo", "so", "qu", "ue", "wi", "am",
        "the", "ing", "ion", "tio", "ent", "ati", "ter", "que", "eam",
        "tab", "str", "sor", "fil", "win", "dat", "bat", "mer", "gro",
        "lin", "cus", "val", "sca", "agg", "key", "row",
        "data", "tion", "stre", "wind", "filt", "merg", "batc", "tabl",
        "quer", "join", "sort", "scan")

  /** The vocabulary as a DuckDB list literal, for oracle SQL. */
  def sqlList: String = Default.map(s => s"'$s'").mkString("[", ", ", "]")
}

/** Precomputed lookup structure for the greedy scan: one hash set per
  * entry length. [[ArrayExprs.subwordTokens]] passes it to the kernel as
  * an object literal, which generated code reads from its `references`. */
final class SubwordTable(vocab: Seq[String]) extends Serializable {
  val maxLen: Int = vocab.map(_.length).max
  private val sets: Array[java.util.HashSet[String]] =
    Array.tabulate(maxLen + 1) { l =>
      val s = new java.util.HashSet[String]()
      vocab.filter(_.length == l).foreach(s.add)
      s
    }
  def contains(s: String): Boolean =
    s.length <= maxLen && sets(s.length).contains(s)
}

object SubwordOps {

  /** Greedy longest-match segmentation of an ARRAY<STRING> word sequence
    * into one flat subword-token stream (word order, then char order).
    * Called from both interpreted eval and generated code. */
  def subwordTokens(arr: ArrayData, vt: SubwordTable): ArrayData = {
    val out = new java.util.ArrayList[AnyRef]
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val w = arr.getUTF8String(i).toString
      var off = 0
      while (off < w.length) {
        val rem = w.length - off
        var l = math.min(vt.maxLen, rem)
        var tok: String = null
        while (l >= 2 && tok == null) {
          val cand = w.substring(off, off + l)
          if (vt.contains(cand)) tok = cand
          l -= 1
        }
        if (tok == null) {
          // single-codepoint fallback: never split a surrogate pair
          val cc = Character.charCount(w.codePointAt(off))
          tok = w.substring(off, off + cc)
        }
        out.add(UTF8String.fromString(tok))
        off += tok.length
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}
