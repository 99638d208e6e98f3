package graft.tools

import org.apache.spark.sql.functions._

import graft.queries.Dedup

/** Measures the winnowing blocker's pair-completeness against the exact
  * PPJoin truth at a given Jaccard threshold — the evidence behind the
  * q275 winnow-blocked plan (q306 reports the same statistic at 0.7 as
  * a registered query; this probe sweeps other thresholds/SFs).
  *
  * Run: `sbt "runMain graft.tools.WinnowProbe <sfDir> <theta>"`.
  */
object WinnowProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val theta = args(1).toDouble
    val spark = graft.Session.local()
    try {
      val docs = graft.Tables.load(spark, dir, "documents")
      val mode = if (args.length > 2) args(2) else "set"
      val truth = mode match {
        case "multiset" =>
          Dedup.multisetJaccardJoin(docs, theta).select("doc_a", "doc_b")
        case "containment" =>
          // containment is directed; compare as unordered pairs
          Dedup.containmentJoin(docs, theta)
            .select(least(col("doc_sub"), col("doc_sup")).as("doc_a"),
              greatest(col("doc_sub"), col("doc_sup")).as("doc_b"))
            .distinct()
        case _ => Dedup.jaccardJoin(docs, theta).select("doc_a", "doc_b")
      }
      val cand = Dedup.winnowCandidates(docs)
      val nTruth = truth.count()
      val nCand = cand.count()
      val missed = truth.join(cand, Seq("doc_a", "doc_b"), "left_anti")
      val nMissed = missed.count()
      println(s"""{"sf":"$dir","theta":$theta,"n_truth":$nTruth,""" +
        s""""n_candidates":$nCand,"n_missed":$nMissed,""" +
        s""""pair_completeness":${
          if (nTruth == 0) 1.0 else (nTruth - nMissed).toDouble / nTruth}}""")
      if (nMissed > 0) missed.show(20, truncate = false)
    } finally spark.stop()
  }
}
