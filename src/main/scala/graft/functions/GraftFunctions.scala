package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.ColumnBridge

/** SQL registration for the native kernels, so `spark.sql` users can
  * call them directly:
  *
  * {{{
  *   SELECT graft_minhash_sig(graft_shingles(split(text, ' '), 3), 32) ...
  * }}}
  *
  * Two paths: [[GraftFunctions.register]] for an existing session, or
  * `.withExtensions(new GraftExtensions)` /
  * `spark.sql.extensions=graft.functions.GraftExtensions` at session build.
  */
object GraftFunctions {

  private def intArg(c: Column, what: String): Int = ColumnBridge.expression(c) match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => sys.error(s"$what must be an integer literal, got $other")
  }

  /** Each SQL function is its [[ArrayExprs]] builder over the call's
    * arguments, so a kernel is spelled once. */
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq[(String, Seq[Column] => Column)](
    "graft_dot" -> (cs => ArrayExprs.dotq(cs(0), cs(1))),
    "graft_minhash_sig" -> (cs => ArrayExprs.minhashSig(cs(0), intArg(cs(1), "k"))),
    "graft_simhash64" -> (cs => ArrayExprs.simhash64(cs(0))),
    "graft_shingles" -> (cs => ArrayExprs.shingles(cs(0), intArg(cs(1), "n"))),
    "graft_fingerprint" -> (cs => ArrayExprs.polyFingerprint(cs(0))),
    "graft_hyperplane_bands" -> (cs =>
      ArrayExprs.hyperplaneBands(cs(0), intArg(cs(1), "bands"), intArg(cs(2), "bits"))),
    "graft_top_token_count" -> (cs => ArrayExprs.topTokenCount(cs(0))),
    "graft_window_hashes" -> (cs => ArrayExprs.windowHashes(cs(0), intArg(cs(1), "w"))),
    "graft_subword_tokens" -> (cs => ArrayExprs.subwordTokens(cs(0))))
    .map { case (name, f) =>
      name -> ((es: Seq[Expression]) => ColumnBridge.expression(f(es.map(ColumnBridge.column))))
    }

  /** Register on a live session (temp functions). */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}

/** Injector for `SparkSession.builder().withExtensions(...)` or the
  * `spark.sql.extensions` conf. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        (es: Seq[Expression]) => builder(es)))
    }
}
