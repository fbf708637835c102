package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL-side registration of the engine's custom codegen expressions, so
  * `spark.sql("SELECT float_dot(a, b) ...")` works like any built-in.
  *
  * Two entry points, same descriptors:
  *   - config-driven for new sessions:
  *     `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  *   - imperative for an existing session: `GraftFunctions.register(spark)`
  *
  * This is the standard `SparkSessionExtensions.injectFunction` tier — no
  * forked analyzer, no reflection into the builtin registry. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(ext.injectFunction)
    // rule BUILDERS are the extensions path's only per-session hook, so the
    // session tuning rides on a check-rule builder that checks nothing —
    // the same `SessionTuning.tune` the imperative path runs. Idempotent;
    // user-set values respected.
    ext.injectCheckRule { session =>
      SessionTuning.tune(session)
      _ => ()
    }
  }
}

object GraftFunctions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft.functions", name, usage)

  private def foldableLong(e: Expression, who: String): Long = e.eval() match {
    case i: Int => i.toLong
    case l: Long => l
    case other => throw new IllegalArgumentException(
      s"$who expects a foldable integer literal, got $other")
  }

  /** (identifier, info, builder) triples for `injectFunction` /
    * `FunctionRegistry.registerFunction`. */
  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("float_dot"),
      info("float_dot", "float_dot(a, b) - dot product of two array<float> columns in double"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "float_dot(a, b) takes 2 arguments")
        FloatDot(args(0), args(1))
      }),
    (FunctionIdentifier("float_double_dot"),
      info("float_double_dot",
        "float_double_dot(a, b) - dot of array<float> a against array<double> b in double"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "float_double_dot(a, b) takes 2 arguments")
        FloatDoubleDot(args(0), args(1))
      }),
    (FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(hashes, k[, seed]) - k-wide MinHash signature of array<long>"),
      (args: Seq[Expression]) => {
        require(args.size == 2 || args.size == 3, "minhash_sig(hashes, k[, seed])")
        val k = foldableLong(args(1), "minhash_sig k").toInt
        val seed = if (args.size == 3) foldableLong(args(2), "minhash_sig seed") else 42L
        MinHashSig(args(0), k, seed)
      }),
    (FunctionIdentifier("simhash_pack"),
      info("simhash_pack", "simhash_pack(hashes) - 64-bit SimHash of array<long>"),
      (args: Seq[Expression]) => {
        require(args.size == 1, "simhash_pack(hashes) takes 1 argument")
        SimHashPack(args(0))
      }),
    (FunctionIdentifier("compress_ratio"),
      info("compress_ratio", "compress_ratio(s) - zlib compression ratio of a string's UTF-8 bytes"),
      (args: Seq[Expression]) => {
        require(args.size == 1, "compress_ratio(s) takes 1 argument")
        CompressRatio(args(0))
      }),
    (FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize", "nfc_normalize(s) - Unicode NFC canonical composition of a string"),
      (args: Seq[Expression]) => {
        require(args.size == 1, "nfc_normalize(s) takes 1 argument")
        NfcNormalize(args(0))
      })
  )

  /** Register into an existing session (idempotent): the functions and the
    * [[SessionTuning.tune]] session tuning — the imperative sibling of
    * [[GraftExtensions]], giving the same confs. */
  def register(spark: SparkSession): Unit = {
    SessionTuning.tune(spark)
    descriptors.foreach { case (id, fi, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, fi, builder)
    }
  }
}
