package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{ContainsHan, ZhToSimplified, ZhToTraditional}

/** Engine installer (`spark.sql.extensions=graft.plans.GraftExtensions`):
  * registers the native zh expressions as SQL functions and injects the
  * merge-then-extract optimizer rule. The reference exposes these only as
  * private Java methods fused into its loop (`OMTZHModifier.java:196-250`);
  * here they are first-class, SQL-addressable, codegen'd functions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    def fn(name: String, clazz: Class[_], usage: String,
           builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(clazz.getCanonicalName, null, name, usage, ""),
        builder))

    fn("contains_han", classOf[ContainsHan],
      "contains_han(str) - true iff any codepoint has Unicode script Han",
      args => ContainsHan(args.head))
    fn("zh_to_simplified", classOf[ZhToSimplified],
      "zh_to_simplified(str) - Traditional->Simplified by a rule table compiled from ICU's rules",
      args => ZhToSimplified(args.head))
    fn("zh_to_traditional", classOf[ZhToTraditional],
      "zh_to_traditional(str) - Simplified->Traditional by a rule table compiled from ICU's rules",
      args => ZhToTraditional(args.head))

    // the one-pass signature kernels, SQL-addressable (int literals for
    // the shape parameters — foldable check at bind time)
    def intArg(e: Expression, what: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
    def arity(args: Seq[Expression], n: Int, usage: String): Unit =
      if (args.length != n) throw new IllegalArgumentException(
        s"wrong argument count ${args.length}; usage: $usage")
    fn("minhash_sig", classOf[graft.functions.MinHashSig],
      "minhash_sig(str, k) - k-lane MinHash signature over word shingles",
      args => { arity(args, 2, "minhash_sig(str, k)")
        graft.functions.MinHashSig(args.head, intArg(args(1), "k")) })
    fn("simhash64", classOf[graft.functions.SimHashSig],
      "simhash64(str) - 64-bit SimHash of the token stream",
      args => { arity(args, 1, "simhash64(str)")
        graft.functions.SimHashSig(args.head) })
    fn("winnow_fingerprint", classOf[graft.functions.WinnowFingerprint],
      "winnow_fingerprint(str, k, w) - winnowed Rabin-Karp k-gram fingerprints",
      args => { arity(args, 3, "winnow_fingerprint(str, k, w)")
        graft.functions.WinnowFingerprint(args.head,
          intArg(args(1), "k"), intArg(args(2), "w")) })
    fn("dot_ll", classOf[graft.functions.DotLL],
      "dot_ll(arr1, arr2) - tight-loop integer dot product",
      args => { arity(args, 2, "dot_ll(arr1, arr2)")
        graft.functions.DotLL(args.head, args(1)) })
    fn("interleave_bits", classOf[graft.functions.InterleaveBits],
      "interleave_bits(x, y) - Morton (Z-order) interleave of two 32-bit keys",
      args => { arity(args, 2, "interleave_bits(x, y)")
        graft.functions.InterleaveBits(args.head, args(1)) })

    ext.injectOptimizerRule(_ => SimplifyMergeThenExtract)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}
