package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the native kernel
  * expressions so they are callable from SQL and from
  * `functions.call_function` — the sanctioned extension route (usable
  * via `.withExtensions` or `spark.sql.extensions` on any cluster).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinhashSignatureExpr].getName, "graft_minhash"),
      (args: Seq[Expression]) => MinhashSignatureExpr(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShinglesExpr].getName, "graft_shingles"),
      (args: Seq[Expression]) => ShinglesExpr(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_mix"),
      new ExpressionInfo(classOf[MinhashMixExpr].getName, "graft_minhash_mix"),
      (args: Seq[Expression]) => MinhashMixExpr(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "graft_dot"),
      (args: Seq[Expression]) => DotProductExpr(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimhashExpr].getName, "graft_simhash"),
      (args: Seq[Expression]) => SimhashExpr(args(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(classOf[WinnowExpr].getName, "graft_winnow"),
      (args: Seq[Expression]) => WinnowExpr(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_bpe_encode"),
      new ExpressionInfo(classOf[BpeEncodeExpr].getName, "graft_bpe_encode"),
      (args: Seq[Expression]) => BpeEncodeExpr(args(0), args(1), args(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_bpe_encode_ids"),
      new ExpressionInfo(classOf[BpeEncodeIdsExpr].getName, "graft_bpe_encode_ids"),
      (args: Seq[Expression]) =>
        BpeEncodeIdsExpr(args(0), args(1), args(2), args(3))))
    ext.injectFunction((
      FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalizeExpr].getName, "graft_nfc"),
      (args: Seq[Expression]) => NfcNormalizeExpr(args(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_misra_gries"),
      new ExpressionInfo(classOf[MisraGriesAgg].getName, "graft_misra_gries"),
      (args: Seq[Expression]) => MisraGriesAgg(args(0), args(1))))
    // Spark ships a codegen'd bloom-filter aggregate for its runtime
    // join filters but does NOT register it for users — surface it
    // (same class, zero custom code) for the incremental-dedup stores
    // ([[graft.dedup.Dedup.digestFilter]]):
    //   graft_bloom_agg(xxhash64(key), estimatedItems, numBits) → binary
    // (the probe side is [[graft.dedup.Dedup.bloomProbe]], over a
    // broadcast filter rather than a binary plan literal)
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (args: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          args(0), args(1), args(2))))
  }
}
