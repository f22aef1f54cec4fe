package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{AvroDecodeEnvelope, AvroDecodeKey, AvroEncodeEnvelope, AvroEncodeKey}

/**
 * SparkSessionExtensions installer for graft's custom Catalyst expressions,
 * making them usable from SQL text as well as the typed Column API:
 *
 *   spark.sql.extensions=graft.GraftExtensions
 *
 *   SELECT avro_decode_envelope(msg, 1).pk FROM kafka_dump
 *
 * Each builder takes an optional trailing literal schema-registry id
 * (default 1 for value messages, 2 for key messages — the ids a Confluent
 * registry would assign the two subjects).
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def schemaId(args: Seq[Expression], default: Int): Int =
    if (args.size > 1) args(1).eval().asInstanceOf[Number].intValue() else default

  private def fn(name: String, builder: Seq[Expression] => Expression)
  : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (new FunctionIdentifier(name), new ExpressionInfo("graft.functions", name), builder)

  override def apply(ext: SparkSessionExtensions): Unit = {
    // custom logical operator: AS-OF JOIN (graft.plans.AsOfJoin) rewrites
    // to the single-shuffle union-window plan during resolution
    ext.injectResolutionRule(_ => graft.plans.RewriteAsOfJoin)
    ext.injectFunction(fn("avro_encode_envelope",
      args => AvroEncodeEnvelope(args.head, schemaId(args, 1))))
    ext.injectFunction(fn("avro_decode_envelope",
      args => AvroDecodeEnvelope(args.head, schemaId(args, 1))))
    ext.injectFunction(fn("avro_encode_key",
      args => AvroEncodeKey(args.head, schemaId(args, 2))))
    ext.injectFunction(fn("avro_decode_key",
      args => AvroDecodeKey(args.head, schemaId(args, 2))))
    // graft's codegen'd text kernels surfaced to SQL text — these are
    // REAL Catalyst Expression classes (injectFunction substitutes the
    // builder's result verbatim, so only concrete expressions qualify;
    // Column-composed operators like UrlOps stay typed-API-only, their
    // trees carry lazily-resolved function nodes the analyzer has
    // already passed by substitution time).
    def intArg(args: Seq[Expression], i: Int, default: Int): Int =
      if (args.size <= i) default
      else {
        val a = args(i)
        require(a.foldable, s"graft function argument ${i + 1} must be an integer literal, got: $a")
        val v = a.eval()
        require(v != null, s"graft function argument ${i + 1} must not be NULL")
        v match { // typed literals only — a '3' string must fail actionably
          case n: java.lang.Number => n.intValue()
          case other => throw new IllegalArgumentException(
            s"requirement failed: graft function argument ${i + 1} must be " +
              s"an integer literal, got ${other.getClass.getSimpleName}: $other")
        }
      }
    ext.injectFunction(fn("graft_shingle_hashes", args =>
      graft.functions.ShingleHashes(args.head, intArg(args, 1, 3))))
    ext.injectFunction(fn("graft_winnow", args =>
      graft.functions.WinnowHashes(args.head, intArg(args, 1, 3),
        intArg(args, 2, 4))))
    ext.injectFunction(fn("graft_simhash", args =>
      graft.functions.Simhash64(args.head, intArg(args, 1, 32))))
    ext.injectFunction(fn("graft_token_tf", args =>
      graft.functions.TokenTf(args.head)))
    ext.injectFunction(fn("graft_top_ngram_frac", args =>
      // kernel takes a token ARRAY — tokenize with the concrete split
      // expression (TextOps.tokens' \s+ rule)
      graft.functions.TopNgramFrac(
        org.apache.spark.sql.catalyst.expressions.StringSplit(
          args.head, Literal("\\s+"), Literal(-1)),
        intArg(args, 1, 2))))
    // TiDB vector literal render/parse (mounter.go:832-834, the string
    // form every codec carries)
    ext.injectFunction(fn("graft_vec_string", args =>
      graft.functions.VecToString(args.head)))
    ext.injectFunction(fn("graft_vec_parse", args =>
      graft.functions.VecFromString(args.head)))
  }
}
