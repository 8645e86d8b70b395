package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering the engine's native expressions for SQL
  * users: `SELECT haversine_m(lat1, lon1, lat2, lon2)`,
  * `SELECT long_dot(a, b)`, `SELECT minhash_signature(text, 3, 32)`.
  *
  * The harnesses and tests install the functions and [[GeoPruneRule]]
  * through `graft.Session.configure`, which works on a live session.
  * Elsewhere, install via
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`; or call
  * [[GraftExtensions.register]] on a live session (functions only).
  *
  * Only expressions whose every parameter is SQL-expressible are
  * registered; parameters that are scalar CONFIGURATION (shingle size,
  * band bits, thresholds) are accepted as foldable integer literals and
  * extracted at resolution time. Expressions carrying driver-built
  * reference objects (BloomProbe's filter words, ArgminDistance's
  * centroid matrix, CollectCappedLongs' buffer) stay Column-API-only —
  * there is no honest SQL literal for them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptors.foreach(ext.injectFunction)
    // radius-search filters gain sargable coordinate bands (GeoPruneRule)
    ext.injectOptimizerRule(_ => GeoPruneRule)
  }
}

object GraftExtensions {

  /** A scalar config parameter: must be a foldable integral literal
    * (1-indexed position reported on error).
    */
  private def litLong(name: String, args: Seq[Expression], i: Int): Long = {
    val e = args(i)
    require(e.foldable,
      s"$name: argument ${i + 1} must be a literal, got ${e.sql}")
    e.eval() match {
      case l: Long => l
      case n: Int => n.toLong
      case n: Short => n.toLong
      case n: Byte => n.toLong
      case other => throw new IllegalArgumentException(
        s"$name: argument ${i + 1} must be an integer literal, got $other")
    }
  }

  private def arity(name: String, args: Seq[Expression], n: Int): Unit =
    require(args.length == n,
      s"$name expects $n arguments, got ${args.length}")

  private def descriptor(name: String, clazz: Class[_],
                         build: Seq[Expression] => Expression)
  : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(clazz.getName, name), build)

  val descriptors
  : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      descriptor("haversine_m", classOf[Haversine], { args =>
        arity("haversine_m", args, 4)
        Haversine(args(0), args(1), args(2), args(3))
      }),
      descriptor("cosine_sim", classOf[CosineSimilarity], { args =>
        arity("cosine_sim", args, 2)
        CosineSimilarity(args(0), args(1))
      }),
      descriptor("long_dot", classOf[LongDot], { args =>
        arity("long_dot", args, 2)
        LongDot(args(0), args(1))
      }),
      descriptor("int8_cosine", classOf[Int8Cosine], { args =>
        arity("int8_cosine", args, 2)
        Int8Cosine(args(0), args(1))
      }),
      descriptor("cosine_ge", classOf[CosineGE], { args =>
        arity("cosine_ge", args, 6)
        CosineGE(args(0), args(1), args(2), args(3),
          litLong("cosine_ge", args, 4), litLong("cosine_ge", args, 5))
      }),
      descriptor("minhash_signature", classOf[MinhashSignature], { args =>
        arity("minhash_signature", args, 3)
        MinhashSignature(args(0),
          litLong("minhash_signature", args, 1).toInt,
          litLong("minhash_signature", args, 2).toInt)
      }),
      descriptor("lsh_bucket", classOf[LshBucket], { args =>
        arity("lsh_bucket", args, 3)
        LshBucket(args(0), litLong("lsh_bucket", args, 1).toInt,
          litLong("lsh_bucket", args, 2))
      }),
      descriptor("word_shingle_hashes", classOf[WordShingleHashes], { args =>
        arity("word_shingle_hashes", args, 2)
        WordShingleHashes(args(0),
          litLong("word_shingle_hashes", args, 1).toInt)
      }),
      descriptor("interleave_bits", classOf[InterleaveBits], { args =>
        arity("interleave_bits", args, 2)
        InterleaveBits(args(0), args(1))
      }),
      descriptor("jaro_winkler", classOf[JaroWinkler], { args =>
        arity("jaro_winkler", args, 2)
        JaroWinkler(args(0), args(1))
      }))

  /** Imperative registration on an existing session; functions already
    * registered there are left as they are.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    descriptors.foreach { case (id, _, build) =>
      if (!registry.functionExists(id)) {
        registry.createOrReplaceTempFunction(id.funcName, build, "scala_udf")
      }
    }
  }
}
