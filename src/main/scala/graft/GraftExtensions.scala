package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType
import graft.functions.{CosineSimilarity, ImageHeader, KmvSampleAgg, KmvSmallest, LshBuckets, MinHashSig, PortableHash60, SimHash64, TopKByScore}

/** Session extension: registers the engine's native functions for SQL use.
  *
  * Install at session build time:
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions)...
  * }}}
  * or via config: `spark.sql.extensions=graft.GraftExtensions`. After that
  * `SELECT cosine_similarity(a.embedding, b.embedding) ...` works in plain
  * SQL (`spark.sql`), keeping the SQL frontend at parity with the DSL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptors.foreach(ext.injectFunction)
}

object GraftExtensions {
  private[graft] val descriptors
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cosine_similarity expects 2 arguments")
        CosineSimilarity(children.head, children(1))
      }),
    (FunctionIdentifier("portable_hash60"),
      new ExpressionInfo(classOf[PortableHash60].getName, "portable_hash60"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "portable_hash60 expects 1 argument")
        PortableHash60(children.head)
      }),
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "minhash_sig expects (array<long>, k)")
        MinHashSig(children.head, intLit(children(1), "minhash_sig k"))
      }),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "simhash64 expects 1 argument")
        SimHash64(children.head)
      }),
    (FunctionIdentifier("lsh_buckets"),
      new ExpressionInfo(classOf[LshBuckets].getName, "lsh_buckets"),
      (children: Seq[Expression]) => {
        require(children.length == 4, "lsh_buckets expects (embedding, bands, planesPerBand, dim)")
        LshBuckets(children.head, intLit(children(1), "bands"),
          intLit(children(2), "planesPerBand"), intLit(children(3), "dim"))
      }),
    (FunctionIdentifier("image_header"),
      new ExpressionInfo(classOf[ImageHeader].getName, "image_header"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "image_header expects 1 binary argument")
        ImageHeader(children.head)
      }),
    (FunctionIdentifier("topk_by_score"),
      new ExpressionInfo(classOf[TopKByScore].getName, "topk_by_score"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "topk_by_score expects (struct<score,id>, k)")
        TopKByScore(children.head, intLit(children(1), "topk_by_score k"))
      }),
    (FunctionIdentifier("kmv_smallest"),
      new ExpressionInfo(classOf[KmvSmallest].getName, "kmv_smallest"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "kmv_smallest expects (bigint, k)")
        KmvSmallest(children.head, intLit(children(1), "kmv_smallest k"))
      }),
    (FunctionIdentifier("kmv_sample"),
      new ExpressionInfo(classOf[KmvSampleAgg].getName, "kmv_sample"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "kmv_sample expects (struct<h,v>, k)")
        KmvSampleAgg(children.head, intLit(children(1), "kmv_sample k"))
      }))

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** Imperative registration for an already-built session (tests, REPL). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    descriptors.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
