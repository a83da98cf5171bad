package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.dedup.Dedup
import graft.operators.EmbeddingOp
import graft.similarity.Similarity
import graft.text.Decontamination

class NativeColumnsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (11L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
    (20L, "spark shuffles data between executors during wide transformations always"),
    (21L, "spark shuffles data between executors during wide transformations always"),
    (30L, "completely unrelated content about cooking pasta with garlic and olive oil"),
    (40L, "another standalone document discussing quantum error correction codes")
  ).toDF("doc_id", "text")

  /** Every operator that builds native expressions, run to rows. */
  private def runOperators(): Map[String, Set[Seq[Any]]] = {
    def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet
    val bench = Seq("the quick brown fox jumps over the lazy dog").toDF("question")
    val vecs = EmbeddingOp.embed(docs, "text", "vec", dim = 8)
    Map(
      "minHashPairs" -> rows(Dedup.minHashPairs(docs, "doc_id", "text")),
      "incrementalMinHashPairs" -> rows(Dedup.incrementalMinHashPairs(
        docs.where(col("doc_id") < 20), docs.where(col("doc_id") >= 20), "doc_id", "text")),
      "ngramJaccardPairs" -> rows(Dedup.ngramJaccardPairs(docs, "doc_id", "text")),
      "simHashPairs" -> rows(Dedup.simHashPairs(docs, "doc_id", "text")),
      "substringDedup" -> rows(Dedup.substringDedup(docs, "doc_id", "text", minLen = 8, k = 4)),
      "embeddingNearDupPairs" -> rows(Dedup.embeddingNearDupPairs(vecs, "doc_id", "vec",
        dim = 8, threshold = 0.5)),
      "decontaminate" -> rows(Decontamination.decontaminate(docs, bench, "doc_id", "text",
        "question", ngram = 5)),
      "decontaminateBloom" -> rows(Decontamination.decontaminateBloom(docs, bench, "doc_id",
        "text", "question", ngram = 5, expectedGrams = 1000L)),
      "lshTopK" -> rows(Similarity.lshTopK(vecs, vecs.where(col("doc_id") < 20), "doc_id",
        "vec", dim = 8, k = 3, bandBits = 2)),
      "embed" -> rows(vecs))
  }

  test("operators build their native expressions without the session's function registry") {
    val registry = spark.sessionState.functionRegistry
    val names = NativeExpressions.all.map(_._1)
    def registered = names.filter(n => registry.functionExists(FunctionIdentifier(n)))
    val onRegistered = runOperators()
    assert(onRegistered.values.forall(_.nonEmpty), s"fixture drifted: $onRegistered")
    try {
      names.foreach(n => registry.dropFunction(FunctionIdentifier(n)))
      assert(registered.isEmpty)
      val unregistered = runOperators()
      onRegistered.keys.foreach(op => assert(unregistered(op) == onRegistered(op), op))
      // no operator put a name back
      assert(registered.isEmpty, s"re-registered: $registered")
    } finally NativeExpressions.register(spark)
  }

  test("EmbeddingOp.embed takes column names with backticks and dots as they are") {
    Seq("te`xt", "te.xt").foreach { name =>
      val df = Seq("spark shuffles data", null).toDF(name)
      val got = EmbeddingOp.embed(df, name, "v", dim = 16).select("v").collect()
        .map(_.getSeq[Float](0))
      assert(got.toSeq == Seq(EmbeddingOp.embedText("spark shuffles data", 16).toSeq,
        EmbeddingOp.embedText("", 16).toSeq), name)
    }
  }
}
