package graft.plans

import graft.SparkSpec
import graft.dedup.TextHashing
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.expr

class NativeExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val registered = { NativeExpressions.register(spark); spark }

  test("simhash64 expression matches the Scala primitive, codegen path") {
    registered
    val texts = Seq("spark shuffles data", "the quick brown fox", "")
    val df = texts.toDF("t")
    val got = df.select(expr("simhash64(t)")).collect().map(_.getLong(0))
    assert(got.toSeq == texts.map(TextHashing.simHash64))
  }

  test("register keeps a session's existing registrations (no replacement per call)") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    registered
    val reg = spark.sessionState.functionRegistry
    def infos = NativeExpressions.all.map { case (n, _) => reg.lookupFunction(FunctionIdentifier(n)).get }
    val before = infos
    NativeExpressions.register(spark)
    assert(infos.zip(before).forall { case (a, b) => a eq b })
  }

  test("minhash_bands expression matches the Scala primitives") {
    registered
    val t = "a b c d e f g h i j"
    val df = Seq(t).toDF("t")
    val got = df.select(expr("minhash_bands(t, 3, 64, 16, 42)")).collect()(0)
      .getSeq[Long](0)
    val want = TextHashing.bandHashes(
      TextHashing.minHashSignature(TextHashing.shingleHashes(t, 3), 64, 42), 16, 4)
    assert(got.toSeq == want.toSeq)
    // default-arg form
    assert(df.select(expr("minhash_bands(t)")).collect()(0).getSeq[Long](0).toSeq == want.toSeq)
  }

  test("rolling_hash is deterministic and order-sensitive") {
    registered
    val df = Seq(("abc", "acb")).toDF("x", "y")
    val r = df.select(expr("rolling_hash(x)"), expr("rolling_hash(y)"), expr("rolling_hash(x)"))
      .collect()(0)
    assert(r.getLong(0) != r.getLong(1))
    assert(r.getLong(0) == r.getLong(2))
  }

  test("null inputs propagate null") {
    registered
    val df = Seq(Option.empty[String]).toDF("t")
    val r = df.selectExpr("simhash64(t)", "minhash_bands(t)", "rolling_hash(t)").collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("jaccard_long expression matches the Scala primitive") {
    registered
    val a = Array(1L, 2L, 3L, 4L)
    val b = Array(3L, 4L, 5L)
    val df = Seq((a.toSeq, b.toSeq)).toDF("a", "b")
    val got = df.select(expr("jaccard_long(a, b)")).collect()(0).getDouble(0)
    assert(got == TextHashing.jaccard(a, b))
    assert(got == 2.0 / 5.0)
  }

  test("plane_sig expression matches the seeded Rademacher reference computation") {
    registered
    val dim = 8; val bits = 6; val seed = 42
    val planes = Array.tabulate(bits, dim) { (b, i) =>
      if (TextHashing.fmix64((seed.toLong << 32) + (b.toLong * dim + i)) >= 0L) 1.0 else -1.0
    }
    def ref(v: Array[Float]): Int = {
      var sig = 0
      for (b <- 0 until bits) {
        val dot = (0 until math.min(v.length, dim)).map(i => planes(b)(i) * v(i)).sum
        if (dot > 0) sig |= (1 << b)
      }
      sig
    }
    val vecs = Seq(
      Array.tabulate(dim)(i => (i + 1).toFloat),
      Array.tabulate(dim)(i => math.sin(i.toDouble).toFloat),
      Array.fill(dim)(-1.0f))
    val df = vecs.map(v => Tuple1(v.toSeq)).toDF("v")
    val got = df.select(expr(s"plane_sig(v, $dim, $bits, $seed)")).collect().map(_.getInt(0))
    assert(got.toSeq == vecs.map(ref))
  }

  test("winnow_anchors guarantee: shared run of >= w+k-1 tokens yields a common fingerprint") {
    registered
    val rnd = new scala.util.Random(3)
    def words(n: Int, tag: String) = (0 until n).map(_ => s"$tag${rnd.nextInt(900)}").mkString(" ")
    val k = 4; val w = 5 // guarantee threshold: 8 shared tokens
    val shared = words(8, "s")
    // different alignments on both sides of the shared run
    val d1 = s"${words(13, "x")} $shared ${words(7, "x")}"
    val d2 = s"${words(4, "y")} $shared ${words(11, "y")}"
    val df = Seq(d1, d2).toDF("t")
    val fps = df.select(expr(s"winnow_anchors(t, $k, $w)").as("a")).collect()
      .map(_.getSeq[org.apache.spark.sql.Row](0).map(_.getLong(1)).toSet)
    assert((fps(0) intersect fps(1)).nonEmpty)
    // determinism: same text -> same fingerprint set
    val again = df.select(expr(s"winnow_anchors(t, $k, $w)").as("a")).collect()
      .map(_.getSeq[org.apache.spark.sql.Row](0).map(_.getLong(1)).toSet)
    assert(fps.toSeq == again.toSeq)
  }

  test("GraftCaches.releaseAll leaves no cached plans after a dedup query materializes") {
    registered
    val docs = Seq((1L, "a b c d e f g"), (2L, "a b c d e f h"), (3L, "x y z"))
      .toDF("doc_id", "text")
    graft.GraftCaches.releaseAll(spark) // isolate from earlier suites
    // an integral id: minHashPairs pairs so small a corpus on the driver
    // and persists nothing
    graft.dedup.Dedup.minHashPairs(docs, "doc_id", "text").count()
    assert(graft.GraftCaches.trackedCount == 0)
    // a string id takes the distributed plan
    val pairs = graft.dedup.Dedup.minHashPairs(
      docs.selectExpr("cast(doc_id as string) as doc_id", "text"), "doc_id", "text")
    pairs.count() // materialize (populates the tracked persists)
    assert(graft.GraftCaches.trackedCount == 3) // src, banded, shingles
    assert(!spark.sharedState.cacheManager.isEmpty)
    graft.GraftCaches.releaseAll(spark)
    assert(graft.GraftCaches.trackedCount == 0)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("dedup and ANN hot paths contain no ScalaUDF nodes") {
    registered
    val docs = Seq((1L, "a b c d e f g"), (2L, "a b c d e f h"), (3L, "x y z w q r s"))
      .toDF("doc_id", "text")
    val vecs = Seq((1L, Seq(1.0f, 0.0f, 0.5f)), (2L, Seq(0.9f, 0.1f, 0.5f)),
      (3L, Seq(-1.0f, 0.3f, -0.2f))).toDF("doc_id", "vec")
    val plans = Seq(
      graft.dedup.Dedup.minHashPairs(docs, "doc_id", "text"),
      // a string id takes minHashPairs' distributed plan
      graft.dedup.Dedup.minHashPairs(
        docs.selectExpr("cast(doc_id as string) as doc_id", "text"), "doc_id", "text"),
      graft.dedup.Dedup.ngramJaccardPairs(docs, "doc_id", "text"),
      graft.dedup.Dedup.embeddingNearDupPairs(vecs, "doc_id", "vec", dim = 3),
      graft.similarity.Similarity.lshTopK(vecs, vecs.limit(1), "doc_id", "vec", dim = 3))
      .map(_.queryExecution.executedPlan.toString)
    plans.foreach(p => assert(!p.contains("ScalaUDF"), "expected UDF-free plan"))
  }

  test("hash_embed matches EmbeddingOp.embedText and keeps the plan UDF-free") {
    registered
    val texts = Seq("spark shuffles Data!", "", "a b a b a")
    val df = texts.toDF("t")
    val got = df.select(expr("hash_embed(t, 16)")).collect().map(_.getSeq[Float](0))
    got.lazyZip(texts).foreach { (v, t) =>
      assert(v.toArray.sameElements(graft.operators.EmbeddingOp.embedText(t, 16)), t)
    }
    // plan-shape assert needs a non-foldable source (a literal local
    // relation constant-folds the whole projection away)
    val emb = graft.operators.EmbeddingOp.embed(
      spark.range(3).selectExpr("cast(id as string) as t"), "t", "vec", dim = 16)
    val plan = emb.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), "fallback embedder must stay in codegen")
    assert(plan.contains("hash_embed"))
    // null text embeds to the zero vector (UDF-era contract)
    val nul = graft.operators.EmbeddingOp.embed(
      Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "t"), "t", "vec", dim = 4)
    assert(nul.collect()(0).getSeq[Float](2).toSeq == Seq(0.0f, 0.0f, 0.0f, 0.0f))
  }

  test("nearest-centroid expressions over equal centroids are equal and print no identity") {
    val child = org.apache.spark.sql.catalyst.expressions.BoundReference(
      0, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType), true)
    // equal content in distinct arrays
    def rows = Array(Array(0.5, 1.0), Array(-2.0, 3.25), Array(0.0, 0.0))
    val exprs = Seq[(Expression, Expression)](
      NearestCentroidsExpr(child, Centroids(rows), 2) -> NearestCentroidsExpr(child, Centroids(rows), 2),
      NearestCentroidsDExpr(child, Centroids(rows), 1) -> NearestCentroidsDExpr(child, Centroids(rows), 1))
    for ((a, b) <- exprs) {
      assert(a == b)
      assert(a.semanticEquals(b))
      assert(a.hashCode == b.hashCode)
      assert(a.toString == b.toString)
      assert(!a.toString.contains("@"), a.toString)
    }
    // different content is a different expression
    val other = NearestCentroidsExpr(child, Centroids(Array(Array(0.5, 1.0))), 2)
    assert(other != exprs.head._1 && !other.toString.contains("@"))
  }
}
