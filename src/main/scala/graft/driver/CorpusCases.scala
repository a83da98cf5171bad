package graft
package driver

import org.apache.spark.sql.functions._

import graft.operators._
import graft.text.TextAnalysis
import graft.driver.Fixtures._

/** Corpus statistics, sketches, sampling and split assignment (§2.6). */
object CorpusCases {

  /** q_cms_heavyhitters oracle: rebuild the count-min sketch's CELLS in
    * SQL (word counts summed per (row, cell)), replay the row-hash
    * schedule `cell_d = fmix64(hash64(w) ^ fmix64((42<<32)+d)) mod 2048`
    * bit-for-bit, and take the min-cell estimate — the bloom-replica
    * treatment applied to frequencies.
    */
  private def cmsOracleSql: String =
    raw"""WITH words AS (
       |  SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
       |                            w -> w <> '')) AS w
       |  FROM documents
       |), counts AS (SELECT w, count(*) AS c FROM words GROUP BY w),
       |ph AS (
       |  SELECT w, c, list_reduce(list_prepend(0::HUGEINT,
       |    [ord(substring(w, i, 1))::HUGEINT FOR i IN range(1, length(w)+1)]),
       |    (acc, cp) -> (acc*257 + cp) % 18446744073709551616::HUGEINT) AS h0
       |  FROM counts),
       |""".stripMargin +
    fmixCtes("wh", "ph", "w, c", "h0", "h") + ",\n" +
    raw"""ds AS (SELECT unnest(range(0, 4)) AS d),
       |kh AS (SELECT d, (180388626432::HUGEINT + d) AS k0 FROM ds),
       |""".stripMargin +
    fmixCtes("kf", "kh", "d", "k0", "k") + ",\n" +
    raw"""vx AS (SELECT w, c, d, xor(h, k)::HUGEINT AS v0 FROM wh5, kf5),
       |""".stripMargin +
    fmixCtes("vf", "vx", "w, c, d", "v0", "v") + ",\n" +
    raw"""cellsrc AS (SELECT w, c, d, v % 2048 AS cell FROM vf5),
       |cells AS (SELECT d, cell, sum(c) AS cellsum FROM cellsrc GROUP BY d, cell),
       |est AS (
       |  SELECT s.w, min(cl.cellsum) AS cms_est
       |  FROM cellsrc s JOIN cells cl USING (d, cell) GROUP BY s.w),
       |top AS (SELECT w, c FROM counts ORDER BY c DESC, w LIMIT 20)
       |SELECT t.w AS word, CAST(t.c AS BIGINT) AS exact_count,
       |  CAST(e.cms_est AS BIGINT) AS cms_est
       |FROM top t JOIN est e ON t.w = e.w
       |ORDER BY exact_count DESC, word""".stripMargin

  val cases: Seq[Case] = Seq(
    // §2.6 per-source length distribution (r10): exact linear-interp
    // percentiles of the whitespace token count — the curator's length
    // profile per source. Spark `percentile` and DuckDB `quantile_cont`
    // share the (n-1)*p linear interpolation on doubles. Scale note:
    // exact percentile state is proportional to the DISTINCT value
    // domain per group — fine for token counts (small bounded ints,
    // partial-agg-combinable); for unbounded continuous columns use
    // approx_percentile at corpus scale.
    Case("q_length_percentiles", (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("source"),
          size(split(trim(col("text")), "\\s+")).cast("double").as("n"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          expr("percentile(n, 0.25)").as("p25"),
          expr("percentile(n, 0.5)").as("p50"),
          expr("percentile(n, 0.75)").as("p75"),
          max("n").as("mx"))
        .orderBy("source")
    }, oracle =
      raw"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  quantile_cont(n, 0.25) AS p25, quantile_cont(n, 0.5) AS p50,
        |  quantile_cont(n, 0.75) AS p75, max(n) AS mx
        |FROM (SELECT source,
        |        CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS n
        |      FROM documents)
        |GROUP BY source ORDER BY source""".stripMargin),

    // §2.6 per-(source, lang) corpus composition stats
    Case("q_source_stats", (s, dir) => {
      TextAnalysis.groupedStats(Tables.load(s, dir, "documents"),
        Seq("source", "lang"), "text", "n_chars")
        .orderBy("source", "lang")
    }, oracle =
      """SELECT source, lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS sum_tokens
        |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin),

    // §2.6 data-mixture re-weighting: per-source deterministic fractions
    Case("q_mixture_sample", (s, dir) => {
      Sampling.stratifiedSample(Tables.load(s, dir, "documents"), "doc_id", "source",
        Map("src0" -> 0.1, "src1" -> 0.5, "src2" -> 0.25), defaultFraction = 1.0,
        salt = "mix")
        .select("doc_id", "source").orderBy("doc_id")
    }, oracle =
      // a full default fraction compares against 'g' (above any hex
      // bucket), mirroring fractionToHex's keeps-everything contract
      """SELECT doc_id, source FROM documents
        |WHERE substr(md5(doc_id::VARCHAR || 'mix'), 1, 8) <
        |  CASE source WHEN 'src0' THEN '1999999a'
        |              WHEN 'src1' THEN '80000000'
        |              WHEN 'src2' THEN '40000000'
        |              ELSE 'g' END
        |ORDER BY doc_id""".stripMargin),

    // §2.6 exact-k stratified sampling (r10): 10 docs per source
    // by (md5, key) rank — the quota form of mixture re-weighting;
    // deterministic, monotone in k, WindowGroupLimit keeps the shuffle at
    // O(k * groups * tasks).
    Case("q_sample_k_per_group", (s, dir) => {
      Sampling.sampleKPerGroup(Tables.load(s, dir, "documents"),
          "doc_id", "source", k = 10, salt = "quota")
        .select("doc_id", "source").orderBy("doc_id")
    }, oracle =
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY substr(md5(doc_id::VARCHAR || 'quota'), 1, 8), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 10 ORDER BY doc_id""".stripMargin),

    // §2.6 per-source top-k sampling by a quality signal (window top-k —
    // the standard curriculum/sampling op over a sharded corpus)
    Case("q_topk_per_source", (s, dir) => {
      val scored = TextAnalysis.qualityFeatures(Tables.load(s, dir, "documents"), "text")
      scored.withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("source")
            .orderBy(col("n_words").desc, col("doc_id"))))
        .where(col("rnk") <= 5)
        .select("source", "rnk", "doc_id", "n_words")
        .orderBy("source", "rnk")
    }, oracle =
      """WITH t AS (SELECT doc_id, source,
        |  CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS INTEGER) AS n_words
        |FROM documents),
        |r AS (SELECT source, doc_id, n_words,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY n_words DESC, doc_id) AS INTEGER) AS rnk
        |FROM t)
        |SELECT source, rnk, doc_id, n_words FROM r WHERE rnk <= 5
        |ORDER BY source, rnk""".stripMargin),

    // §2.6 one-pass dataset profiling (exact subset: null counts +
    // string min/max per column from ONE aggregation over the table)
    Case("q_profile", (s, dir) => {
      Profile.profileExact(Tables.load(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus")).orderBy("column")
    }, oracle =
      """SELECT * FROM (
        |  SELECT 'o_custkey' AS "column", count(*) AS n_rows,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |    min(o_custkey::VARCHAR) AS min_str, max(o_custkey::VARCHAR) AS max_str
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderkey', count(*),
        |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    min(o_orderkey::VARCHAR), max(o_orderkey::VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', count(*),
        |    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    min(o_orderstatus), max(o_orderstatus)
        |  FROM orders
        |) ORDER BY "column"""".stripMargin),

    // §2.6 mergeable HLL sketch columns: per-(type, day) user sketches
    // built once, merged per type across days, estimated. 150 distinct
    // users/type keeps the DataSketches sketch in exact coupon mode, so
    // the merged estimate equals DuckDB's count(distinct) bit-for-bit —
    // the oracle checks the build+merge+estimate path end to end.
    Case("q_hll_sketch", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_type"),
          date_trunc("day", timestamp_micros(expr("ts div 1000"))).as("day"),
          col("user_id"))
      val daily = Sketches.hllAgg(ev, "user_id", Seq("event_type", "day"))
      Sketches.hllMerge(daily, "sketch", Seq("event_type"))
        .select(col("event_type"), Sketches.estimate(col("sketch")).as("n_users"))
        .orderBy("event_type")
    }, oracle =
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // §2.6 deterministic hash sampling: reproducible corpus subset whose
    // membership depends only on (key, salt) — engine-independent
    // (oracle recomputes the identical md5 buckets in DuckDB)
    Case("q_sample_hash", (s, dir) => {
      Sampling.hashSample(Tables.load(s, dir, "documents"), "doc_id", 0.25)
        .select("doc_id", "source").orderBy("doc_id")
    }, oracle =
      """SELECT doc_id, source FROM documents
        |WHERE substr(md5(doc_id::VARCHAR || 'graft'), 1, 8) < '40000000'
        |ORDER BY doc_id""".stripMargin),

    // §2.6 deterministic train/valid/test split assignment (hash ranges)
    Case("q_split_assign", (s, dir) => {
      Sampling.assignSplit(Tables.load(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
        .groupBy("split").agg(count(lit(1)).as("n"))
        .orderBy("split")
    }, oracle =
      """SELECT CASE
        |    WHEN substr(md5(doc_id::VARCHAR || 'graft'), 1, 8) < 'cccccccc' THEN 'train'
        |    WHEN substr(md5(doc_id::VARCHAR || 'graft'), 1, 8) < 'e6666666' THEN 'valid'
        |    ELSE 'test' END AS split,
        |  count(*) AS n
        |FROM documents GROUP BY 1 ORDER BY split""".stripMargin),

    // §2.6 count-min frequency sketch (r10): heavy-hitter words via a
    // mergeable 2048x4 sketch — the frequency companion to q_hll_sketch.
    // Only sketch bytes cross the exchange (map-side partials); the
    // top-20 exact words probe the sketch and the oracle rebuilds every
    // cell + the min-estimate bit-for-bit (recomputable poly-257+fmix64
    // row hashes — the bloom-replica treatment for frequencies).
    Case("q_cms_heavyhitters", (s, dir) => {
      val words = Tables.load(s, dir, "documents")
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .where(length(col("w")) > 0)
      val sketch = graft.operators.Sketches.countMinAgg(words, "w",
        width = 2048, depth = 4, seed = 42)
      val top = words.groupBy("w").agg(count(lit(1)).as("exact_count"))
        .orderBy(desc("exact_count"), asc("w")).limit(20)
      top.crossJoin(broadcast(sketch))
        .select(col("w").as("word"), col("exact_count"),
          graft.operators.Sketches.cmsEstimate(col("cms"), col("word")).as("cms_est"))
        .orderBy(desc("exact_count"), asc("word"))
    }, oracle = cmsOracleSql),

    // §2.6 group-leakage-safe splits (r9): split by SOURCE, not by doc —
    // all docs of a publisher land in the same split, the standard guard
    // against train/test leakage through shared provenance. Same
    // engine-independent md5 buckets as q_split_assign, keyed on source.
    Case("q_group_split", (s, dir) => {
      Sampling.assignSplit(Tables.load(s, dir, "documents"), "source",
          Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
        .select("doc_id", "source", "split")
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id, source, CASE
        |    WHEN substr(md5(source || 'graft'), 1, 8) < 'cccccccc' THEN 'train'
        |    WHEN substr(md5(source || 'graft'), 1, 8) < 'e6666666' THEN 'valid'
        |    ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin)
  )
}
