package graft

import org.apache.spark.sql.functions._

import graft.OracleSql.toks
import graft.Query.read
import graft.ops.TextOps

/** Bounded-state statistics over the documents table: the deterministic
  * HLL distinct sketch, Misra-Gries heavy hitters, count-min, and the exact
  * integer drift monitor.
  */
object SketchQueries {

  val table: Seq[Query] = Seq(

    // Deterministic-HLL distinct sketch: per-source distinct-text estimate
    // from md5-derived registers (bit-exact cross-engine, unlike
    // approx_count_distinct's Spark-internal HLL++), with the exact
    // distinct count alongside for the accuracy comparison
    Query("q_hll_distinct", (s, d) => {
      val dd = read(s, d, "documents")
      val sketch = TextOps.hllDistinct(dd, Seq(col("source")), col("text"), m = 512)
      val exact = dd.groupBy(col("source"))
        .agg(countDistinct(col("text")).as("exact_distinct"))
      sketch.join(exact, Seq("source"))
        .select(col("source"), col("n_zero").cast("long").as("n_zero"),
          col("sum_pow"), md5(col("registers_csv")).as("registers_md5"),
          col("estimate"), col("exact_distinct"))
    },
      // deterministic HLL: registers, exact-integer harmonic numerator, and
      // the estimate formula (verbatim op order) all replicated in SQL
      """WITH h AS (SELECT source, md5(text) AS x FROM documents),
        |r AS (SELECT source,
        |        (CAST('0x' || substr(x, 1, 3) AS INT) % 512) AS reg,
        |        CAST('0x' || substr(x, 4, 13) AS BIGINT) AS w FROM h),
        |mx AS (SELECT source, reg,
        |         max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS mj
        |       FROM r GROUP BY 1, 2),
        |g AS (SELECT DISTINCT source FROM h),
        |regs AS (
        |  SELECT g.source, t.i AS reg, coalesce(mx.mj, 0) AS mj
        |  FROM g CROSS JOIN range(512) t(i)
        |  LEFT JOIN mx ON mx.source = g.source AND mx.reg = t.i),
        |agg AS (
        |  SELECT source,
        |    count(*) FILTER (WHERE mj = 0) AS n_zero,
        |    CAST(sum(1::BIGINT << (53 - mj)) AS BIGINT) AS sum_pow,
        |    md5(string_agg(CAST(mj AS VARCHAR), ',' ORDER BY reg)) AS registers_md5
        |  FROM regs GROUP BY 1),
        |est AS (
        |  SELECT source, n_zero, sum_pow, registers_md5,
        |    0.7213 / (1.0 + 1.079 / 512.0) * 512.0 * 512.0
        |      * 9007199254740992.0 / CAST(sum_pow AS DOUBLE) AS raw
        |  FROM agg),
        |ex AS (SELECT source, count(DISTINCT text) AS exact_distinct
        |       FROM documents GROUP BY 1)
        |SELECT e.source, CAST(e.n_zero AS BIGINT) AS n_zero, e.sum_pow,
        |  e.registers_md5,
        |  CASE WHEN e.raw <= 2.5 * 512.0 AND e.n_zero > 0
        |       THEN round(512.0 * ln(512.0 / e.n_zero), 6)
        |       ELSE round(e.raw, 6) END AS estimate,
        |  ex.exact_distinct
        |FROM est e JOIN ex ON ex.source = e.source""".stripMargin),

    // heavy hitters with bounded state: Misra-Gries candidates (k=128)
    // + exact verification over the candidate sliver; the injected vocab
    // (500 unique tail tokens + a sub-threshold 'warm') forces real MG
    // eviction and a candidate the verify pass must reject
    Query("q_heavy_hitters", (s, d) => {
      import graft.ops.FreqStats
      val dd = read(s, d, "documents").withColumn("text", concat(col("text"), lit(" hot"),
        when(col("doc_id") % 3 === 0, lit(" warm")).otherwise(lit("")),
        lit(" tail"), col("doc_id").cast("string")))
      val words = dd.select(explode(split(trim(col("text")), "\\s+")).as("w"))
      FreqStats.heavyHitters(words, col("w"), phi = 0.01, k = 128)
    },
      // heavy hitters: the deterministic final answer is plain exact SQL —
      // the MG sketch only bounds state, the verify pass restores exactness
      """WITH t AS (
        |  SELECT text || ' hot'
        |    || (CASE WHEN doc_id % 3 = 0 THEN ' warm' ELSE '' END)
        |    || ' tail' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents),
        |w AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM t),
        |n AS (SELECT count(*) AS n FROM w)
        |SELECT w AS item, count(*) AS cnt FROM w, n
        |GROUP BY 1, n.n HAVING count(*) > 0.01 * n.n""".stripMargin),

    // count-min sketch: d=4 x w=1024 matrix (fully deterministic adds),
    // probed with the 20 lexicographically-smallest distinct words;
    // est >= exact always, equal in the collision-free buckets
    Query("q_countmin", (s, d) => {
      import graft.ops.FreqStats
      val words = graft.ops.Par.widen(read(s, d, "documents"), col("doc_id"))
        .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      val probes = words.distinct().orderBy(col("w")).limit(20)
      FreqStats.countMin(words, col("w"), probes, col("w"), d = 4, w = 1024)
    },
      // count-min: the d x w matrix is a bounded group-by over the same
      // md5/conv buckets; estimates = min over the d rows
      """WITH wds AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents),
        |probes AS (SELECT DISTINCT w FROM wds ORDER BY w LIMIT 20),
        |pos AS (
        |  SELECT w, r,
        |    CAST('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || w), 1, 15)
        |         AS BIGINT) % 1024 AS bucket
        |  FROM wds, range(4) t(r)),
        |matrix AS (SELECT r, bucket, count(*) AS cnt FROM pos GROUP BY 1, 2),
        |ppos AS (
        |  SELECT w, r,
        |    CAST('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || w), 1, 15)
        |         AS BIGINT) % 1024 AS bucket
        |  FROM probes, range(4) t(r)),
        |est AS (
        |  SELECT p.w AS item, min(coalesce(m.cnt, 0)) AS est
        |  FROM ppos p LEFT JOIN matrix m ON m.r = p.r AND m.bucket = p.bucket
        |  GROUP BY 1),
        |ex AS (SELECT w AS item, count(*) AS exact FROM wds GROUP BY 1)
        |SELECT e.item, CAST(e.est AS BIGINT) AS est,
        |  coalesce(ex.exact, 0) AS exact
        |FROM est e LEFT JOIN ex ON ex.item = e.item""".stripMargin),

    // corpus drift monitor between the doc_id-parity halves: exact integer
    // two-sample KS numerators over two integer features + categorical L1
    // over lang — bit-identical on any engine (divide by n0*n1 at read)
    Query("q_drift", (s, d) => {
      import graft.ops.Drift
      val dd = read(s, d, "documents").withColumn("s", (col("doc_id") % 2).cast("int"))
      Drift.ksDrift(dd, TextOps.wsTokenCount(col("text")), col("s"))
        .select(lit("ws_tokens_ks").as("metric"), col("ks_num").as("stat_num"),
          col("n0"), col("n1"))
        .unionByName(
          Drift.ksDrift(dd, col("n_chars"), col("s"))
            .select(lit("n_chars_ks").as("metric"), col("ks_num").as("stat_num"),
              col("n0"), col("n1")))
        .unionByName(
          Drift.l1Drift(dd, col("lang"), col("s"))
            .select(lit("lang_l1").as("metric"), col("l1_num").as("stat_num"),
              col("n0"), col("n1")))
    }, {
      // exact integer KS/L1 drift numerators between the doc_id-parity halves
      val wsTok = "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(" + toks + ") END"
      def ks(feature: String, label: String) =
        s"""SELECT '$label' AS metric, CAST(x.ks AS BIGINT) AS stat_num, t.n0, t.n1 FROM (
           |  SELECT max(abs(cum0 * n1 - cum1 * n0)) AS ks FROM (
           |    SELECT sum(c0) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum0,
           |           sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum1
           |    FROM (SELECT $feature AS v,
           |            sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS c0,
           |            sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS c1
           |          FROM documents GROUP BY 1))
           |  CROSS JOIN (SELECT count(*) FILTER (doc_id % 2 = 0) AS n0,
           |                     count(*) FILTER (doc_id % 2 = 1) AS n1
           |              FROM documents)) x
           |CROSS JOIN (SELECT count(*) FILTER (doc_id % 2 = 0) AS n0,
           |                   count(*) FILTER (doc_id % 2 = 1) AS n1
           |            FROM documents) t""".stripMargin
      s"""${ks(wsTok, "ws_tokens_ks")}
         |UNION ALL
         |${ks("n_chars", "n_chars_ks")}
         |UNION ALL
         |SELECT 'lang_l1' AS metric, CAST(x.l1 AS BIGINT) AS stat_num, t.n0, t.n1 FROM (
         |  SELECT sum(abs(c0 * n1 - c1 * n0)) AS l1 FROM (
         |    SELECT lang,
         |      sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS c0,
         |      sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS c1
         |    FROM documents GROUP BY 1)
         |  CROSS JOIN (SELECT count(*) FILTER (doc_id % 2 = 0) AS n0,
         |                     count(*) FILTER (doc_id % 2 = 1) AS n1
         |              FROM documents)) x
         |CROSS JOIN (SELECT count(*) FILTER (doc_id % 2 = 0) AS n0,
         |                   count(*) FILTER (doc_id % 2 = 1) AS n1
         |            FROM documents) t""".stripMargin
    })
  )
}
