package graft

import graft.ops.TextOps

/** DuckDB fragments that the oracles of more than one query family share.
  * Each fragment is the SQL twin of one engine op and is written once here;
  * an oracle interpolates it into its own `stripMargin` template. A
  * fragment is stripped already, so none of its lines may start with `|`
  * (the template's `stripMargin` would eat that character).
  */
private[graft] object OracleSql {

  /** DuckDB byte list of a VARCHAR's UTF-8 encoding. */
  def bytesSql(s: String): String =
    s"list_transform(generate_series(1, octet_length(encode($s))), " +
      s"i -> CAST('0x' || substr(hex(encode($s)), i*2-1, 2) AS INT))"

  /** DuckDB FNV-1a 64 (wrapping multiply via HUGEINT mod 2^64) over the
    * concatenation of `parts` with 0xFF separators after each — the
    * reference's FingerprintHash byte stream (hash.go:32-52). Result is the
    * SIGNED 64-bit reinterpretation, matching the Spark kernel's LongType.
    */
  def fnvSignedSql(parts: Seq[String]): String = fnv64Sql(fieldBytesSql(parts))

  /** The UTF-8 bytes of `parts`, each followed by a 0xFF separator. */
  def fieldBytesSql(parts: Seq[String]): String =
    parts.map(p => s"list_concat(${bytesSql(p)}, [255])")
      .reduce((a, b) => s"list_concat($a, $b)")

  /** Plain DuckDB FNV-1a 64 over one value's UTF-8 bytes (no separators) —
    * the upstream `FNV` converter (hash/fnv New64a), signed reinterpretation.
    */
  def fnvPlainSql(part: String): String = fnv64Sql(bytesSql(part))

  private def fnv64Sql(byteList: String): String =
    s"""(SELECT CAST(CAST(u AS HUGEINT)
       |  - CASE WHEN u >= CAST('9223372036854775808' AS UBIGINT)
       |         THEN CAST('18446744073709551616' AS HUGEINT) ELSE 0 END AS BIGINT)
       | FROM (SELECT CAST(list_reduce(
       |    list_prepend(CAST('14695981039346656037' AS HUGEINT), $byteList),
       |    (acc, b) -> (CAST(xor(CAST(acc AS UBIGINT), CAST(b AS UBIGINT)) AS HUGEINT)
       |                 * 1099511628211) % CAST('18446744073709551616' AS HUGEINT))
       |    AS UBIGINT) AS u))""".stripMargin

  /** Whitespace tokens of `text`, as TextOps splits them. */
  val toks = "string_split_regex(trim(text), '\\s+')"

  /** TextOps.stopwords as a DuckDB list literal. */
  val stopwordsSql: String = TextOps.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** DuckDB replica of TextOps.shingles(text, 3). */
  val shinglesSql =
    s"""CASE WHEN len($toks) >= 3
       |  THEN list_distinct(list_transform(generate_series(1, len($toks) - 2),
       |       i -> array_to_string(($toks)[i:i+2], ' ')))
       |  ELSE [array_to_string($toks, ' ')] END""".stripMargin

  private val minhashSigSql = (0 until 16).map(i =>
    s"list_min(list_transform(s, x -> md5('$i' || '|' || x)))").mkString("[", ", ", "]")

  private val bandsSql = (0 until 4).map(b =>
    s"md5('$b' || '|' || array_to_string(sig[${b * 4 + 1}:${b * 4 + 4}], '|'))")
    .mkString("[", ", ", "]")

  /** The minhash signature (k = 16) and band keys (4 bands) of
    * Dedup.minhashBandRows, as the CTEs `<p>sig` and `bands` over the md5
    * shingle sets `<p>sh(doc_id, s)`.
    */
  def sigBandsSql(p: String, bands: String): String =
    s"""${p}sig AS (SELECT doc_id, $minhashSigSql AS sig FROM ${p}sh),
       |$bands AS (SELECT doc_id, unnest($bandsSql) AS band FROM ${p}sig)""".stripMargin

  /** Dedup.minhashCandidates over `sh(doc_id, s)` with its hot-band cap
    * (maxBandGroup = 256): all pairs among the first 256 docs of a band by
    * doc_id, plus one star edge from the band's anchor (its least doc_id) to
    * every doc beyond. The pair rows follow the line `open`; the caller
    * closes them.
    */
  def minhashPairsSql(bands: String, open: String): String =
    s"""${sigBandsSql("", bands)},
       |ranked AS (SELECT doc_id, band,
       |             row_number() OVER (PARTITION BY band ORDER BY doc_id) AS rn,
       |             min(doc_id) OVER (PARTITION BY band) AS anchor
       |           FROM $bands),
       |$open
       |  SELECT l.doc_id AS a, r.doc_id AS b
       |  FROM ranked l JOIN ranked r ON l.band = r.band AND l.doc_id < r.doc_id
       |  WHERE l.rn <= 256 AND r.rn <= 256
       |  UNION
       |  SELECT anchor AS a, doc_id AS b FROM ranked WHERE rn > 256""".stripMargin

  /** Shingle-set sizes and pairwise intersections over `sh(doc_id, s)`, as
    * the CTEs `sizes` and `inter`; the caller closes `inter` with its
    * `GROUP BY 1, 2)`.
    */
  def overlapSql(sh: String): String =
    s"""sizes AS (SELECT doc_id, count(*) AS sz FROM $sh GROUP BY 1),
       |inter AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i
       |          FROM $sh l JOIN $sh r ON l.s = r.s AND l.doc_id < r.doc_id""".stripMargin

  /** Dedup.containmentPairs (threshold 0.9) over `d0(doc_id, text)`: the
    * pair count, the e6 containment sum, the fully contained pairs, and as
    * `lowJaccard` the pairs whose Jaccard is below `jMax`.
    */
  def containmentSql(jMax: String, lowJaccard: String): String =
    s"""sh AS (SELECT doc_id, unnest($shinglesSql) AS s FROM d0),
       |${overlapSql("sh")}
       |          GROUP BY 1, 2),
       |p AS (SELECT round(CAST(i AS DOUBLE) / least(sa.sz, sb.sz), 6) AS c,
       |             round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS j
       |      FROM inter JOIN sizes sa ON inter.a = sa.doc_id
       |                 JOIN sizes sb ON inter.b = sb.doc_id)
       |SELECT count(*) AS n,
       |  CAST(coalesce(sum(CAST(round(c * 1000000) AS BIGINT)), 0) AS BIGINT)
       |    AS sum_containment_e6,
       |  CAST(coalesce(sum(CASE WHEN c = 1.0 THEN 1 ELSE 0 END), 0) AS BIGINT)
       |    AS n_full,
       |  CAST(coalesce(sum(CASE WHEN j < $jMax THEN 1 ELSE 0 END), 0) AS BIGINT)
       |    AS $lowJaccard
       |FROM p WHERE c >= 0.9""".stripMargin

  /** Hyperplane matrix rows as DuckDB list literals — the SAME
    * driver-precomputed matrix the Spark kernel uses
    * ([[graft.functions.VectorKernelsImpl.planeMatrix]]); Double.toString
    * round-trips, so the SQL parses to bit-identical doubles.
    */
  private def planeRowsSql(planes: Int, dims: Int): IndexedSeq[String] = {
    val m = graft.functions.VectorKernelsImpl.planeMatrix(planes, dims)
    (0 until planes).map(p => m(p).map(_.toString).mkString("[", ", ", "]"))
  }

  /** DuckDB signature of a float-list column `v` under `planes` hyperplanes
    * (sign bit per plane packed little-endian, exactly like the kernel).
    */
  def sigSql(v: String, planes: Int, dims: Int): String = {
    val rows = planeRowsSql(planes, dims)
    (0 until planes).map { p =>
      s"""(CASE WHEN list_sum(list_transform(list_zip($v, ${rows(p)}),
         |  p0 -> CAST(p0[1] AS DOUBLE) * CAST(p0[2] AS DOUBLE))) >= 0
         |  THEN ${1L << p} ELSE 0 END)""".stripMargin
    }.mkString("(", " + ", ")")
  }

  /** DuckDB cosine of two float-list columns, rounded like the kernel. */
  def cosineSql(a: String, b: String): String =
    s"""round(
       |  list_sum(list_transform(list_zip($a, $b),
       |    p0 -> CAST(p0[1] AS DOUBLE) * CAST(p0[2] AS DOUBLE)))
       |  / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |     * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
       |  6)""".stripMargin

  /** Two unrolled Lloyd iterations of Clustering.kmeansModel (k = 8, the
    * first 8 rows by vec_id as seeds) over `e(vec_id, v)`: the CTEs `c0`,
    * `a0`, `asg0` (keeping `asg0Cols`), `dims`, `m1`, `c1`, `c1f` and `a1`.
    * Distances are bit-identical doubles (ordered fold over exact
    * float->double values and 6-decimal centroids), so every argmin
    * compares exact e6 integers.
    */
  def kmeansSql(asg0Cols: String): String = {
    def dist(a: String, centroids: String) =
      s"""$a AS (SELECT e.vec_id, c.cl,
         |         CAST(round(list_reduce(list_transform(range(1, len(e.v)+1),
         |                i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i])),
         |              (x, y) -> x + y) * 1e6, 0) AS BIGINT) AS dist_e6
         |       FROM e CROSS JOIN $centroids c)""".stripMargin
    s"""c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cl, v
       |       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
       |${dist("a0", "c0")},
       |asg0 AS (SELECT $asg0Cols FROM
       |          (SELECT *, row_number() OVER (PARTITION BY vec_id
       |             ORDER BY dist_e6 ASC, cl ASC) rn FROM a0)
       |         WHERE rn = 1),
       |dims AS (SELECT a.cl, unnest(e.v) AS x,
       |                unnest(range(1, len(e.v)+1)) AS i
       |         FROM asg0 a JOIN e ON a.vec_id = e.vec_id),
       |m1 AS (SELECT cl, i, round(sum(x) / count(*), 6) AS m
       |       FROM dims GROUP BY cl, i),
       |c1 AS (SELECT cl, list(m ORDER BY i) AS v FROM m1 GROUP BY cl),
       |c1f AS (SELECT c0.cl, coalesce(c1.v, c0.v) AS v
       |        FROM c0 LEFT JOIN c1 ON c0.cl = c1.cl),
       |${dist("a1", "c1f")}""".stripMargin
  }
}
