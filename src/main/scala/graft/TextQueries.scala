package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.OracleSql.{stopwordsSql, toks}
import graft.Query.read
import graft.ops.{Multimodal, TextOps}

/** Curation and text-analysis queries over the documents table: token,
  * quality, language and LM signals, PII redaction and pseudonymization,
  * sampling and mixture recipes, the C4/Gopher filters, BPE, DSIR, URL,
  * packing/chunking, blocklist and entropy signals, and the multimodal
  * decode plumbing.
  */
object TextQueries {

  /** Blocklist for q_blocklist — word phrases over the corpus vocabulary,
    * chosen to exercise every automaton path: overlapping phrases (0/1),
    * a single word that is a proper suffix of a longer phrase (2 vs 1 —
    * dictionary-link enumeration), a self-overlapping phrase (6), and
    * multi-word runs. At most 64 (Long bitset).
    */
  private[graft] val blocklistPhrases: Seq[String] = Seq(
    "fast table",     // 0
    "table value",    // 1: overlaps 0 on "table"
    "value",          // 2: proper suffix of 1 -> nested output link
    "row scan",       // 3
    "scan slow",      // 4: overlaps 3
    "merge batch",    // 5
    "a a",            // 6: self-overlapping in "a a a"
    "customer query", // 7
    "data window",    // 8
    "slow filter",    // 9
    "the row",        // 10
    "key agg row")    // 11: shares "row" with 3/10

  /** Deterministic PII injection shared by q_pii_redact / q_pii_pseudo /
    * q_pii_linkage: email unique per doc, IPs colliding across docs (mod
    * arithmetic), phone + ssn from the id — pure doc_id arithmetic on both
    * engines.
    */
  private def piiInjected(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(
      col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com or +1555"),
      lpad(col("doc_id") % 10000, 4, "0"),
      lit(" at 10.0."), col("doc_id") % 256, lit("."), col("doc_id") % 100,
      lit(" ssn 123-45-"), lpad(col("doc_id") % 10000, 4, "0")))

  /** Epoch-mix recipe for q_epoch_mix (name, min quality score, epochs). */
  private val epochTiers: Seq[(String, Double, Double)] =
    Seq(("hi", 0.71, 2.5), ("mid", 0.66, 1.0), ("low", 0.0, 0.25))

  /** Mixture plan config for q_mix_plan: es deliberately unweighted (rate-0
    * reporting path); zh's target exceeds its availability (rate-1 'zzzz'
    * path) at this budget.
    */
  private val mixWeights: Map[String, Double] =
    Map("en" -> 0.45, "de" -> 0.1, "fr" -> 0.05, "zh" -> 0.4)
  private val mixBudget: Long = 12000L

  /** DuckDB replica of FakeDecodeKernel's FNV-1a rolling state over the
    * UTF-8 bytes of `text` (HUGEINT mod-2^64 emulates Java's wrapping
    * long multiply).
    */
  private val fnvSql =
    """(SELECT CAST(list_reduce(
      |    list_prepend(CAST(1469598103934665603 AS HUGEINT),
      |      list_transform(generate_series(1, octet_length(encode(text))),
      |        i -> CAST(CAST('0x' || substr(hex(encode(text)), i*2-1, 2) AS INT) AS HUGEINT))),
      |    (acc, b) -> (CAST(xor(CAST(acc AS UBIGINT), CAST(b AS UBIGINT)) AS HUGEINT)
      |                 * 1099511628211) % 18446744073709551616) AS UBIGINT))""".stripMargin

  private def langScoreSql(markers: Seq[String]): String = {
    val list = markers.map(m => s"'$m'").mkString("[", ", ", "]")
    s"len(list_filter(string_split_regex(lower(text), '\\s+'), x -> list_contains($list, x)))"
  }

  /** Unrolled BPE trainer + encoder (q_bpe oracle): each word becomes a
    * `|c| |c| ...` pipe-delimited symbol string; one merge = one string
    * `replace` (greedy leftmost, boundary-safe because symbols never
    * contain pipes/spaces); each training iteration recomputes pair counts
    * from the previous representation with the same (count DESC, pair ASC)
    * tie-break the Spark trainer uses.
    */
  private def bpeSql(k: Int): String = {
    val charSplit = "rtrim(regexp_replace(w, '(.)', '|\\1| ', 'g'))"
    val mergeCtes = (1 to k).map { i =>
      s"""m$i AS (SELECT p, replace(p, '| |', '') AS q FROM (
         |    SELECT p, sum(f) AS c FROM (
         |      SELECT unnest(list_transform(range(1, len(l)),
         |               j -> l[j] || ' ' || l[j+1])) AS p, f
         |      FROM (SELECT string_split(r, ' ') AS l, f FROM r${i - 1}) z$i) zz$i
         |    GROUP BY p) t$i WHERE c >= 2 ORDER BY c DESC, p ASC LIMIT 1),
         |r$i AS (SELECT w, f,
         |  replace(r, coalesce((SELECT p FROM m$i), '~'),
         |             coalesce((SELECT q FROM m$i), '~')) AS r FROM r${i - 1})"""
        .stripMargin
    }
    val msCols = (1 to k).map(i =>
      s"coalesce((SELECT p FROM m$i), '~') AS p$i, " +
        s"coalesce((SELECT q FROM m$i), '~') AS q$i").mkString(", ")
    val repExpr = (1 to k).foldLeft(charSplit)((e, i) => s"replace($e, p$i, q$i)")
    s"""WITH wd AS (
       |  SELECT w, count(*) AS f FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
       |    FROM documents) wdi GROUP BY w),
       |r0 AS (SELECT w, f, $charSplit AS r FROM wd),
       |${mergeCtes.mkString(",\n")},
       |ms AS (SELECT $msCols),
       |doc AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
       |        FROM documents),
       |enc AS (SELECT doc_id, ws,
       |          list_transform(ws, w -> $repExpr) AS reps FROM doc, ms)
       |SELECT doc_id,
       |  cast(len(ws) AS BIGINT) AS n_words,
       |  cast(coalesce(list_sum(list_transform(reps,
       |    r -> len(string_split(r, ' ')))), 0) AS BIGINT) AS n_tokens,
       |  md5(array_to_string(list_transform(reps,
       |    r -> replace(r, '|', '')), ' ')) AS tokens_md5
       |FROM enc""".stripMargin
  }

  private val langCase = {
    val scores = TextOps.langMarkers.map { case (lang, m) => lang -> langScoreSql(m) }
    val best = scores.map(_._2).reduce((a, b) => s"greatest($a, $b)")
    val whens = scores.map { case (lang, sc) =>
      s"WHEN $sc = __best AND __best > 0 THEN '$lang'"
    }.mkString(" ")
    (best, s"CASE $whens ELSE 'und' END")
  }

  /** `b`: the per-doc counts behind TextOps.qualityColumns. */
  private val qualityCountsSql: String =
    s"""b AS (
       |  SELECT doc_id, length(text) AS n_chars,
       |         CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toks) END AS n_words,
       |         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
       |         len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
       |         len(list_filter($toks, w -> list_contains($stopwordsSql, w))) AS n_stop
       |  FROM documents)""".stripMargin

  /** SQL twin of [[piiInjected]]. */
  private val piiInjectSql: String =
    "text || ' contact user' || CAST(doc_id AS VARCHAR)" +
      " || '@example.com or +1555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')" +
      " || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR)" +
      " || '.' || CAST(doc_id % 100 AS VARCHAR)" +
      " || ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"

  val table: Seq[Query] = Seq(

    // token counting: whitespace + BPE-ish regex
    Query("q_token_counts", (s, d) =>
      read(s, d, "documents").select(col("doc_id"),
        TextOps.wsTokenCount(col("text")).cast("long").as("ws_tokens"),
        TextOps.bpeTokenCount(col("text")).cast("long").as("bpe_tokens")),
      s"""SELECT doc_id,
         |       CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toks) END AS ws_tokens,
         |       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_tokens
         |FROM documents""".stripMargin),

    // quality scoring
    Query("q_quality", (s, d) => {
      val cols = TextOps.qualityColumns(col("text"))
      read(s, d, "documents").select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
    },
      s"""WITH $qualityCountsSql,
         |r AS (
         |  SELECT doc_id, n_chars, n_words,
         |         CASE WHEN n_words > 0
         |              THEN round(CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words, 4)
         |              ELSE 0.0 END AS avg_word_len,
         |         CASE WHEN n_chars > 0 THEN round(CAST(n_punct AS DOUBLE) / n_chars, 6)
         |              ELSE 0.0 END AS punct_ratio,
         |         CASE WHEN n_chars > 0 THEN round(CAST(n_alpha AS DOUBLE) / n_chars, 6)
         |              ELSE 0.0 END AS alpha_ratio,
         |         CASE WHEN n_words > 0 THEN round(CAST(n_stop AS DOUBLE) / n_words, 6)
         |              ELSE 0.0 END AS stopword_ratio
         |  FROM b)
         |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, CAST(n_words AS BIGINT) AS n_words,
         |       avg_word_len, punct_ratio, alpha_ratio, stopword_ratio,
         |       round(greatest(0.0, least(1.0,
         |         alpha_ratio * 0.5 + least(stopword_ratio * 4.0, 1.0) * 0.3 +
         |         (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2)), 6) AS quality_score
         |FROM r""".stripMargin),

    // language ID (n-gram/marker heuristic)
    Query("q_lang_id", (s, d) =>
      read(s, d, "documents").select(TextOps.langId(col("text")).as("lang_pred"))
        .groupBy("lang_pred").agg(count(lit(1)).as("n")),
      {
        val (best, kase) = langCase
        s"""SELECT lang_pred, count(*) AS n FROM (
           |  SELECT $kase AS lang_pred FROM (
           |    SELECT text, $best AS __best FROM documents))
           |GROUP BY 1""".stripMargin
      }),

    // document fingerprinting
    Query("q_doc_fingerprint", (s, d) =>
      read(s, d, "documents").select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp")),
      "SELECT doc_id, md5(text) AS fp FROM documents"),

    // benchmark decontamination: broadcast the (deterministic doc_id%97
    // slice as the) eval set's 5-gram shingles, one corpus pass, count
    // distinct contaminated shingles per doc
    Query("q_decontaminate", (s, d) => {
      val all = read(s, d, "documents")
      graft.ops.Curation.contaminated(
        all, all.filter(col("doc_id") % 97 === 0), n = 5)
    },
      // 5-gram shingle overlap vs the doc_id%97 "benchmark" slice
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(
         |    CASE WHEN len($toks) >= 5
         |      THEN list_distinct(list_transform(generate_series(1, len($toks) - 4),
         |           i -> array_to_string(($toks)[i:i+4], ' ')))
         |      ELSE [array_to_string($toks, ' ')] END) AS shingle
         |  FROM documents
         |), bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
         |SELECT s.doc_id, count(*) AS n_hits
         |FROM sh s JOIN bench USING (shingle) GROUP BY 1""".stripMargin),

    // PII redaction: deterministic injected PII (email/ip/phone/ssn built
    // from doc_id) -> staged regexp redaction; emits per-class counts +
    // the redacted text's md5
    Query("q_pii_redact", (s, d) => {
      val injected = piiInjected(read(s, d, "documents"))
      val counts = graft.ops.Curation.piiCounts(col("text"))
      injected.select(
        col("doc_id") +:
          counts.map { case (n, c) => c.as(n) } :+
          md5(graft.ops.Curation.redact(col("text"))).as("redacted_md5"): _*)
    }, {
      // staged PII redaction over the deterministically injected text; the
      // regexes interpolate from Curation.piiPatterns so the two engines run
      // the SAME pattern strings (Java-regex ∩ RE2 subset)
      val Seq(email, ipv4, phone, ssn) = graft.ops.Curation.piiPatterns.map(_._2)
      s"""WITH t0 AS (
         |  SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR)
         |      || '@example.com or +1555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |      || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR)
         |      || '.' || CAST(doc_id % 100 AS VARCHAR)
         |      || ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS s0
         |  FROM documents
         |), t1 AS (SELECT doc_id, s0, regexp_replace(s0, '$email', '<EMAIL>', 'g') AS s1 FROM t0),
         |t2 AS (SELECT *, regexp_replace(s1, '$ipv4', '<IP>', 'g') AS s2 FROM t1),
         |t3 AS (SELECT *, regexp_replace(s2, '$phone', '<PHONE>', 'g') AS s3 FROM t2)
         |SELECT doc_id,
         |  len(regexp_extract_all(s0, '$email')) AS n_email,
         |  len(regexp_extract_all(s1, '$ipv4')) AS n_ipv4,
         |  len(regexp_extract_all(s2, '$phone')) AS n_phone,
         |  len(regexp_extract_all(s3, '$ssn')) AS n_ssn,
         |  md5(regexp_replace(s3, '$ssn', '<SSN>', 'g')) AS redacted_md5
         |FROM t3""".stripMargin
    }),

    // stable PII pseudonymization: same injected spans as q_pii_redact,
    // rewritten to <TAG:md5-prefix> tokens by the one-pass codegen kernel;
    // n_entities pins the staged match census, pseudo_md5 the exact
    // rewritten text
    Query("q_pii_pseudo", (s, d) => {
      import graft.ops.Curation
      val counts = Curation.piiCounts(col("text"))
      piiInjected(read(s, d, "documents")).select(col("doc_id"),
        counts.map(_._2).reduce(_ + _).as("n_entities"),
        md5(Curation.pseudonymize(col("text"))).as("pseudo_md5"))
    }, {
      // stable pseudonymization: the kernel's staged rewrite replayed per
      // class as split/extract + a list_transform rebuild (same md5-prefix
      // tokens, same class staging)
      val cls = graft.ops.Curation.piiPatterns.map { case (_, pat, repl) =>
        (repl.stripPrefix("<").stripSuffix(">"), pat)
      }
      val stages = cls.zipWithIndex.map { case ((tag, pat), i) =>
        val carry = (0 until i).map(j => s"c$j, ").mkString
        s"""g$i AS (
           |  SELECT doc_id, $carry s$i,
           |    regexp_split_to_array(s$i, '$pat') AS sg,
           |    regexp_extract_all(s$i, '$pat') AS sm
           |  FROM ${if (i == 0) "t0" else s"r${i - 1}"}),
           |r$i AS (
           |  SELECT doc_id, $carry len(sm) AS c$i,
           |    array_to_string(list_transform(range(1, len(sg) + 1),
           |      i -> sg[i] || CASE WHEN i <= len(sm)
           |        THEN '<$tag:' || substr(md5(sm[i]), 1, 8) || '>' ELSE '' END),
           |      '') AS s${i + 1}
           |  FROM g$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH t0 AS (
         |  SELECT doc_id, $piiInjectSql AS s0 FROM documents),
         |$stages
         |SELECT doc_id, CAST(c0 + c1 + c2 + c3 AS BIGINT) AS n_entities,
         |  md5(s4) AS pseudo_md5
         |FROM r3""".stripMargin
    }),

    // the pseudonym linkage table: per (class, pseudonym) mention + doc
    // counts — the cross-document entity analytics static redaction
    // destroys (injected IPs collide across docs by construction, so
    // n_docs > 1 rows must appear)
    Query("q_pii_linkage", (s, d) => {
      import graft.ops.Curation
      Curation.piiEntities(piiInjected(read(s, d, "documents")), col("doc_id"), col("text"))
    }, {
      // pseudonym linkage table: per-class surfaces from the SAME staged
      // strings as piiCounts, grouped by the 8-hex md5-prefix identity
      val Seq(email, ipv4, phone, ssn) = graft.ops.Curation.piiPatterns.map(_._2)
      s"""WITH t0 AS (
         |  SELECT doc_id, $piiInjectSql AS s0 FROM documents),
         |st AS (
         |  SELECT doc_id, s0,
         |    regexp_replace(s0, '$email', '<EMAIL>', 'g') AS t1,
         |    regexp_replace(regexp_replace(s0, '$email', '<EMAIL>', 'g'),
         |      '$ipv4', '<IP>', 'g') AS t2,
         |    regexp_replace(regexp_replace(regexp_replace(s0, '$email', '<EMAIL>', 'g'),
         |      '$ipv4', '<IP>', 'g'), '$phone', '<PHONE>', 'g') AS t3
         |  FROM t0),
         |e AS (
         |  SELECT 'EMAIL' AS pii_class, doc_id,
         |    unnest(regexp_extract_all(s0, '$email')) AS surface FROM st
         |  UNION ALL SELECT 'IP', doc_id,
         |    unnest(regexp_extract_all(t1, '$ipv4')) FROM st
         |  UNION ALL SELECT 'PHONE', doc_id,
         |    unnest(regexp_extract_all(t2, '$phone')) FROM st
         |  UNION ALL SELECT 'SSN', doc_id,
         |    unnest(regexp_extract_all(t3, '$ssn')) FROM st)
         |SELECT pii_class, substr(md5(surface), 1, 8) AS pseudo_id,
         |  count(*) AS n_mentions, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM e GROUP BY 1, 2""".stripMargin
    }),

    // deterministic stratified sampling: content-hash thresholds per lang
    // stratum (no RNG — retry-stable), verified via per-stratum counts
    Query("q_sample_stratified", (s, d) =>
      graft.ops.Curation.stratifiedSample(read(s, d, "documents"), col("doc_id"),
        col("lang"), Map("en" -> 0.25, "de" -> 0.5, "fr" -> 0.05), 1.0)
        .groupBy(col("lang")).agg(count(lit(1)).as("n")),
      // content-hash stratified sampling (thresholds = rateHex of the query's
      // rate map: en 0.25, de 0.5, fr 0.05, default keep-all)
      s"""SELECT lang, count(*) AS n FROM documents
         |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
         |  CASE lang WHEN 'en' THEN '4000' WHEN 'de' THEN '8000'
         |            WHEN 'fr' THEN '0ccd' ELSE 'zzzz' END
         |GROUP BY 1""".stripMargin),

    // temperature-scaled mixture sampling over the lang strata (alpha=0.5
    // flattening): data-derived per-stratum keep-rates + content-hash
    // downsample, rates and counts both oracle-checked
    Query("q_temp_sample", (s, d) => {
      val dd = read(s, d, "documents")
      val sampled = graft.ops.Curation
        .temperatureSample(dd, col("doc_id"), col("lang"), 0.5)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
      graft.ops.Curation.temperatureRates(dd, col("lang"), 0.5)
        .select(col("stratum").as("lang"), col("n").as("n_total"),
          round(col("rate") * 1e6, 0).cast("long").as("rate_e6"))
        .join(sampled, Seq("lang"), "left")
        .select(col("lang"), col("n_total"), col("rate_e6"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
    },
      // temperature rates: r_i = (w_i/n_i) * min_j(n_j/w_j), w = (n/N)^0.5 —
      // pow/div/min only (no float summation), so the rates are bit-identical;
      // the 16-bit threshold + md5 filter replicate stratifiedSample exactly
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |tot AS (SELECT SUM(n) AS nt FROM c),
        |w AS (SELECT lang, n,
        |        pow(CAST(n AS DOUBLE) / CAST((SELECT nt FROM tot) AS DOUBLE), 0.5) AS w
        |      FROM c),
        |m AS (SELECT MIN(CAST(n AS DOUBLE) / w) AS m FROM w),
        |r AS (SELECT lang, n,
        |        (w / CAST(n AS DOUBLE)) * (SELECT m FROM m) AS rate FROM w),
        |thr AS (SELECT lang, n, rate,
        |          CASE WHEN CAST(round(rate * 65536) AS INT) >= 65536 THEN 'zzzz'
        |               ELSE printf('%04x', CAST(round(rate * 65536) AS INT)) END AS hex
        |        FROM r),
        |s AS (SELECT d.lang, count(*) AS n_sampled
        |      FROM documents d JOIN thr ON d.lang = thr.lang
        |      WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < thr.hex
        |      GROUP BY d.lang)
        |SELECT thr.lang, CAST(thr.n AS BIGINT) AS n_total,
        |       CAST(round(rate * 1000000.0) AS BIGINT) AS rate_e6,
        |       CAST(COALESCE(s.n_sampled, 0) AS BIGINT) AS n_sampled
        |FROM thr LEFT JOIN s ON thr.lang = s.lang""".stripMargin),

    // quality-tier epoch upsampling (the executable "data recipe"): tier
    // by quality composite, fractional epochs resolved by md5 threshold,
    // per-tier audit with an id*copy checksum pinning the exact expansion
    Query("q_epoch_mix", (s, d) => {
      import graft.ops.Curation
      Curation.epochMix(read(s, d, "documents"), epochTiers)
        .groupBy(col("tier"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_copies"),
          sum(col("doc_id") * col("copy_idx")).as("sum_key"))
    }, {
      // epoch upsampling: the q_quality score chain, tier CASE + copy count
      // (base + md5-threshold fractional) generated from the SAME epochTiers
      // config the Spark query uses
      val tierCase = epochTiers.map { case (n, ms, _) =>
        s"WHEN quality_score >= $ms THEN '$n'"
      }.mkString("CASE ", " ", " ELSE NULL END")
      val baseCase = epochTiers.map { case (n, _, ep) =>
        s"WHEN '$n' THEN ${math.floor(ep).toLong}"
      }.mkString("CASE tier ", " ", " ELSE 0 END")
      val fracCase = epochTiers.map { case (n, _, ep) =>
        s"WHEN '$n' THEN '${graft.ops.Curation.rateHex(ep - math.floor(ep))}'"
      }.mkString("CASE tier ", " ", " ELSE '0000' END")
      s"""WITH $qualityCountsSql,
         |r AS (
         |  SELECT doc_id,
         |         CASE WHEN n_chars > 0 THEN round(CAST(n_punct AS DOUBLE) / n_chars, 6)
         |              ELSE 0.0 END AS punct_ratio,
         |         CASE WHEN n_chars > 0 THEN round(CAST(n_alpha AS DOUBLE) / n_chars, 6)
         |              ELSE 0.0 END AS alpha_ratio,
         |         CASE WHEN n_words > 0 THEN round(CAST(n_stop AS DOUBLE) / n_words, 6)
         |              ELSE 0.0 END AS stopword_ratio
         |  FROM b),
         |q AS (
         |  SELECT doc_id, round(greatest(0.0, least(1.0,
         |    alpha_ratio * 0.5 + least(stopword_ratio * 4.0, 1.0) * 0.3 +
         |    (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2)), 6) AS quality_score
         |  FROM r),
         |tiered AS (SELECT doc_id, $tierCase AS tier FROM q),
         |c AS (
         |  SELECT doc_id, tier,
         |    $baseCase
         |      + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':epoch'), 1, 4)
         |          < $fracCase THEN 1 ELSE 0 END AS copies
         |  FROM tiered WHERE tier IS NOT NULL),
         |x AS (
         |  SELECT doc_id, tier, unnest(generate_series(1, copies)) AS copy_idx
         |  FROM c WHERE copies >= 1)
         |SELECT tier, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  count(*) AS n_copies, CAST(sum(doc_id * copy_idx) AS BIGINT) AS sum_key
         |FROM x GROUP BY 1""".stripMargin
    }),

    // domain-mixture planner under a token budget: per-domain targets,
    // capped keep-rates (incl. the rate-1 'zzzz' and unweighted-domain-0
    // paths), deterministically sampled result pinned by an id-sum
    Query("q_mix_plan", (s, d) => {
      import graft.ops.Curation
      Curation.mixPlan(read(s, d, "documents"), mixWeights, mixBudget)
    }, {
      // mixture planner: targets interpolated from the SAME weights/budget
      // arithmetic, thresholds from the same floor(min(1, t/a)*65536) IEEE
      // ops, sampled set pinned by the id-sum
      val wsum = mixWeights.values.sum
      val targetCase = mixWeights.map { case (dm, w) =>
        s"WHEN '$dm' THEN ${math.floor(mixBudget * w / wsum).toLong}"
      }.mkString("CASE domain ", " ", " ELSE 0 END")
      s"""WITH base AS (
         |  SELECT lang AS domain, doc_id,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toks) END
         |      AS BIGINT) AS tok
         |  FROM documents),
         |avail AS (
         |  SELECT domain, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS available_tokens
         |  FROM base GROUP BY 1),
         |plan AS (
         |  SELECT domain, n_docs, available_tokens,
         |    CAST($targetCase AS BIGINT) AS target_tokens
         |  FROM avail),
         |p2 AS (
         |  SELECT *, CAST(floor(least(1.0,
         |    CAST(target_tokens AS DOUBLE) / CAST(available_tokens AS DOUBLE))
         |    * 65536.0) AS BIGINT) AS thr
         |  FROM plan),
         |p3 AS (
         |  SELECT domain, n_docs, available_tokens, target_tokens,
         |    CASE WHEN thr >= 65536 THEN 'zzzz' ELSE printf('%04x', thr) END AS rate_hex
         |  FROM p2),
         |samp AS (
         |  SELECT b.domain, count(*) AS sampled_docs,
         |    CAST(sum(b.tok) AS BIGINT) AS sampled_tokens,
         |    CAST(sum(b.doc_id) AS BIGINT) AS sum_doc_id
         |  FROM base b JOIN p3 USING (domain)
         |  WHERE substr(md5(CAST(b.doc_id AS VARCHAR) || ':mix'), 1, 4) < p3.rate_hex
         |  GROUP BY 1)
         |SELECT p3.domain, p3.n_docs, p3.available_tokens, p3.target_tokens,
         |  p3.rate_hex,
         |  coalesce(samp.sampled_docs, 0) AS sampled_docs,
         |  coalesce(samp.sampled_tokens, 0) AS sampled_tokens,
         |  coalesce(samp.sum_doc_id, 0) AS sum_doc_id
         |FROM p3 LEFT JOIN samp USING (domain)""".stripMargin
    }),

    // Gopher-style repetition signals (one-pass codegen kernel): dup-line
    // fractions + top/duplicate word-n-gram fractions; the docs table has no
    // newlines, so lines are injected deterministically every 3 words (same
    // regex in the oracle)
    Query("q_gopher_repetition", (s, d) => {
      import graft.functions.RepetitionStats
      // every 5th doc gets a period-5 repeated phrase appended so the
      // duplicate-n-gram paths are exercised (random text never repeats a
      // 5-gram); oracle injects identically
      val withRep = read(s, d, "documents").withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"),
          lit(" repeat alpha beta gamma delta" * 3))).otherwise(col("text")))
      val lined = withRep.withColumn("text",
        regexp_replace(col("text"), "(\\S+ \\S+ \\S+) ", "$1\n"))
      lined.select(col("doc_id"), RepetitionStats(col("text")).as("r"))
        .select(col("doc_id") +:
          RepetitionStats.fieldNames.map(f => col(s"r.$f").as(f)): _*)
    }, {
      // Gopher repetition signals: 3-word injected lines + word n-gram stats
      def grams(n: Int) =
        s"""g$n AS (
           |  SELECT doc_id, unnest(list_transform(range(1, len(ws)-$n+2),
           |           i -> array_to_string(ws[i:i+${n - 1}], ' '))) AS g
           |  FROM lined WHERE len(ws) >= $n),
           |c$n AS (SELECT doc_id, g, count(*) AS c FROM g$n GROUP BY doc_id, g)"""
          .stripMargin
      def top(n: Int) =
        s"""t$n AS (
           |  SELECT doc_id, c, length(g) - ${n - 1} AS gchars
           |  FROM (SELECT doc_id, g, c,
           |          row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn
           |        FROM c$n) x WHERE rn = 1)""".stripMargin
      def dup(n: Int) =
        s"""d$n AS (
           |  SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup,
           |         sum(c) AS pos
           |  FROM c$n GROUP BY doc_id)""".stripMargin
      val rep = " repeat alpha beta gamma delta" * 3
      s"""WITH injected AS (
         |  SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || '$rep'
         |                      ELSE text END AS text
         |  FROM documents),
         |lined AS (
         |  SELECT doc_id,
         |    regexp_replace(text, '(\\S+ \\S+ \\S+) ', '\\1' || chr(10), 'g') AS t,
         |    $toks AS ws,
         |    length(regexp_replace(text, '\\s+', '', 'g')) AS wchars
         |  FROM injected),
         |lns AS (
         |  SELECT doc_id, trim(l) AS line
         |  FROM (SELECT doc_id, unnest(string_split(t, chr(10))) AS l FROM lined)
         |  WHERE length(trim(l)) > 0),
         |lgrp AS (SELECT doc_id, line, count(*) AS c, length(line) AS ln
         |         FROM lns GROUP BY doc_id, line),
         |lstat AS (SELECT doc_id, sum(c) AS n_lines, count(*) AS n_distinct,
         |                 sum(c*ln) AS tot_chars, sum((c-1)*ln) AS dup_chars
         |          FROM lgrp GROUP BY doc_id),
         |${grams(2)},
         |${grams(3)},
         |${grams(4)},
         |${grams(5)},
         |${grams(10)},
         |${top(2)},
         |${top(3)},
         |${top(4)},
         |${dup(5)},
         |${dup(10)}
         |SELECT l.doc_id,
         |  CAST(coalesce(ls.n_lines, 0) AS BIGINT) AS n_lines,
         |  CASE WHEN coalesce(ls.n_lines, 0) > 0
         |       THEN round((ls.n_lines - ls.n_distinct) / CAST(ls.n_lines AS DOUBLE), 6)
         |       ELSE 0.0 END AS dup_line_frac,
         |  CASE WHEN coalesce(ls.n_lines, 0) > 0
         |       THEN round(ls.dup_chars / CAST(ls.tot_chars AS DOUBLE), 6)
         |       ELSE 0.0 END AS dup_line_char_frac,
         |  CASE WHEN l.wchars > 0
         |       THEN coalesce(round(t2.c * CAST(t2.gchars AS DOUBLE) / l.wchars, 6), 0.0)
         |       ELSE 0.0 END AS top_2gram_char_frac,
         |  CASE WHEN l.wchars > 0
         |       THEN coalesce(round(t3.c * CAST(t3.gchars AS DOUBLE) / l.wchars, 6), 0.0)
         |       ELSE 0.0 END AS top_3gram_char_frac,
         |  CASE WHEN l.wchars > 0
         |       THEN coalesce(round(t4.c * CAST(t4.gchars AS DOUBLE) / l.wchars, 6), 0.0)
         |       ELSE 0.0 END AS top_4gram_char_frac,
         |  coalesce(round(d5.dup / CAST(d5.pos AS DOUBLE), 6), 0.0) AS dup_5gram_frac,
         |  coalesce(round(d10.dup / CAST(d10.pos AS DOUBLE), 6), 0.0) AS dup_10gram_frac
         |FROM lined l
         |LEFT JOIN lstat ls ON l.doc_id = ls.doc_id
         |LEFT JOIN t2 ON l.doc_id = t2.doc_id
         |LEFT JOIN t3 ON l.doc_id = t3.doc_id
         |LEFT JOIN t4 ON l.doc_id = t4.doc_id
         |LEFT JOIN d5 ON l.doc_id = d5.doc_id
         |LEFT JOIN d10 ON l.doc_id = d10.doc_id""".stripMargin
    }),

    // C4 line filter (Raffel et al. §2.2) over deterministically injected
    // tail lines so every keep/drop path fires: kept line, javascript drop,
    // no-terminal-punct drop, <5-words drop, page-level {/lorem-ipsum drop;
    // kept_md5 checks the reconstructed page byte-exact cross-engine
    Query("q_c4_filters", (s, d) => {
      val injected = read(s, d, "documents").withColumn("text", concat(col("text"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          lit("\nthis injected line has six words."))
          .when(pmod(col("doc_id"), lit(5)) === 1,
            lit("\nbad JavaScript line with six words."))
          .when(pmod(col("doc_id"), lit(5)) === 2,
            lit("\nno terminal punctuation on this line"))
          .when(pmod(col("doc_id"), lit(5)) === 3, lit("\ntiny line."))
          .otherwise(lit("\ncurly { brace and lorem ipsum here."))))
      val withS = injected.select(col("doc_id"), col("text"),
        graft.functions.OptimizerFence(
          graft.functions.C4Stats(col("text"))).as("__s"))
      val cols = graft.ops.CleanFilters.c4Columns(col("__s"), col("text"))
      withS.select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
    },
      // C4 line filter replicated with list lambdas: identical line trim
      // ([ \t\r] both ends), word-count/terminal-punct/javascript predicate,
      // and the byte-exact kept-page md5
      """WITH inj AS (SELECT doc_id, text ||
        |    CASE CAST(doc_id % 5 AS INT)
        |      WHEN 0 THEN chr(10) || 'this injected line has six words.'
        |      WHEN 1 THEN chr(10) || 'bad JavaScript line with six words.'
        |      WHEN 2 THEN chr(10) || 'no terminal punctuation on this line'
        |      WHEN 3 THEN chr(10) || 'tiny line.'
        |      ELSE chr(10) || 'curly { brace and lorem ipsum here.'
        |    END AS text FROM documents),
        |l AS (SELECT doc_id, text,
        |        list_filter(list_transform(str_split(text, chr(10)),
        |          x -> regexp_replace(x, '^[ \t\r]+|[ \t\r]+$', '', 'g')),
        |          x -> length(x) > 0) AS ls FROM inj),
        |k AS (SELECT doc_id, text, ls,
        |        list_filter(ls, x ->
        |          len(regexp_extract_all(x, '[^ \t\r]+')) >= 5
        |          AND right(x, 1) IN ('.', '!', '?', '"')
        |          AND NOT contains(lower(x), 'javascript')) AS kept FROM l)
        |SELECT doc_id,
        |  CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  CAST(length(COALESCE(array_to_string(kept, chr(10)), ''))
        |    AS BIGINT) AS kept_chars,
        |  md5(COALESCE(array_to_string(kept, chr(10)), '')) AS kept_md5,
        |  (len(kept) >= 3 AND NOT contains(text, '{')
        |     AND NOT contains(lower(text), 'lorem ipsum')) AS c4_keep
        |FROM k""".stripMargin),

    // Gopher document rules (Rae et al. §A1.1) with injected bullet/symbol/
    // non-alpha tails; every fraction rounds to 6 decimals before the
    // threshold compare so the keep flag is bit-identical cross-engine
    Query("q_gopher_rules", (s, d) => {
      val injected = read(s, d, "documents").withColumn("text", concat(col("text"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          lit("\n- bullet one two\n* bullet two three\nends with an ellipsis ..."))
          .when(pmod(col("doc_id"), lit(4)) === 1, lit(" ### ## #"))
          .when(pmod(col("doc_id"), lit(4)) === 2,
            lit("\n12345 67890 11111 22222 33333"))
          .otherwise(lit(""))))
      val withS = injected.select(col("doc_id"), col("text"),
        graft.functions.OptimizerFence(
          graft.functions.C4Stats(col("text"))).as("__s"))
      val cols = graft.ops.CleanFilters.gopherColumns(col("__s"), col("text"))
      withS.select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
    },
      // Gopher rules replicated: \S+ tokens (the kernel's whitespace classes),
      // per-line bullet/ellipsis tests over the same trimmed lines, 6-decimal
      // rounding before every threshold
      """WITH inj AS (SELECT doc_id, text ||
        |    CASE CAST(doc_id % 4 AS INT)
        |      WHEN 0 THEN chr(10) || '- bullet one two' || chr(10) ||
        |                  '* bullet two three' || chr(10) ||
        |                  'ends with an ellipsis ...'
        |      WHEN 1 THEN ' ### ## #'
        |      WHEN 2 THEN chr(10) || '12345 67890 11111 22222 33333'
        |      ELSE ''
        |    END AS text FROM documents),
        |l AS (SELECT doc_id, text,
        |        list_filter(list_transform(str_split(text, chr(10)),
        |          x -> regexp_replace(x, '^[ \t\r]+|[ \t\r]+$', '', 'g')),
        |          x -> length(x) > 0) AS ls,
        |        regexp_extract_all(text, '\S+') AS ws FROM inj),
        |b AS (SELECT doc_id, text, ls, ws,
        |        CAST(len(ws) AS BIGINT) AS n_words,
        |        length(regexp_replace(text, '\s', '', 'g')) AS word_chars,
        |        len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
        |        len(regexp_extract_all(text, '#'))
        |          + len(regexp_extract_all(text, '\.\.\.')) AS n_sym,
        |        len(list_filter(ls, x -> left(x, 1) IN ('-', '*', '•'))) AS n_bul,
        |        len(list_filter(ls, x -> right(x, 3) = '...')) AS n_ell,
        |        CAST(len(list_filter(regexp_extract_all(lower(text), '\S+'),
        |          x -> x IN ('the','be','to','of','and','that','have','with')))
        |          AS BIGINT) AS n_stopwords
        |      FROM l),
        |r AS (SELECT doc_id, n_words, n_stopwords,
        |        CASE WHEN n_words > 0
        |             THEN round(CAST(word_chars AS DOUBLE) / n_words, 4)
        |             ELSE 0.0 END AS mean_word_len,
        |        CASE WHEN n_words > 0
        |             THEN round(CAST(n_sym AS DOUBLE) / n_words, 6)
        |             ELSE 0.0 END AS symbol_ratio,
        |        CASE WHEN len(ls) > 0
        |             THEN round(CAST(n_bul AS DOUBLE) / len(ls), 6)
        |             ELSE 0.0 END AS bullet_frac,
        |        CASE WHEN len(ls) > 0
        |             THEN round(CAST(n_ell AS DOUBLE) / len(ls), 6)
        |             ELSE 0.0 END AS ellipsis_frac,
        |        CASE WHEN n_words > 0
        |             THEN round(CAST(n_alpha AS DOUBLE) / n_words, 6)
        |             ELSE 0.0 END AS alpha_word_frac
        |      FROM b)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
        |  ellipsis_frac, alpha_word_frac, n_stopwords,
        |  (n_words BETWEEN 50 AND 100000
        |   AND mean_word_len BETWEEN 3.0 AND 10.0
        |   AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
        |   AND ellipsis_frac <= 0.3 AND alpha_word_frac >= 0.8
        |   AND n_stopwords >= 2) AS gopher_keep
        |FROM r""".stripMargin),

    // CCNet-style LM perplexity: train a capped bigram LM over the corpus
    // (two agg passes + deterministic top-k), score with one broadcast
    // codegen pass; per-term fixed-point log-probs keep the oracle exact
    Query("q_lm_perplexity", (s, d) => {
      import graft.ops.LmScore
      val corpus = read(s, d, "documents")
      val lm = LmScore.train(corpus, col("text"), vocabSize = 20, bigramCap = 10000)
      val cols = LmScore.scoreColumns(lm, col("text"))
      corpus.select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
    },
      // bigram-LM training + scoring replicated end-to-end in SQL; the per-term
      // e6 fixed-point quantization makes doc sums exact integers both sides
      s"""WITH toks AS (SELECT doc_id, $toks AS ws FROM documents),
         |pos AS (SELECT doc_id, unnest(ws) AS w,
         |               unnest(range(1, len(ws)+1)) AS i FROM toks),
         |uni AS (SELECT w, count(*) AS c FROM pos WHERE length(w) > 0 GROUP BY w),
         |vocab AS (SELECT w FROM uni ORDER BY c DESC, w ASC LIMIT 20),
         |m AS (SELECT p.doc_id, p.i,
         |             CASE WHEN v.w IS NOT NULL THEN p.w ELSE '<unk>' END AS mw,
         |             CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
         |      FROM pos p LEFT JOIN vocab v ON p.w = v.w
         |      WHERE length(p.w) > 0),
         |umap AS (SELECT mw, count(*) AS cu FROM m GROUP BY mw),
         |big AS (SELECT a.doc_id, a.mw AS w1, b.mw AS w2
         |        FROM m a JOIN m b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
         |bcnt AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY w1, w2
         |         ORDER BY count(*) DESC, w1 ASC, w2 ASC LIMIT 10000),
         |vn AS (SELECT count(*) + 1 AS vtot FROM vocab),
         |terms AS (
         |  SELECT g.doc_id,
         |    CAST(round(log2((coalesce(t.cb, 0) + 1.0) / (u.cu + vn.vtot)) * 1e6, 0)
         |         AS BIGINT) AS lp
         |  FROM big g
         |  LEFT JOIN bcnt t ON g.w1 = t.w1 AND g.w2 = t.w2
         |  JOIN umap u ON u.mw = g.w1
         |  CROSS JOIN vn),
         |agg AS (SELECT doc_id, count(*) AS nb, sum(lp) AS slp
         |        FROM terms GROUP BY doc_id),
         |stats AS (SELECT doc_id, count(*) AS n_tokens, sum(oov) AS n_oov
         |          FROM m GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(st.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(st.n_oov, 0) AS BIGINT) AS n_oov,
         |  CAST(coalesce(a.nb, 0) AS BIGINT) AS n_bigrams,
         |  CAST(coalesce(a.slp, 0) AS BIGINT) AS sum_logp_e6,
         |  CASE WHEN coalesce(a.nb, 0) > 0
         |       THEN round(pow(2.0, -CAST(a.slp AS DOUBLE) / (a.nb * 1e6)), 4)
         |       ELSE 0.0 END AS ppl
         |FROM documents d
         |LEFT JOIN stats st ON d.doc_id = st.doc_id
         |LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin),

    // fastText-role domain classifier (multinomial NB) trained on the
    // corpus's own lang labels, scored in one broadcast codegen pass;
    // fixed-point log arithmetic keeps the DuckDB compare exact
    Query("q_nb_classify", (s, d) => {
      import graft.ops.Classify
      val corpus = read(s, d, "documents")
      val m = Classify.nbTrain(corpus, col("text"), col("lang"), vocabSize = 24)
      val cols = Classify.nbScoreColumns(m, col("text"))
      corpus.select(col("doc_id") +: col("lang") +:
        cols.map { case (n, c) => c.as(n) }: _*)
    },
      // NB training AND scoring replicated end-to-end: class priors, top-24
      // vocab, per-(class, token) Laplace log-likelihoods — every log
      // quantized to e6 BIGINT before the per-doc integer sum, argmax ties
      // label-ascending, margin = best - runner-up
      s"""WITH cls AS (SELECT lang AS c, count(*) AS n FROM documents GROUP BY lang),
         |prior AS (SELECT c, CAST(round(ln(n * 1.0 / (SELECT sum(n) FROM cls))
         |            / ln(2) * 1e6, 0) AS BIGINT) AS p FROM cls),
         |tok AS (SELECT doc_id, lang,
         |          unnest(list_filter(string_split_regex(trim(text), '\\s+'),
         |                 x -> len(x) > 0)) AS w
         |        FROM documents),
         |vocab AS (SELECT w FROM (SELECT w, count(*) AS n FROM tok GROUP BY w
         |                         ORDER BY n DESC, w ASC LIMIT 24)),
         |mapped AS (SELECT doc_id, lang,
         |             CASE WHEN w IN (SELECT w FROM vocab) THEN w
         |                  ELSE '<unk>' END AS wm FROM tok),
         |cc AS (SELECT lang AS c, wm, count(*) AS cnt FROM mapped GROUP BY 1, 2),
         |ctot AS (SELECT c, sum(cnt) AS t FROM cc GROUP BY c),
         |doctok AS (SELECT doc_id, wm, count(*) AS k FROM mapped
         |           GROUP BY doc_id, wm),
         |pairs AS (SELECT dt.doc_id, cl.c, dt.k,
         |            CAST(round(ln((coalesce(cc.cnt, 0) + 1.0) / (ct.t + 25))
         |              / ln(2) * 1e6, 0) AS BIGINT) AS lp
         |          FROM doctok dt CROSS JOIN cls cl
         |          LEFT JOIN cc ON cc.c = cl.c AND cc.wm = dt.wm
         |          JOIN ctot ct ON ct.c = cl.c),
         |score AS (SELECT d.doc_id, p.c, p.p + coalesce(s.s, 0) AS sc
         |          FROM (SELECT doc_id FROM documents) d
         |          CROSS JOIN prior p
         |          LEFT JOIN (SELECT doc_id, c, sum(k * lp) AS s FROM pairs
         |                     GROUP BY doc_id, c) s
         |            ON s.doc_id = d.doc_id AND s.c = p.c),
         |rank AS (SELECT doc_id, c, sc,
         |           row_number() OVER (PARTITION BY doc_id
         |             ORDER BY sc DESC, c ASC) AS rn,
         |           lead(sc) OVER (PARTITION BY doc_id
         |             ORDER BY sc DESC, c ASC) AS sc2
         |         FROM score),
         |ntok AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id)
         |SELECT d.doc_id, d.lang, CAST(coalesce(nt.n, 0) AS BIGINT) AS n_tokens,
         |       r.c AS pred, CAST(r.sc AS BIGINT) AS score_e6,
         |       CAST(r.sc - coalesce(r.sc2, r.sc) AS BIGINT) AS margin_e6
         |FROM documents d
         |JOIN rank r ON r.doc_id = d.doc_id AND r.rn = 1
         |LEFT JOIN ntok nt ON nt.doc_id = d.doc_id""".stripMargin),

    // BM25 against the corpus's own top-8 document-frequency terms (a
    // deterministic stand-in for a user query set); per-term e6 fixed-point
    // keeps the DuckDB compare exact
    Query("q_bm25", (s, d) => {
      import graft.ops.Relevance
      val dd = read(s, d, "documents")
      val terms = Relevance.topDfTerms(dd, col("text"), col("doc_id"), 8)
      val m = Relevance.bm25Train(dd, col("text"), terms.toSeq)
      // fence: CollapseProject would inline the split() into every
      // per-term CountInSet (8x re-tokenization per row)
      val base = dd.select(col("doc_id"),
        graft.functions.OptimizerFence(split(trim(col("text")), "\\s+")).as("__ws"),
        TextOps.wsTokenCount(col("text")).as("__dl"))
      val cols = Relevance.bm25Columns(m, col("__ws"), col("__dl"))
      base.select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
    },
      // BM25 replicated end-to-end: df/avgdl/top-8 terms recomputed in SQL,
      // identical operand trees for every float step, per-term e6 quantization
      // before the cross-term sum (the ln differs from Java's by <= 1 ulp,
      // absorbed at e6)
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($toks) AS w FROM documents),
         |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
         |       WHERE length(w) > 0 GROUP BY doc_id, w),
         |dfq AS (SELECT w, count(*) AS df
         |        FROM (SELECT DISTINCT doc_id, w FROM tok WHERE length(w) > 0)
         |        GROUP BY w),
         |terms AS (SELECT w, df FROM dfq ORDER BY df DESC, w ASC LIMIT 8),
         |stats AS (SELECT count(*) AS n,
         |            CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
         |                          ELSE len($toks) END) AS DOUBLE)
         |              / CAST(count(*) AS DOUBLE) AS avgdl
         |          FROM documents),
         |dl AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
         |                           ELSE len($toks) END AS dl FROM documents),
         |sc AS (
         |  SELECT tf.doc_id,
         |    CAST(round(
         |      ln((CAST(stats.n - terms.df AS DOUBLE) + 0.5)
         |           / (CAST(terms.df AS DOUBLE) + 0.5) + 1.0)
         |      * ((CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
         |         / (CAST(tf.tf AS DOUBLE)
         |            + 1.2 * ((1.0 - 0.75)
         |                     + 0.75 * (CAST(dl.dl AS DOUBLE) / stats.avgdl))))
         |      * 1000000.0) AS BIGINT) AS e6
         |  FROM tf JOIN terms ON tf.w = terms.w
         |       JOIN dl ON tf.doc_id = dl.doc_id
         |       CROSS JOIN stats),
         |agg AS (SELECT doc_id, count(*) AS n_matched, SUM(e6) AS s
         |        FROM sc GROUP BY doc_id)
         |SELECT d.doc_id,
         |       CAST(COALESCE(a.n_matched, 0) AS BIGINT) AS n_matched,
         |       CAST(COALESCE(a.s, 0) AS BIGINT) AS bm25_e6
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin),

    // BPE tokenizer (Sennrich et al. 2016): 6 merges trained on the corpus
    // word dict, then one codegen encode pass; the oracle replicates the
    // trainer AND encoder with nested replace() over a |sym| |sym| form
    Query("q_bpe", (s, d) => {
      import graft.ops.Bpe
      val dd = read(s, d, "documents")
      val model = Bpe.train(dd, col("text"), numMerges = 6)
      val cols = Bpe.encodeColumns(model, col("text"))
      graft.ops.Par.widen(dd, col("doc_id"))
        .select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
        .withColumn("tokens_md5", md5(col("tokens"))).drop("tokens")
    },
      // BPE: trainer (6 unrolled merge iterations over the word dict) and
      // encoder (nested replace per word) both live in the SQL
      bpeSql(6)),

    // DSIR importance resampling (Xie et al. 2023): target = the doc_id%7
    // slice (deterministic domain stand-in), hashed unigram+bigram buckets,
    // per-doc e6 log importance weight + hash-derived Gumbel top-100
    Query("q_dsir", (s, d) => {
      import graft.ops.Dsir
      val dd = read(s, d, "documents")
      val m = Dsir.trainSplit(dd, pmod(col("doc_id"), lit(7)) === 0,
        col("text"), buckets = 1024)
      val sc = Dsir.scoreColumns(m, col("text"))
      // round 6: widen the narrow scan for the kernel pass, then cut the
      // plan once — `scored` feeds BOTH the top-k resample and the join
      // left side, and without the checkpoint the full featurize+score
      // scan executed twice (at scale: two corpus passes vs one + a
      // small-row materialization)
      val scored = graft.ops.Par.widen(dd, col("doc_id"))
        .select(col("doc_id") +: sc.map { case (n, c) => c.as(n) }: _*)
        .withColumn("gumbel_e6", Dsir.gumbelE6(col("doc_id")))
        .withColumn("score_e6", col("logw_e6") + col("gumbel_e6"))
        .localCheckpoint()
      val sel = Dsir.resample(scored, col("doc_id"), col("score_e6"), 100)
        .select(col("doc_id"), lit(true).as("selected"))
      scored.join(broadcast(sel), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_features"), col("logw_e6"),
          col("gumbel_e6"), coalesce(col("selected"), lit(false)).as("selected"))
    },
      // DSIR replicated end-to-end: same md5 buckets, Laplace ratios with
      // identical operand trees quantized per bucket at e6 (integer per-doc
      // sums), hash-derived Gumbel keys, rank-based top-100 selection
      """WITH tok AS (SELECT doc_id,
        |        list_filter(string_split_regex(trim(text), '\s+'),
        |          x -> length(x) > 0) AS t FROM documents),
        |f AS (SELECT doc_id, unnest(list_concat(t,
        |        CASE WHEN len(t) >= 2
        |             THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
        |             ELSE [] END)) AS f FROM tok),
        |b AS (SELECT doc_id,
        |        CAST(CAST('0x' || substr(md5(f), 1, 8) AS UBIGINT) % 1024
        |          AS BIGINT) AS b FROM f),
        |cq AS (SELECT b, count(*) AS c FROM b GROUP BY b),
        |cp AS (SELECT b, count(*) AS c FROM b WHERE doc_id % 7 = 0 GROUP BY b),
        |tq AS (SELECT SUM(c) AS t FROM cq),
        |tp AS (SELECT COALESCE(SUM(c), 0) AS t FROM cp),
        |r AS (SELECT cq.b,
        |        CAST(round((ln((COALESCE(cp.c, 0) + 1.0)
        |                      / (CAST((SELECT t FROM tp) AS DOUBLE) + 1024.0))
        |                  - ln((cq.c + 1.0)
        |                      / (CAST((SELECT t FROM tq) AS DOUBLE) + 1024.0)))
        |                 * 1000000.0) AS BIGINT) AS r
        |      FROM cq LEFT JOIN cp USING (b)),
        |sc AS (SELECT b.doc_id, count(*) AS nf, SUM(r.r) AS lw
        |       FROM b JOIN r USING (b) GROUP BY b.doc_id),
        |g AS (SELECT doc_id,
        |        CAST(round(-ln(-ln(
        |          (CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |             AS UBIGINT) AS DOUBLE) + 0.5) / 4294967296.0))
        |          * 1000000.0) AS BIGINT) AS g FROM documents),
        |alls AS (SELECT d.doc_id,
        |          CAST(COALESCE(sc.nf, 0) AS BIGINT) AS n_features,
        |          CAST(COALESCE(sc.lw, 0) AS BIGINT) AS logw_e6,
        |          g.g AS gumbel_e6
        |        FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
        |             JOIN g ON d.doc_id = g.doc_id),
        |rk AS (SELECT doc_id, row_number() OVER
        |         (ORDER BY (logw_e6 + gumbel_e6) DESC, doc_id ASC) AS rn
        |       FROM alls)
        |SELECT a.doc_id, a.n_features, a.logw_e6, a.gumbel_e6,
        |       (rk.rn <= 100) AS selected
        |FROM alls a JOIN rk USING (doc_id)""".stripMargin),

    // URL extraction -> host -> approximate eTLD+1 rollup over
    // deterministically injected URLs (plain 2-label, deep subdomain, and
    // multi-part-suffix hosts)
    Query("q_url_stats", (s, d) => {
      import graft.ops.WebText
      val injected = read(s, d, "documents").withColumn("text", concat(
        col("text"),
        lit(" https://www.site"), (col("doc_id") % 40).cast("string"),
        lit(".example.com/p/"), col("doc_id").cast("string"),
        lit(" http://cdn"), (col("doc_id") % 7).cast("string"),
        lit(".assets.co.uk:8443/x?y=1"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" https://plain"), (col("doc_id") % 11).cast("string"),
            lit(".org"))).otherwise(lit(""))))
      injected
        .select(col("doc_id"), explode(WebText.extractUrls(col("text"))).as("url"))
        .select(col("doc_id"),
          WebText.registeredDomain(WebText.hostOf(col("url"))).as("domain"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("doc_id")).as("n_docs"))
    }, {
      // injected URLs -> host regex -> approximate eTLD+1 (same suffix list)
      import graft.ops.WebText
      val urlPat = WebText.urlPattern.replace("'", "''")
      val sufList = WebText.defaultMultiPartSuffixes
        .map(s => s"'$s'").mkString(", ")
      s"""WITH t AS (
         |  SELECT doc_id,
         |    text || ' https://www.site' || CAST(doc_id % 40 AS VARCHAR)
         |      || '.example.com/p/' || CAST(doc_id AS VARCHAR)
         |      || ' http://cdn' || CAST(doc_id % 7 AS VARCHAR)
         |      || '.assets.co.uk:8443/x?y=1'
         |      || CASE WHEN doc_id % 3 = 0
         |           THEN ' https://plain' || CAST(doc_id % 11 AS VARCHAR) || '.org'
         |           ELSE '' END AS s
         |  FROM documents
         |), u AS (
         |  SELECT doc_id, unnest(regexp_extract_all(s, '$urlPat')) AS url FROM t
         |), h AS (
         |  SELECT doc_id, string_split(
         |    lower(regexp_extract(url, '${WebText.hostPattern}', 1)), '.') AS parts
         |  FROM u
         |), r AS (
         |  SELECT doc_id, CASE
         |    WHEN len(parts) <= 2 THEN array_to_string(parts, '.')
         |    WHEN (parts[-2] || '.' || parts[-1]) IN ($sufList)
         |      THEN parts[-3] || '.' || parts[-2] || '.' || parts[-1]
         |    ELSE parts[-2] || '.' || parts[-1] END AS domain
         |  FROM h
         |)
         |SELECT domain, count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs
         |FROM r GROUP BY 1""".stripMargin
    }),

    // sequence packing (concat-and-chunk): sharded running token sums ->
    // per-window fill stats; the shard count bounds every sort
    Query("q_seq_pack", (s, d) =>
      graft.ops.Packing.packStats(
        graft.ops.Packing.packSequences(read(s, d, "documents"),
          TextOps.wsTokenCount(col("text")), tokenBudget = 2048, shards = 8)),
      // sharded concat-and-chunk packing: windowed running sum per shard
      s"""WITH t AS (
         |  SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len($toks) END AS n_tokens
         |  FROM documents
         |), c AS (
         |  SELECT shard, n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) - n_tokens
         |      AS tok_offset
         |  FROM t
         |)
         |SELECT shard, CAST(floor(tok_offset / 2048) AS BIGINT) AS bin,
         |       count(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
         |FROM c GROUP BY 1, 2""".stripMargin),

    // within-doc retrieval chunking: 64-token windows every 48 (16-token
    // overlap), stable md5 chunk ids, zero-shuffle generate+projection
    Query("q_rag_chunks", (s, d) =>
      graft.ops.Packing.ragChunks(read(s, d, "documents"), chunkTokens = 64, stride = 48),
      // overlapping-window chunking replicated positionally (K = ceil((n -
      // chunk)/stride) extra chunks, list_slice clipping, same id/md5 forms)
      s"""WITH tok AS (SELECT doc_id, $toks AS t FROM documents),
         |k AS (SELECT doc_id, t,
         |        unnest(range(0,
         |          greatest(0, CAST(len(t) - 64 + 48 - 1 AS INT) // 48) + 1)) AS ci
         |      FROM tok)
         |SELECT doc_id,
         |  CAST(ci AS BIGINT) AS chunk_idx,
         |  CAST(ci * 48 + 1 AS BIGINT) AS start_tok,
         |  CAST(len(list_slice(t, CAST(ci * 48 + 1 AS INT),
         |                         CAST(ci * 48 + 64 AS INT))) AS BIGINT)
         |    AS n_chunk_tokens,
         |  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(ci AS VARCHAR)) AS chunk_id,
         |  md5(array_to_string(list_slice(t, CAST(ci * 48 + 1 AS INT),
         |                                    CAST(ci * 48 + 64 AS INT)), ' '))
         |    AS chunk_md5
         |FROM k""".stripMargin),

    // multimodal plumbing: binary payload -> decode stub -> frame sample
    // (oracle replicates the deterministic fake decoder's FNV state)
    Query("q_multimodal_decode", (s, d) => {
      val media = Multimodal.syntheticMedia(read(s, d, "documents"))
      Multimodal.sampleFrames(Multimodal.decode(media), maxFrames = 4)
        .groupBy(col("media_type"))
        .agg(count(lit(1)).as("n_frames_sampled"),
          countDistinct(col("doc_id")).as("n_docs"))
    },
      s"""WITH f AS (SELECT doc_id, $fnvSql AS h FROM documents),
         |d AS (SELECT doc_id,
         |             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
         |                  WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         |             least(CAST(1 + ((h >> 20) % 32) AS BIGINT), 4) AS n_sampled
         |      FROM f)
         |SELECT media_type, CAST(SUM(n_sampled) AS BIGINT) AS n_frames_sampled,
         |       count(DISTINCT doc_id) AS n_docs
         |FROM d GROUP BY media_type""".stripMargin),

    // blocklist / safety tagging: ONE Aho-Corasick automaton pass per doc
    // (phrase count free) vs k contains/regex passes; overlapping + nested
    // matches counted, first hit = minimal (start, phrase_id)
    Query("q_blocklist", (s, d) => {
      import graft.functions.AcBlocklistStats
      read(s, d, "documents")
        .select(col("doc_id"),
          AcBlocklistStats(col("text"), blocklistPhrases).as("b"))
        .select(col("doc_id"),
          col("b.n_matches").as("n_matches"),
          col("b.n_phrases").as("n_phrases"),
          col("b.first_pos").as("first_pos"),
          col("b.first_phrase").as("first_phrase"))
    }, {
      // positional replica of the AC match semantics: every (start, phrase)
      // substring occurrence, incl. overlapping/nested; first = min encoded
      // (start * 1024 + pid)
      val values = blocklistPhrases.zipWithIndex
        .map { case (p, i) => s"($i, '$p')" }.mkString(", ")
      s"""WITH p(pid, ph) AS (VALUES $values),
         |hits AS (
         |  SELECT d.doc_id, p.pid, CAST(t.pos AS BIGINT) AS pos
         |  FROM documents d CROSS JOIN p
         |  CROSS JOIN LATERAL (
         |    SELECT unnest(range(1, length(d.text) - length(p.ph) + 2)) AS pos) t
         |  WHERE substr(d.text, CAST(t.pos AS INT), length(p.ph)) = p.ph),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_matches,
         |         count(DISTINCT pid) AS n_phrases,
         |         min((pos - 1) * 1024 + pid) AS code
         |  FROM hits GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(a.n_matches, 0) AS n_matches,
         |  coalesce(a.n_phrases, 0) AS n_phrases,
         |  coalesce(a.code // 1024, -1) AS first_pos,
         |  coalesce(a.code % 1024, -1) AS first_phrase
         |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin
    }),

    // character-distribution quality signal: Shannon entropy over char
    // unigrams, order-free exact integer sum (LmKernels quantization),
    // float only in the final divide
    Query("q_char_entropy", (s, d) => {
      import graft.functions.CharEntropyStats
      read(s, d, "documents")
        .select(col("doc_id"), CharEntropyStats(col("text")).as("e"))
        .select(col("doc_id"),
          col("e.n_chars").as("n_chars"),
          col("e.n_distinct").as("n_distinct"),
          col("e.h_sum_e6").as("h_sum_e6"),
          when(col("e.n_chars") > 0,
            round(col("e.h_sum_e6").cast("double") / col("e.n_chars") / 1e6, 6))
            .otherwise(0.0).as("entropy_bits"))
    },
      // char-unigram Shannon entropy, the LmKernels e6-integer-term
      // convention so the sum is order-free exact
      """WITH tot AS (SELECT doc_id, length(text) AS n FROM documents),
        |cnt AS (
        |  SELECT d.doc_id, substr(d.text, CAST(t.i AS INT), 1) AS c,
        |         count(*) AS k
        |  FROM documents d
        |  CROSS JOIN LATERAL (
        |    SELECT unnest(range(1, length(d.text) + 1)) AS i) t
        |  GROUP BY d.doc_id, substr(d.text, CAST(t.i AS INT), 1)),
        |h AS (
        |  SELECT c.doc_id, count(*) AS n_distinct,
        |    sum(c.k * CAST(round(log2(CAST(t.n AS DOUBLE) / c.k) * 1e6)
        |              AS BIGINT)) AS h_sum
        |  FROM cnt c JOIN tot t USING (doc_id) GROUP BY c.doc_id)
        |SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_chars,
        |  CAST(coalesce(h.n_distinct, 0) AS BIGINT) AS n_distinct,
        |  CAST(coalesce(h.h_sum, 0) AS BIGINT) AS h_sum_e6,
        |  CASE WHEN t.n > 0
        |       THEN round(CAST(coalesce(h.h_sum, 0) AS DOUBLE) / t.n / 1e6, 6)
        |       ELSE 0.0 END AS entropy_bits
        |FROM tot t LEFT JOIN h USING (doc_id)""".stripMargin)
  )
}
