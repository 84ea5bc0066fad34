package graft.pipeline

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.LogSchema
import graft.operators.FieldCols

/** LLM cost computation — the full `signozllmpricingprocessor` semantics
  * (`processor/signozllmpricingprocessor/processor.go:105-218`,
  * `config.go:16-109`), not just the match/attach shape [[Enrich]] models:
  *
  *  - the span's model attribute is glob-matched (Go `path.Match`) against a
  *    flattened first-match-wins rule list (each rule's pattern list expands
  *    to one entry per pattern, `processor.go:53-66`);
  *  - token counts are read from numeric span attributes (int OR double both
  *    land in `attributes_number` under this engine's typed split; absent or
  *    non-numeric reads as 0 — `getTokenCount`, `processor.go:197-213`);
  *  - a span is skipped (no attrs written) when the model attribute is
  *    absent, no rule matches, or ALL four token counts are zero
  *    (`processSpan`, `processor.go:107-127`);
  *  - costs per bucket (`compute`, `processor.go:129-184`):
  *      subtract mode: billed_input = max(in - cache_read, 0); cache_write
  *        not billed;
  *      additive mode: all four buckets billed independently;
  *      empty mode:    input and output only (cache relation unknown);
  *    each `tokens * price / 1e6` (per-million-token prices);
  *  - computed costs are written as double attributes under the configured
  *    output keys; an empty output key means "don't write" (`writeAttrs`,
  *    only `total` is mandatory per `Config.Validate`). Zeros ARE written on
  *    a processed span.
  *
  * Spark-first: the rule table is driver-small by definition, so the whole
  * processor folds into ONE projection — glob chain -> winning rule index,
  * per-rule prices as array literals indexed O(1) by that index, cost
  * arithmetic inline, one [[FieldCols.mergeAttrs]] of the costs as number
  * attributes — zero shuffle, zero extra pass, fully inside whole-stage
  * codegen.
  */
object LlmPricing {

  val CacheModeSubtract = "subtract"
  val CacheModeAdditive = "additive"

  final case class CacheCfg(mode: String = "", read: Double = 0.0, write: Double = 0.0)

  final case class Rule(
      name: String,
      patterns: Seq[String],
      cache: CacheCfg = CacheCfg(),
      in: Double = 0.0,
      out: Double = 0.0)

  /** Source attribute keys (`attrs` mapping). Empty key = count reads 0. */
  final case class AttrMapping(
      model: String,
      in: String = "",
      out: String = "",
      cacheRead: String = "",
      cacheWrite: String = "")

  /** Destination attribute keys; empty = don't write. `total` mandatory. */
  final case class OutputMapping(
      in: String = "",
      out: String = "",
      cacheRead: String = "",
      cacheWrite: String = "",
      total: String = "")

  final case class Config(
      attrs: AttrMapping,
      rules: Seq[Rule],
      outputAttrs: OutputMapping) {

    /** `Config.Validate` parity (`config.go:76-109`). */
    def validate(): this.type = {
      require(attrs.model.nonEmpty, "attrs.model must not be empty")
      rules.zipWithIndex.foreach { case (r, i) =>
        require(r.patterns.nonEmpty, s"default_pricing.rules[$i]: pattern must not be empty")
        r.patterns.zipWithIndex.foreach { case (p, j) =>
          require(p.nonEmpty, s"default_pricing.rules[$i].pattern[$j]: pattern must not be empty")
          // surfaces malformed globs (unterminated class) like path.Match's
          // ErrBadPattern probe against ""
          Enrich.globToRegex(p)
        }
        require(
          r.cache.mode == CacheModeSubtract || r.cache.mode == CacheModeAdditive || r.cache.mode.isEmpty,
          s"default_pricing.rules[$i] (pattern=${r.patterns}): cache.mode must be " +
            s""""$CacheModeSubtract" or "$CacheModeAdditive", got "${r.cache.mode}"""")
        require(r.in >= 0 && r.out >= 0 && r.cache.read >= 0 && r.cache.write >= 0,
          s"default_pricing.rules[$i] (pattern=${r.patterns}): prices must be non-negative")
      }
      require(outputAttrs.total.nonEmpty, "output_attrs.total must not be empty")
      this
    }
  }

  /** UnitPerMillionTokens (`processor.go:69`). */
  private val Divisor = 1e6

  /** Flattened hot-path rule: one glob per entry, first match wins across
    * the expanded list (`newProcessor`, `processor.go:53-66`).
    */
  private final case class Flat(pattern: String, modeCode: Int,
      in: Double, out: Double, read: Double, write: Double)

  private def flatten(cfg: Config): Seq[Flat] =
    for (r <- cfg.rules; p <- r.patterns) yield Flat(
      p,
      r.cache.mode match {
        case CacheModeSubtract => 1
        case CacheModeAdditive => 2
        case _ => 0
      },
      r.in, r.out, r.cache.read, r.cache.write)

  /** Apply the processor to a span (or log) frame carrying the typed attr
    * maps. Pure projection; rows that the reference skips pass through
    * bit-identical.
    */
  def apply(df: DataFrame, cfg: Config): DataFrame = {
    cfg.validate()
    val flat = flatten(cfg)

    val model = element_at(col("attributes_string"), cfg.attrs.model)
    // first-match-wins glob chain -> winning flattened-rule index (-1 = none)
    val ruleIdx = flat.zipWithIndex.foldRight(lit(-1): Column) { case ((f, i), acc) =>
      when(model.rlike(Enrich.globToRegex(f.pattern)), lit(i)).otherwise(acc)
    }

    def tok(key: String): Column =
      if (key.isEmpty) lit(0.0)
      else coalesce(element_at(col("attributes_number"), key), lit(0.0))

    val in = tok(cfg.attrs.in)
    val out = tok(cfg.attrs.out)
    val cr = tok(cfg.attrs.cacheRead)
    val cw = tok(cfg.attrs.cacheWrite)

    // O(1) per-row price lookup: literal arrays indexed by the winning rule
    // (element_at on an array literal, not a map literal — GetMapValue would
    // be a per-row linear scan)
    def priceArr(f: Flat => Double): Column =
      element_at(array(flat.map(x => lit(f(x))): _*), col("__llm_rule") + 1)
    def modeIs(code: Int): Column =
      element_at(array(flat.map(x => lit(x.modeCode)): _*), col("__llm_rule") + 1) === code

    val df1 = df.withColumn("__llm_rule", ruleIdx)

    val billedIn = when(modeIs(1), greatest(in - cr, lit(0.0))).otherwise(in)
    val cInput = billedIn * priceArr(_.in) / Divisor
    val cOutput = out * priceArr(_.out) / Divisor
    val cRead = when(modeIs(0), lit(0.0)).otherwise(cr * priceArr(_.read) / Divisor)
    val cWrite = when(modeIs(2), cw * priceArr(_.write) / Divisor).otherwise(lit(0.0))
    val cTotal = cInput + cRead + cWrite + cOutput

    val processed = model.isNotNull && col("__llm_rule") =!= -1 &&
      !(in === 0.0 && out === 0.0 && cr === 0.0 && cw === 0.0)

    val o = cfg.outputAttrs
    val attachKVs: Seq[Column] =
      Seq(o.in -> cInput, o.out -> cOutput, o.cacheRead -> cRead,
        o.cacheWrite -> cWrite, o.total -> cTotal)
        .collect { case (k, v) if k.nonEmpty => Seq(lit(k), v) }.flatten

    // a span frame without a bool map takes the string and number updates
    val updates = FieldCols.mergeAttrs(
      numbers = when(processed, map(attachKVs: _*)).otherwise(map().cast(LogSchema.mapSD)))
      .filter { case (m, _) => df1.columns.contains(m) }
    FieldCols.applyUpdates(df1, updates, None).drop("__llm_rule")
  }

  // ---- config loader (reference mapstructure field names, like
  // ---- [[graft.operators.PipelineConfig]])

  private val mapper = new ObjectMapper()

  /** Parse the reference's processor config
    * (`testdata/config.yaml` shape, as JSON): `attrs`, `default_pricing.rules`,
    * `output_attrs`.
    */
  def fromJson(json: String): Config = {
    val n = mapper.readTree(json)
    def s(node: JsonNode, f: String): String = {
      val v = node.get(f)
      if (v == null || v.isNull) "" else v.asText()
    }
    def d(node: JsonNode, f: String): Double = {
      val v = node.get(f)
      if (v == null || v.isNull) 0.0 else v.asDouble()
    }
    val attrsN = n.get("attrs")
    require(attrsN != null, "config needs an 'attrs' object")
    val attrs = AttrMapping(
      model = s(attrsN, "model"), in = s(attrsN, "in"), out = s(attrsN, "out"),
      cacheRead = s(attrsN, "cache_read"), cacheWrite = s(attrsN, "cache_write"))
    import scala.jdk.CollectionConverters._
    val rulesN = Option(n.get("default_pricing")).flatMap(p => Option(p.get("rules")))
      .map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
    val rules = rulesN.map { r =>
      val cacheN = Option(r.get("cache"))
      Rule(
        name = s(r, "name"),
        patterns = Option(r.get("pattern")).map(_.elements().asScala.map(_.asText()).toSeq)
          .getOrElse(Seq.empty),
        cache = cacheN.map(c => CacheCfg(s(c, "mode"), d(c, "read"), d(c, "write")))
          .getOrElse(CacheCfg()),
        in = d(r, "in"), out = d(r, "out"))
    }
    val outN = Option(n.get("output_attrs"))
    val outputs = outN.map(o => OutputMapping(
      in = s(o, "in"), out = s(o, "out"), cacheRead = s(o, "cache_read"),
      cacheWrite = s(o, "cache_write"), total = s(o, "total"))).getOrElse(OutputMapping())
    Config(attrs, rules, outputs).validate()
  }
}
