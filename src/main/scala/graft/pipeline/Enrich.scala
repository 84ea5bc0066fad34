package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.LogSchema
import graft.operators.FieldCols

/** Broadcast-lookup enrich stage.
  *
  * Modeled on the reference's LLM-pricing processor: a small rule table is
  * matched per row — FIRST matching glob on a key attribute wins — and the
  * matched rule's outputs are written back as attributes
  * (`processor/signozllmpricingprocessor/processor.go:105-184`, glob match
  * via `path.Match` at :133). The reference's severity mapping and
  * spanmetrics dimension defaults are the same shape (SURVEY.md §2.7 joins).
  *
  * Spark-first restatement: rules become a broadcast hash join when they are
  * exact keys, and a first-match `CASE WHEN` chain when they are globs (the
  * rule table is driver-small by definition — it rides into the codegen'd
  * plan, zero shuffle, zero extra pass).
  */
object Enrich {

  /** One rule: glob on the match column -> attribute values to attach. */
  final case class Rule(glob: String, attach: Map[String, String])

  /** Translate a shell glob (`path.Match` semantics: `*` any run, `?` one
    * char, `[...]` class) to an anchored regex.
    */
  def globToRegex(glob: String): String = {
    val sb = new StringBuilder("^")
    var i = 0
    while (i < glob.length) {
      glob.charAt(i) match {
        case '*' => sb.append("[^/]*")
        case '?' => sb.append("[^/]")
        case '[' =>
          val end = glob.indexOf(']', i + 1)
          require(end > 0, s"malformed glob class in: $glob")
          sb.append('[').append(glob.substring(i + 1, end).replace("\\", "\\\\")).append(']')
          i = end
        case c if "\\.[]{}()+-^$|".indexOf(c) >= 0 => sb.append('\\').append(c)
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('$').toString
  }

  /** First-match-wins glob rules: attach each output key of the winning rule
    * as a string attribute. Pure projection (rules folded into the plan).
    */
  def applyRules(df: DataFrame, matchOn: Column, rules: Seq[Rule]): DataFrame = {
    if (rules.isEmpty) return df
    // winning rule index; -1 = no match
    val ruleIdx = rules.zipWithIndex.foldRight(lit(-1): Column) { case ((r, i), acc) =>
      when(matchOn.rlike(globToRegex(r.glob)), lit(i)).otherwise(acc)
    }
    val df1 = df.withColumn("__rule", ruleIdx)
    // each rule's attach map is a static LITERAL selected by the winning
    // index — no nulls to filter, so no `map_filter` (a CodegenFallback HOF
    // that would drag this whole projection out of whole-stage codegen)
    val empty = map().cast(LogSchema.mapSS)
    val attachMap = rules.zipWithIndex.foldRight(empty: Column) {
      case ((r, i), acc) =>
        val m = if (r.attach.isEmpty) empty else typedlit(r.attach)
        when(col("__rule") === i, m).otherwise(acc)
    }
    FieldCols.applyUpdates(df1, FieldCols.mergeAttrs(attachMap), None).drop("__rule")
  }

  /** Exact-key lookup enrich: broadcast hash join against a lookup table
    * `(key, attrs...)`; matched columns are attached as string attributes
    * under their column names. Non-matching rows pass through unchanged.
    * This is the role/tool/conv-level lookup stage of the flagship job.
    */
  def lookupJoin(df: DataFrame, lookup: DataFrame, dfKey: Column, lookupKey: String): DataFrame = {
    val attachCols = lookup.columns.filter(_ != lookupKey)
    val prefixed = lookup.select(
      col(lookupKey).as("__lk") +: attachCols.map(c => col(c).as(s"__lv_$c")): _*)
    val joined = df.join(broadcast(prefixed), dfKey === col("__lk"), "left")
    // lookup columns can be null per row (NULL cells in the dim table);
    // MapDropNullValues is the codegen replacement for
    // `map_filter(m, (k, v) => v.isNotNull)` — zero-alloc when nothing drops
    val attach = graft.functions.MapDropNullValues(
      map(attachCols.flatMap(c => Seq(lit(c), col(s"__lv_$c").cast("string"))): _*))
    FieldCols.applyUpdates(joined, FieldCols.mergeAttrs(
        when(col("__lk").isNotNull, attach).otherwise(map().cast(LogSchema.mapSS))), None)
      .drop("__lk" +: attachCols.map(c => s"__lv_$c"): _*)
  }

  /** The flagship enrich: role- and tool-level lookups (deterministic
    * driver-side dimension tables).
    */
  def roleToolEnrich(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val roleDim = Seq(
      ("user", "human", "inbound"),
      ("assistant", "model", "outbound"),
      ("system", "config", "inbound"),
      ("tool", "machine", "internal")
    ).toDF("role_key", "actor_kind", "direction")
    val toolRules = Seq(
      Rule("bash", Map("tool_class" -> "shell", "tool_risk" -> "high")),
      Rule("browser*", Map("tool_class" -> "web", "tool_risk" -> "medium")),
      Rule("search*", Map("tool_class" -> "web", "tool_risk" -> "low")),
      Rule("*", Map("tool_class" -> "other", "tool_risk" -> "unknown")))
    val withRole = lookupJoin(df, roleDim, col("role"), "role_key")
    // only rows that actually carry a tool get tool_class attributes
    val withTool = applyRules(
      withRole.withColumn("__tool_match",
        when(col("tool").isNotNull && col("tool") =!= "", col("tool"))),
      col("__tool_match"), toolRules)
    withTool.drop("__tool_match")
  }
}
