package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{AnyKeyContains, GoFormatFloat}
import graft.operators.{FieldCols, FieldRef}

/** The span-mapper processor (`processor/signozspanmapperprocessor/
  * processor.go`): config-driven attribute normalization — groups gated by
  * an `exists_any` key-substring condition, each applying rules that copy or
  * move the FIRST existing source attribute into a target key, in span/log
  * attribute or resource context.
  *
  * Semantics replicated from the reference:
  *  - gate (processor.go:97-127): a group runs when any RESOURCE key
  *    contains one of its resource substrings (evaluated against the
  *    resource attrs AS RECEIVED — `resMatched` is computed per batch
  *    before any rule mutates them, processor.go:75-80) OR any ATTRIBUTE
  *    key contains one of its attribute substrings (evaluated against the
  *    current attr state, i.e. seeing earlier groups' writes);
  *  - rule (processor.go:133-166 applyRule): sources probed in order,
  *    first existing one wins; its value is copied to the target (resource
  *    context when `context: resource`, attrs otherwise), and the source
  *    key is deleted when its action is `move`; no source → no-op;
  *  - `resource.`-prefixed source keys read from resource attrs
  *    (config.go:117-120).
  *
  * Spark-first restatement over the typed-map row model: each rule is a
  * chain of gated [[FieldCols]] updates, one per source (codegen
  * MapFilterKeys + map_concat, no interpreted HOFs), applied sequentially so
  * later rules and groups see earlier writes exactly like the in-place
  * pcommon.Map mutation. Values keep their type when copied attr→attr
  * ([[FieldCols.copyAttr]]); writes into resource context stringify
  * numbers/bools the `pcommon.Value.AsString` way (resource maps are
  * force-stringified everywhere in this engine). One deliberate divergence:
  * the reference mutates the resource map SHARED by all spans under one
  * ResourceSpans, so a resource-context write becomes visible to sibling
  * spans in the same batch — a batch-boundary-dependent effect; here every
  * row sees its own resource view (deterministic, boundary-free).
  */
object SpanMapper {

  /** `resource.`-prefixed keys resolve against resource attrs. */
  final case class Source(key: String, move: Boolean = false) {
    private[SpanMapper] def isResource: Boolean = key.startsWith("resource.")
    private[SpanMapper] def bare: String =
      if (isResource) key.stripPrefix("resource.") else key
  }

  final case class Rule(target: String, sources: Seq[Source],
      toResource: Boolean = false)

  final case class Group(id: String, attrPatterns: Seq[String],
      resPatterns: Seq[String], rules: Seq[Rule])

  private val R = "resources_string"

  /** Apply every group in order. Works on any frame with the typed attr
    * maps + resources_string (spans and logs share the shape).
    */
  def apply(df: DataFrame, groups: Seq[Group]): DataFrame = {
    if (groups.isEmpty) return df
    // the reference evaluates every group's resource condition against the
    // resource attrs as received, before any rule mutates them
    var cur = df.withColumn("__res0", col(R))
    groups.zipWithIndex.foreach { case (g, gi) =>
      val resGate =
        if (g.resPatterns.isEmpty) lit(false)
        else AnyKeyContains(col("__res0"), g.resPatterns)
      val attrGate =
        if (g.attrPatterns.isEmpty) lit(false)
        else AnyKeyContains(col("attributes_string"), g.attrPatterns) ||
          AnyKeyContains(col("attributes_number"), g.attrPatterns) ||
          AnyKeyContains(col("attributes_bool"), g.attrPatterns)
      val gateName = s"__gate_$gi"
      cur = cur.withColumn(gateName, resGate || attrGate)
      g.rules.foreach { r => cur = applyRule(cur, col(gateName), r) }
      cur = cur.drop(gateName)
    }
    cur.drop("__res0")
  }

  /** One rule: the first existing source's value goes to the target, and
    * a `move` source is deleted after the copy (processor.go:133-166), so a
    * move onto its own key deletes it. The selected source's index is
    * materialized before any update, so each source's updates read the row
    * as it was and at most one source's updates fire.
    */
  private def applyRule(df: DataFrame, gate: Column, rule: Rule): DataFrame = {
    val refs = rule.sources.map(s =>
      if (s.isResource) FieldRef.Resource(Seq(s.bare)) else FieldRef.Attr(Seq(s.key)))
    val sel = refs.zipWithIndex.foldRight(lit(-1)) {
      case ((r, i), rest) => when(FieldCols.exists(r), i).otherwise(rest)
    }
    val out = rule.sources.zip(refs).zipWithIndex.foldLeft(df.withColumn("__sel", sel)) {
      case (d, ((s, ref), i)) =>
        val write = (ref, rule.toResource) match {
          case (_, true) => FieldCols.setString(FieldRef.Resource(Seq(rule.target)), asString(s))
          case (from: FieldRef.Attr, false) =>
            // the target joins the source value's typed map
            FieldCols.copyAttr(from, FieldRef.Attr(Seq(rule.target)), move = false)
          case _ => FieldCols.setString(FieldRef.Attr(Seq(rule.target)), col(R).getItem(s.bare))
        }
        val stages = write +: (if (s.move) Seq(FieldCols.remove(ref)) else Nil)
        val active = Some(gate && col("__sel") === i)
        stages.foldLeft(d)((d1, u) => FieldCols.applyUpdates(d1, u, active))
    }
    out.drop("__sel")
  }

  /** The source's value in the `pcommon.Value.AsString` rendering that a
    * resource-context target takes: a number through Go's
    * `strconv.FormatFloat(f, 'f', -1, 64)`, [[graft.functions.GoFloat.fixed]]
    * ([[GoFormatFloat]]), as at every AsString site (SURVEY row 353). A
    * stanza `%v` read ([[FieldCols.stringifyNumber]]) is another Go
    * function and prints another layout.
    */
  private def asString(s: Source): Column =
    if (s.isResource) col(R).getItem(s.bare)
    else {
      val (str, num, bool) = (col("attributes_string").getItem(s.key),
        col("attributes_number").getItem(s.key), col("attributes_bool").getItem(s.key))
      coalesce(str, when(num.isNotNull, GoFormatFloat(num)),
        when(bool.isNotNull, when(bool, "true").otherwise("false")))
    }
}
