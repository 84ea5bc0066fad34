package graft.pipeline

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.MapKeysRegex
import graft.operators.{FieldCols, FieldRef}

/** The collector `attributes` processor re-expressed over this engine's
  * typed attribute maps (contrib `processor/attributesprocessor` v0.144 —
  * the processor the reference's own simulator test drives,
  * `pkg/collectorsimulator/traces_test.go:29-61`).
  *
  * Semantics (public contrib `attraction` + `filterset` behavior):
  *  - `include` / `exclude` gate which rows the actions touch. `match_type:
  *    strict` compares values exactly; `regexp` is Go `MatchString`, i.e.
  *    unanchored search — Spark `rlike` has identical semantics. The
  *    `attributes` list is ALL-of (a key with no `value` = presence test);
  *    `span_names` / `log_bodies` / `log_severity_texts` / `services` are
  *    each ANY-of within the list. Rows failing the gate pass through
  *    untouched — this is a row filter on the UPDATE, not on the frame.
  *  - actions apply in config order, each a gated columnar update:
  *    `insert` (only if key absent), `update` (only if present), `upsert`,
  *    `delete` (by key or `pattern`), `hash` (by key or `pattern`; SHA-256
  *    hex, the `coreinternal.attraction.hash.sha256` gate that is enabled
  *    by default at the reference's contrib version; non-string values are
  *    hashed over their rendered string — a documented deviation from
  *    contrib's raw-byte hashing of int/double, which has no Spark-native
  *    equivalent), `convert` (`int` truncates doubles / parses integral
  *    strings, `double` parses, `string` Go-renders; a value that fails to
  *    convert stays unchanged, like contrib), `extract` (regex named groups
  *    over the source value upserted as string attributes; non-matching
  *    rows untouched).
  *
  * Everything compiles to `when`-gated map updates over the typed maps —
  * per-row codegen projections, no shuffle, no UDF. The two `pattern`
  * variants select keys with the OTTL `delete_matching_keys` kernel
  * [[graft.functions.MapKeysRegex]] (unanchored find) and pattern `hash`
  * the [[graft.functions.HashTypedMaps]] kernel; everything else rides the
  * [[graft.functions.MapFilterKeys]] codegen kernel via [[FieldCols]].
  */
object AttributesProcessor {

  /** One include/exclude block (contrib filterset `MatchProperties`). */
  final case class MatchProps(
      matchType: String,
      attributes: Seq[(String, Option[String])],
      spanNames: Seq[String],
      logBodies: Seq[String],
      logSeverityTexts: Seq[String],
      services: Seq[String]) {

    def toColumn: Column = {
      require(matchType == "strict" || matchType == "regexp",
        s"unsupported match_type: $matchType")
      def one(c: Column, v: String): Column =
        if (matchType == "regexp") c.rlike(v) else c === v
      val attrTests = attributes.map { case (k, v) =>
        val f = FieldRef.Attr(Seq(k))
        v match {
          case None => FieldCols.exists(f)
          case Some(value) => one(FieldCols.readString(f), value)
        }
      }
      val anyOf = Seq(
        spanNames -> col("name"),
        logBodies -> col("body"),
        logSeverityTexts -> col("severity_text"),
        services -> col("resources_string").getItem("service.name")
      ).collect { case (vals, c) if vals.nonEmpty =>
        vals.map(one(c, _)).reduce(_ || _)
      }
      (attrTests ++ anyOf).reduceOption(_ && _).getOrElse(lit(true))
    }
  }

  /** One `actions:` entry (contrib `attraction.ActionKeyValue`). */
  final case class Action(
      key: String,
      action: String,
      value: Option[JsonNode],
      fromAttribute: Option[String],
      pattern: Option[String],
      convertedType: Option[String])

  final case class Spec(
      include: Option[MatchProps],
      exclude: Option[MatchProps],
      actions: Seq[Action]) {
    /** The row gate: include matches (or no include) AND exclude doesn't. */
    def gate: Column = {
      val inc = include.map(_.toColumn).getOrElse(lit(true))
      val exc = exclude.map(p => !coalesce(p.toColumn, lit(false))).getOrElse(lit(true))
      coalesce(inc, lit(false)) && exc
    }
  }

  private val mapper = new ObjectMapper()

  def fromJson(json: String): Spec = {
    import scala.jdk.CollectionConverters._
    val root = mapper.readTree(json)
    def strList(n: JsonNode, f: String): Seq[String] =
      Option(n.get(f)).toSeq.flatMap(_.elements().asScala.map(_.asText()).toSeq)
    def props(n: JsonNode): MatchProps = MatchProps(
      matchType = Option(n.get("match_type")).map(_.asText()).getOrElse("strict"),
      attributes = Option(n.get("attributes")).toSeq.flatMap(_.elements().asScala.toSeq)
        .map(a => (a.get("key").asText(),
          Option(a.get("value")).filterNot(_.isNull).map(_.asText()))),
      spanNames = strList(n, "span_names"),
      logBodies = strList(n, "log_bodies"),
      logSeverityTexts = strList(n, "log_severity_texts"),
      services = strList(n, "services"))
    val actions = Option(root.get("actions")).toSeq.flatMap(_.elements().asScala.toSeq)
      .map { a =>
        def s(f: String) = Option(a.get(f)).filterNot(_.isNull).map(_.asText())
        Action(
          key = s("key").getOrElse(""),
          action = s("action").getOrElse(
            throw new IllegalArgumentException("attributes action needs 'action'")),
          value = Option(a.get("value")).filterNot(_.isNull),
          fromAttribute = s("from_attribute"),
          pattern = s("pattern"),
          convertedType = s("converted_type"))
      }
    Spec(
      include = Option(root.get("include")).map(props),
      exclude = Option(root.get("exclude")).map(props),
      actions = actions)
  }

  def compile(configJson: String): DataFrame => DataFrame = {
    val spec = fromJson(configJson)
    df => applySpec(df, spec)
  }

  def applySpec(df0: DataFrame, spec: Spec): DataFrame = {
    val gate = spec.gate
    spec.actions.foldLeft(df0)((df, a) => applyAction(df, a, gate))
  }

  private def applyAction(df: DataFrame, a: Action, gate: Column): DataFrame = {
    val f = FieldRef.Attr(Seq(a.key))
    a.action match {
      case "insert" => typedSet(df, f, a, gate && !FieldCols.exists(f))
      case "update" => typedSet(df, f, a, gate && FieldCols.exists(f))
      case "upsert" => typedSet(df, f, a, gate)

      case "delete" => a.pattern match {
        case Some(pat) => FieldCols.applyUpdates(df,
          FieldCols.editMaps(FieldRef.AttrsRoot, MapKeysRegex(_, pat, keep = false), typed = true),
          Some(gate))
        case None => FieldCols.applyUpdates(df, FieldCols.remove(f), Some(gate))
      }

      case "hash" => a.pattern match {
        case Some(pat) => FieldCols.applyUpdates(df, FieldCols.hashMatching(pat), Some(gate))
        case None =>
          FieldCols.applyUpdates(df,
            FieldCols.setString(f, sha2(FieldCols.readString(f), 256)),
            Some(gate && FieldCols.exists(f)))
      }

      case "convert" => convertedTo(df, f, a, gate)

      case "extract" =>
        val pat = a.pattern.getOrElse(
          throw new IllegalArgumentException("extract action needs 'pattern'"))
        require(graft.functions.RegexNamedGroups.scan(pat).names.nonEmpty,
          "extract pattern needs named capture groups")
        // every named group is a key of the groups map, matched or not
        val groups = graft.functions.RegexExtractNamedGroups(FieldCols.readString(f), pat)
        FieldCols.applyUpdates(df, FieldCols.mergeAttrs(groups), Some(gate && groups.isNotNull))

      case other =>
        throw new IllegalArgumentException(s"unsupported attributes action: $other")
    }
  }

  /** insert/update/upsert with a literal `value` (typed by its JSON type)
    * or `from_attribute` (copies preserving the source's typed map).
    */
  private def typedSet(df: DataFrame, f: FieldRef.Attr, a: Action, gate: Column): DataFrame =
    (a.value, a.fromAttribute) match {
      case (Some(v), _) =>
        val updates =
          if (v.isBoolean) FieldCols.setBool(f, lit(v.asBoolean()))
          else if (v.isNumber) FieldCols.setNumber(f, lit(v.asDouble()))
          else FieldCols.setString(f, lit(v.asText()))
        FieldCols.applyUpdates(df, updates, Some(gate))
      case (None, Some(src)) =>
        val from = FieldRef.Attr(Seq(src))
        FieldCols.applyUpdates(df, FieldCols.copyAttr(from, f, move = false),
          Some(gate && FieldCols.exists(from)))
      case (None, None) =>
        throw new IllegalArgumentException(
          s"${a.action} action needs 'value' or 'from_attribute'")
    }

  /** contrib `convert`: int truncates doubles / parses integral strings,
    * double parses strings, string Go-renders; failures leave the value
    * unchanged (gate includes parse success).
    */
  private def convertedTo(df: DataFrame, f: FieldRef, a: Action, gate: Column): DataFrame = {
    val Seq(str, num, bool) =
      Seq("attributes_string", "attributes_number", "attributes_bool").map(col(_).getItem(a.key))
    a.convertedType.getOrElse(
      throw new IllegalArgumentException("convert action needs 'converted_type'")) match {
      case "string" =>
        FieldCols.applyUpdates(df, FieldCols.setString(f, FieldCols.readString(f)),
          Some(gate && FieldCols.exists(f)))
      case "double" =>
        val parsed = coalesce(num, str.cast("double"), bool.cast("int").cast("double"))
        FieldCols.applyUpdates(df, FieldCols.setNumber(f, parsed),
          Some(gate && parsed.isNotNull))
      case "int" =>
        // Go strconv.ParseInt rejects "1.5"; double truncates toward zero
        val fromStr = when(str.rlike("^[+-]?[0-9]+$"), str.cast("long"))
        val parsed = coalesce(num.cast("long"), fromStr, bool.cast("int").cast("long"))
        FieldCols.applyUpdates(df, FieldCols.setNumber(f, parsed.cast("double")),
          Some(gate && parsed.isNotNull))
      case other =>
        throw new IllegalArgumentException(s"unsupported converted_type: $other")
    }
  }
}
