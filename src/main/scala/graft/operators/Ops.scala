package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Grok, JsonTypedMaps, NormalizeBody, RegexExtractNamedGroups, Severity, TimeFormats}

/** The logs-pipeline operator set, as a config ADT compiled to `Column`
  * rewrites over the [[graft.model.LogRow]] columns.
  *
  * Operator inventory and semantics mirror the reference's stanza registry
  * (`processor/signozlogspipelineprocessor/stanza/operator/registry.go:10-12`,
  * SURVEY.md §2.1); execution is one sequential `DataFrame` composition where
  * every operator is a gated projection — per-row `if:` guards and
  * first-match routing become `CASE WHEN` trees that Catalyst folds into a
  * single whole-stage-codegen'd pass, instead of the reference's row-at-a-time
  * interpreter loop (`processor.go:168-191`).
  */
object OnError {
  sealed trait T
  /** forward the unmodified-so-far entry downstream (default) */
  case object Send extends T
  case object SendQuiet extends T
  /** discard entries whose parse failed */
  case object Drop extends T
  case object DropQuiet extends T

  def parse(s: String): T = s match {
    case "send" | "" => Send
    case "send_quiet" => SendQuiet
    case "drop" => Drop
    case "drop_quiet" => DropQuiet
    case other => throw new IllegalArgumentException(s"invalid on_error: $other")
  }
}

/** Cross-cutting operator fields (`helper/transformer.go:43-51,96-147`). */
final case class Common(
    id: String,
    ifExpr: Option[String] = None,
    onError: OnError.T = OnError.Send,
    output: Seq[String] = Nil // empty = next operator in config order
)

/** Embedded sub-parsers every parser config can carry
  * (`helper/parser.go:27-36,130-190`): they run after the main parse, on the
  * already-parsed entry, each failing independently.
  */
final case class ParserExtras(
    timestamp: Option[TimeParserSpec] = None,
    severity: Option[SeveritySpec] = None,
    trace: Option[TraceSpec] = None,
    scopeName: Option[FieldRef] = None
)

final case class TimeParserSpec(parseFrom: FieldRef, layoutType: String, layout: String,
    location: Option[String] = None)
final case class SeveritySpec(
    parseFrom: FieldRef,
    preset: String = "",
    mapping: Seq[(String, Seq[Severity.MappingValue])] = Nil,
    overwriteText: Boolean = false)
final case class TraceSpec(
    traceId: Option[FieldRef] = None,
    spanId: Option[FieldRef] = None,
    traceFlags: Option[FieldRef] = None)

final case class Route(expr: String, output: Seq[String], attributes: Map[String, String] = Map.empty)

sealed trait Op { def common: Common; def id: String = common.id }
/** `json = false`: `value` is a plain string (or an `EXPR(...)`).
  * `json = true`: `value` is the JSON rendering of a TYPED config value
  * (int/float/bool/array/map — add/config.go takes `any`): numbers/bools
  * land in their typed attribute maps, maps MERGE into body paths
  * (BodyField.Set), containers stringify into string-typed destinations.
  */
final case class AddOp(common: Common, field: FieldRef, value: String,
    json: Boolean = false) extends Op
final case class RemoveOp(common: Common, field: FieldRef) extends Op
final case class CopyOp(common: Common, from: FieldRef, to: FieldRef) extends Op
final case class MoveOp(common: Common, from: FieldRef, to: FieldRef) extends Op
final case class NoopOp(common: Common) extends Op
final case class NormalizeOp(common: Common) extends Op
final case class RegexParserOp(
    common: Common,
    regex: String,
    parseFrom: FieldRef = FieldRef.Body,
    parseTo: FieldRef = FieldRef.AttrsRoot,
    extras: ParserExtras = ParserExtras()) extends Op
final case class GrokParserOp(
    common: Common,
    pattern: String,
    include: Set[String] = Set.empty,
    exclude: Set[String] = Set.empty,
    parseFrom: FieldRef = FieldRef.Body,
    parseTo: FieldRef = FieldRef.AttrsRoot,
    extras: ParserExtras = ParserExtras()) extends Op
final case class JsonParserOp(
    common: Common,
    parseFrom: FieldRef = FieldRef.Body,
    parseTo: FieldRef = FieldRef.AttrsRoot,
    maxFlatteningDepth: Option[Int] = None,
    enablePaths: Boolean = false,
    pathPrefix: String = "",
    extras: ParserExtras = ParserExtras()) extends Op
final case class SeverityParserOp(common: Common, spec: SeveritySpec) extends Op
final case class TimeParserOp(common: Common, spec: TimeParserSpec) extends Op
final case class TraceParserOp(common: Common, spec: TraceSpec) extends Op
final case class RouterOp(common: Common, routes: Seq[Route], default: Seq[String] = Nil) extends Op

object Ops {
  import FieldRef._

  /** Name of the route column a router materializes. */
  private def routeCol(routerId: String, isFirst: Boolean): String =
    if (isFirst) "route" else s"route_$routerId"

  /** Write a parsed result to an arbitrary parse_to destination. */
  private def assignTypedStruct(parseTo: FieldRef, parsed: Column): Seq[(String, Column)] =
    parseTo match {
      case AttrsRoot => FieldCols.mergeAttrs(
        parsed.getField("strings"), parsed.getField("numbers"), parsed.getField("bools"))
      case other =>
        // non-root destination: store the parsed map as canonical JSON text
        FieldCols.setString(other, to_json(parsed))
    }

  private def assignStringMap(parseTo: FieldRef, parsedStr: Column, typedNum: Column): Seq[(String, Column)] =
    parseTo match {
      case AttrsRoot => FieldCols.mergeAttrs(parsedStr, typedNum)
      case other => FieldCols.setString(other, to_json(parsedStr))
    }

  // -- extras ----------------------------------------------------------------

  private def severityUpdates(spec: SeveritySpec): (Column, Seq[(String, Column)]) = {
    val mapping = Severity.buildMapping(spec.preset, spec.mapping)
    val value = FieldCols.readString(spec.parseFrom)
    // O(1) hash-dict probe — element_at on a map literal is a linear scan
    // per row, ruinous for the ~400-key 2xx..5xx expansions (see Dict.scala)
    val lookup =
      if (mapping.isEmpty) lit(null).cast("int")
      else graft.functions.DictLookupInt(graft.functions.FastLower(value), mapping)
    val sevNum = coalesce(lookup, lit(Severity.Default))
    val sevText =
      if (spec.overwriteText)
        when(sevNum =!= Severity.Default,
          element_at(typedlit(Severity.text), sevNum + lit(1))) // array index: O(1)
          .otherwise(value)
      else value
    val ok = FieldCols.exists(spec.parseFrom)
    (ok, Seq("severity_number" -> sevNum, "severity_text" -> sevText))
  }

  private def timeUpdates(spec: TimeParserSpec): (Column, Seq[(String, Column)]) = {
    val parsed = spec.parseFrom match {
      case Attr(keys) if spec.layoutType == "epoch" =>
        // numeric attribute values truncate like Go `int64(v)`; string values
        // must be strictly integral (`helper/time.go:168-228`)
        val k = FieldCols.attrKey(keys)
        val numVal = col("attributes_number").getItem(k)
        when(numVal.isNotNull,
          TimeFormats.parseToNanos(numVal, "epoch", spec.layout, sourceIsNumeric = true))
          .otherwise(TimeFormats.parseToNanos(
            col("attributes_string").getItem(k), "epoch", spec.layout, sourceIsNumeric = false))
      case f =>
        TimeFormats.parseToNanos(FieldCols.readString(f), spec.layoutType, spec.layout,
          location = spec.location)
    }
    val ok = FieldCols.exists(spec.parseFrom) && parsed.isNotNull
    (ok, Seq("timestamp" -> parsed))
  }

  private val hexRe = "^(?:[0-9a-fA-F]{2})*$"

  private def traceUpdates(spec: TraceSpec): (Column, Seq[(String, Column)]) = {
    // defaults: body.trace_id / body.span_id / body.trace_flags
    // (`helper/trace.go:40-76`); best-effort hex decode, missing field = no-op,
    // invalid hex = error (`helper/trace.go:80-112`)
    val tid = FieldCols.readString(spec.traceId.getOrElse(FieldRef.BodyPath(Seq("trace_id"))))
    val sid = FieldCols.readString(spec.spanId.getOrElse(FieldRef.BodyPath(Seq("span_id"))))
    val tf = FieldCols.readString(spec.traceFlags.getOrElse(FieldRef.BodyPath(Seq("trace_flags"))))
    def valid(c: Column): Column = c.isNull || c.rlike(hexRe)
    // `ok` routes the combined error to on_error, but each FIELD applies
    // independently: the reference parses all three and keeps the valid ones
    // even when another errors (helper/trace.go:93-111 — entry.TraceID etc
    // are assigned before the error return)
    val ok = valid(tid) && valid(sid) && valid(tf)
    val updates = Seq(
      "trace_id" -> when(tid.isNotNull && tid.rlike(hexRe),
        graft.functions.FastLower(tid)).otherwise(col("trace_id")),
      "span_id" -> when(sid.isNotNull && sid.rlike(hexRe),
        graft.functions.FastLower(sid)).otherwise(col("span_id")),
      // the 8 LSBs of the first decoded byte (`utils.go:150-155`)
      "trace_flags" -> when(tf.isNotNull && tf.rlike(hexRe) && length(tf) >= 2,
        conv(substring(graft.functions.FastLower(tf), 1, 2), 16, 10).cast("int"))
        .otherwise(col("trace_flags"))
    )
    (ok, updates)
  }

  private def applyExtras(df0: DataFrame, extras: ParserExtras, gate: Column,
      onError: OnError.T): DataFrame = {
    var df = df0
    extras.timestamp.map(timeUpdates).foreach { case (ok, u) =>
      df = step(df, gate, ok, onError)(u) }
    extras.severity.map(severityUpdates).foreach { case (ok, u) =>
      df = step(df, gate, ok, onError)(u) }
    extras.trace.map(traceUpdates).foreach { case (ok, u) =>
      df = step(df, gate, ok, onError, partial = true)(u) }
    extras.scopeName.foreach { f =>
      df = FieldCols.applyUpdates(df, Seq("scope_name" -> FieldCols.readString(f)), Some(gate))
    }
    df
  }

  /** The one operator step, where on_error is decided
    * (`helper/transformer.go:43-51,118-130`). Each stage of `updates`
    * applies in turn to the rows that pass `gate` and whose `ok` holds; a
    * `partial` step (trace_parser, remove) applies them on `gate` alone,
    * each update carrying its own validity, and `ok` only routes the error.
    * Rows where `gate && !ok` pass unmodified under `send*` and are
    * filtered out under `drop*`. `ok` and the filter read the row before
    * the updates rewrite it.
    */
  private def step(df0: DataFrame, gate: Column, ok: Column, onError: OnError.T,
      partial: Boolean = false)(updates: Seq[(String, Column)]*): DataFrame = {
    val df = df0.withColumn("__ok", coalesce(ok, lit(false)))
    val kept = onError match {
      case OnError.Drop | OnError.DropQuiet => df.filter(!gate || col("__ok"))
      case _ => df
    }
    val g = if (partial) gate else gate && col("__ok")
    updates.foldLeft(kept)((d, u) => FieldCols.applyUpdates(d, u, Some(g))).drop("__ok")
  }

  /** The parser shell (`helper/parser.go:130-190`): the `kernel` result
    * lands in `__parsed` under the gate, the step `assign`s it where it is
    * not null, and the embedded sub-parsers run on the rows that parsed.
    */
  private def parse(df: DataFrame, c: Common, gate: Column, extras: ParserExtras,
      kernel: Column)(assign: Column => Seq[(String, Column)]): DataFrame = {
    val parsed = col("__parsed")
    val df1 = step(df.withColumn("__parsed", when(gate, kernel)), gate, parsed.isNotNull,
      c.onError)(assign(parsed))
    applyExtras(df1, extras, gate && parsed.isNotNull, c.onError).drop("__parsed")
  }

  // -- the operator dispatch ---------------------------------------------------

  /** Apply one operator for rows where `reach` holds. A router also
    * returns each of its outputs with the condition under which a row
    * reaches it; every other operator returns no outputs.
    */
  def applyOp(df: DataFrame, op: Op, reach: Column,
      isFirstRouter: Boolean = true): (DataFrame, Seq[(String, Column)]) = {
    val gate = op.common.ifExpr match {
      case Some(e) => reach && ExprLang.boolExpr(e)
      case None => reach
    }
    var routed = Seq.empty[(String, Column)]
    val out = op match {
      case NoopOp(_) => df

      case AddOp(_, field, value, isJson) =>
        // EXPR values can ERROR at runtime in the reference (nil + string,
        // expr.go RunWithExprEnv) — a null evaluation result here gates the
        // write so the entry passes through unchanged (on_error: send).
        // Documented approximation: an EXPR that legitimately evaluates to
        // nil (bare absent field) also skips the write, where the reference
        // would store a nil-valued key.
        var exprGate: Option[Column] = None
        val updates =
          if (!isJson) {
            val v =
              if (value.startsWith("EXPR(") && value.endsWith(")")) {
                val c = ExprLang.stringExpr(value.substring(5, value.length - 1))
                exprGate = Some(c.isNotNull)
                c
              } else lit(value)
            FieldCols.setString(field, v)
          } else {
            // typed static value: dispatch on its JSON shape at plan build
            val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(value)
            if (node.isNumber) field match {
              // int64 config values above 2^53 would corrupt through a
              // double round-trip: body paths take the exact JSON text,
              // long-typed tops the exact long (attributes_number is
              // double-typed by model, like reference float64 round-trips)
              case BodyPath(keys) if node.isIntegralNumber =>
                Seq("body" -> graft.functions.BodyEdit.set(col("body"), keys,
                  lit(node.toString)))
              case Top(n) if FieldCols.isNumericTop(n) && node.isIntegralNumber =>
                FieldCols.setNumber(field, lit(node.asLong()))
              case Attr(_) | BodyPath(_) => FieldCols.setNumber(field, lit(node.asDouble()))
              case Top(n) if FieldCols.isNumericTop(n) =>
                FieldCols.setNumber(field, lit(node.asDouble()))
              case other => // string-typed destination: Go %v (SURVEY row 358)
                FieldCols.setString(other, lit(
                  if (node.isIntegralNumber) node.asText()
                  else graft.functions.GoFloat.percentV(node.asDouble())))
            }
            else if (node.isBoolean) FieldCols.setBool(field, lit(node.asBoolean()))
            else if (node.isTextual) FieldCols.setString(field, lit(node.asText()))
            else field match { // array / object
              case BodyPath(keys) =>
                Seq("body" -> graft.functions.BodyEdit.set(col("body"), keys, lit(value)))
              case Body =>
                Seq("body" -> graft.functions.BodyEdit.set(col("body"), Nil, lit(value)))
              case other => FieldCols.setString(other, lit(node.toString))
            }
          }
        FieldCols.applyUpdates(df, updates,
          Some(exprGate.map(gate && _).getOrElse(gate)))

      case RemoveOp(c, field) =>
        // missing field is an error (remove/transformer.go:38-42), seen only
        // under on_error: drop since removing an absent field changes
        // nothing; rootable/whole-entry targets always succeed
        // (transformer.go:29-37)
        val ok = field match {
          case AttrsRoot | ResourceRoot | Body | Top(_) => lit(true)
          case _ => FieldCols.existsStrict(field)
        }
        step(df, gate, ok, c.onError, partial = true)(FieldCols.remove(field))

      case CopyOp(c, from, to) =>
        step(df, gate, FieldCols.existsStrict(from), c.onError)(
          copyMove(from, to, deleteFrom = false): _*)

      case MoveOp(c, from, to) =>
        step(df, gate, FieldCols.existsStrict(from), c.onError)(
          copyMove(from, to, deleteFrom = true): _*)

      case NormalizeOp(_) =>
        FieldCols.applyUpdates(df, Seq("body" -> NormalizeBody(col("body"))), Some(gate))

      case RegexParserOp(c, regex, parseFrom, parseTo, extras) =>
        parse(df, c, gate, extras, RegexExtractNamedGroups(FieldCols.readString(parseFrom), regex))(
          assignStringMap(parseTo, _, map().cast(graft.model.LogSchema.mapSD)))

      case GrokParserOp(c, pattern, include, exclude, parseFrom, parseTo, extras) =>
        val expanded = Grok.expand(pattern)
        parse(df, c, gate, extras,
            RegexExtractNamedGroups(FieldCols.readString(parseFrom), expanded.regex)) { parsed =>
          // include/exclude filters (pkg/parser/grok/grok.go:105-131), static
          // keys — MapFilterKeys/MapGrokNumeric codegen kernels instead of
          // map_filter/transform_values (CodegenFallback HOFs that would
          // de-codegen the whole projection)
          val keep: Column = {
            var m = parsed
            if (include.nonEmpty)
              m = graft.functions.MapFilterKeys(m, include.toSeq, keep = true)
            if (exclude.nonEmpty)
              m = graft.functions.MapFilterKeys(m, exclude.toSeq, keep = false)
            m
          }
          val numKeys = expanded.types.keySet
            .filter(k => include.isEmpty || include.contains(k)) -- exclude
          val (strPart, numPart) =
            if (numKeys.isEmpty) (keep, map().cast(graft.model.LogSchema.mapSD))
            else (
              graft.functions.MapFilterKeys(keep, numKeys.toSeq, keep = false),
              graft.functions.MapGrokNumeric(
                graft.functions.MapFilterKeys(keep, numKeys.toSeq, keep = true),
                intKeys = numKeys.toSeq.filter(k => expanded.types(k) == "int")))
          assignStringMap(parseTo,
            strPart.cast(graft.model.LogSchema.mapSS), numPart.cast(graft.model.LogSchema.mapSD))
        }

      case JsonParserOp(c, parseFrom, parseTo, maxDepth, enablePaths, pathPrefix, extras) =>
        parse(df, c, gate, extras, JsonTypedMaps.of(FieldCols.readString(parseFrom),
            flatten = maxDepth.isDefined || enablePaths,
            maxDepth = maxDepth.getOrElse(1),
            enablePaths = enablePaths, pathPrefix = pathPrefix))(
          assignTypedStruct(parseTo, _))

      case SeverityParserOp(c, spec) =>
        applyExtras(df, ParserExtras(severity = Some(spec)), gate, c.onError)

      case TimeParserOp(c, spec) =>
        applyExtras(df, ParserExtras(timestamp = Some(spec)), gate, c.onError)

      case TraceParserOp(c, spec) =>
        applyExtras(df, ParserExtras(trace = Some(spec)), gate, c.onError)

      case router @ RouterOp(c, routes, default) =>
        // first matching route wins (`router/transformer.go:49-68`);
        // `default:` is an always-true last route (`router/config.go:56-62`)
        val colName = routeCol(c.id, isFirstRouter)
        val (names, defaultName) = routeNames(router)
        val routeVal = routes.zip(names).foldRight(lit(defaultName): Column) {
          case ((r, name), acc) => when(ExprLang.boolExpr(r.expr), name).otherwise(acc)
        }
        var out = df.withColumn(colName, when(gate, routeVal))
        // per-route attached attributes
        routes.zip(names).foreach { case (r, name) =>
          if (r.attributes.nonEmpty) {
            val g = gate && col(colName) === name
            r.attributes.foreach { case (k, v) =>
              out = FieldCols.applyUpdates(out,
                FieldCols.setString(Attr(Seq(k)), lit(v)), Some(g))
            }
          }
        }
        // every output of a route is reached by the rows that route names
        routed = (routes.map(_.output).zip(names) :+ (default -> defaultName)).flatMap {
          case (outputs, name) => outputs.map(_ -> (reach && col(colName) === name))
        }
        out
    }
    (out, routed)
  }

  /** The name each route writes to the route column, and the default's.
    * A route is named by its first output, unless an earlier route or the
    * default already holds that name with other outputs or attributes:
    * then it takes a name no other route of the router uses, so a row
    * reaches only the outputs, and gets only the attributes, of its own
    * route.
    */
  private def routeNames(router: RouterOp): (Seq[String], String) = {
    val defaultName = router.default.headOption.getOrElse("default")
    val firsts = router.routes.zipWithIndex.map { case (r, i) =>
      r.output.headOption.getOrElse(s"route_$i")
    }
    val taken = scala.collection.mutable.Set(defaultName +: firsts: _*)
    val holder = scala.collection.mutable.Map(defaultName -> (router.default, Map.empty[String, String]))
    val names = router.routes.zip(firsts).zipWithIndex.map { case ((r, first), i) =>
      if (holder.get(first).exists(_ != (r.output -> r.attributes))) {
        val fresh = Iterator.iterate(s"route_$i")(_ + "_").find(n => !taken(n)).get
        taken += fresh
        fresh
      } else {
        holder(first) = r.output -> r.attributes
        first
      }
    }
    (names, defaultName)
  }

  /** Shared copy/move updates (`operators/copy/transformer.go:31-36`,
    * `operators/move/transformer.go:27-31`), for a step whose error is a
    * missing `from`. Attr->Attr preserves the value's typed map; body-path
    * targets edit the body JSON with `BodyField.Set/Merge` semantics (map
    * values merge, string attrs keep their string type, number/bool attrs
    * keep their JSON types); move inside the body runs Delete-then-Set in
    * the reference's order so self-overlapping paths resolve identically.
    * Everything else goes through the string read. Set and delete are two
    * stages, applied as chained projections (Catalyst's CollapseProject
    * fuses them back into one).
    */
  private def copyMove(from: FieldRef, to: FieldRef,
      deleteFrom: Boolean): Seq[Seq[(String, Column)]] = {
    import graft.functions.BodyEdit
    (from, to) match {
      case (f: Attr, t: Attr) => Seq(FieldCols.copyAttr(f, t, deleteFrom))

      // ---- body-path targets (stanza BodyField.Set/Merge semantics) ----
      case (BodyPath(fk), BodyPath(tk)) =>
        val newBody =
          if (deleteFrom) BodyEdit.move(col("body"), fk, tk)
          else BodyEdit.copyWithin(col("body"), fk, tk)
        Seq(Seq("body" -> newBody))
      case (BodyPath(fk), Body) =>
        // subtree to root: objects MERGE into the remaining root map
        // (body_field.go:127-133); scalars replace the body
        val newBody =
          if (deleteFrom) BodyEdit.move(col("body"), fk, Nil)
          else BodyEdit.copyWithin(col("body"), fk, Nil)
        Seq(Seq("body" -> newBody))
      case (Body, BodyPath(tk)) =>
        // whole body into a path: a JSON-object body merges as the map it
        // denotes, a plain-text body sets as a string scalar; move first
        // deletes the root (fresh object)
        val src = if (deleteFrom) lit(null).cast("string") else col("body")
        Seq(Seq("body" -> BodyEdit.set(src, tk, col("body"))))
      case (from0, BodyPath(tk)) =>
        // typed scalar source -> body path: string values stay string
        // scalars; number/bool renderings parse back to their JSON types
        val sval = FieldCols.readString(from0)
        val newBody = from0 match {
          case Attr(fk0) =>
            val k = FieldCols.attrKey(fk0)
            when(map_contains_key(col("attributes_string"), k),
              BodyEdit.setRaw(col("body"), tk, sval))
              .otherwise(BodyEdit.set(col("body"), tk, sval))
          case Top(n) if FieldCols.isNumericTop(n) =>
            BodyEdit.set(col("body"), tk, sval)
          case _ => BodyEdit.setRaw(col("body"), tk, sval)
        }
        Seq("body" -> newBody) +: (if (deleteFrom) Seq(FieldCols.remove(from0)) else Nil)

      case _ =>
        FieldCols.setString(to, FieldCols.readString(from)) +:
          (if (deleteFrom) Seq(FieldCols.remove(from)) else Nil)
    }
  }
}
