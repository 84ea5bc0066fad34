package graft.sources

import scala.reflect.runtime.universe.TypeTag
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Encoders}

import graft.sources.OtlpProto.{OtlpMetricRow, OtlpRow, OtlpSpanRow}
import graft.sources.ProtoWire.{nonNull, orEmpty}

/** The `Resource -> Scope -> record` envelope every OTLP signal shares
  * (pdata's one model behind `unmarshaler.go:53-84` and
  * `marshaler.go:43,57,67`), kept in one place for the codecs that speak it:
  *
  *  - [[Scope]], the scope identity [[OtlpProto]]'s one decode walk hands to
  *    each record parser and the encoders group on;
  *  - [[logs]] / [[spans]] / [[metrics]], the one first-seen grouping that
  *    [[OtlpProtoEncode]] and [[OtlpJson]] both only render;
  *  - [[decodeMessages]], the one receiver adapter the OTLP, Jaeger and
  *    Zipkin decoders run their messages through.
  */
private[sources] object OtlpEnvelope {

  /** InstrumentationScope{name, version, attributes} plus the ScopeX
    * message's schema_url (only metrics rows carry one).
    */
  final case class Scope(name: String, version: String,
      attrs: Map[String, String], schemaUrl: String)

  /** Rows nested resource -> scope -> records. */
  type Nested[R] = Seq[(Map[String, String], Seq[(Scope, Seq[R])])]

  /** Metric identity: all datapoint rows sharing it re-nest into one Metric
    * message with one data-oneof.
    */
  final case class MetricKey(name: String, description: String, unit: String,
      metricType: String, temporality: String, isMonotonic: Boolean)

  private def metricKey(r: OtlpMetricRow): MetricKey =
    MetricKey(orEmpty(r.metric_name), orEmpty(r.description), orEmpty(r.unit),
      orEmpty(r.metric_type), orEmpty(r.temporality), r.is_monotonic)

  /** AggregationTemporality enum number of the pmetric string. */
  def temporalityNum(s: String): Int = s match {
    case "Delta" => 1
    case "Cumulative" => 2
    case _ => 0
  }

  // ---- grouping ------------------------------------------------------------

  /** `rows` grouped by `key` in first-seen order, rows in input order. */
  private def firstSeen[K, R](rows: Seq[R])(key: R => K): Seq[(K, Seq[R])] = {
    val groups = scala.collection.mutable.LinkedHashMap.empty[K,
      scala.collection.mutable.ArrayBuffer[R]]
    rows.foreach(r => groups.getOrElseUpdate(key(r),
      scala.collection.mutable.ArrayBuffer.empty[R]) += r)
    groups.toSeq.map { case (k, rs) => k -> rs.toSeq }
  }

  /** Flat rows rebuilt into the envelope: grouped by resource, then by
    * scope, each in first-seen order, so decoding the encoded rows returns
    * them in the same order within each resource and scope group.
    */
  private def nest[R](rows: Seq[R])(resourceOf: R => Map[String, String],
      scopeOf: R => Scope): Nested[R] =
    firstSeen(rows)(r => nonNull(resourceOf(r))).map { case (res, rs) =>
      res -> firstSeen(rs)(scopeOf)
    }

  def logs(rows: Seq[OtlpRow]): Nested[OtlpRow] =
    nest(rows)(_.resources_string, r => Scope(orEmpty(r.scope_name),
      orEmpty(r.scope_version), nonNull(r.scope_string), ""))

  def spans(rows: Seq[OtlpSpanRow]): Nested[OtlpSpanRow] =
    nest(rows)(_.resources_string, r => Scope(orEmpty(r.scope_name),
      orEmpty(r.scope_version), nonNull(r.scope_string), ""))

  /** Datapoint rows nested resource -> scope (with its schema_url) ->
    * metric identity -> points.
    */
  def metrics(rows: Seq[OtlpMetricRow]): Nested[(MetricKey, Seq[OtlpMetricRow])] =
    nest(rows)(_.resource_attrs, r => Scope(orEmpty(r.scope_name),
      orEmpty(r.scope_version), nonNull(r.scope_attrs), orEmpty(r.scope_schema_url)))
      .map { case (res, scopes) =>
        res -> scopes.map { case (scope, points) => scope -> firstSeen(points)(metricKey) }
      }

  // ---- receiver adapter ----------------------------------------------------

  /** Binary column of messages -> the rows `parse` decodes from each, in
    * message order. A message that fails to decode contributes no rows: the
    * receiver counts the unmarshal error and moves on to the next message,
    * and the drop is the deterministic equivalent. Any non-fatal throwable
    * counts as a decode failure (the wire walk's bounds checks, Jackson's
    * checked parse exceptions, [[OtlpProto]]'s AnyValue depth bound).
    */
  def decodeMessages[T <: Product : TypeTag](df: DataFrame, valueCol: Column)(
      parse: Array[Byte] => Seq[T]): DataFrame =
    df.select(valueCol.cast("binary").as("v")).as(Encoders.BINARY)
      .flatMap { bytes =>
        try parse(bytes)
        catch { case NonFatal(_) => Seq.empty[T] }
      }(Encoders.product[T])
      .toDF()
}
