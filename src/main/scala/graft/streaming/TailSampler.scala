package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tail-sampler policy tree (`processor/signoztailsampler/evaluator.go:13-157`,
  * `processor.go:181-215`), compiled into one Column decision tree over
  * trace-group rows:
  *
  *  - a policy = filters (string/numeric attribute matchers, AND/OR) +
  *    priority-ordered sub-policies + a sampling method derived from the
  *    percentage (0 -> never, 100 -> always, else probabilistic by FNV-1a
  *    hash of salt+trace-id bytes against a 2^64-scaled threshold,
  *    `internal/sampling/probabilistic.go:54-83`);
  *  - Evaluate: any-filter-match gates the policy; `and` returns NoResult
  *    the moment any filter misses (evaluator.go:102-124); sub-policies are
  *    evaluated in priority order and the first non-NoResult decision wins,
  *    else the policy's own sampler decides (evaluator.go:126-157);
  *  - across top-level policies, the first Sampled/NotSampled wins and
  *    no-policy-matched defaults to Sampled (processor.go:181-215).
  *
  * Decisions are encoded as int columns: 1 Sampled, 0 NotSampled,
  * -1 NoResult.
  */
object TailSampler {

  final case class StringFilter(key: String, values: Seq[String],
      regexMatch: Boolean = false, invert: Boolean = false)
  final case class NumericFilter(key: String, min: Long, max: Long)
  final case class Policy(
      name: String,
      samplingPercentage: Double,
      priority: Int = 0,
      filterOp: String = "", // "and" | "or" | "" (or)
      stringFilters: Seq[StringFilter] = Nil,
      numericFilters: Seq[NumericFilter] = Nil,
      subPolicies: Seq[Policy] = Nil)

  private val Sampled = lit(1)
  private val NotSampled = lit(0)
  private val NoResult = lit(-1)

  /** Go big.Float threshold: ratio scaled to [0, MaxUint64], as Long bits. */
  def thresholdBits(samplingPercentage: Double): Long = {
    val ratio = BigDecimal(samplingPercentage / 100.0)
    val max = BigDecimal(BigInt("18446744073709551615"))
    val t = (max * ratio).toBigInt
    (t & BigInt("ffffffffffffffff", 16)).longValue
  }

  /** FNV-1a over salt bytes ++ trace-id bytes (hex-decoded), unsigned
    * compare against the threshold (probabilistic.go:54-83).
    */
  def probabilisticSampled(traceIdHex: Column, pct: Double,
      salt: String = "default-hash-seed"): Column = {
    val t = thresholdBits(pct)
    val saltSeeded = graft.functions.Fingerprint.hashAdd(
      graft.functions.Fingerprint.offset64Public, salt)
    // hash the decoded trace-id bytes continuing from the salted state
    val bytes = unhex(traceIdHex)
    val h = graft.functions.FnvOverBytes(bytes, saltSeeded)
    // unsigned h <= unsigned t
    (h + java.lang.Long.MIN_VALUE) <= lit(t + java.lang.Long.MIN_VALUE)
  }

  private def filterMatch(f: StringFilter, attrsString: Column): Column = {
    val v = element_at(attrsString, f.key)
    val base =
      if (f.regexMatch) f.values.map(p => v.rlike(p)).reduceOption(_ || _).getOrElse(lit(false))
      else v.isin(f.values: _*)
    val matched = coalesce(base, lit(false))
    if (f.invert) !matched else matched
  }

  private def numericMatch(f: NumericFilter, attrsNumber: Column): Column = {
    val v = element_at(attrsNumber, f.key)
    coalesce(v >= f.min && v <= f.max, lit(false))
  }

  /** One policy's decision column (evaluator.go Evaluate). */
  def evaluate(p: Policy, traceIdHex: Column,
      attrsString: Column, attrsNumber: Column): Column = {
    val matches =
      p.stringFilters.map(filterMatch(_, attrsString)) ++
        p.numericFilters.map(numericMatch(_, attrsNumber))
    val filterMatched = matches.reduceOption(_ || _).getOrElse(lit(false))
    val andFailed =
      if (p.filterOp.toLowerCase == "and")
        matches.map(!_).reduceOption(_ || _).getOrElse(lit(false))
      else lit(false)

    val samplerDecision: Column = p.samplingPercentage match {
      case 0.0 => NotSampled
      case 100.0 => Sampled
      case pct => when(probabilisticSampled(traceIdHex, pct), Sampled).otherwise(NotSampled)
    }

    // sub-policies in priority order, first non-NoResult wins
    val inner = p.subPolicies.sortBy(_.priority).foldRight(samplerDecision) {
      case (sp, acc) =>
        val d = evaluate(sp, traceIdHex, attrsString, attrsNumber)
        when(d =!= NoResult, d).otherwise(acc)
    }

    when(andFailed, NoResult)
      .otherwise(when(filterMatched, inner).otherwise(NoResult))
  }

  /** Final decision across top-level policies (processor.go:181-215):
    * first Sampled/NotSampled wins; none matched -> Sampled.
    */
  def decision(policies: Seq[Policy], traceIdHex: Column,
      attrsString: Column, attrsNumber: Column): Column =
    policies.foldRight(Sampled: Column) { case (p, acc) =>
      val d = evaluate(p, traceIdHex, attrsString, attrsNumber)
      when(d =!= NoResult, d).otherwise(acc)
    }

  /** Keep only sampled rows. */
  def sample(df: DataFrame, policies: Seq[Policy],
      traceIdCol: String = "trace_id",
      attrsStringCol: String = "attributes_string",
      attrsNumberCol: String = "attributes_number"): DataFrame =
    df.filter(decision(policies, col(traceIdCol),
      col(attrsStringCol), col(attrsNumberCol)) === 1)

  // ---- decision-wait streaming form (processor.go:60-338) ------------------

  /** One buffered span (the columns the policy tree reads + identity). */
  final case class SpanBuf(trace_id: String, span_id: String,
      attributes_string: Map[String, String],
      attributes_number: Map[String, Double])

  /** Per-trace decision state: spans buffer until the decision tick, then
    * only the decision survives (buffer cleared — the reference forwards
    * and drops `ReceivedBatches` at decision time, processor.go:155-165).
    */
  final case class TraceDecision(decided: Boolean, decision: Int,
      buffered: Seq[SpanBuf])

  // ---- row-level policy evaluation (the executor-side twin of the Column
  // tree above; equivalence is golden-tested against `decision`) ----

  private def anyString(f: StringFilter, spans: Seq[SpanBuf]): Boolean = {
    // reference string_tag_filter: a filter MATCHES when any span carries a
    // matching value; `matches` is a regex FIND (rlike), not a full match
    val ps = if (f.regexMatch) f.values.map(java.util.regex.Pattern.compile) else Nil
    val matched = spans.exists { s =>
      s.attributes_string.get(f.key).exists { v =>
        if (f.regexMatch) ps.exists(_.matcher(v).find())
        else f.values.contains(v)
      }
    }
    if (f.invert) !matched else matched
  }

  private def anyNumeric(f: NumericFilter, spans: Seq[SpanBuf]): Boolean =
    spans.exists(_.attributes_number.get(f.key).exists(v => v >= f.min && v <= f.max))

  /** Scala twin of [[probabilisticSampled]] (bit-identical FNV + threshold). */
  def probabilisticSampledRow(traceIdHex: String, pct: Double,
      salt: String = "default-hash-seed"): Boolean = {
    val hex = if (traceIdHex == null) "" else traceIdHex
    val even = if (hex.length % 2 == 0) hex else "0" + hex
    val bytes = new Array[Byte](even.length / 2)
    var i = 0
    var ok = true
    while (i < bytes.length) {
      val hi = Character.digit(even.charAt(2 * i), 16)
      val lo = Character.digit(even.charAt(2 * i + 1), 16)
      if (hi < 0 || lo < 0) ok = false
      bytes(i) = ((hi << 4) | lo).toByte
      i += 1
    }
    if (!ok) return false // unhex -> null -> coalesced unmatched
    val seeded = graft.functions.Fingerprint.hashAdd(
      graft.functions.Fingerprint.offset64Public, salt)
    val h = graft.functions.FnvBytesKernel.hash(bytes, seeded)
    java.lang.Long.compareUnsigned(h, thresholdBits(pct)) <= 0
  }

  /** Row twin of [[evaluate]]: 1 Sampled / 0 NotSampled / -1 NoResult. */
  def evaluateRow(p: Policy, traceIdHex: String, spans: Seq[SpanBuf]): Int = {
    val matches =
      p.stringFilters.map(anyString(_, spans)) ++
        p.numericFilters.map(anyNumeric(_, spans))
    val filterMatched = matches.contains(true)
    val andFailed = p.filterOp.toLowerCase == "and" && matches.contains(false)
    if (andFailed || !filterMatched) -1
    else {
      val sub = p.subPolicies.sortBy(_.priority).iterator
        .map(evaluateRow(_, traceIdHex, spans)).find(_ != -1)
      sub.getOrElse(p.samplingPercentage match {
        case 0.0 => 0
        case 100.0 => 1
        case pct => if (probabilisticSampledRow(traceIdHex, pct)) 1 else 0
      })
    }
  }

  /** Row twin of [[decision]]. */
  def decisionRow(policies: Seq[Policy], traceIdHex: String,
      spans: Seq[SpanBuf]): Int =
    policies.iterator.map(evaluateRow(_, traceIdHex, spans))
      .find(_ != -1).getOrElse(1)

  /** The decision-wait group function for a `flatMapGroupsWithState` over
    * trace_id with ProcessingTimeTimeout. No streaming job wires it in; it
    * is tested with `TestGroupState` (a live ProcessingTimeTimeout query
    * re-runs empty batches to service timers, which livelocks
    * `processAllAvailable`).
    *
    * Reference semantics (`processor.go`):
    *  - spans BUFFER from the trace's first arrival; the decision timer
    *    runs from that first arrival (idbatcher rotates one batch per
    *    second for `decision_wait` batches), NOT from the latest span;
    *  - at the tick, the policy tree evaluates over everything buffered;
    *    Sampled forwards the whole buffer, NotSampled drops it; either
    *    way the buffer is released and only the decision is retained;
    *  - LATE spans (arriving after the decision) inherit the group
    *    decision immediately (processor.go:318-338) — forwarded when
    *    Sampled, dropped when NotSampled;
    *  - retained decisions are eventually dropped (the reference evicts by
    *    trace-count capacity via deleteChan; a processing-time TTL is the
    *    streaming-state equivalent of that bound).
    */
  private[graft] def decisionWaitFn(policies: Seq[Policy], decisionWait: String,
      retention: Option[String])
      : (String, Iterator[SpanBuf],
         org.apache.spark.sql.streaming.GroupState[TraceDecision]) => Iterator[SpanBuf] =
    (traceId, rows, state) =>
      if (state.hasTimedOut) {
        val st = state.getOption.getOrElse(TraceDecision(decided = false, 1, Nil))
        if (!st.decided) {
          val d = decisionRow(policies, traceId, st.buffered)
          state.update(TraceDecision(decided = true, d, Nil))
          retention match {
            case Some(ttl) => state.setTimeoutDuration(ttl)
            case None => state.remove() // no retention: decide-and-forget
          }
          if (d == 1) st.buffered.iterator else Iterator.empty
        } else {
          state.remove() // retention expired (dropTrace analogue)
          Iterator.empty
        }
      } else {
        val newSpans = rows.toSeq
        state.getOption match {
          case Some(st) if st.decided =>
            retention.foreach(state.setTimeoutDuration) // refresh retention
            if (st.decision == 1) newSpans.iterator else Iterator.empty
          case Some(st) =>
            // accumulating: do NOT touch the timer — the wait runs from the
            // FIRST span of the trace
            state.update(st.copy(buffered = st.buffered ++ newSpans))
            Iterator.empty
          case None =>
            state.update(TraceDecision(decided = false, 1, newSpans))
            state.setTimeoutDuration(decisionWait)
            Iterator.empty
        }
      }
}
