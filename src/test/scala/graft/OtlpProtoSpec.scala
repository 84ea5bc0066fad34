package graft

import java.io.ByteArrayOutputStream

import graft.sources.{LogSources, OtlpProto}

/** Golden tests for the OTLP-protobuf logs decode (the Kafka receiver's
  * default `otlp_proto` encoding, `unmarshaler.go:75-84`). The expected
  * payloads are hand-encoded with a minimal writer below, mirroring the
  * public OTLP proto field numbers — the same semantics
  * `plog.ProtoUnmarshaler` implements.
  */
class OtlpProtoSpec extends SparkSuite {
  import spark.implicits._

  // ---- minimal protobuf writer --------------------------------------------
  private def varint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }
  private def tag(out: ByteArrayOutputStream, field: Int, wire: Int): Unit =
    varint(out, (field.toLong << 3) | wire)
  private def bytesField(out: ByteArrayOutputStream, field: Int, b: Array[Byte]): Unit = {
    tag(out, field, 2); varint(out, b.length); out.write(b)
  }
  private def strField(out: ByteArrayOutputStream, field: Int, s: String): Unit =
    bytesField(out, field, s.getBytes("UTF-8"))
  private def varintField(out: ByteArrayOutputStream, field: Int, v: Long): Unit = {
    tag(out, field, 0); varint(out, v)
  }
  private def fixed64Field(out: ByteArrayOutputStream, field: Int, v: Long): Unit = {
    tag(out, field, 1)
    var i = 0
    while (i < 8) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
  }
  private def fixed32Field(out: ByteArrayOutputStream, field: Int, v: Int): Unit = {
    tag(out, field, 5)
    var i = 0
    while (i < 4) { out.write((v >>> (8 * i)) & 0xff); i += 1 }
  }
  private def msg(f: ByteArrayOutputStream => Unit): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    f(out)
    out.toByteArray
  }

  // AnyValue encoders
  private def avStr(s: String) = msg(o => strField(o, 1, s))
  private def avBool(b: Boolean) = msg(o => varintField(o, 2, if (b) 1 else 0))
  private def avInt(l: Long) = msg(o => varintField(o, 3, l))
  private def avDouble(d: Double) =
    msg(o => fixed64Field(o, 4, java.lang.Double.doubleToLongBits(d)))
  private def avArr(vs: Array[Byte]*) =
    msg(o => bytesField(o, 5, msg(a => vs.foreach(v => bytesField(a, 1, v)))))
  private def kv(k: String, v: Array[Byte]) =
    msg(o => { strField(o, 1, k); bytesField(o, 2, v) })

  private def logsData(resourceAttrs: Seq[Array[Byte]], scopeName: String,
      records: Seq[Array[Byte]]): Array[Byte] =
    msg { o =>
      bytesField(o, 1, msg { rl => // ResourceLogs
        bytesField(rl, 1, msg { res => // Resource
          resourceAttrs.foreach(a => bytesField(res, 1, a))
        })
        bytesField(rl, 2, msg { sl => // ScopeLogs
          bytesField(sl, 1, msg { sc => // InstrumentationScope
            strField(sc, 1, scopeName)
            strField(sc, 2, "v1")
          })
          records.foreach(rec => bytesField(sl, 2, rec))
        })
      })
    }

  test("otlp_proto: full LogRecord decode with typed attribute split") {
    val rec = msg { r =>
      fixed64Field(r, 1, 123456789L) // time_unix_nano
      varintField(r, 2, 9) // severity_number INFO
      strField(r, 3, "INFO")
      bytesField(r, 5, avStr("hello world"))
      bytesField(r, 6, kv("k1", avStr("v1")))
      bytesField(r, 6, kv("n1", avInt(42)))
      bytesField(r, 6, kv("d1", avDouble(1.5)))
      bytesField(r, 6, kv("b1", avBool(true)))
      bytesField(r, 6, kv("arr", avArr(avStr("x"), avInt(2))))
      fixed32Field(r, 8, 1) // flags
      bytesField(r, 9, (1 to 16).map(_.toByte).toArray) // trace_id
      bytesField(r, 10, (0xa1 to 0xa8).map(_.toByte).toArray) // span_id
      fixed64Field(r, 11, 987654321L) // observed_time_unix_nano
    }
    val payload = logsData(
      Seq(kv("service.name", avStr("svc-a")), kv("r.num", avInt(7))),
      "scope1", Seq(rec))

    val rows = OtlpProto.parseLogsData(payload)
    assert(rows.size == 1)
    val row = rows.head
    assert(row.timestamp == 123456789L && row.observed_timestamp == 987654321L)
    assert(row.severity_number == 9 && row.severity_text == "INFO")
    assert(row.body == "hello world")
    assert(row.attributes_string == Map("k1" -> "v1", "arr" -> "[\"x\",2]"))
    assert(row.attributes_number == Map("n1" -> 42.0, "d1" -> 1.5))
    assert(row.attributes_bool == Map("b1" -> true))
    // resource attrs force-stringified (the sink's own rule)
    assert(row.resources_string == Map("service.name" -> "svc-a", "r.num" -> "7"))
    assert(row.trace_id == "0102030405060708090a0b0c0d0e0f10")
    assert(row.span_id == "a1a2a3a4a5a6a7a8")
    assert(row.trace_flags == 1)
    assert(row.scope_name == "scope1" && row.scope_version == "v1")
  }

  test("otlp_proto: non-string bodies stringify; zero ids stay empty") {
    val recs = Seq(
      msg(r => bytesField(r, 5, avInt(42))),
      msg(r => bytesField(r, 5, avDouble(2.5))),
      msg { r =>
        bytesField(r, 5, avBool(false))
        bytesField(r, 9, new Array[Byte](16)) // all-zero trace id -> ""
      })
    val rows = OtlpProto.parseLogsData(logsData(Seq.empty, "s", recs))
    assert(rows.map(_.body) == Seq("42", "2.5", "false"))
    assert(rows(2).trace_id == "")
  }

  test("otlp_proto: unknown fields are skipped (forward compatibility)") {
    val rec = msg { r =>
      strField(r, 3, "WARN")
      varintField(r, 99, 123) // unknown varint field
      bytesField(r, 98, "junk".getBytes("UTF-8")) // unknown bytes field
    }
    val rows = OtlpProto.parseLogsData(logsData(Seq.empty, "s", Seq(rec)))
    assert(rows.size == 1 && rows.head.severity_text == "WARN")
  }

  test("otlp_proto: a varint cut off at a nested slice's end drops the message") {
    val rec = msg { r =>
      // AnyValue{int_value=3}: the varint's last byte still has its
      // continuation bit set, and the AnyValue slice ends there
      bytesField(r, 6, kv("n", Array[Byte](0x18, 0x80.toByte)))
      strField(r, 3, "WARN") // a valid parent field right after the slice
    }
    val payload = logsData(Seq.empty, "s", Seq(rec))
    intercept[IllegalArgumentException](OtlpProto.parseLogsData(payload))
    val df = Seq(payload).toDF("value")
    assert(LogSources.fromKafka(df, "otlp_proto").count() == 0)
  }

  test("otlp_proto: an unknown fixed64 field cut off at the record's end drops the message") {
    val cut = msg { r =>
      strField(r, 3, "WARN")
      tag(r, 20, 1) // unknown fixed64 with only 2 of its 8 bytes in the record
      r.write(1); r.write(2)
    }
    val next = msg(r => strField(r, 3, "INFO"))
    val payload = logsData(Seq.empty, "s", Seq(cut, next))
    intercept[IllegalArgumentException](OtlpProto.parseLogsData(payload))
  }

  test("fromKafka otlp_proto: DataFrame adapter yields LogRow frames") {
    val payload = logsData(
      Seq(kv("host", avStr("h1"))), "sc",
      Seq(msg { r =>
        bytesField(r, 5, avStr("line one"))
        varintField(r, 2, 17)
        strField(r, 3, "ERROR")
      }))
    val df = Seq(payload, Array[Byte](0x7f, 0x00)) // second message malformed
      .toDF("value")
    val logs = LogSources.fromKafka(df, "otlp_proto")
    val got = logs.select("body", "severity_text", "severity_number",
      "resources_string").collect()
    assert(got.length == 1) // malformed message dropped
    assert(got.head.getString(0) == "line one")
    assert(got.head.getString(1) == "ERROR" && got.head.getInt(2) == 17)
    assert(got.head.getMap[String, String](3).toMap == Map("host" -> "h1"))
    // the decoded frame runs the NORMAL pipeline unchanged
    val routed = graft.pipeline.Pipeline.compile(
      SparkEntry.transcriptPipeline)(logs)
    assert(routed.count() == 1)
  }

  // ---- traces --------------------------------------------------------------

  private def tracesData(resourceAttrs: Seq[Array[Byte]], scopeName: String,
      spans: Seq[Array[Byte]]): Array[Byte] =
    msg { o =>
      bytesField(o, 1, msg { rs => // ResourceSpans
        bytesField(rs, 1, msg { res => // Resource
          resourceAttrs.foreach(a => bytesField(res, 1, a))
        })
        bytesField(rs, 2, msg { ss => // ScopeSpans
          bytesField(ss, 1, msg { sc => // InstrumentationScope
            strField(sc, 1, scopeName)
            strField(sc, 2, "v2")
          })
          spans.foreach(sp => bytesField(ss, 2, sp))
        })
      })
    }

  test("otlp_proto traces: full Span decode — ids, status, events, links, " +
      "typed attrs") {
    val span = msg { s =>
      bytesField(s, 1, (1 to 16).map(_.toByte).toArray) // trace_id
      bytesField(s, 2, (0xb1 to 0xb8).map(_.toByte).toArray) // span_id
      strField(s, 3, "vendor=x")
      bytesField(s, 4, (0xc1 to 0xc8).map(_.toByte).toArray) // parent
      strField(s, 5, "GET /api")
      varintField(s, 6, 3) // CLIENT
      fixed64Field(s, 7, 1000000000L)
      fixed64Field(s, 8, 1005000000L)
      bytesField(s, 9, kv("http.url", avStr("https://x.example/a")))
      bytesField(s, 9, kv("http.status_code", avInt(200)))
      bytesField(s, 9, kv("ok", avBool(true)))
      bytesField(s, 11, msg { ev => // event
        fixed64Field(ev, 1, 1001000000L)
        strField(ev, 2, "exception")
        bytesField(ev, 3, kv("exception.type", avStr("E1")))
        bytesField(ev, 3, kv("retry", avInt(2))) // stringified in events
      })
      bytesField(s, 13, msg { ln => // link
        bytesField(ln, 1, (21 to 36).map(_.toByte).toArray)
        bytesField(ln, 2, (41 to 48).map(_.toByte).toArray)
      })
      bytesField(s, 15, msg { st => // Status
        strField(st, 2, "boom")
        varintField(st, 3, 2) // ERROR
      })
      fixed32Field(s, 16, 0x300) // flags: remote bits set
    }
    val rows = OtlpProto.parseTracesData(tracesData(
      Seq(kv("service.name", avStr("svc-t"))), "tracer", Seq(span)))
    assert(rows.size == 1)
    val r = rows.head
    assert(r.trace_id == "0102030405060708090a0b0c0d0e0f10")
    assert(r.span_id == "b1b2b3b4b5b6b7b8")
    assert(r.parent_span_id == "c1c2c3c4c5c6c7c8")
    assert(r.trace_state == "vendor=x")
    assert(r.name == "GET /api" && r.kind == 3)
    assert(r.start_ts == 1000000000L && r.end_ts == 1005000000L)
    assert(r.status_code == 2 && r.status_message == "boom")
    assert(r.flags == 0x300)
    assert(r.attributes_string == Map("http.url" -> "https://x.example/a"))
    assert(r.attributes_number == Map("http.status_code" -> 200.0))
    assert(r.attributes_bool == Map("ok" -> true))
    assert(r.resources_string == Map("service.name" -> "svc-t"))
    assert(r.scope_name == "tracer" && r.scope_version == "v2")
    assert(r.events == Seq(OtlpProto.OtlpSpanEvent("exception", 1001000000L,
      Map("exception.type" -> "E1", "retry" -> "2"))))
    assert(r.links == Seq(OtlpProto.OtlpSpanLink(
      "15161718191a1b1c1d1e1f2021222324", "292a2b2c2d2e2f30")))
  }

  test("otlp_proto traces: zero ids empty, unknown fields skipped, adapter " +
      "feeds spansV3 end-to-end") {
    val minimal = msg { s =>
      bytesField(s, 1, new Array[Byte](16)) // all-zero -> ""
      bytesField(s, 2, Array[Byte](0, 0, 0, 0, 0, 0, 0, 1))
      strField(s, 5, "op")
      varintField(s, 6, 2) // SERVER
      fixed64Field(s, 7, 2000000000L)
      fixed64Field(s, 8, 2003000000L)
      varintField(s, 99, 5) // unknown field skipped
    }
    val payload = tracesData(
      Seq(kv("service.name", avStr("svc-m"))), "t", Seq(minimal))
    val df = Seq(payload, Array[Byte](0x7f, 0x00)).toDF("value") // 2nd malformed
    val spans = OtlpProto.fromKafkaSpans(df)
    val got = spans.select("trace_id", "span_id", "name", "kind",
      "resources_string").collect()
    assert(got.length == 1) // malformed dropped
    assert(got.head.getString(0) == "")
    assert(got.head.getString(1) == "0000000000000001")
    assert(got.head.getString(2) == "op" && got.head.getInt(3) == 2)
    // decoded frame runs the traces exporter unchanged
    val v3 = graft.pipeline.TraceExporter.spansV3(spans).collect()
    assert(v3.length == 1)
    val row = v3.head
    assert(row.getAs[String]("span_kind") == "Server")
    assert(row.getAs[Long]("duration_nano") == 3000000L)
    assert(row.getAs[String]("service_name") == "svc-m")
  }

  // ---- metrics -------------------------------------------------------------

  private def rawFixed64(out: ByteArrayOutputStream, v: Long): Unit = {
    var i = 0
    while (i < 8) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
  }
  private def packedFixed64(out: ByteArrayOutputStream, field: Int,
      vs: Seq[Long]): Unit =
    bytesField(out, field, msg(o => vs.foreach(rawFixed64(o, _))))
  private def packedDoubles(out: ByteArrayOutputStream, field: Int,
      vs: Seq[Double]): Unit =
    packedFixed64(out, field, vs.map(java.lang.Double.doubleToLongBits))
  private def packedVarints(out: ByteArrayOutputStream, field: Int,
      vs: Seq[Long]): Unit =
    bytesField(out, field, msg(o => vs.foreach(varint(o, _))))
  private def doubleField(out: ByteArrayOutputStream, field: Int, d: Double): Unit =
    fixed64Field(out, field, java.lang.Double.doubleToLongBits(d))
  private def zigzag(n: Int): Long = ((n.toLong << 1) ^ (n.toLong >> 31))

  private def metricsData(resourceAttrs: Seq[Array[Byte]],
      metrics: Seq[Array[Byte]]): Array[Byte] =
    msg { o =>
      bytesField(o, 1, msg { rm => // ResourceMetrics
        bytesField(rm, 1, msg { res =>
          resourceAttrs.foreach(a => bytesField(res, 1, a))
        })
        bytesField(rm, 2, msg { sm => // ScopeMetrics
          bytesField(sm, 1, msg { sc =>
            strField(sc, 1, "meter"); strField(sc, 2, "m1")
          })
          metrics.foreach(m => bytesField(sm, 2, m))
        })
      })
    }

  test("otlp_proto metrics: gauge/sum/histogram/summary/exp-hist decode " +
      "into the four frame families") {
    val gauge = msg { m =>
      strField(m, 1, "cpu.usage"); strField(m, 3, "1")
      bytesField(m, 5, msg { g => // Gauge
        bytesField(g, 1, msg { dp => // NumberDataPoint as_double
          fixed64Field(dp, 3, 1700000000000000000L)
          doubleField(dp, 4, 0.75)
          bytesField(dp, 7, kv("core", avInt(2)))
        })
        bytesField(g, 1, msg { dp => // as_int variant
          fixed64Field(dp, 3, 1700000001000000000L)
          fixed64Field(dp, 6, 42L) // sfixed64 as_int
        })
      })
    }
    val sum = msg { m =>
      strField(m, 1, "req.count")
      bytesField(m, 7, msg { s => // Sum
        bytesField(s, 1, msg { dp =>
          fixed64Field(dp, 3, 1700000000000000000L)
          doubleField(dp, 4, 100.0)
        })
        varintField(s, 2, 2) // Cumulative
        varintField(s, 3, 1) // monotonic
      })
    }
    val hist = msg { m =>
      strField(m, 1, "http.duration"); strField(m, 3, "ms")
      bytesField(m, 9, msg { h => // Histogram
        bytesField(h, 1, msg { dp =>
          fixed64Field(dp, 3, 1700000000000000000L)
          fixed64Field(dp, 4, 10L) // count
          doubleField(dp, 5, 55.5) // sum
          packedFixed64(dp, 6, Seq(3L, 5L, 2L)) // bucket_counts
          packedDoubles(dp, 7, Seq(10.0, 100.0)) // explicit_bounds
          bytesField(dp, 9, kv("route", avStr("/api")))
          doubleField(dp, 11, 0.5) // min
          doubleField(dp, 12, 99.0) // max
        })
        varintField(h, 2, 1) // Delta
      })
    }
    val summary = msg { m =>
      strField(m, 1, "rpc.latency")
      bytesField(m, 11, msg { s => // Summary
        bytesField(s, 1, msg { dp =>
          fixed64Field(dp, 3, 1700000000000000000L)
          fixed64Field(dp, 4, 7L)
          doubleField(dp, 5, 21.0)
          bytesField(dp, 6, msg { q =>
            doubleField(q, 1, 0.5); doubleField(q, 2, 2.5)
          })
          bytesField(dp, 6, msg { q =>
            doubleField(q, 1, 0.99); doubleField(q, 2, 9.9)
          })
        })
      })
    }
    val expHist = msg { m =>
      strField(m, 1, "dd.sketch")
      bytesField(m, 10, msg { h => // ExponentialHistogram
        bytesField(h, 1, msg { dp =>
          fixed64Field(dp, 3, 1700000000000000000L)
          fixed64Field(dp, 4, 6L)
          varintField(dp, 6, zigzag(-2)) // scale sint32 = -2
          fixed64Field(dp, 7, 1L) // zero_count
          bytesField(dp, 8, msg { b => // positive Buckets
            varintField(b, 1, zigzag(3)) // offset
            packedVarints(b, 2, Seq(1L, 2L, 3L))
          })
        })
        varintField(h, 2, 2) // Cumulative
      })
    }
    val payload = metricsData(
      Seq(kv("service.name", avStr("svc-metrics")),
        kv("deployment.environment", avStr("prod"))),
      Seq(gauge, sum, hist, summary, expHist))

    val rows = OtlpProto.parseMetricsData(payload)
    assert(rows.size == 6)
    val g = rows.filter(_.metric_name == "cpu.usage")
    assert(g.map(_.value).sorted == Seq(0.75, 42.0))
    assert(g.head.metric_type == "Gauge" && g.head.temporality == "Unspecified")
    assert(g.head.unix_milli == 1700000000000L)
    assert(g.head.attrs == Map("core" -> "2")) // AsString-rendered
    assert(g.head.resource_attrs("deployment.environment") == "prod")
    assert(g.head.scope_name == "meter" && g.head.scope_version == "m1")
    val s = rows.find(_.metric_name == "req.count").get
    assert(s.metric_type == "Sum" && s.temporality == "Cumulative" && s.is_monotonic)
    val h = rows.find(_.metric_name == "http.duration").get
    assert(h.metric_type == "Histogram" && h.temporality == "Delta")
    assert(h.count == 10L && h.sum_v == 55.5 && h.has_sum)
    assert(h.min_v == 0.5 && h.has_min && h.max_v == 99.0 && h.has_max)
    assert(h.explicit_bounds == Seq(10.0, 100.0))
    assert(h.bucket_counts == Seq(3L, 5L, 2L))
    val sm = rows.find(_.metric_name == "rpc.latency").get
    assert(sm.metric_type == "Summary" && sm.count == 7L && sm.sum_v == 21.0)
    assert(sm.quantiles == Seq(OtlpProto.OtlpQuantile(0.5, 2.5),
      OtlpProto.OtlpQuantile(0.99, 9.9)))
    val e = rows.find(_.metric_name == "dd.sketch").get
    assert(e.metric_type == "ExponentialHistogram" && e.temporality == "Cumulative")
    assert(e.scale == -2 && e.zero_count == 1.0)
    assert(e.positive_offset == 3 && e.positive_counts == Seq(1.0, 2.0, 3.0))

    // adapter: the four families land in their frames and the scalar one
    // runs the full exporter fingerprint chain unchanged
    val frames = OtlpProto.fromKafkaMetrics(Seq(payload).toDF("value"))
    assert(frames.scalars.count() == 3) // 2 gauge points + 1 sum point
    assert(frames.histograms.count() == 1)
    assert(frames.summaries.count() == 1)
    assert(frames.expHistograms.count() == 1)
    val samples = graft.pipeline.MetricsExporter.samplesV4(
      graft.pipeline.MetricsExporter.scalarPoints(frames.scalars))
    assert(samples.count() == 3)
    assert(samples.select("env").distinct().collect().map(_.getString(0))
      .toSeq == Seq("prod"))
  }
}
