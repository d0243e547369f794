package graft.otlp

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}

import java.math.BigInteger

/** Hand-rolled protobuf wire decoder for the three OTLP export requests
  * (ExportLogsServiceRequest / ExportTraceServiceRequest /
  * ExportMetricsServiceRequest, opentelemetry-proto v1 — public schema).
  * No protobuf runtime ships in this environment, so this reads the wire
  * format directly (varint / fixed32 / fixed64 / length-delimited, incl.
  * packed repeated scalars) and converts each message into the SAME node
  * shape as OTLP/JSON, then reuses [[OtlpJsonParser]]'s row builder — the
  * two formats cannot drift apart semantically.
  *
  * A .pb file does not self-describe its request type (all three put their
  * repeated resource list at field 1), so — exactly like the reference's
  * Rust backend (`otlp_transform(data, signal)`) — the requested signal
  * family picks the interpretation.
  */
object OtlpProtoParser {
  private val nf = JsonNodeFactory.instance

  def parse(content: Array[Byte], family: String, nsAsLong: Boolean,
            need: String => Boolean = _ => true): OtlpJsonParser.ParsedFile = {
    val env = new ObjectNode(nf)
    val listName = family match {
      case "logs"    => "resourceLogs"
      case "traces"  => "resourceSpans"
      case "metrics" => "resourceMetrics"
      case other => throw new OtlpParseException(s"unknown signal family $other")
    }
    val arr = new ArrayNode(nf)
    try {
      val r = new ProtoReader(content)
      while (r.hasMore) {
        val (field, wire) = r.readTag()
        if (field == 1 && wire == 2) {
          val sub = r.readSub()
          arr.add(family match {
            case "logs"    => resourceLogs(sub)
            case "traces"  => resourceSpans(sub)
            case "metrics" => resourceMetrics(sub)
          })
        } else r.skip(wire)
      }
    } catch {
      case e: OtlpParseException => throw e
      case e: Exception =>
        throw new OtlpParseException(s"protobuf decode failed: ${e.getMessage}")
    }
    env.set[JsonNode](listName, arr)
    OtlpJsonParser.parseEnvelopes(Iterator.single(env), nsAsLong, need)
  }

  /** u64 as decimal string node (JSON encodes 64-bit ints as strings; keeps
    * the >i64::MAX overflow guard in the shared row builder). */
  private def u64Node(v: Long): JsonNode =
    nf.textNode(java.lang.Long.toUnsignedString(v))
  private def zigzag32(v: Long): Int = {
    val n = v.toInt; (n >>> 1) ^ -(n & 1)
  }

  // ---- common submessages -------------------------------------------------

  private def anyValue(r: ProtoReader): ObjectNode = {
    val o = new ObjectNode(nf)
    while (r.hasMore) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (1, 2) => o.put("stringValue", r.readString())
        case (2, 0) => o.put("boolValue", r.readVarint() != 0)
        case (3, 0) => o.put("intValue", nodeLong(r.readVarint()))
        case (4, 1) => o.put("doubleValue", r.readDouble())
        case (5, 2) => // ArrayValue{values=1}
          val av = new ObjectNode(nf); val vals = new ArrayNode(nf)
          val sub = r.readSub()
          while (sub.hasMore) {
            val (sf, sw) = sub.readTag()
            if (sf == 1 && sw == 2) vals.add(anyValue(sub.readSub())) else sub.skip(sw)
          }
          av.set[JsonNode]("values", vals); o.set[JsonNode]("arrayValue", av)
        case (6, 2) => // KeyValueList{values=1}
          val kl = new ObjectNode(nf); val vals = new ArrayNode(nf)
          val sub = r.readSub()
          while (sub.hasMore) {
            val (sf, sw) = sub.readTag()
            if (sf == 1 && sw == 2) vals.add(keyValue(sub.readSub())) else sub.skip(sw)
          }
          kl.set[JsonNode]("values", vals); o.set[JsonNode]("kvlistValue", kl)
        case (7, 2) =>
          o.put("bytesValue", java.util.Base64.getEncoder.encodeToString(r.readBytes()))
        case _ => r.skip(w)
      }
    }
    o
  }
  private def nodeLong(v: Long): String = v.toString

  private def keyValue(r: ProtoReader): ObjectNode = {
    val o = new ObjectNode(nf)
    while (r.hasMore) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (1, 2) => o.put("key", r.readString())
        case (2, 2) => o.set[JsonNode]("value", anyValue(r.readSub()))
        case _      => r.skip(w)
      }
    }
    o
  }

  private def attrList(target: ObjectNode, name: String): ArrayNode = {
    val existing = target.get(name)
    if (existing != null) existing.asInstanceOf[ArrayNode]
    else { val a = new ArrayNode(nf); target.set[JsonNode](name, a); a }
  }

  private def resource(r: ProtoReader): ObjectNode = {
    val o = new ObjectNode(nf)
    while (r.hasMore) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (1, 2) => attrList(o, "attributes").add(keyValue(r.readSub()))
        case (2, 0) => o.put("droppedAttributesCount", r.readVarint().toInt)
        case _      => r.skip(w)
      }
    }
    o
  }

  private def scope(r: ProtoReader): ObjectNode = {
    val o = new ObjectNode(nf)
    while (r.hasMore) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (1, 2) => o.put("name", r.readString())
        case (2, 2) => o.put("version", r.readString())
        case (3, 2) => attrList(o, "attributes").add(keyValue(r.readSub()))
        case (4, 0) => o.put("droppedAttributesCount", r.readVarint().toInt)
        case _      => r.skip(w)
      }
    }
    o
  }

  // ---- logs ---------------------------------------------------------------

  private def resourceLogs(r: ProtoReader): ObjectNode = {
    val o = new ObjectNode(nf)
    val scopeLogs = new ArrayNode(nf); o.set[JsonNode]("scopeLogs", scopeLogs)
    while (r.hasMore) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (1, 2) => o.set[JsonNode]("resource", resource(r.readSub()))
        case (2, 2) =>
          val sl = new ObjectNode(nf)
          val records = new ArrayNode(nf); sl.set[JsonNode]("logRecords", records)
          val sub = r.readSub()
          while (sub.hasMore) {
            val (sf, sw) = sub.readTag()
            (sf, sw) match {
              case (1, 2) => sl.set[JsonNode]("scope", scope(sub.readSub()))
              case (2, 2) => records.add(logRecord(sub.readSub()))
              case _      => sub.skip(sw)
            }
          }
          scopeLogs.add(sl)
        case _ => r.skip(w)
      }
    }
    o
  }

  private def logRecord(r: ProtoReader): ObjectNode = {
    val o = new ObjectNode(nf)
    while (r.hasMore) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (1, 1)  => o.set[JsonNode]("timeUnixNano", u64Node(r.readFixed64()))
        case (2, 0)  => o.put("severityNumber", r.readVarint().toInt)
        case (3, 2)  => o.put("severityText", r.readString())
        case (5, 2)  => o.set[JsonNode]("body", anyValue(r.readSub()))
        case (6, 2)  => attrList(o, "attributes").add(keyValue(r.readSub()))
        case (7, 0)  => o.put("droppedAttributesCount", r.readVarint().toInt)
        case (8, 5)  => o.put("flags", r.readFixed32())
        case (9, 2)  => o.put("traceId", Hex.lower(r.readBytes()))
        case (10, 2) => o.put("spanId", Hex.lower(r.readBytes()))
        case (11, 1) => o.set[JsonNode]("observedTimeUnixNano", u64Node(r.readFixed64()))
        case (12, 2) => o.put("eventName", r.readString())
        case _       => r.skip(w)
      }
    }
    o
  }

  // ---- traces -------------------------------------------------------------

  private def resourceSpans(r: ProtoReader): ObjectNode = {
    val o = new ObjectNode(nf)
    val scopeSpans = new ArrayNode(nf); o.set[JsonNode]("scopeSpans", scopeSpans)
    while (r.hasMore) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (1, 2) => o.set[JsonNode]("resource", resource(r.readSub()))
        case (2, 2) =>
          val ss = new ObjectNode(nf)
          val spans = new ArrayNode(nf); ss.set[JsonNode]("spans", spans)
          val sub = r.readSub()
          while (sub.hasMore) {
            val (sf, sw) = sub.readTag()
            (sf, sw) match {
              case (1, 2) => ss.set[JsonNode]("scope", scope(sub.readSub()))
              case (2, 2) => spans.add(span(sub.readSub()))
              case _      => sub.skip(sw)
            }
          }
          scopeSpans.add(ss)
        case _ => r.skip(w)
      }
    }
    o
  }

  private def span(r: ProtoReader): ObjectNode = {
    val o = new ObjectNode(nf)
    while (r.hasMore) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (1, 2)  => o.put("traceId", Hex.lower(r.readBytes()))
        case (2, 2)  => o.put("spanId", Hex.lower(r.readBytes()))
        case (3, 2)  => o.put("traceState", r.readString())
        case (4, 2)  => o.put("parentSpanId", Hex.lower(r.readBytes()))
        case (5, 2)  => o.put("name", r.readString())
        case (6, 0)  => o.put("kind", r.readVarint().toInt)
        case (7, 1)  => o.set[JsonNode]("startTimeUnixNano", u64Node(r.readFixed64()))
        case (8, 1)  => o.set[JsonNode]("endTimeUnixNano", u64Node(r.readFixed64()))
        case (9, 2)  => attrList(o, "attributes").add(keyValue(r.readSub()))
        case (10, 0) => o.put("droppedAttributesCount", r.readVarint().toInt)
        case (11, 2) =>
          val ev = new ObjectNode(nf); val sub = r.readSub()
          while (sub.hasMore) {
            val (sf, sw) = sub.readTag()
            (sf, sw) match {
              case (1, 1) => ev.set[JsonNode]("timeUnixNano", u64Node(sub.readFixed64()))
              case (2, 2) => ev.put("name", sub.readString())
              case (3, 2) => attrList(ev, "attributes").add(keyValue(sub.readSub()))
              case (4, 0) => ev.put("droppedAttributesCount", sub.readVarint().toInt)
              case _      => sub.skip(sw)
            }
          }
          eventsArr(o).add(ev)
        case (12, 0) => o.put("droppedEventsCount", r.readVarint().toInt)
        case (13, 2) =>
          val lk = new ObjectNode(nf); val sub = r.readSub()
          while (sub.hasMore) {
            val (sf, sw) = sub.readTag()
            (sf, sw) match {
              case (1, 2) => lk.put("traceId", Hex.lower(sub.readBytes()))
              case (2, 2) => lk.put("spanId", Hex.lower(sub.readBytes()))
              case (3, 2) => lk.put("traceState", sub.readString())
              case (4, 2) => attrList(lk, "attributes").add(keyValue(sub.readSub()))
              case (5, 0) => lk.put("droppedAttributesCount", sub.readVarint().toInt)
              case _      => sub.skip(sw)
            }
          }
          linksArr(o).add(lk)
        case (14, 0) => o.put("droppedLinksCount", r.readVarint().toInt)
        case (15, 2) =>
          val st = new ObjectNode(nf); val sub = r.readSub()
          while (sub.hasMore) {
            val (sf, sw) = sub.readTag()
            (sf, sw) match {
              case (2, 2) => st.put("message", sub.readString())
              case (3, 0) => st.put("code", sub.readVarint().toInt)
              case _      => sub.skip(sw)
            }
          }
          o.set[JsonNode]("status", st)
        case (16, 5) => o.put("flags", r.readFixed32())
        case _       => r.skip(w)
      }
    }
    o
  }
  private def eventsArr(o: ObjectNode): ArrayNode = attrList(o, "events")
  private def linksArr(o: ObjectNode): ArrayNode = attrList(o, "links")

  // ---- metrics ------------------------------------------------------------

  private def resourceMetrics(r: ProtoReader): ObjectNode = {
    val o = new ObjectNode(nf)
    val scopeMetrics = new ArrayNode(nf); o.set[JsonNode]("scopeMetrics", scopeMetrics)
    while (r.hasMore) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (1, 2) => o.set[JsonNode]("resource", resource(r.readSub()))
        case (2, 2) =>
          val sm = new ObjectNode(nf)
          val metrics = new ArrayNode(nf); sm.set[JsonNode]("metrics", metrics)
          val sub = r.readSub()
          while (sub.hasMore) {
            val (sf, sw) = sub.readTag()
            (sf, sw) match {
              case (1, 2) => sm.set[JsonNode]("scope", scope(sub.readSub()))
              case (2, 2) => metrics.add(metric(sub.readSub()))
              case _      => sub.skip(sw)
            }
          }
          scopeMetrics.add(sm)
        case _ => r.skip(w)
      }
    }
    o
  }

  private def metric(r: ProtoReader): ObjectNode = {
    val o = new ObjectNode(nf)
    while (r.hasMore) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (1, 2)  => o.put("name", r.readString())
        case (2, 2)  => o.put("description", r.readString())
        case (3, 2)  => o.put("unit", r.readString())
        case (5, 2)  => o.set[JsonNode]("gauge", dataPointsMsg(r.readSub(), numberDataPoint))
        case (7, 2)  => o.set[JsonNode]("sum", sumMsg(r.readSub()))
        case (9, 2)  => o.set[JsonNode]("histogram",
          temporalityMsg(r.readSub(), histogramDataPoint))
        case (10, 2) => o.set[JsonNode]("exponentialHistogram",
          temporalityMsg(r.readSub(), expHistogramDataPoint))
        case (11, 2) => o.set[JsonNode]("summary", dataPointsMsg(r.readSub(), summaryDataPoint))
        case _       => r.skip(w)
      }
    }
    o
  }

  private def dataPointsMsg(r: ProtoReader, dp: ProtoReader => ObjectNode): ObjectNode = {
    val o = new ObjectNode(nf)
    val dps = new ArrayNode(nf); o.set[JsonNode]("dataPoints", dps)
    while (r.hasMore) {
      val (f, w) = r.readTag()
      if (f == 1 && w == 2) dps.add(dp(r.readSub())) else r.skip(w)
    }
    o
  }
  private def temporalityMsg(r: ProtoReader, dp: ProtoReader => ObjectNode): ObjectNode = {
    val o = new ObjectNode(nf)
    val dps = new ArrayNode(nf); o.set[JsonNode]("dataPoints", dps)
    while (r.hasMore) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (1, 2) => dps.add(dp(r.readSub()))
        case (2, 0) => o.put("aggregationTemporality", r.readVarint().toInt)
        case _      => r.skip(w)
      }
    }
    o
  }
  private def sumMsg(r: ProtoReader): ObjectNode = {
    val o = new ObjectNode(nf)
    val dps = new ArrayNode(nf); o.set[JsonNode]("dataPoints", dps)
    while (r.hasMore) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (1, 2) => dps.add(numberDataPoint(r.readSub()))
        case (2, 0) => o.put("aggregationTemporality", r.readVarint().toInt)
        case (3, 0) => o.put("isMonotonic", r.readVarint() != 0)
        case _      => r.skip(w)
      }
    }
    o
  }

  private def exemplar(r: ProtoReader): ObjectNode = {
    val o = new ObjectNode(nf)
    while (r.hasMore) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (7, 2) => attrList(o, "filteredAttributes").add(keyValue(r.readSub()))
        case (2, 1) => o.set[JsonNode]("timeUnixNano", u64Node(r.readFixed64()))
        case (3, 1) => o.put("asDouble", r.readDouble())
        case (6, 1) => o.put("asInt", nodeLong(r.readFixed64()))
        case (4, 2) => o.put("spanId", Hex.lower(r.readBytes()))
        case (5, 2) => o.put("traceId", Hex.lower(r.readBytes()))
        case _      => r.skip(w)
      }
    }
    o
  }

  private def numberDataPoint(r: ProtoReader): ObjectNode = {
    val o = new ObjectNode(nf)
    while (r.hasMore) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (7, 2) => attrList(o, "attributes").add(keyValue(r.readSub()))
        case (2, 1) => o.set[JsonNode]("startTimeUnixNano", u64Node(r.readFixed64()))
        case (3, 1) => o.set[JsonNode]("timeUnixNano", u64Node(r.readFixed64()))
        case (4, 1) => o.put("asDouble", r.readDouble())
        case (6, 1) => o.put("asInt", nodeLong(r.readFixed64()))
        case (5, 2) => attrList(o, "exemplars").add(exemplar(r.readSub()))
        case (8, 0) => o.put("flags", r.readVarint().toInt)
        case _      => r.skip(w)
      }
    }
    o
  }

  /** packed (wire 2) or unpacked (wire 1) repeated fixed64. */
  private def packedFixed64(o: ObjectNode, name: String, r: ProtoReader, w: Int): Unit = {
    val arr = attrList(o, name)
    if (w == 1) arr.add(u64Node(r.readFixed64()))
    else { val sub = r.readSub(); while (sub.hasMore) arr.add(u64Node(sub.readFixed64())) }
  }
  private def packedDouble(o: ObjectNode, name: String, r: ProtoReader, w: Int): Unit = {
    val arr = attrList(o, name)
    if (w == 1) arr.add(r.readDouble())
    else { val sub = r.readSub(); while (sub.hasMore) arr.add(sub.readDouble()) }
  }

  private def histogramDataPoint(r: ProtoReader): ObjectNode = {
    val o = new ObjectNode(nf)
    while (r.hasMore) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (9, 2)      => attrList(o, "attributes").add(keyValue(r.readSub()))
        case (2, 1)      => o.set[JsonNode]("startTimeUnixNano", u64Node(r.readFixed64()))
        case (3, 1)      => o.set[JsonNode]("timeUnixNano", u64Node(r.readFixed64()))
        case (4, 1)      => o.set[JsonNode]("count", u64Node(r.readFixed64()))
        case (5, 1)      => o.put("sum", r.readDouble())
        case (6, ww)     => packedFixed64(o, "bucketCounts", r, ww)
        case (7, ww)     => packedDouble(o, "explicitBounds", r, ww)
        case (8, 2)      => attrList(o, "exemplars").add(exemplar(r.readSub()))
        case (10, 0)     => o.put("flags", r.readVarint().toInt)
        case (11, 1)     => o.put("min", r.readDouble())
        case (12, 1)     => o.put("max", r.readDouble())
        case _           => r.skip(w)
      }
    }
    o
  }

  private def buckets(r: ProtoReader): ObjectNode = {
    val o = new ObjectNode(nf)
    while (r.hasMore) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (1, 0)  => o.put("offset", zigzag32(r.readVarint()))
        case (2, ww) =>
          val arr = attrList(o, "bucketCounts")
          if (ww == 0) arr.add(u64Node(r.readVarint()))
          else { val sub = r.readSub(); while (sub.hasMore) arr.add(u64Node(sub.readVarint())) }
        case _ => r.skip(w)
      }
    }
    o
  }

  private def expHistogramDataPoint(r: ProtoReader): ObjectNode = {
    val o = new ObjectNode(nf)
    while (r.hasMore) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (1, 2)  => attrList(o, "attributes").add(keyValue(r.readSub()))
        case (2, 1)  => o.set[JsonNode]("startTimeUnixNano", u64Node(r.readFixed64()))
        case (3, 1)  => o.set[JsonNode]("timeUnixNano", u64Node(r.readFixed64()))
        case (4, 1)  => o.set[JsonNode]("count", u64Node(r.readFixed64()))
        case (5, 1)  => o.put("sum", r.readDouble())
        case (6, 0)  => o.put("scale", zigzag32(r.readVarint()))
        case (7, 1)  => o.set[JsonNode]("zeroCount", u64Node(r.readFixed64()))
        case (8, 2)  => o.set[JsonNode]("positive", buckets(r.readSub()))
        case (9, 2)  => o.set[JsonNode]("negative", buckets(r.readSub()))
        case (10, 0) => o.put("flags", r.readVarint().toInt)
        case (11, 2) => attrList(o, "exemplars").add(exemplar(r.readSub()))
        case (12, 1) => o.put("min", r.readDouble())
        case (13, 1) => o.put("max", r.readDouble())
        case (14, 1) => o.put("zeroThreshold", r.readDouble())
        case _       => r.skip(w)
      }
    }
    o
  }

  /** Summary points are decoded but skipped by the row builder. */
  private def summaryDataPoint(r: ProtoReader): ObjectNode = {
    val o = new ObjectNode(nf)
    while (r.hasMore) { val (_, w) = r.readTag(); r.skip(w) }
    o
  }
}
