package graft.otlp

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex.{ListVector, StructVector}
import org.apache.arrow.vector.dictionary.Dictionary
import org.apache.arrow.vector.ipc.ArrowStreamReader

import java.io.ByteArrayInputStream
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** OTAP (OTel-Arrow `BatchArrowRecords`) decoder.
  *
  * Wire shape (public otel-arrow protocol): a protobuf envelope
  * `BatchArrowRecords{batch_id=1, arrow_payloads=2}` where each
  * `ArrowPayload{schema_id=1, type=2, record=3}` carries one Arrow IPC
  * stream (optionally zstd-compressed at the IPC buffer level). Payload
  * types observed from the reference corpus (test/data/otap, .bar files):
  * 1=RESOURCE_ATTRS 2=SCOPE_ATTRS 10=METRICS 11..14=NUMBER/SUMMARY/
  * HISTOGRAM/EXP_HISTOGRAM data points 15..18=their attrs 19..21=exemplars
  * 22..24=exemplar attrs 26=METRIC_ATTRS 30=LOGS 31=LOG_ATTRS 40=SPANS
  * 41=SPAN_ATTRS 42=SPAN_EVENTS 43=SPAN_LINKS 44=SPAN_EVENT_ATTRS
  * 45=SPAN_LINK_ATTRS.
  *
  * Transport encodings (self-described by Arrow field metadata):
  *   - `encoding=delta` id columns: cumulative sum over non-null values.
  *   - `encoding=quasidelta` parent_id columns: delta from the previous row
  *     while the row's grouping value (attribute (key,value); exemplar
  *     value; event name; link trace_id) repeats, absolute otherwise.
  * Dictionary-encoded columns are resolved through the stream's dictionary
  * batches; complex attribute values arrive CBOR-serialized in `ser`
  * columns and render exactly like the OTLP JSON path (see [[Cbor]]).
  *
  * Statefulness contract (mirrors the reference's one-decoder-per-stream
  * model, src/function/read_otlp.cpp DecodeFileToArray + the gRPC
  * per-stream decoder in src/otlp_server_grpc.cpp): [[OtapStreamDecoder]]
  * keeps one Arrow IPC reader per (schema_id, payload type) across
  * `decode` calls, so a follow-up message that omits its schema and reuses
  * (or delta-extends) dictionaries established by an earlier message
  * decodes correctly within the same decoder session. The batch file
  * reader uses one decoder per file — a standalone dictionary-reuse file
  * (logs-reuse.bar) still fails with a clear error rather than
  * mis-decoding, exactly like the reference's read_otap_* functions.
  */
object OtapDecoder {
  private[otlp] val nf = JsonNodeFactory.instance

  // ---- protobuf envelope --------------------------------------------------

  /** ArrowPayload entries in file order: (schema_id, type, record bytes).
    * A truncated envelope or payload is an [[OtlpParseException]]. */
  private[otlp] def payloads(content: Array[Byte]): Seq[(String, Int, Array[Byte])] = {
    val out = ArrayBuffer[(String, Int, Array[Byte])]()
    val r = new ProtoReader(content)
    while (r.hasMore) {
      val (field, wire) = r.readTag()
      if (field == 2 && wire == 2) {
        // ArrowPayload{schema_id=1, type=2, record=3}. The FULL id value
        // keys decoder streams — a lossy fold (the old 32-bit hash) could
        // silently decode a payload against another schema's
        // reader/dictionaries on collision. Distinct prefixes keep varint
        // ids and string ids from colliding.
        val p = r.readSub()
        var schemaId = "n:0"
        var ptype = 0
        var record: Array[Byte] = null
        while (p.hasMore) p.readTag() match {
          case (1, 0) => schemaId = "n:" + p.readVarint()
          // schema_id is a string in otel-arrow ≥v1
          case (1, 2) => schemaId = "s:" + p.readString()
          case (2, 0) => ptype = p.readVarint().toInt
          case (3, 2) => record = p.readBytes()
          case (_, w) => p.skip(w)
        }
        if (record != null) out += ((schemaId, ptype, record))
      } else r.skip(wire)
    }
    out.toSeq
  }

  // ---- generic Arrow table reading ---------------------------------------

  /** One decoded row: column name → JVM value (struct → Map, list → Seq,
    * timestamps/durations → ns Long, binary → Array[Byte]). */
  private[otlp] type ARow = Map[String, Any]

  /** Array-backed ARow: one shared column-name array per record batch
    * and a values array per row, presenting the full immutable-Map face
    * the decode passes use (apply/getOrElse/updated/groupBy). Replaces
    * the per-row LinkedHashMap→toMap double-build that dominated the
    * IPC-read stage (SCALE.md's OTAP stage split: ~12 hashed inserts + an immutable
    * rebuild per row, ~6k per 500-row message). Lookups are a linear
    * scan over ≤ 20 interned-ish names with an eq fast path — faster
    * than hashing at this width. */
  private[otlp] final class ARowImpl(names: Array[String], vals: Array[Any])
      extends scala.collection.immutable.AbstractMap[String, Any] {
    // scan from the END: the OTAP schemas never emit duplicate field
    // names, but the pre-rewrite LinkedHashMap→toMap path this replaces
    // kept the LAST value for a duplicate name — a last-to-first scan
    // preserves that semantics exactly for any (pathological) batch
    // rather than silently flipping to first-wins (ADVICE r13)
    private def idx(key: String): Int = {
      var i = names.length - 1
      while (i >= 0) {
        val n = names(i)
        if ((n eq key) || n == key) return i
        i -= 1
      }
      -1
    }
    override def get(key: String): Option[Any] = {
      val i = idx(key); if (i < 0) None else Some(vals(i))
    }
    override def getOrElse[V1 >: Any](key: String, default: => V1): V1 = {
      val i = idx(key); if (i < 0) default else vals(i)
    }
    override def apply(key: String): Any = {
      val i = idx(key)
      if (i < 0) throw new NoSuchElementException(key)
      vals(i)
    }
    override def contains(key: String): Boolean = idx(key) >= 0
    override def updated[V1 >: Any](key: String, value: V1): Map[String, V1] = {
      val i = idx(key)
      if (i < 0) Map.from(this).updated(key, value)
      else {
        val nv = vals.clone()
        nv(i) = value
        new ARowImpl(names, nv)
      }
    }
    override def removed(key: String): Map[String, Any] =
      Map.from(this).removed(key)
    override def iterator: Iterator[(String, Any)] =
      names.iterator.zip(vals.iterator)
    override def size: Int = names.length
  }

  private[otlp] def extractMeta(
      schema: org.apache.arrow.vector.types.pojo.Schema): Map[String, String] = {
    val meta = mutable.Map[String, String]()
    schema.getFields.forEach { f =>
      val enc = f.getMetadata.get("encoding")
      if (enc != null) meta(f.getName) = enc
      f.getChildren.forEach { c =>
        val ce = c.getMetadata.get("encoding")
        if (ce != null) meta(f.getName + "." + c.getName) = ce
      }
    }
    meta.toMap
  }

  private[otlp] def cell(v: ValueVector, i: Int,
                   dicts: java.util.Map[java.lang.Long, Dictionary]): Any = {
    if (v.isNull(i)) return null
    val encoding = v.getField.getDictionary
    if (encoding != null) {
      val idx = v.getObject(i) match {
        case c: java.lang.Character => c.charValue().toInt // uint16 index
        case n: Number              => n.intValue()
      }
      val dict = dicts.get(encoding.getId)
      if (dict == null) throw new OtlpParseException(
        s"missing dictionary ${encoding.getId} (streaming dictionary reuse " +
          "is not supported by the batch OTAP reader)")
      cellRaw(dict.getVector, idx, dicts)
    } else cellRaw(v, i, dicts)
  }

  /** Column-major cell extraction: resolves the dictionary and the
    * vector's concrete type ONCE per column instead of per cell, with
    * tight monomorphic loops for the types every OTAP payload carries.
    * Values are exactly [[cell]]'s (the default arm IS cellRaw); only
    * the dispatch count changes (SCALE.md's OTAP stage split: per-cell
    * dispatch was the bulk of the IPC-read stage). */
  private[otlp] def columnValues(v: ValueVector, n: Int,
      dicts: java.util.Map[java.lang.Long, Dictionary]): Array[Any] = {
    val out = new Array[Any](n)
    val encoding = v.getField.getDictionary
    if (encoding != null) {
      // resolved once per column but REQUIRED only at the first non-null
      // cell — an all-null (or empty) dict-encoded column must decode
      // without its dictionary, exactly like the per-cell path did
      val dict = dicts.get(encoding.getId)
      var i = 0
      while (i < n) {
        if (!v.isNull(i)) {
          if (dict == null) throw new OtlpParseException(
            s"missing dictionary ${encoding.getId} (streaming dictionary " +
              "reuse is not supported by the batch OTAP reader)")
          val idx = v.getObject(i) match {
            case c: java.lang.Character => c.charValue().toInt
            case num: Number            => num.intValue()
          }
          out(i) = cellRaw(dict.getVector, idx, dicts)
        }
        i += 1
      }
      out
    } else v match {
      case x: VarCharVector =>
        var i = 0
        while (i < n) {
          if (!x.isNull(i)) out(i) =
            new String(x.get(i), java.nio.charset.StandardCharsets.UTF_8)
          i += 1
        }
        out
      case x: BigIntVector =>
        var i = 0
        while (i < n) { if (!x.isNull(i)) out(i) = x.get(i); i += 1 }
        out
      case x: IntVector =>
        var i = 0
        while (i < n) { if (!x.isNull(i)) out(i) = x.get(i).toLong; i += 1 }
        out
      case x: TimeStampVector =>
        var i = 0
        while (i < n) { if (!x.isNull(i)) out(i) = x.get(i); i += 1 }
        out
      case x: VarBinaryVector =>
        var i = 0
        while (i < n) { if (!x.isNull(i)) out(i) = x.get(i); i += 1 }
        out
      case x: Float8Vector =>
        var i = 0
        while (i < n) { if (!x.isNull(i)) out(i) = x.get(i); i += 1 }
        out
      case x: StructVector =>
        // children extracted column-major once (one dispatch per CHILD
        // instead of per cell); extraction covers every position — a
        // parent-null slot's child cells are decoded then discarded by
        // the null check below, trading wasted work on sparse structs
        // for the monomorphic child loops (values match cellRaw's:
        // children carry their own validity bits)
        val children = x.getChildrenFromFields
        val m = children.size()
        val cn = new Array[String](m)
        val cv = new Array[Array[Any]](m)
        var c = 0
        while (c < m) {
          val ch = children.get(c)
          cn(c) = ch.getName
          cv(c) = columnValues(ch, n, dicts)
          c += 1
        }
        var i = 0
        while (i < n) {
          if (!x.isNull(i)) {
            val vals = new Array[Any](m)
            var c2 = 0
            while (c2 < m) { vals(c2) = cv(c2)(i); c2 += 1 }
            out(i) = new ARowImpl(cn, vals)
          }
          i += 1
        }
        out
      case _ =>
        var i = 0
        while (i < n) { if (!v.isNull(i)) out(i) = cellRaw(v, i, dicts); i += 1 }
        out
    }
  }

  private def cellRaw(v: ValueVector, i: Int,
                      dicts: java.util.Map[java.lang.Long, Dictionary]): Any = v match {
    case x: VarCharVector      => new String(x.get(i), java.nio.charset.StandardCharsets.UTF_8)
    case x: LargeVarCharVector => new String(x.get(i), java.nio.charset.StandardCharsets.UTF_8)
    case x: UInt1Vector        => (x.get(i) & 0xff).toLong
    case x: UInt2Vector        => x.get(i).toLong
    case x: UInt4Vector        => x.get(i).toLong & 0xffffffffL
    case x: UInt8Vector        => x.get(i)
    case x: TinyIntVector      => x.get(i).toLong
    case x: SmallIntVector     => x.get(i).toLong
    case x: IntVector          => x.get(i).toLong
    case x: BigIntVector       => x.get(i)
    case x: Float4Vector       => x.get(i).toDouble
    case x: Float8Vector       => x.get(i)
    case x: BitVector          => x.get(i) == 1
    case x: TimeStampVector    => x.get(i) // ns for OTAP columns
    case x: DurationVector     => x.getObject(i).toNanos
    case x: FixedSizeBinaryVector => x.get(i)
    case x: VarBinaryVector    => x.get(i)
    case x: StructVector =>
      val m = mutable.LinkedHashMap[String, Any]()
      x.getChildrenFromFields.forEach(c => m(c.getName) = cell(c, i, dicts))
      m.toMap
    case x: ListVector =>
      val start = x.getOffsetBuffer.getInt(i.toLong * 4)
      val end = x.getOffsetBuffer.getInt((i + 1).toLong * 4)
      (start until end).map(j => cell(x.getDataVector, j, dicts))
    case other =>
      other.getObject(i)
  }

  // ---- transport-encoding decode ------------------------------------------

  private def asLong(v: Any): Long = v.asInstanceOf[Long]

  /** delta-encoded id column → cumulative values (nulls stay null). */
  private def deltaDecode(rows: IndexedSeq[ARow], col: String,
                          meta: Map[String, String]): IndexedSeq[ARow] = {
    if (!meta.get(col).contains("delta")) return rows
    var run = 0L
    var first = true
    rows.map { r =>
      r(col) match {
        case null => r
        case v =>
          val d = asLong(v)
          run = if (first) d else run + d
          first = false
          r.updated(col, run)
      }
    }
  }

  /** delta decode of a struct child id (resource.id / scope.id). */
  private def deltaDecodeNested(rows: IndexedSeq[ARow], parent: String,
                                meta: Map[String, String]): IndexedSeq[ARow] = {
    if (!meta.get(s"$parent.id").contains("delta")) return rows
    var run = 0L
    var first = true
    rows.map { r =>
      r(parent) match {
        case null => r
        case m: Map[String @unchecked, Any @unchecked] =>
          m.getOrElse("id", null) match {
            case null => r
            case v =>
              val d = asLong(v)
              run = if (first) d else run + d
              first = false
              r.updated(parent, m.updated("id", run))
          }
        case _ => r
      }
    }
  }

  /** quasidelta parent_id: delta while the grouping value repeats. */
  private def quasideltaDecode(rows: IndexedSeq[ARow], meta: Map[String, String],
                               group: ARow => Any): IndexedSeq[ARow] = {
    if (!meta.get("parent_id").contains("quasidelta"))
      return deltaDecode(rows, "parent_id", meta)
    var prevGroup: Any = new Object // never equal
    var run = 0L
    rows.map { r =>
      val g = group(r)
      val raw = asLong(r("parent_id"))
      val pid = if (keyEquals(g, prevGroup)) run + raw else raw
      prevGroup = g
      run = pid
      r.updated("parent_id", pid)
    }
  }

  private def keyEquals(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case (x: Product, y: Product) if x.productArity == y.productArity =>
      x.productIterator.zip(y.productIterator).forall { case (i, j) => keyEquals(i, j) }
    case (x, y) => x == y
  }

  // ---- attribute assembly -------------------------------------------------

  /** attr row → value node (type: 1 str, 2 int, 3 double, 4 bool,
    * 5 map(CBOR), 6 slice(CBOR), 7 bytes). */
  private def attrValueNode(r: ARow): JsonNode = {
    def bytes(v: Any) = v.asInstanceOf[Array[Byte]]
    asLong(r.getOrElse("type", 0L)) match {
      case 1 => nf.textNode(r("str").asInstanceOf[String])
      case 2 => nf.numberNode(asLong(r("int")))
      case 3 => nf.numberNode(r("double").asInstanceOf[Double])
      case 4 => nf.booleanNode(r("bool").asInstanceOf[Boolean])
      case 5 => Cbor.decode(bytes(r("ser")))
      case 6 => Cbor.decode(bytes(r("ser")))
      case 7 => nf.textNode(
        java.util.Base64.getEncoder.encodeToString(bytes(r("bytes"))))
      case _ => nf.nullNode()
    }
  }

  /** attribute grouping value for quasidelta: (key, type, rendered value). */
  private def attrGroup(r: ARow): Any =
    (r.getOrElse("key", null), r.getOrElse("type", null), {
      val t = asLong(r.getOrElse("type", 0L))
      t match {
        case 1 => r.getOrElse("str", null)
        case 2 => r.getOrElse("int", null)
        case 3 => r.getOrElse("double", null)
        case 4 => r.getOrElse("bool", null)
        case 5 | 6 => r.getOrElse("ser", null)
        case 7 => r.getOrElse("bytes", null)
        case _ => null
      }
    })

  /** Decode an attr payload → parent_id → ordered (key, value) pairs. */
  private def attrsByParent(tbl: (IndexedSeq[ARow], Map[String, String]))
      : Map[Long, Seq[(String, JsonNode)]] = {
    val (rows0, meta) = tbl
    val rows = quasideltaDecode(rows0, meta, attrGroup)
    rows.groupBy(r => asLong(r("parent_id")))
      .map { case (pid, rs) =>
        pid -> rs.map(r => r("key").asInstanceOf[String] -> attrValueNode(r)).toSeq
      }
  }

  private def attrsJson(m: Map[Long, Seq[(String, JsonNode)]], id: Any): String =
    id match {
      case null => "{}"
      case v => m.get(asLong(v))
        .map(AttrJson.sortedObject).getOrElse("{}")
    }

  // ---- shared field helpers ----------------------------------------------

  private def tsCell(v: Any, nsAsLong: Boolean): Any = v match {
    case null => null
    case ns: Long =>
      if (ns == 0L) null
      else if (nsAsLong) ns
      else Math.floorDiv(ns, 1000L)
  }
  /** Absent ids arrive as null vectors (OTAP) or empty strings (OTLP) →
    * NULL; all-zero byte ids render as literal zeros, matching what the
    * OTLP paths do with explicit "000…0" hex input. */
  private def hexOrNull(v: Any): String = v match {
    case null => null
    case b: Array[Byte] =>
      if (b.isEmpty) null else Hex.lower(b)
    case s: String => if (s.isEmpty) null else s.toLowerCase
  }
  private def intOrZero(v: Any): Int = v match {
    case null => 0
    case l: Long => l.toInt
    case i: Int => i
    case b: Boolean => if (b) 1 else 0
  }
  private def longOrZero(v: Any): Long = v match {
    case null => 0L; case l: Long => l; case i: Int => i.toLong
  }
  private def strOrNull(v: Any): String = v match {
    case null => null
    case s: String => if (s.isEmpty) null else s
  }
  private def struct(v: Any): Map[String, Any] = v match {
    case null => Map.empty
    case m: Map[String @unchecked, Any @unchecked] => m
  }

  /** service triple from a resource's attribute pairs. */
  private def serviceTriple(attrs: Seq[(String, JsonNode)]): (String, String, String) = {
    def text(k: String): String = attrs.find(_._1 == k).map { case (_, n) =>
      if (n.isTextual) n.asText() else if (n.isNull) null else n.toString
    }.orNull
    (text("service.name"), text("service.namespace"), text("service.instance.id"))
  }

  // ---- main ---------------------------------------------------------------

  /** One-shot batch decode: one stateful decoder per file, like the
    * reference's DecodeFileToArray. A standalone dictionary-reuse file
    * (no schema message of its own) fails here by design. */
  def parse(content: Array[Byte], nsAsLong: Boolean): OtlpJsonParser.ParsedFile = {
    val d = new OtapStreamDecoder(nsAsLong)
    try d.decode(content) finally d.close()
  }

  /** Assemble decoded payload tables into signal rows (shared by the batch
    * reader and the stateful streaming decoder; ids/parent_ids join only
    * within one BatchArrowRecords message, so this runs once per message). */
  private[otlp] def assemble(byType: Map[Int, (IndexedSeq[ARow], Map[String, String])],
                             nsAsLong: Boolean): OtlpJsonParser.ParsedFile = {
    val resourceAttrs = byType.get(1).map(attrsByParent).getOrElse(Map.empty)
    val scopeAttrs = byType.get(2).map(attrsByParent).getOrElse(Map.empty)

    val logs = ArrayBuffer[Array[Any]]()
    val traces = ArrayBuffer[Array[Any]]()
    val gauge = ArrayBuffer[Array[Any]]()
    val sum = ArrayBuffer[Array[Any]]()
    val hist = ArrayBuffer[Array[Any]]()
    val expHist = ArrayBuffer[Array[Any]]()
    var skippedSummary = 0L
    var skippedInvalid = 0L

    // id-memoized: a batch's rows overwhelmingly share one resource and
    // one scope, and re-rendering the attr JSON + service triple per ROW
    // was ~40% of the whole decode stack (SCALE.md's OTAP stage split,
    // 500-row messages)
    val resCache = mutable.HashMap[Any, (String, String, String, String)]()
    def resourceInfo(r: ARow): (String, String, String, String) = {
      val res = struct(r.getOrElse("resource", null))
      val id = res.getOrElse("id", null)
      resCache.getOrElseUpdate(id, {
        val attrs = Option(id)
          .flatMap(i => resourceAttrs.get(asLong(i))).getOrElse(Seq.empty)
        val (sn, sns, sid) = serviceTriple(attrs)
        (sn, sns, sid, AttrJson.sortedObject(attrs))
      })
    }
    val scopeCache = mutable.HashMap[(Any, Any, Any), (String, String, String)]()
    def scopeInfo(r: ARow): (String, String, String) = {
      val sc = struct(r.getOrElse("scope", null))
      val id = sc.getOrElse("id", null)
      val nm = sc.getOrElse("name", null)
      val ver = sc.getOrElse("version", null)
      scopeCache.getOrElseUpdate((id, nm, ver), {
        val attrs = Option(id)
          .flatMap(i => scopeAttrs.get(asLong(i))).getOrElse(Seq.empty)
        (strOrNull(nm), strOrNull(ver), AttrJson.sortedObject(attrs))
      })
    }

    // ---- logs -------------------------------------------------------------
    byType.get(30).foreach { case (rows0, meta) =>
      var rows = deltaDecode(rows0, "id", meta)
      rows = deltaDecodeNested(rows, "resource", meta)
      rows = deltaDecodeNested(rows, "scope", meta)
      val logAttrs = byType.get(31).map(attrsByParent).getOrElse(Map.empty)
      rows.foreach { r =>
        val (sn, sns, sid, resJson) = resourceInfo(r)
        val (scName, scVer, scJson) = scopeInfo(r)
        val sev = intOrZero(r.getOrElse("severity_number", null))
        val body = struct(r.getOrElse("body", null))
        val bodyText =
          if (body.isEmpty) null
          else {
            val node = Cbor.decode(body("ser").asInstanceOf[Array[Byte]])
            if (asLong(body.getOrElse("type", 0L)) == 1) node.asText()
            else AttrJson.compact(node)
          }
        logs += Array[Any](
          tsCell(r.getOrElse("time_unix_nano", null), nsAsLong),
          tsCell(r.getOrElse("observed_time_unix_nano", null), nsAsLong),
          hexOrNull(r.getOrElse("trace_id", null)),
          hexOrNull(r.getOrElse("span_id", null)),
          sn, sns, sid,
          if (sev == 0) null else Int.box(sev),
          strOrNull(r.getOrElse("severity_text", null)),
          strOrNull(r.getOrElse("event_name", null)),
          bodyText,
          resJson, scName, scVer, scJson,
          attrsJson(logAttrs, r.getOrElse("id", null)),
          Int.box(intOrZero(r.getOrElse("dropped_attributes_count", null))),
          Int.box(intOrZero(r.getOrElse("flags", null))))
      }
    }

    // ---- traces -----------------------------------------------------------
    byType.get(40).foreach { case (rows0, meta) =>
      var rows = deltaDecode(rows0, "id", meta)
      rows = deltaDecodeNested(rows, "resource", meta)
      rows = deltaDecodeNested(rows, "scope", meta)
      val spanAttrs = byType.get(41).map(attrsByParent).getOrElse(Map.empty)
      val eventAttrs = byType.get(44).map(attrsByParent).getOrElse(Map.empty)
      val linkAttrs = byType.get(45).map(attrsByParent).getOrElse(Map.empty)

      def childRows(t: Int, group: ARow => Any): Map[Long, IndexedSeq[ARow]] =
        byType.get(t).map { case (crows0, cmeta) =>
          var crows = deltaDecode(crows0, "id", cmeta)
          crows = quasideltaDecode(crows, cmeta, group)
          crows.groupBy(r => asLong(r("parent_id")))
        }.getOrElse(Map.empty)

      val events = childRows(42, r => r.getOrElse("name", null))
      val links = childRows(43, r => r.getOrElse("trace_id", null))

      rows.foreach { r =>
        val (sn, sns, sid, resJson) = resourceInfo(r)
        val (scName, scVer, scJson) = scopeInfo(r)
        val status = struct(r.getOrElse("status", null))
        val id = r.getOrElse("id", null)
        val eventsJson: String = id match {
          case null => null
          case v => events.get(asLong(v)).map { evs =>
            val arr = new ArrayNode(nf)
            evs.foreach { ev =>
              val o = new ObjectNode(nf)
              ev.getOrElse("time_unix_nano", null) match {
                case null => ()
                case ns: Long => if (ns != 0) o.put("time_unix_nano", ns)
              }
              strOrNull(ev.getOrElse("name", null)) match {
                case null => (); case n => o.put("name", n)
              }
              o.set[JsonNode]("attributes", sortedNode(
                ev.get("id").filter(_ != null)
                  .flatMap(i => eventAttrs.get(asLong(i))).getOrElse(Seq.empty)))
              val d = intOrZero(ev.getOrElse("dropped_attributes_count", null))
              if (d != 0) o.put("dropped_attributes_count", d)
              arr.add(o)
            }
            if (arr.isEmpty) null else AttrJson.compact(arr)
          }.orNull
        }
        val linksJson: String = id match {
          case null => null
          case v => links.get(asLong(v)).map { lks =>
            val arr = new ArrayNode(nf)
            lks.foreach { lk =>
              val o = new ObjectNode(nf)
              val t = hexOrNull(lk.getOrElse("trace_id", null))
              if (t != null) o.put("trace_id", t)
              val s = hexOrNull(lk.getOrElse("span_id", null))
              if (s != null) o.put("span_id", s)
              val st = strOrNull(lk.getOrElse("trace_state", null))
              if (st != null) o.put("trace_state", st)
              o.set[JsonNode]("attributes", sortedNode(
                lk.get("id").filter(_ != null)
                  .flatMap(i => linkAttrs.get(asLong(i))).getOrElse(Seq.empty)))
              val d = intOrZero(lk.getOrElse("dropped_attributes_count", null))
              if (d != 0) o.put("dropped_attributes_count", d)
              arr.add(o)
            }
            if (arr.isEmpty) null else AttrJson.compact(arr)
          }.orNull
        }
        traces += Array[Any](
          tsCell(r.getOrElse("start_time_unix_nano", null), nsAsLong),
          Long.box(longOrZero(r.getOrElse("duration_time_unix_nano", null))),
          hexOrNull(r.getOrElse("trace_id", null)),
          hexOrNull(r.getOrElse("span_id", null)),
          hexOrNull(r.getOrElse("parent_span_id", null)),
          strOrNull(r.getOrElse("trace_state", null)),
          sn, sns, sid,
          r.getOrElse("name", null).asInstanceOf[String],
          Int.box(intOrZero(r.getOrElse("kind", null))),
          Int.box(intOrZero(status.getOrElse("code", null))),
          strOrNull(status.getOrElse("status_message", null)),
          resJson, scName, scVer, scJson,
          attrsJson(spanAttrs, id),
          eventsJson, linksJson,
          Int.box(intOrZero(r.getOrElse("dropped_attributes_count", null))),
          Int.box(intOrZero(r.getOrElse("dropped_events_count", null))),
          Int.box(intOrZero(r.getOrElse("dropped_links_count", null))),
          Int.box(intOrZero(r.getOrElse("flags", null))))
      }
    }

    // ---- metrics ----------------------------------------------------------
    byType.get(10).foreach { case (rows0, meta) =>
      var metricRows = deltaDecode(rows0, "id", meta)
      metricRows = deltaDecodeNested(metricRows, "resource", meta)
      metricRows = deltaDecodeNested(metricRows, "scope", meta)
      val metricsById: Map[Long, ARow] =
        metricRows.flatMap(r => Option(r.getOrElse("id", null))
          .map(id => asLong(id) -> r)).toMap

      def dpAttrs(t: Int) = byType.get(t).map(attrsByParent).getOrElse(Map.empty)
      def exemplars(t: Int, attrT: Int): Map[Long, IndexedSeq[ARow]] =
        byType.get(t).map { case (er0, em) =>
          var er = deltaDecode(er0, "id", em)
          er = quasideltaDecode(er, em,
            r => (r.getOrElse("int_value", null), r.getOrElse("double_value", null)))
          er.groupBy(r => asLong(r("parent_id")))
        }.getOrElse(Map.empty)
      val exAttrs: Map[Int, Map[Long, Seq[(String, JsonNode)]]] =
        Map(22 -> dpAttrs(22), 23 -> dpAttrs(23), 24 -> dpAttrs(24))

      def exemplarsJson(exs: Option[IndexedSeq[ARow]], attrT: Int): String =
        exs.filter(_.nonEmpty).map { rows =>
          val arr = new ArrayNode(nf)
          rows.foreach { ex =>
            val o = new ObjectNode(nf)
            ex.getOrElse("time_unix_nano", null) match {
              case null => ()
              case ns: Long => if (ns != 0) o.put("time_unix_nano", ns)
            }
            ex.getOrElse("int_value", null) match {
              case null => (); case v => o.put("as_int", asLong(v))
            }
            ex.getOrElse("double_value", null) match {
              case null => (); case v => o.put("as_double", v.asInstanceOf[Double])
            }
            val t = hexOrNull(ex.getOrElse("trace_id", null))
            if (t != null) o.put("trace_id", t)
            val s = hexOrNull(ex.getOrElse("span_id", null))
            if (s != null) o.put("span_id", s)
            o.set[JsonNode]("filtered_attributes", sortedNode(
              ex.get("id").filter(_ != null)
                .flatMap(i => exAttrs(attrT).get(asLong(i))).getOrElse(Seq.empty)))
            arr.add(o)
          }
          AttrJson.compact(arr)
        }.orNull

      def dpRows(t: Int): IndexedSeq[ARow] =
        byType.get(t).map { case (dr0, dm) =>
          var dr = deltaDecode(dr0, "id", dm)
          dr = deltaDecode(dr, "parent_id", dm)
          dr
        }.getOrElse(IndexedSeq.empty)

      // number data points → gauge or sum by the parent metric's type
      val numberAttrs = dpAttrs(15)
      val numberEx = exemplars(19, 22)
      dpRows(11).foreach { dp =>
        metricsById.get(asLong(dp("parent_id"))).foreach { m =>
          val (sn, sns, sid, resJson) = resourceInfo(m)
          val (scName, scVer, scJson) = scopeInfo(m)
          val iv = dp.getOrElse("int_value", null)
          val dv = dp.getOrElse("double_value", null)
          val invalid = iv == null && (dv == null || {
            val d = dv.asInstanceOf[Double]; d.isNaN || d.isInfinite
          })
          if (invalid) skippedInvalid += 1
          else {
            val common = Array[Any](
              tsCell(dp.getOrElse("time_unix_nano", null), nsAsLong),
              tsCell(dp.getOrElse("start_time_unix_nano", null), nsAsLong),
              strOrNull(m.getOrElse("name", null)),
              strOrNull(m.getOrElse("description", null)),
              strOrNull(m.getOrElse("unit", null)),
              iv, dv,
              sn, sns, sid, resJson, scName, scVer, scJson,
              attrsJson(numberAttrs, dp.getOrElse("id", null)),
              Int.box(intOrZero(dp.getOrElse("flags", null))),
              exemplarsJson(numberEx.get(asLong(dp.getOrElse("id", -1L))), 22))
            asLong(m.getOrElse("metric_type", 0L)) match {
              case 1 => gauge += common
              case 2 => sum += (common ++ Array[Any](
                Int.box(intOrZero(m.getOrElse("aggregation_temporality", null))),
                Boolean.box(m.getOrElse("is_monotonic", null) match {
                  case null => false; case b: Boolean => b
                })))
              case _ => skippedInvalid += 1
            }
          }
        }
      }

      def seqLong(v: Any): Array[Long] = v match {
        case null => Array.empty
        case s: Seq[Any @unchecked] => s.map(longOrZero).toArray
      }
      def seqDouble(v: Any): Array[Double] = v match {
        case null => Array.empty
        case s: Seq[Any @unchecked] => s.map {
          case d: Double => d; case l: Long => l.toDouble
        }.toArray
      }
      def optDouble(v: Any): Any = v match {
        case null => null; case d: Double => Double.box(d)
      }

      val histAttrs = dpAttrs(17)
      val histEx = exemplars(20, 23)
      dpRows(13).foreach { dp =>
        metricsById.get(asLong(dp("parent_id"))).foreach { m =>
          val (sn, sns, sid, resJson) = resourceInfo(m)
          val (scName, scVer, scJson) = scopeInfo(m)
          hist += Array[Any](
            tsCell(dp.getOrElse("time_unix_nano", null), nsAsLong),
            tsCell(dp.getOrElse("start_time_unix_nano", null), nsAsLong),
            strOrNull(m.getOrElse("name", null)),
            strOrNull(m.getOrElse("description", null)),
            strOrNull(m.getOrElse("unit", null)),
            Long.box(longOrZero(dp.getOrElse("count", null))),
            optDouble(dp.getOrElse("sum", null)),
            optDouble(dp.getOrElse("min", null)),
            optDouble(dp.getOrElse("max", null)),
            seqLong(dp.getOrElse("bucket_counts", null)),
            seqDouble(dp.getOrElse("explicit_bounds", null)),
            sn, sns, sid, resJson, scName, scVer, scJson,
            attrsJson(histAttrs, dp.getOrElse("id", null)),
            Int.box(intOrZero(dp.getOrElse("flags", null))),
            exemplarsJson(histEx.get(asLong(dp.getOrElse("id", -1L))), 23),
            Int.box(intOrZero(m.getOrElse("aggregation_temporality", null))))
        }
      }

      val expAttrs = dpAttrs(18)
      val expEx = exemplars(21, 24)
      dpRows(14).foreach { dp =>
        metricsById.get(asLong(dp("parent_id"))).foreach { m =>
          val (sn, sns, sid, resJson) = resourceInfo(m)
          val (scName, scVer, scJson) = scopeInfo(m)
          val pos = struct(dp.getOrElse("positive", null))
          val neg = struct(dp.getOrElse("negative", null))
          expHist += Array[Any](
            tsCell(dp.getOrElse("time_unix_nano", null), nsAsLong),
            tsCell(dp.getOrElse("start_time_unix_nano", null), nsAsLong),
            strOrNull(m.getOrElse("name", null)),
            strOrNull(m.getOrElse("description", null)),
            strOrNull(m.getOrElse("unit", null)),
            Long.box(longOrZero(dp.getOrElse("count", null))),
            optDouble(dp.getOrElse("sum", null)),
            optDouble(dp.getOrElse("min", null)),
            optDouble(dp.getOrElse("max", null)),
            Int.box(intOrZero(dp.getOrElse("scale", null))),
            Long.box(longOrZero(dp.getOrElse("zero_count", null))),
            optDouble(dp.getOrElse("zero_threshold", null)),
            Int.box(intOrZero(pos.getOrElse("offset", null))),
            seqLong(pos.getOrElse("bucket_counts", null)),
            Int.box(intOrZero(neg.getOrElse("offset", null))),
            seqLong(neg.getOrElse("bucket_counts", null)),
            sn, sns, sid, resJson, scName, scVer, scJson,
            attrsJson(expAttrs, dp.getOrElse("id", null)),
            Int.box(intOrZero(dp.getOrElse("flags", null))),
            exemplarsJson(expEx.get(asLong(dp.getOrElse("id", -1L))), 24),
            Int.box(intOrZero(m.getOrElse("aggregation_temporality", null))))
        }
      }

      byType.get(12).foreach { case (sr, _) => skippedSummary += sr.size }
    }

    OtlpJsonParser.ParsedFile(Map(
      "logs" -> logs.toIndexedSeq, "traces" -> traces.toIndexedSeq,
      "metrics_gauge" -> gauge.toIndexedSeq, "metrics_sum" -> sum.toIndexedSeq,
      "metrics_histogram" -> hist.toIndexedSeq,
      "metrics_exp_histogram" -> expHist.toIndexedSeq),
      OtlpJsonParser.Skipped(skippedSummary, skippedInvalid))
  }

  private def sortedNode(pairs: Seq[(String, JsonNode)]): ObjectNode = {
    val o = new ObjectNode(nf)
    pairs.sortBy(_._1).foreach { case (k, v) => o.set[JsonNode](k, v) }
    o
  }
}

/** Stateful OTAP decoder: one Arrow IPC reader per (schema_id, payload
  * type), held open across `decode` calls so later BatchArrowRecords
  * messages can omit their schema and reuse — or delta-extend, or replace —
  * dictionaries established by earlier messages on the same stream
  * (arrow-java's ArrowReader applies delta and replacement dictionary
  * batches natively). This is the engine behind both the batch file reader
  * (one decoder per file) and otap_serve streaming sessions (one decoder
  * per session), mirroring the reference's per-stream decoder
  * (src/otlp_server_grpc.cpp) and per-file decoder (read_otlp.cpp).
  *
  * Not thread-safe: callers serialize access (one HTTP request at a time
  * per streaming session; one file at a time per scan task). */
final class OtapStreamDecoder(nsAsLong: Boolean) extends AutoCloseable {
  import OtapDecoder.ARow

  private val alloc = new RootAllocator()
  private val streams = mutable.LinkedHashMap[(String, Int), StreamState]()

  /** An InputStream over an append-only chunk queue: returns EOF when
    * drained, and serves newly-appended chunks on later reads — exactly
    * what ArrowStreamReader needs to resume a stream across messages
    * (its message reader treats a clean EOF as "no message yet", not as a
    * terminal state). */
  private final class FeedStream extends java.io.InputStream {
    private val chunks = new java.util.ArrayDeque[ByteArrayInputStream]()
    def append(bytes: Array[Byte]): Unit =
      chunks.addLast(new ByteArrayInputStream(bytes))
    override def read(): Int = {
      while (!chunks.isEmpty) {
        val v = chunks.peekFirst.read()
        if (v >= 0) return v
        chunks.removeFirst()
      }
      -1
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      while (!chunks.isEmpty) {
        val n = chunks.peekFirst.read(b, off, len)
        if (n > 0) return n
        chunks.removeFirst()
      }
      -1
    }
  }

  private final class StreamState {
    val feed = new FeedStream
    private var reader: ArrowStreamReader = _
    private var meta: Map[String, String] = _

    /** Drain every complete batch currently in the feed into rows. */
    def readNewRows(): (IndexedSeq[ARow], Map[String, String]) = {
      if (reader == null)
        reader = new ArrowStreamReader(feed, alloc, CommonsCompressionFactory.INSTANCE)
      val root = reader.getVectorSchemaRoot // first call reads the schema
      if (meta == null) meta = OtapDecoder.extractMeta(root.getSchema)
      val rows = ArrayBuffer[ARow]()
      while (reader.loadNextBatch()) {
        val dicts = reader.getDictionaryVectors
        val vectors = root.getFieldVectors
        val nCols = vectors.size()
        val names = new Array[String](nCols)
        var c = 0
        while (c < nCols) { names(c) = vectors.get(c).getName; c += 1 }
        val n = root.getRowCount
        val cols = new Array[Array[Any]](nCols)
        c = 0
        while (c < nCols) {
          cols(c) = OtapDecoder.columnValues(vectors.get(c), n, dicts)
          c += 1
        }
        var i = 0
        while (i < n) {
          val vals = new Array[Any](nCols)
          c = 0
          while (c < nCols) { vals(c) = cols(c)(i); c += 1 }
          rows += new OtapDecoder.ARowImpl(names, vals)
          i += 1
        }
      }
      (rows.toIndexedSeq, meta)
    }

    def close(): Unit = if (reader != null) reader.close()
  }

  /** True when the payload's first IPC message is a Schema message (header
    * type 1 in the encapsulated-message flatbuffer). A Schema on an ALREADY
    * OPEN stream key means a new self-contained segment, not a continuation
    * — OTAP assigns a new schema_id when a schema actually changes, and
    * multi-payload batch files repeat full (schema + dictionaries + batch)
    * segments under one id — so the old reader state is replaced. */
  private def startsWithSchema(record: Array[Byte]): Boolean =
    try {
      // peek only the first encapsulated message's metadata via the
      // library's own reader — one source of truth for IPC framing
      val ch = new org.apache.arrow.vector.ipc.ReadChannel(
        java.nio.channels.Channels.newChannel(new ByteArrayInputStream(record)))
      val result =
        org.apache.arrow.vector.ipc.message.MessageSerializer.readMessage(ch)
      result != null && result.headerType() ==
        org.apache.arrow.flatbuf.MessageHeader.Schema
    } catch { case _: Exception => false }

  /** Decode one BatchArrowRecords message; returns only ITS rows. Ids and
    * parent_ids join within one JOIN SCOPE: normally the whole message,
    * but a concatenated batch file (proto concatenation of .bar files —
    * the reference's own multi-segment reading, read_otap.cpp) carries
    * several self-contained segments whose ids each RESTART from zero, so
    * rows are assembled per segment and concatenated — otherwise segment
    * 2's attributes would join against segment 1's row ids (silent
    * attribute loss/mixup). A new segment is detected when a payload key
    * already fed in the current scope re-announces a Schema, or a payload
    * type reappears under a different schema id. Arrow dictionary/schema
    * reader state still persists across messages per (schema_id, type).
    *
    * SEGMENT RULE (decided against otel-arrow semantics): a conforming
    * BatchArrowRecords carries AT MOST ONE payload per payload type, and
    * id/parent_id values are scoped to that one batch — so a REAPPEARING
    * payload type always means a new batch boundary (new id scope), and
    * splitting there is required, not an over-split. This holds even for
    * the session-mix concatenation [logs@A][logs@B][logs@A]: schema ids
    * may legitimately repeat across segments (different producer sessions
    * reuse id strings), and each reappearance still opens a fresh scope.
    * The one input this rule cannot decode is a file INTERLEAVING two
    * segments' payloads (e.g. logs@A, logs@B, log_attrs@A): no conforming
    * encoder can produce it, and silently joining attrs against
    * another scope's restarted ids would corrupt rows — so when a flush
    * would strand a scope holding only child payloads (attrs / data
    * points with no logs/spans/metrics root), the decode fails loudly
    * instead. */
  def decode(message: Array[Byte]): OtlpJsonParser.ParsedFile = {
    val ps = OtapDecoder.payloads(message)
    if (ps.isEmpty)
      throw new OtlpParseException("no Arrow payloads in OTAP input")
    var acc = mutable.LinkedHashMap[Int, (ArrayBuffer[ARow], Map[String, String])]()
    val fedKeys = mutable.Set[(String, Int)]()
    val fedTypes = mutable.Map[Int, String]()
    val parts = ArrayBuffer[OtlpJsonParser.ParsedFile]()
    def flushSegment(): Unit = if (acc.nonEmpty) {
      // roots: 10 metrics, 30 logs, 40 spans (12 = summary points, skipped
      // but root-like for the orphan check — a summary-only batch is legal)
      if (!acc.keysIterator.exists(t => t == 10 || t == 12 || t == 30 || t == 40))
        throw new OtlpParseException(
          s"OTAP segment holds only child payload types " +
            s"[${acc.keysIterator.mkString(",")}] — attribute/data-point " +
            "payloads separated from their root table (an interleaved " +
            "multi-segment file is not valid OTAP)")
      parts += OtapDecoder.assemble(
        acc.iterator.map { case (t, (r, m)) => t -> (r.toIndexedSeq, m) }.toMap,
        nsAsLong)
      acc = mutable.LinkedHashMap[Int, (ArrayBuffer[ARow], Map[String, String])]()
      fedKeys.clear()
      fedTypes.clear()
    }
    ps.foreach { case (schemaId, ptype, record) =>
      val key = (schemaId, ptype)
      val fresh = startsWithSchema(record)
      if ((fresh && fedKeys.contains(key)) ||
          fedTypes.get(ptype).exists(_ != schemaId))
        flushSegment()
      if (streams.contains(key) && fresh) {
        // a fresh self-contained segment on an open key: replace the state
        val old = streams.remove(key).get
        try old.close() catch { case _: Exception => () }
      }
      val st = streams.getOrElseUpdate(key, new StreamState)
      st.feed.append(record)
      val (rows, meta) =
        try st.readNewRows()
        catch {
          case e: OtlpParseException => throw e
          case e: Exception =>
            // invalid/partial IPC (e.g. a dictionary-reuse continuation
            // stream decoded with no prior state) → parse error, not a crash
            throw new OtlpParseException(
              s"invalid OTAP Arrow IPC payload: ${e.getMessage}")
        }
      val slot = acc.getOrElseUpdate(ptype, (ArrayBuffer[ARow](), meta))
      slot._1 ++= rows
      fedKeys += key
      fedTypes(ptype) = schemaId
    }
    flushSegment()
    if (parts.size == 1) parts.head
    else OtlpJsonParser.ParsedFile(
      OtlpSchemas.Signals.map(s =>
        s -> parts.iterator.map(_.signal(s)).reduce(_ ++ _)).toMap,
      OtlpJsonParser.Skipped(
        parts.iterator.map(_.skipped.summaryPoints).sum,
        parts.iterator.map(_.skipped.invalidPoints).sum))
  }

  override def close(): Unit = {
    streams.valuesIterator.foreach(s => try s.close() catch { case _: Exception => () })
    streams.clear()
    // a failed mid-stream read can leave buffers allocated; the close
    // error would otherwise mask the real parse failure
    try alloc.close() catch { case _: IllegalStateException => () }
  }
}
