package graft.query

import graft.index.{GraftIndex, Mutations, PatternManager}
import graft.model.Pattern
import graft.query.Api._

import java.io.OutputStream
import java.nio.charset.StandardCharsets.UTF_8

/** The HTTP serving layer — kupo's Warp router/handlers
  * (/root/reference/src/Kupo/App/Http.hs:281-916) re-expressed over the
  * library's query functions, in two parts:
  *
  *   - [[HttpApi]]: a PURE router — (method, path, query, headers, body) →
  *     (status, headers, streamed body). Every route, query-parameter
  *     grammar, typed 400 `{"hint": …}`, ETag/If-None-Match 304, CORS
  *     OPTIONS, `/v1` prefix, 404/405 — driveable without a socket.
  *   - [[KupoHttpServer]]: the listener — the JDK's
  *     `com.sun.net.httpserver.HttpServer` pumping exchanges through the
  *     router, response bodies streamed chunk-by-chunk (matches use
  *     [[ResponseStream.writeJsonArray]]'s constant-memory iterator, so a
  *     multi-GB result never materializes on the driver).
  *
  * Param grammars mirror the reference modules byte-for-byte where the
  * typed surface allows: StatusFlag (valueless `?spent`/`?unspent`,
  * mutually exclusive — StatusFlag.hs:26-42), SlotRange
  * (`created_after/created_before/spent_after/spent_before`, each a slot
  * number or a full `slot.headerhash` point checked against checkpoints —
  * SlotRange.hs:34-130; bounds naming BOTH created and spent fields in one
  * query are rejected with a hint, the one grammar corner the single-field
  * [[Api.SlotRange]] cannot express), OrderMatchesBy
  * (`order=most_recent_first|oldest_first`, duplicates conflict —
  * OrderMatchesBy.hs:13-42), ReferenceFlag (valueless `?resolve_hashes` —
  * ReferenceFlag.hs:13-28), FilterMatchesBy (`policy_id` [+`asset_name`],
  * `transaction_id` [+`output_index`], at most one family —
  * FilterMatchesBy.hs:25-102), `?strict` on checkpoint lookups, and the
  * `Accept: application/json;asset-quantity=string` media parameter that
  * switches quantity encoding (QuantityEncoding.hs:37-50). */
object HttpApi {

  final case class Request(
      method: String,
      path: String,
      query: Seq[(String, Option[String])] = Nil,
      headers: Map[String, String] = Map.empty, // lower-cased keys
      body: Array[Byte] = Array.emptyByteArray)

  final case class Response(
      status: Int,
      contentType: String,
      headers: Seq[(String, String)],
      write: OutputStream => Unit)

  object Response {
    def json(status: Int, body: String,
             extra: Seq[(String, String)] = Nil): Response =
      Response(status, "application/json;charset=utf-8", extra,
        out => out.write(body.getBytes(UTF_8)))
    def badRequest(hint: String): Response =
      json(400, Api.errorJson(new IllegalArgumentException(hint)))
    val notFound: Response = json(404, """{"hint":"unknown route"}""")
    val methodNotAllowed: Response =
      json(405, """{"hint":"method not allowed on this route"}""")
  }

  /** `a=1&b&c=x%20y` → ordered (key, value?) pairs, URL-decoded. */
  def parseQueryString(raw: String): Seq[(String, Option[String])] =
    if (raw == null || raw.isEmpty) Nil
    else raw.split("&").toSeq.filter(_.nonEmpty).map { kv =>
      kv.indexOf('=') match {
        case -1 => (urlDecode(kv), None)
        case i  => (urlDecode(kv.take(i)), Some(urlDecode(kv.drop(i + 1))))
      }
    }

  /** Percent-decode (no `+`→space: path segments keep literal `+`). */
  def urlDecode(s: String): String = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%') {
        require(i + 2 < s.length, s"truncated %-escape in $s")
        out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
        i += 3
      } else { out.write(c.toString.getBytes(UTF_8)); i += 1 }
    }
    new String(out.toByteArray, UTF_8)
  }
}

final class HttpApi(
    ix: GraftIndex,
    blocks: () => org.apache.spark.sql.DataFrame,
    readHealth: () => Health.Snapshot,
    networkParams: Option[Health.NetworkParameters] = None) {

  import HttpApi._

  /** Every Spark job a request runs — while routing, and later while its
    * body streams — carries the description `METHOD /route/{template}`
    * (`GET /matches/{pattern}`, `GET /checkpoints/{slot}`), never the
    * request's own keys. The handling thread's previous description (none,
    * on the server's pool threads) is restored afterwards. */
  def route(req: Request): Response = {
    val desc = s"${req.method} ${routeTemplate(req.path)}"
    GraftIndex.describedAs(ix.spark, desc) {
      val r =
        try routeUnsafe(req)
        catch {
          case e: Api.PointNotFound    => Response.json(400, Api.errorJson(e))
          case e: Api.PointMismatch    => Response.json(400, Api.errorJson(e))
          case e: IllegalArgumentException => Response.json(400, Api.errorJson(e))
        }
      r.copy(write = out => GraftIndex.describedAs(ix.spark, desc)(r.write(out)))
    }
  }

  /** The path parameter each route takes after its first segment. */
  private val routeParams = Map("health" -> "", "metrics" -> "",
    "checkpoints" -> "{slot}", "metadata" -> "{slot}",
    "datums" -> "{hash}", "scripts" -> "{hash}",
    "matches" -> "{pattern}", "patterns" -> "{pattern}")

  private def routeTemplate(path: String): String = {
    val segs0 = path.split("/").toList.filter(_.nonEmpty)
    (if (segs0.headOption.contains("v1")) segs0.tail else segs0) match {
      case r :: rest if routeParams.contains(r) =>
        if (rest.isEmpty || routeParams(r).isEmpty) s"/$r" else s"/$r/${routeParams(r)}"
      case Nil => "/"
      case _   => "/{unknown}"
    }
  }

  private def routeUnsafe(req: Request): Response = {
    val segs0 = req.path.split("/").toList.filter(_.nonEmpty).map(urlDecode)
    val segs = if (segs0.headOption.contains("v1")) segs0.tail else segs0
    if (req.method == "OPTIONS")
      Response(200, "application/json",
        Seq("Access-Control-Allow-Origin" -> "*",
          "Access-Control-Allow-Methods" -> "GET, PUT, DELETE, OPTIONS",
          "Access-Control-Allow-Headers" -> "*"), _ => ())
    else segs match {
      case "health" :: Nil   => routeHealth(req)
      case "metrics" :: Nil  => routeMetrics(req)
      case "checkpoints" :: rest => cacheOr(req)(routeCheckpoints(req, rest))
      case "matches" :: rest =>
        if (req.method == "GET") cacheOr(req)(getMatches(req, rest))
        else if (req.method == "DELETE") deleteMatches(rest)
        else Response.methodNotAllowed
      case "datums" :: rest  => cacheOr(req)(routeDatums(req, rest))
      case "scripts" :: rest => cacheOr(req)(routeScripts(req, rest))
      case "metadata" :: rest => cacheOr(req)(routeMetadata(req, rest))
      case "patterns" :: rest => routePatterns(req, rest)
      case _ => Response.notFound
    }
  }

  /** R13 cacheOr (Http.hs:455-471): a matching If-None-Match answers 304
    * without computing the body; otherwise the fresh response carries the
    * current ETag. */
  private def cacheOr(req: Request)(fresh: => Response): Response = {
    val h = readHealth()
    Health.cacheOr(h, req.headers.get("if-none-match"))(fresh) match {
      case None => Response(304, "application/json",
        Health.etag(h).map("ETag" -> _).toSeq, _ => ())
      case Some((etag, r)) => r.copy(headers = r.headers ++ etag.map("ETag" -> _))
    }
  }

  // ---- /health + /metrics ----

  private def routeHealth(req: Request): Response = {
    if (req.method != "GET") return Response.methodNotAllowed
    val h = readHealth()
    val wantsText = req.headers.get("accept").exists(_.contains("text/plain"))
    val etag = Health.etag(h).map("ETag" -> _).toSeq
    if (wantsText)
      Response(200, "text/plain;charset=utf-8", etag,
        out => out.write(Health.prometheus(h).getBytes(UTF_8)))
    else Response.json(200, Health.asJson(h), etag)
  }

  private def routeMetrics(req: Request): Response = {
    if (req.method != "GET") return Response.methodNotAllowed
    Response(200, "text/plain;charset=utf-8", Nil,
      out => out.write(Health.prometheus(readHealth()).getBytes(UTF_8)))
  }

  // ---- /checkpoints ----

  private def routeCheckpoints(req: Request, rest: List[String]): Response =
    (req.method, rest) match {
      case ("GET", Nil) =>
        val rows = FoldInputs.listCheckpointsDesc(ix).collect()
        Response.json(200, rows.map(r =>
          s"""{"slot_no":${r.getLong(0)},"header_hash":"${r.getString(1)}"}""")
          .mkString("[", ",", "]"))
      case ("GET", slotText :: Nil) =>
        val slot = parseSlot(slotText)
        val strict = req.query.collectFirst { case ("strict", v) =>
          require(v.isEmpty, "?strict takes no value"); true }.getOrElse(false)
        PatternManager.getCheckpointBySlot(ix, slot, strict) match {
          case Some((s, h)) =>
            Response.json(200, s"""{"slot_no":$s,"header_hash":"$h"}""")
          case None => Response.json(200, "null")
        }
      case ("GET", _) => Response.notFound
      case _          => Response.methodNotAllowed
    }

  // ---- /matches ----

  private def getMatches(req: Request, rest: List[String]): Response = {
    val patternText = if (rest.isEmpty) "*" else rest.mkString("/")
    val q = MatchesQuery(
      patternText = patternText,
      range = parseSlotRange(req.query),
      status = parseStatusFlag(req.query),
      resolveHashes = parseResolveHashes(req.query),
      order = parseOrder(req.query),
      filter = parseFilter(req.query))
    val asString = req.headers.get("accept")
      .exists(a => a.replace(" ", "").contains("asset-quantity=string"))
    val result = FoldInputs(ix, q) // throws typed 400s before streaming
    val contentType =
      if (asString) "application/json;charset=utf-8;asset-quantity=string"
      else "application/json;charset=utf-8"
    Response(200, contentType, Nil, out => {
      val w = new java.io.OutputStreamWriter(out, UTF_8)
      ResponseStream.writeJsonArray(result, w,
        stringQuantities = asString, inlineAll = q.resolveHashes)
      w.flush()
    })
  }

  private def deleteMatches(rest: List[String]): Response = {
    if (rest.isEmpty) return Response.badRequest("invalid pattern")
    val p = parsePattern(rest.mkString("/"))
    PatternManager.deleteMatches(ix, p) match {
      case Left(hint) => Response.badRequest(hint)
      case Right(n)   => Response.json(200, s"""{"deleted":$n}""")
    }
  }

  // ---- /datums + /scripts ----

  private def routeDatums(req: Request, rest: List[String]): Response =
    (req.method, rest) match {
      case ("GET", hash :: Nil) =>
        requireHex(hash, 64, "datum hash")
        Response.json(200, FoldInputs.getBinaryData(ix, hash)
          .map(d => s"""{"datum":"$d"}""").getOrElse("null"))
      case ("GET", _) => Response.notFound
      case _          => Response.methodNotAllowed
    }

  private def routeScripts(req: Request, rest: List[String]): Response =
    (req.method, rest) match {
      case ("GET", hash :: Nil) =>
        requireHex(hash, 56, "script hash")
        // same projection as FoldInputs.asJson's inline scriptJson: the
        // stored string is tagbyte ‖ script hex (Schemas.scriptsType)
        Response.json(200, FoldInputs.getScript(ix, hash).map { s =>
          val language = s.take(2) match {
            case "00" => "native"
            case "01" => "plutus:v1"
            case "02" => "plutus:v2"
            case "03" => "plutus:v3"
            case _    => "unknown"
          }
          s"""{"script":"${s.drop(2)}","language":"$language"}"""
        }.getOrElse("null"))
      case ("GET", _) => Response.notFound
      case _          => Response.methodNotAllowed
    }

  // ---- /metadata ----

  private def routeMetadata(req: Request, rest: List[String]): Response =
    (req.method, rest) match {
      case ("GET", slotText :: Nil) =>
        val slot = parseSlot(slotText)
        require(!req.query.exists(p =>
            Set("policy_id", "asset_name", "output_index")(p._1)),
          "metadata can only be filtered by transaction_id")
        val txFilter = parseFilter(req.query).transactionId
        if (slot == 0L) return Response.json(200, "[]")
        val rows = BlockQueries.metadataBySlot(blocks(), slot, txFilter).collect()
        val hdr = BlockQueries.fetchBlock(blocks(), slot)
          .select("header_hash").collect().headOption.map(_.getString(0))
        // one object per transaction: {"hash","raw","schema"} like
        // metadataToJson' (Metadata.hs:154-160); hash/raw recomputed from
        // the stored per-label metadatum wires (the index keeps metadata
        // per label, not the original aux blob)
        val byTx = rows.groupBy(_.getString(0)).toSeq.sortBy(_._1)
        val body = byTx.map { case (_, labelRows) =>
          val entries = labelRows.sortBy(_.getString(1)).map { r =>
            (r.getString(1), r.getString(2), r.getString(3))
          }
          val auxCbor = graft.codec.Cbor.encode(graft.codec.Cbor.cMap(
            entries.map { case (label, wire, _) =>
              (graft.codec.Cbor.cInt(BigInt(label)): graft.codec.Cbor.Item,
                wireMetadatumToCbor(wire)) }: _*))
          val hash = graft.codec.Hex.encode(graft.codec.Blake2b.hash256(auxCbor))
          val schema = entries.map { case (label, _, s) => s""""$label":$s""" }
            .mkString("{", ",", "}")
          s"""{"hash":"$hash","raw":"${graft.codec.Hex.encode(auxCbor)}","schema":$schema}"""
        }.mkString("[", ",", "]")
        Response.json(200, body,
          hdr.map("X-Block-Header-Hash" -> _).toSeq)
      case ("GET", _) => Response.notFound
      case _          => Response.methodNotAllowed
    }

  // ---- /patterns ----

  private def routePatterns(req: Request, rest: List[String]): Response =
    (req.method, rest) match {
      case ("GET", Nil) =>
        Response.json(200, patternsJson(PatternManager.listPatterns(ix)))
      case ("GET", args) =>
        val p = parsePattern(args.mkString("/"))
        Response.json(200, patternsJson(PatternManager.listPatterns(ix, Some(p))))
      case ("PUT", args) =>
        val bodyJson = new String(req.body, UTF_8)
        val newPatterns: Set[Pattern] =
          if (args.nonEmpty) Set(parsePattern(args.mkString("/")))
          else parsePatternsBody(bodyJson)
        // rollback_to is MANDATORY (Http.hs:858 malformedPoint): it is the
        // point history is backfilled from — U6's `since`, complete with
        // its safe-zone gate and full-point assertion
        val rb = parseRollbackTo(bodyJson).getOrElse(
          throw new IllegalArgumentException(
            """body needs {"rollback_to": {"slot_no": ...}}"""))
        try PatternManager.putPatterns(ix, blocks(), newPatterns,
          since = rb.slot, sinceHeaderHash = rb.headerHash,
          allowUnsafe = rb.allowUnsafe)
        catch {
          case e @ (_: PatternManager.PointNotFound |
                    _: PatternManager.PointMismatch |
                    _: PatternManager.SafeZoneViolation) =>
            return Response.json(400, Api.errorJson(e))
        }
        Response.json(200, patternsJson(PatternManager.listPatterns(ix)))
      case ("DELETE", args) =>
        if (args.isEmpty) Response.badRequest("invalid pattern")
        else {
          val p = parsePattern(args.mkString("/"))
          val before = PatternManager.listPatterns(ix).toSet
          PatternManager.removePatterns(ix, Set(p))
          val after = PatternManager.listPatterns(ix).toSet
          Response.json(200, s"""{"deleted":${(before -- after).size}}""")
        }
      case _ => Response.methodNotAllowed
    }

  // ---- query-parameter grammars ----

  private def parsePattern(text: String): Pattern =
    Pattern.fromText(text).getOrElse(
      throw new IllegalArgumentException(s"invalid pattern: $text"))

  private def parseSlot(text: String): Long =
    try { val v = text.toLong; require(v >= 0, "negative slot"); v }
    catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(s"invalid slot number: $text") }

  private def requireHex(s: String, len: Int, what: String): Unit =
    require(s.length == len && s.matches("[0-9a-f]+"),
      s"malformed $what: expected $len lowercase hex digits")

  private def parseStatusFlag(q: Seq[(String, Option[String])]): StatusFlag = {
    val spent = q.filter(_._1 == "spent")
    val unspent = q.filter(_._1 == "unspent")
    require((spent ++ unspent).forall(_._2.isEmpty),
      "?spent and ?unspent take no value")
    (spent.nonEmpty, unspent.nonEmpty) match {
      case (true, true) =>
        throw new IllegalArgumentException(
          "provide either ?spent or ?unspent, not both")
      case (true, _) => StatusFlag.OnlySpent
      case (_, true) => StatusFlag.OnlyUnspent
      case _         => StatusFlag.NoStatusFlag
    }
  }

  private def parseOrder(q: Seq[(String, Option[String])]): SortDirection = {
    val vals = q.collect { case ("order", v) => v }
    require(vals.flatten.distinct.size == vals.size,
      "conflicting ?order parameters")
    vals.flatten.headOption match {
      case None                       => SortDirection.Desc
      case Some("most_recent_first")  => SortDirection.Desc
      case Some("oldest_first")       => SortDirection.Asc
      case Some(other) => throw new IllegalArgumentException(
        s"invalid ?order: $other (most_recent_first | oldest_first)")
    }
  }

  private def parseResolveHashes(q: Seq[(String, Option[String])]): Boolean =
    q.collectFirst { case ("resolve_hashes", v) =>
      require(v.isEmpty, "?resolve_hashes takes no value"); true
    }.getOrElse(false)

  private def parseFilter(q: Seq[(String, Option[String])]): FilterMatchesBy = {
    def one(k: String): Option[String] = {
      val vs = q.collect { case (`k`, v) => v }
      require(vs.size <= 1, s"duplicate ?$k")
      vs.headOption.map(_.getOrElse(
        throw new IllegalArgumentException(s"?$k needs a value")))
    }
    val f = FilterMatchesBy(
      policyId = one("policy_id"),
      assetName = one("asset_name"),
      transactionId = one("transaction_id"),
      outputIndex = one("output_index").map(v =>
        try v.toInt catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(s"invalid ?output_index: $v") }))
    require(f.assetName.isEmpty || f.policyId.isDefined,
      "?asset_name requires ?policy_id")
    require(f.outputIndex.isEmpty || f.transactionId.isDefined,
      "?output_index requires ?transaction_id")
    require(f.policyId.isEmpty || f.transactionId.isEmpty,
      "filter by either policy or transaction, not both")
    f
  }

  /** created_after/created_before/spent_after/spent_before; each value a
    * slot number or a full `slot.headerhash` point (asserted later by
    * FoldInputs). */
  private def parseSlotRange(q: Seq[(String, Option[String])]): SlotRange = {
    final case class Bound(field: RangeField, slot: Long, hash: Option[String])
    def boundOf(k: String, field: RangeField): Option[Bound] = {
      val vs = q.collect { case (`k`, v) => v }
      require(vs.size <= 1, s"duplicate ?$k")
      vs.headOption.map { v0 =>
        val v = v0.getOrElse(
          throw new IllegalArgumentException(s"?$k needs a value"))
        v.split("\\.", 2) match {
          case Array(s)    => Bound(field, parseSlot(s), None)
          case Array(s, h) =>
            require(h.length == 64 && h.matches("[0-9a-f]+"),
              s"malformed point in ?$k: $v")
            Bound(field, parseSlot(s), Some(h))
        }
      }
    }
    val lower = (boundOf("created_after", RangeField.CreatedAt).toSeq ++
      boundOf("spent_after", RangeField.SpentAt).toSeq)
    val upper = (boundOf("created_before", RangeField.CreatedAt).toSeq ++
      boundOf("spent_before", RangeField.SpentAt).toSeq)
    require(lower.size <= 1 && upper.size <= 1,
      "at most one lower and one upper slot bound")
    val fields = (lower ++ upper).map(_.field).distinct
    require(fields.size <= 1,
      "mixed created_*/spent_* bounds in one range are not supported; " +
        "bound a single field")
    SlotRange(
      field = fields.headOption.getOrElse(RangeField.CreatedAt),
      lowerBound = lower.headOption.map(_.slot),
      upperBound = upper.headOption.map(_.slot),
      lowerBoundHash = lower.headOption.flatMap(_.hash),
      upperBoundHash = upper.headOption.flatMap(_.hash))
  }

  // ---- bodies ----

  private def patternsJson(ps: Seq[Pattern]): String =
    ps.map(p => s""""${p.toText}"""").sorted.mkString("[", ",", "]")

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def parsePatternsBody(body: String): Set[Pattern] = {
    val node = try mapper.readTree(body)
    catch { case _: Exception =>
      throw new IllegalArgumentException("request body is not JSON") }
    val arr = Option(node.get("patterns")).getOrElse(
      throw new IllegalArgumentException("""body needs {"patterns": [...]}"""))
    require(arr.isArray, """"patterns" must be an array of pattern strings""")
    val it = arr.elements()
    val out = Set.newBuilder[Pattern]
    while (it.hasNext) {
      val e = it.next()
      require(e.isTextual, "patterns must be strings")
      out += parsePattern(e.asText())
    }
    out.result()
  }

  /** Wire metadatum (`{"cbor": hex}` | `{"json": value}`, Ogmios.hs:526-566)
    * → its CBOR item; the json form maps objects → string-keyed maps,
    * arrays → lists, numbers → ints, strings → texts (valueToMetadatum). */
  private def wireMetadatumToCbor(wire: String): graft.codec.Cbor.Item = {
    import graft.codec.Cbor._
    val node = mapper.readTree(wire)
    Option(node.get("cbor")) match {
      case Some(c) => decodeHex(c.asText())
      case None =>
        def conv(n: com.fasterxml.jackson.databind.JsonNode): Item =
          if (n.isObject) {
            val it = n.fields()
            val buf = Vector.newBuilder[(Item, Item)]
            while (it.hasNext) {
              val e = it.next(); buf += ((cText(e.getKey), conv(e.getValue)))
            }
            CMap(buf.result(), 0, 0)
          } else if (n.isArray) {
            val it = n.elements(); val buf = Vector.newBuilder[Item]
            while (it.hasNext) buf += conv(it.next())
            CArr(buf.result(), 0, 0)
          } else if (n.isNumber) cInt(BigInt(n.bigIntegerValue()))
          else if (n.isTextual) cText(n.asText())
          else sys.error("unexpected bool/null in metadatum")
        conv(Option(node.get("json")).getOrElse(
          sys.error(s"unrecognized metadatum wire: $wire")))
    }
  }

  private final case class RollbackTo(slot: Long, headerHash: Option[String],
                                      allowUnsafe: Boolean)

  /** `{"rollback_to": {"slot_no": N[, "header_hash": h]}[, "limit":
    * "within_safe_zone"|"unsafe_allow_beyond_safe_zone"]}` — the PUT
    * /patterns body grammar (decodeForcedRollback, Http.hs:418-424). */
  private def parseRollbackTo(body: String): Option[RollbackTo] = {
    if (body.trim.isEmpty) return None
    val node = try mapper.readTree(body) catch { case _: Exception => return None }
    Option(node.get("rollback_to")).map { rb =>
      val slot = Option(rb.get("slot_no")).filter(_.canConvertToLong)
        .getOrElse(throw new IllegalArgumentException(
          """"rollback_to" needs a "slot_no"""")).asLong()
      val allowUnsafe = Option(node.get("limit")).map(_.asText()) match {
        case None | Some("within_safe_zone")       => false
        case Some("unsafe_allow_beyond_safe_zone") => true
        case Some(other) => throw new IllegalArgumentException(
          s"invalid limit: $other")
      }
      RollbackTo(slot, Option(rb.get("header_hash")).map(_.asText()), allowUnsafe)
    }
  }
}

/** The listener: JDK `HttpServer` exchanges pumped through [[HttpApi]]. */
object KupoHttpServer {

  def start(api: HttpApi, port: Int = 1442): com.sun.net.httpserver.HttpServer = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", (exchange: com.sun.net.httpserver.HttpExchange) => {
      try {
        import scala.jdk.CollectionConverters._
        val headers = exchange.getRequestHeaders.asScala.map { case (k, v) =>
          k.toLowerCase -> v.asScala.mkString(",")
        }.toMap
        val body = exchange.getRequestBody.readAllBytes()
        val resp = api.route(HttpApi.Request(
          exchange.getRequestMethod,
          exchange.getRequestURI.getRawPath,
          HttpApi.parseQueryString(exchange.getRequestURI.getRawQuery),
          headers, body))
        exchange.getResponseHeaders.set("Content-Type", resp.contentType)
        resp.headers.foreach { case (k, v) =>
          exchange.getResponseHeaders.set(k, v) }
        if (resp.status == 304) exchange.sendResponseHeaders(304, -1)
        else {
          exchange.sendResponseHeaders(resp.status, 0) // chunked: stream
          resp.write(exchange.getResponseBody)
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          val body = Api.errorJson(e).getBytes(UTF_8)
          try {
            exchange.getResponseHeaders.set("Content-Type", "application/json")
            exchange.sendResponseHeaders(500, body.length.toLong)
            exchange.getResponseBody.write(body)
          } catch { case scala.util.control.NonFatal(_) => () }
      } finally exchange.close()
    })
    // a cached daemon pool: one slow streamed /matches must never block
    // /health (Warp gives the reference the same property); readers are
    // safe concurrently because every query pins a manifest snapshot
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-http")
      t.setDaemon(true)
      t
    }))
    server.start()
    server
  }
}
